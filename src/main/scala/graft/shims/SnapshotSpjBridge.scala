package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** STORAGE-PARTITIONED JOIN bridge (Iceberg's SPJ, reproduced for
  * graft snapshot tables): a DSv2 `Scan` that reports the table's
  * hidden `bucket(n, col)` layout to Catalyst as a
  * [[KeyGroupedPartitioning]] — one [[InputPartition]] per bucket,
  * each carrying its key via [[HasPartitionKey]] — so joining two
  * snapshot tables bucketed by the SAME spec on the bucket column
  * plans with ZERO shuffle exchanges (under
  * `spark.sql.sources.v2.bucketing.enabled=true`). At 100 TB this is
  * the difference between a fact⋈fact join moving both tables over
  * the network and moving nothing.
  *
  * The actual parquet reading delegates to Spark's OWN
  * `ParquetPartitionReaderFactory`, obtained from a throwaway
  * [[ParquetScan]] so every hadoop-conf knob (requested schema,
  * timezone, int96 handling, vectorization) is configured by Spark's
  * code, not replicated here. `private[sql]` machinery throughout,
  * hence this bridge file in the `org.apache.spark.sql` package (the
  * established spark-extensions pattern of [[GraftColumnBridge]] /
  * [[GraftSnapshotRelation]]).
  */
object GraftSpjBridge {

  /** One file of a key group: (path, length). */
  type SpjFile = (String, Long)

  /** One reported key field: (source column, transform `bucket` |
    * `identity`, bucket count — 0 for identity). */
  type SpjField = (String, String, Int)

  /** One equality-delete sidecar for the SPJ readers: key column
    * PHYSICAL names and the key tuples, indexed in the declared types
    * of those columns (the parquet reader widens narrower on-disk
    * columns to them, so row values and set members always compare
    * like-for-like). */
  final case class SpjEqDelete(keyCols: Seq[String],
      keys: graft.functions.EqDeleteIndex)

  /** `groups` maps each partition-key TUPLE (Catalyst internal values:
    * java types for numerics, UTF8String for strings — one value per
    * spec field, bucket ordinals as Int) to its files. `dv` maps a
    * file path (exactly as it appears in `groups`) to its SORTED
    * deleted row positions — the per-file deletion-vector slice each
    * group's [[GraftSpjPartition]] ships to its own task, so a
    * merge-on-read table keeps its shuffle-free join between
    * compactions with zero driver broadcast and zero plan change. */
  def dataFrame(spark: SparkSession, name: String, schema: StructType,
      fields: Seq[SpjField],
      groups: Map[Seq[Any], Seq[SpjFile]],
      dv: Map[String, Array[Long]] = Map.empty,
      eq: Seq[SpjEqDelete] = Seq.empty,
      eqByFile: Map[String, Seq[Int]] = Map.empty): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val table = new GraftSpjTable(cs, name, schema, fields, groups, dv, eq, eqByFile)
    classic.Dataset.ofRows(cs, DataSourceV2Relation.create(table, None, None))
  }

  /** The reader factory, built AFTER column pruning and filter
    * pushdown: a throwaway [[ParquetScan]] configures it exactly as a
    * native parquet DSv2 scan would (requested-schema json, session
    * TZ, int96/vectorization knobs) — its (empty) file index is never
    * consulted. `readDataSchema` is the PRUNED projection, so a
    * 2-column query reads 2 columns; `pushedFilters` reach parquet's
    * row-group/page skipping. */
  private[sql] def readerFactory(cs: classic.SparkSession,
      dataSchema: StructType, readDataSchema: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter]): PartitionReaderFactory = {
    val dummyIndex = new InMemoryFileIndex(cs, Seq.empty, Map.empty, Some(dataSchema))
    ParquetScan(cs, cs.sessionState.newHadoopConf(), dummyIndex,
      dataSchema, readDataSchema, StructType(Nil), filters,
      CaseInsensitiveStringMap.empty(), None, Seq.empty, Seq.empty,
      Array.empty).createReaderFactory()
  }
}

final class GraftSpjTable(cs: classic.SparkSession, tableName: String,
    tableSchema: StructType, fields: Seq[GraftSpjBridge.SpjField],
    groups: Map[Seq[Any], Seq[GraftSpjBridge.SpjFile]],
    dv: Map[String, Array[Long]] = Map.empty,
    eq: Seq[GraftSpjBridge.SpjEqDelete] = Seq.empty,
    eqByFile: Map[String, Seq[Int]] = Map.empty) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSpjScanBuilder(cs, tableSchema, fields, groups, dv, eq, eqByFile)
}

/** Column pruning + filter pushdown for the SPJ scan: Spark hands the
  * builder the query's REQUIRED schema and translated filters before
  * `build()`, so the parquet reader materializes only the projected
  * columns (a 2-column query reads 2 columns) and row-group/page
  * statistics skip within each file. Every filter is returned as a
  * residual — parquet pushdown is best-effort skipping, Spark keeps
  * the exact evaluation (the same contract as its own FileScan). */
final class GraftSpjScanBuilder(cs: classic.SparkSession,
    tableSchema: StructType, fields: Seq[GraftSpjBridge.SpjField],
    groups: Map[Seq[Any], Seq[GraftSpjBridge.SpjFile]],
    dv: Map[String, Array[Long]] = Map.empty,
    eq: Seq[GraftSpjBridge.SpjEqDelete] = Seq.empty,
    eqByFile: Map[String, Seq[Int]] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters // all residual: parquet skipping is advisory
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = {
    // Equality deletes evaluate their key predicate PER ROW inside the
    // covered files' readers, so those readers must materialize the pk
    // columns even when the projection pruned them — read through an
    // EXTENDED schema (required ++ missing pk columns) and project back
    // down after the filter. Uncovered files keep the pruned schema.
    val pkCols = eq.flatMap(_.keyCols).distinct
      .filter(tableSchema.fieldNames.contains)
    val extended =
      if (eq.isEmpty) required
      else StructType(required.fields ++
        pkCols.filterNot(required.fieldNames.contains).map(c => tableSchema(c)))
    new GraftSpjScan(
      GraftSpjBridge.readerFactory(cs, tableSchema, required, pushed),
      // DV'd files read through an UNPUSHED factory: with no parquet
      // skipping a whole-file single-split read emits rows in exact file
      // order, so the reader's running count IS the row index the DV
      // positions key on. Spark re-evaluates every filter above the scan
      // (all filters are residual here), so correctness is untouched —
      // the only cost is parquet-internal skipping on exactly the files
      // that still carry deletes, until compaction folds them.
      if (dv.isEmpty) null
      else GraftSpjBridge.readerFactory(cs, tableSchema, required, Array.empty),
      // eq-only files keep parquet skipping (the key predicate is
      // positional-order-independent) but read the extended schema
      if (eq.isEmpty) null
      else GraftSpjBridge.readerFactory(cs, tableSchema, extended, pushed),
      // files carrying BOTH a DV slice and eq coverage: extended schema
      // AND exact file order
      if (eq.isEmpty || dv.isEmpty) null
      else GraftSpjBridge.readerFactory(cs, tableSchema, extended, Array.empty),
      required, extended, fields, groups, dv, eq, eqByFile)
  }
}

final class GraftSpjScan(factory: PartitionReaderFactory,
    noPushFactory: PartitionReaderFactory,
    extFactory: PartitionReaderFactory,
    noPushExtFactory: PartitionReaderFactory,
    schema: StructType, extended: StructType,
    fields: Seq[GraftSpjBridge.SpjField],
    groups: Map[Seq[Any], Seq[GraftSpjBridge.SpjFile]],
    dv: Map[String, Array[Long]],
    eq: Seq[GraftSpjBridge.SpjEqDelete] = Seq.empty,
    eqByFile: Map[String, Seq[Int]] = Map.empty)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Sidecar key columns resolved against the EXTENDED read schema. */
  private val eqResolved: Array[GraftSpjEqResolved] = eq.map { s =>
    val ords = s.keyCols.map(extended.fieldIndex).toArray
    GraftSpjEqResolved(ords, ords.map(o => extended(o).dataType), s.keys)
  }.toArray

  // deterministic partition order across planInputPartitions calls
  private val keys: Array[Seq[Any]] =
    groups.keys.toArray.sortBy(_.map(String.valueOf).mkString("\u0000"))

  /** The layout contract Catalyst joins against: rows are grouped by
    * the spec's transform tuple — `bucket(n, col)` ordinals and/or
    * `identity(col)` values — one input partition per populated key
    * group. When the projection pruned any key source column away, the
    * key expressions would reference columns absent from the output —
    * report UnknownPartitioning instead (such a query cannot exploit
    * the layout anyway). */
  override def outputPartitioning(): Partitioning =
    if (fields.forall { case (c, _, _) => schema.fieldNames.contains(c) })
      new KeyGroupedPartitioning(
        fields.map {
          case (c, "bucket", n) =>
            Expressions.bucket(n, c): org.apache.spark.sql.connector.expressions.Expression
          case (c, "identity", _) =>
            Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression
          case (c, t, _) => throw new IllegalStateException(
            s"unreported SPJ transform $t($c)")
        }.toArray, keys.length)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(keys.length)

  override def planInputPartitions(): Array[InputPartition] =
    keys.zipWithIndex.map { case (k, i) =>
      val files = groups(k).map { case (p, len) =>
        PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p),
          0L, len, Array.empty, 0L, len, Map.empty)
      }.toArray
      // each partition ships ONLY its own files' DV slices and
      // eq-coverage map — the per-file application shape: no
      // broadcast, no shuffle, task payload ∝ that group's deletes
      val slice = groups(k).collect {
        case (p, _) if dv.contains(p) => p -> dv(p)
      }.toMap
      val eqSlice = groups(k).collect {
        case (p, _) if eqByFile.contains(p) => p -> eqByFile(p)
      }.toMap
      GraftSpjPartition(i, k.toIndexedSeq, files, slice, eqSlice): InputPartition
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSpjReaderFactory(factory, noPushFactory, extFactory,
      noPushExtFactory, schema, extended, eqResolved)
}

/** One sidecar, resolved against the extended read schema: key column
  * ordinals, their declared types, and the key-tuple index. */
final case class GraftSpjEqResolved(ordinals: Array[Int],
    types: Array[org.apache.spark.sql.types.DataType],
    keys: graft.functions.EqDeleteIndex)

/** All files of one key group; `partitionKey` is the spec tuple the
  * reported transforms evaluate to (Catalyst internal values). `dv`
  * maps this group's DV'd file paths to their sorted deleted
  * positions. */
final case class GraftSpjPartition(ordinal: Int, key: IndexedSeq[Any],
    files: Array[PartitionedFile],
    dv: Map[String, Array[Long]] = Map.empty,
    eq: Map[String, Seq[Int]] = Map.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow.fromSeq(key)
}

/** Adapts Spark's file-partition reader factory to the keyed
  * partitions: unwrap to a plain [[FilePartition]] and delegate, for
  * both row and columnar paths. Partitions carrying deletion-vector
  * slices or equality-delete coverage read row-based through
  * [[GraftSpjDeleteReader]] instead (neither a per-row position filter
  * nor a key anti-predicate can apply inside a ColumnarBatch). */
final class GraftSpjReaderFactory(delegate: PartitionReaderFactory,
    noPushDelegate: PartitionReaderFactory,
    extDelegate: PartitionReaderFactory,
    noPushExtDelegate: PartitionReaderFactory,
    required: StructType, extended: StructType,
    eqResolved: Array[GraftSpjEqResolved])
    extends PartitionReaderFactory {
  private def toFilePartition(p: InputPartition): FilePartition = p match {
    case GraftSpjPartition(i, _, files, _, _) => FilePartition(i, files)
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftSpjPartition(i, _, files, dv, eq) if dv.nonEmpty || eq.nonEmpty =>
        new GraftSpjDeleteReader(i, files, dv, eq, eqResolved,
          required, extended,
          delegate, noPushDelegate, extDelegate, noPushExtDelegate)
      case _ => delegate.createReader(toFilePartition(p))
    }
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    delegate.createColumnarReader(toFilePartition(p))
  // Spark requires every partition of a scan to agree on columnar-ness
  // — a table carrying ANY delete sidecar (positional or equality)
  // reads row-based throughout (neither filter can apply inside a
  // ColumnarBatch); compaction folds the sidecars and restores the
  // vectorized path.
  override def supportColumnarReads(p: InputPartition): Boolean =
    noPushDelegate == null && extDelegate == null &&
      delegate.supportColumnarReads(toFilePartition(p))
}

/** Sequential per-file reader applying delete sidecars: each file
  * opens as its own single-file [[FilePartition]] through the factory
  * its sidecars demand — DV'd files unpushed (exact file row order, so
  * the running row count is the DV's position key), eq-covered files
  * through the EXTENDED schema (the pk columns must be readable even
  * when pruned away), clean files through the normal pushed factory.
  * Deleted positions drop via a sorted-merge walk (O(1) amortized per
  * row); equality deletes drop rows whose key tuple sits in a covering
  * sidecar's set (NULL components never match); extended rows project
  * back to the required schema before returning. */
final class GraftSpjDeleteReader(bucket: Int, files: Array[PartitionedFile],
    dv: Map[String, Array[Long]],
    eqByFile: Map[String, Seq[Int]],
    eqResolved: Array[GraftSpjEqResolved],
    required: StructType, extended: StructType,
    pushedFactory: PartitionReaderFactory,
    noPushFactory: PartitionReaderFactory,
    extFactory: PartitionReaderFactory,
    noPushExtFactory: PartitionReaderFactory)
    extends PartitionReader[InternalRow] {
  private var fi = -1
  private var cur: PartitionReader[InternalRow] = null
  private var positions: Array[Long] = null
  private var eqs: Array[GraftSpjEqResolved] = null
  private var projecting = false
  private var ptr = 0
  private var idx = -1L

  // extended → required projection (required is a PREFIX of extended);
  // built lazily on the executor — UnsafeProjection is not serializable
  private lazy val project: org.apache.spark.sql.catalyst.expressions.UnsafeProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      required.fields.zipWithIndex.map { case (f, i) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, f.dataType, f.nullable)
      }.toIndexedSeq)

  private def openNext(): Boolean = {
    fi += 1
    if (fi >= files.length) return false
    val f = files(fi)
    val path = f.filePath.toString
    positions = dv.getOrElse(path, null)
    eqs = eqByFile.get(path).map(_.map(eqResolved).toArray).orNull
    projecting = eqs != null && extended.length != required.length
    ptr = 0; idx = -1L
    val factory = (positions != null, eqs != null) match {
      case (false, false) => pushedFactory
      case (true, false) => noPushFactory
      case (false, true) => extFactory
      case (true, true) => noPushExtFactory
    }
    cur = factory.createReader(FilePartition(bucket, Array(f)))
    true
  }

  /** True iff the row's key tuple matches ANY covering sidecar —
    * standard equality-delete semantics, NULLs never match. */
  private def eqDeleted(row: InternalRow): Boolean = {
    var j = 0
    while (j < eqs.length) {
      val s = eqs(j)
      var hasNull = false
      val tuple = new Array[Any](s.ordinals.length)
      var i = 0
      while (i < s.ordinals.length && !hasNull) {
        val o = s.ordinals(i)
        if (row.isNullAt(o)) hasNull = true
        else tuple(i) = row.get(o, s.types(i))
        i += 1
      }
      if (!hasNull && s.keys.hit(tuple)) return true
      j += 1
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      if (cur == null && !openNext()) return false
      if (cur.next()) {
        if (positions != null) {
          idx += 1
          var dead = false
          while (ptr < positions.length && positions(ptr) < idx) ptr += 1
          if (ptr < positions.length && positions(ptr) == idx) dead = true
          if (!dead && (eqs == null || !eqDeleted(cur.get()))) return true
        } else if (eqs == null || !eqDeleted(cur.get())) return true
        // deleted row — keep scanning
      } else {
        cur.close(); cur = null
      }
    }
    false // unreachable
  }

  override def get(): InternalRow =
    if (projecting) project(cur.get()) else cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

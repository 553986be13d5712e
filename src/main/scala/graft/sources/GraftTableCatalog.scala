package graft.sources

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark DSv2 [[TableCatalog]] over graft snapshot tables — the
  * piece that turns the path-addressed snapshot format into a real SQL
  * catalog, the way Delta's `DeltaCatalog` / Iceberg's `SparkCatalog`
  * do for theirs. Configure once:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftTableCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *   spark.sql.extensions              = graft.GraftExtensions
  * }}}
  *
  * and the FULL lifecycle is standard SQL, no Scala call sites:
  *
  * {{{
  *   CREATE TABLE graft.db.orders (id BIGINT, ts TIMESTAMP, amt DOUBLE)
  *     PARTITIONED BY (bucket(8, id), days(ts))
  *   INSERT INTO graft.db.orders SELECT ...
  *   SELECT * FROM graft.db.orders VERSION AS OF 3
  *   SELECT * FROM graft.db.orders TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   UPDATE graft.db.orders SET amt = 0 WHERE id = 7
  *   MERGE INTO graft.db.orders t USING feed s ON t.id = s.id ...
  *   ALTER TABLE graft.db.orders SET TBLPROPERTIES ('write.mode'='mor')
  *   DROP TABLE graft.db.orders
  * }}}
  *
  * Identifier mapping is directory-shaped: `graft.a.b.t` lives at
  * `<warehouse>/a/b/t` (a table root is any directory holding a
  * `_manifests` dir, so externally-created snapshot tables under the
  * warehouse are visible without registration). `PARTITIONED BY`
  * transforms map 1:1 onto the format's hidden partition spec
  * (identity/bucket/truncate/years/months/days/hours); table property
  * `write.mode` routes SQL DML onto CoW or MoR physics, `sort.order`
  * declares the layout sort.
  *
  * Division of labor (the Delta pattern):
  *  - READS: [[loadTable]] returns a thin v2 table; the
  *    [[graft.GraftExtensions]]-injected [[GraftCatalogReadRule]]
  *    rewrites its relation onto [[GraftCatalog.readSnapshotAuto]], so
  *    catalog reads get the SAME manifest-stats file pruning, hidden-
  *    partition tuple pruning, bloom sidecars, and DV anti-joins as the
  *    Scala surface — a raw v2 scan would have to re-implement all of
  *    it. Time travel resolves here via the `loadTable(ident, version)`
  *    / `(ident, timestampMicros)` SPI (VERSION AS OF accepts a version
  *    number or a TAG name).
  *  - WRITES: `INSERT INTO` / `INSERT OVERWRITE` / CTAS /
  *    `df.writeTo(...)` flow through a [[V1Write]] (Spark's sanctioned
  *    InsertableRelation fallback) onto [[GraftCatalog.commitSnapshot]]
  *    — one writer enforces CHECK constraints, hidden partitioning,
  *    declared sort and the atomic manifest claim, identically for SQL
  *    and Scala clients.
  *  - DML: `UPDATE`/`DELETE`/`MERGE` lower through [[GraftDml]] onto
  *    the CoW/MoR verbs (the rule recognizes catalog relations).
  *
  * Reference anchor: the reference registers read-only external tables
  * by path (docs/2); a managed catalog is part of the snapshot-format
  * extension (SURVEY §2.A), modeled on Delta/Iceberg SQL semantics.
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def pathOf(parts: Seq[String]): Path = {
    parts.foreach(p => require(p.nonEmpty && !p.contains("/"),
      s"bad identifier part: '$p'"))
    parts.foldLeft(new Path(warehouse))((acc, p) => new Path(acc, p))
  }

  private def tablePath(ident: Identifier): Path =
    pathOf(ident.namespace.toSeq :+ ident.name)

  /** A table root is any directory with a `_manifests` child. */
  private def isTable(p: Path): Boolean = fs.exists(new Path(p, "_manifests"))

  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident))

  /** The snapshot root of `ns….table` parts, when that table exists —
    * [[GraftDml]]'s pre-resolution hook for `catalog.ns.t` DML targets. */
  private[sources] def tableRootOf(parts: Seq[String]): Option[String] = {
    val p = pathOf(parts)
    if (isTable(p)) Some(p.toString) else None
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = pathOf(namespace.toSeq)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory)
      .filter(st => isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val root = tablePath(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    GraftSnapshotTable(root.toString, None,
      (catalogName +: ident.namespace.toSeq :+ ident.name).mkString("."))
  }

  /** `VERSION AS OF x` — a version number, or a snapshot TAG name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[GraftSnapshotTable]
    val v = version.toLongOption.getOrElse(
      GraftCatalog.resolveSnapshotTag(spark, t.root, version))
    t.copy(pinned = Some(v))
  }

  /** `TIMESTAMP AS OF t` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = loadTable(ident).asInstanceOf[GraftSnapshotTable]
    t.copy(pinned =
      Some(GraftCatalog.snapshotVersionAsOf(spark, t.root, timestampMicros / 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala
    props.get(TableCatalog.PROP_LOCATION).foreach { _ =>
      throw new UnsupportedOperationException(
        "LOCATION is not supported — graft catalog tables live under the " +
          "warehouse; address external roots via graft_snapshot(path) or " +
          "backticked-path DML")
    }
    val root = tablePath(ident)
    val rootStr = root.toString
    // Validate numeric TBLPROPERTIES BEFORE any ref is written: a bad
    // value failing mid-create (after sort.conf/write.mode landed)
    // would leave a partially-configured table dir behind.
    val manifestProps = Seq("manifest.inline.max", "manifest.include.max",
      "manifest.stats.depth.max").map { k =>
      props.get(k).map { v =>
        try v.trim.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"TBLPROPERTIES '$k' must be an integer, got '$v'")
        }
      }
    }
    fs.mkdirs(root)
    val spec = partitions.toSeq.map(toPartitionField)
    if (spec.nonEmpty) GraftCatalog.setSnapshotPartitionSpec(spark, rootStr, spec)
    props.get("sort.order").foreach(s =>
      GraftCatalog.setSnapshotSortOrder(spark, rootStr, s.split(",").map(_.trim).toSeq))
    props.get("write.mode").foreach(m =>
      GraftCatalog.setSnapshotWriteMode(spark, rootStr, m))
    // segment/chain thresholds land on the refs surface (manifest.conf)
    if (manifestProps.exists(_.nonEmpty))
      GraftCatalog.setSnapshotManifestConf(spark, rootStr,
        inlineMax = manifestProps(0), maxIncludes = manifestProps(1),
        statsDepthMax = manifestProps(2))
    // Version 1 commits the schema through the one writer (an empty
    // single-task batch writes one schema-bearing parquet file), so a
    // freshly created table reads as empty instead of erroring, and
    // every later INSERT type-checks against this committed schema.
    val empty = spark.createDataFrame(
      Collections.emptyList[Row](), schema).repartition(1)
    GraftCatalog.commitSnapshot(empty, rootStr, append = false)
    loadTable(ident)
  }

  private def toPartitionField(t: Transform): PartitionField = {
    def col: String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"partition transform ${t.describe()} must reference one top-level column")
      refs(0).fieldNames()(0)
    }
    def lit: Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value().toString.toInt
    }.getOrElse(throw new IllegalArgumentException(
      s"transform ${t.describe()} needs an integer argument"))
    t.name() match {
      case "identity" => PartitionField(col, "identity")
      case "bucket" => PartitionField(col, "bucket", lit)
      case "truncate" => PartitionField(col, "truncate", lit)
      case "years" | "year" => PartitionField(col, "year")
      case "months" | "month" => PartitionField(col, "month")
      case "days" | "day" => PartitionField(col, "day")
      case "hours" | "hour" => PartitionField(col, "hour")
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform: $other (supported: identity, " +
          "bucket, truncate, years, months, days, hours)")
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tablePath(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val rootStr = root.toString
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.position == null,
          "FIRST/AFTER positions are not supported — columns append")
        if (a.fieldNames.length == 1)
          GraftCatalog.evolveSnapshotSchema(spark, rootStr,
            add = new StructType().add(a.fieldNames()(0), a.dataType(),
              nullable = true))
        else
          // nested subfield: ALTER TABLE t ADD COLUMN s.x TYPE
          GraftCatalog.addSnapshotNestedField(spark, rootStr,
            a.fieldNames.init.mkString("."),
            org.apache.spark.sql.types.StructField(
              a.fieldNames.last, a.dataType(), nullable = true))
      case d: TableChange.DeleteColumn =>
        if (d.fieldNames.length == 1)
          GraftCatalog.evolveSnapshotSchema(spark, rootStr,
            drop = Seq(d.fieldNames()(0)))
        else
          GraftCatalog.dropSnapshotNestedField(spark, rootStr,
            d.fieldNames.mkString("."))
      case s: TableChange.SetProperty if s.property == "write.mode" =>
        GraftCatalog.setSnapshotWriteMode(spark, rootStr, s.value)
      case r: TableChange.RemoveProperty if r.property == "write.mode" =>
        GraftCatalog.setSnapshotWriteMode(spark, rootStr, "cow")
      case s: TableChange.SetProperty if s.property == "sort.order" =>
        GraftCatalog.setSnapshotSortOrder(spark, rootStr,
          s.value.split(",").map(_.trim).toSeq)
      case u: TableChange.UpdateColumnType =>
        if (u.fieldNames.length == 1)
          GraftCatalog.widenSnapshotColumn(spark, rootStr,
            u.fieldNames()(0), u.newDataType())
        else
          GraftCatalog.widenSnapshotNestedField(spark, rootStr,
            u.fieldNames.mkString("."), u.newDataType())
      case rn: TableChange.RenameColumn =>
        if (rn.fieldNames.length == 1)
          GraftCatalog.renameSnapshotColumn(spark, rootStr,
            rn.fieldNames()(0), rn.newName)
        else
          GraftCatalog.renameSnapshotNestedField(spark, rootStr,
            rn.fieldNames.mkString("."), rn.newName)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER on a graft snapshot table: $other (ADD/DROP/" +
          "RENAME COLUMN, ALTER COLUMN TYPE widening, and write.mode/" +
          "sort.order properties are supported; layout configs are " +
          "create-exclusive)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tablePath(ident)
    if (!isTable(root)) false else fs.delete(root, true)
  }

  /** Directory move + one-time metadata migration
    * ([[GraftCatalog.renameSnapshotTable]]): manifests/stats/DV
    * sidecars key files by absolute path, so the rename rewrites their
    * prefixes in one recursive pass (branches included). Time travel,
    * tags and branch pins survive; QUIESCED operation — a writer
    * mid-commit against the old name loses its directory (the
    * Iceberg-HadoopCatalog rename contract). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    GraftCatalog.renameSnapshotTable(spark,
      tablePath(oldIdent).toString, tablePath(newIdent).toString)
  }

  // ---- procedures: CALL graft.system.<verb>(…) -----------------------

  /** A procedure's `table` argument: `ns….tbl` in this catalog's
    * warehouse, or an absolute root path (external snapshot tables get
    * the same maintenance verbs). */
  private[sources] def resolveTableArg(t: String): String =
    if (t.startsWith("/") || t.contains("://")) t
    else {
      val p = pathOf(t.split('.').toSeq)
      require(isTable(p), s"no graft table at $p (from '$t')")
      p.toString
    }

  /** A procedure's NEW-table argument (clone target): an absolute path
    * passes through; an `ns….tbl` identifier maps into the warehouse
    * and must not already exist. */
  private[sources] def resolveNewTableArg(t: String): String =
    if (t.startsWith("/") || t.contains("://")) t
    else {
      val p = pathOf(t.split('.').toSeq)
      require(!isTable(p), s"table already exists at $p (from '$t')")
      p.toString
    }

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system"),
      s"procedures live in the `system` namespace, got: $ident")
    GraftProcedures.all.getOrElse(ident.name,
      throw new UnsupportedOperationException(
        s"unknown procedure $ident (have: " +
          GraftProcedures.all.keys.toSeq.sorted.mkString(", ") + ")"))(this)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq != Seq("system")) Array.empty
    else GraftProcedures.all.keys.toArray.sorted
      .map(n => Identifier.of(Array("system"), n))

  // ---- namespaces: directories that are not table roots -------------

  private def listDirs(p: Path): Seq[Path] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)

  override def listNamespaces(): Array[Array[String]] =
    listDirs(new Path(warehouse)).filterNot(isTable)
      .map(p => Array(p.getName)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val ns = pathOf(namespace.toSeq)
    if (namespace.nonEmpty && !fs.exists(ns))
      throw new NoSuchNamespaceException(namespace)
    listDirs(ns).filterNot(isTable)
      .map(p => namespace :+ p.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(pathOf(namespace.toSeq)) && !isTable(pathOf(namespace.toSeq)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(pathOf(namespace.toSeq))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val p = pathOf(namespace.toSeq)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    fs.delete(p, true)
  }
}

/** The thin v2 table the catalog serves. Reads are rewritten onto
  * [[GraftCatalog.readSnapshotAuto]] by [[GraftCatalogReadRule]] (so
  * `newScanBuilder` existing would be a trap — it throws, directing to
  * the extensions); writes flow through the [[V1Write]] fallback onto
  * [[GraftCatalog.commitSnapshot]]. `pinned` carries VERSION/TIMESTAMP
  * AS OF time travel. Schema and layout are captured eagerly (one
  * manifest + refs read per loadTable), not per `schema()` call. */
final case class GraftSnapshotTable(root: String, pinned: Option[Long],
    fullName: String) extends Table with SupportsRead with SupportsWrite
    with TruncatableTable {

  /** `TRUNCATE TABLE` — an empty overwrite commit: history keeps every
    * prior version (time travel and rollback still reach them). */
  override def truncateTable(): Boolean = {
    require(pinned.isEmpty, s"cannot truncate a time-travel read of $fullName")
    val empty = spark.createDataFrame(
      Collections.emptyList[Row](), committed).repartition(1)
    GraftCatalog.commitSnapshot(empty, root, append = false)
    true
  }

  private def spark: SparkSession = SparkSession.active

  override def name(): String = fullName

  private lazy val committed: StructType =
    GraftCatalog.snapshotSchema(spark, root, pinned).getOrElse(new StructType())

  override def schema(): StructType = committed

  override def partitioning(): Array[Transform] =
    GraftCatalog.snapshotPartitionSpec(spark, root).map { f =>
      f.transform match {
        case "identity" => Expressions.identity(f.col)
        case "bucket" => Expressions.bucket(f.n, f.col)
        case "truncate" => Expressions.apply("truncate",
          Expressions.literal(f.n), Expressions.column(f.col))
        case "year" => Expressions.years(f.col)
        case "month" => Expressions.months(f.col)
        case "day" => Expressions.days(f.col)
        case "hour" => Expressions.hours(f.col)
      }
    }.toArray

  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val refs = GraftCatalog.snapshotRefs(spark, root)
    m.put("write.mode", refs.writeMode)
    if (refs.sortOrder.nonEmpty) m.put("sort.order", refs.sortOrder.mkString(","))
    refs.manifestKv.foreach { case (k, v) => m.put(s"manifest.$k", v.toString) }
    // CHECK constraints surface as check.<name> so SHOW TBLPROPERTIES
    // answers "what does this table enforce" without a Scala call
    refs.checks.foreach { case (n, p) =>
      m.put(s"check.$n", p)
    }
    m.put(TableCatalog.PROP_PROVIDER, "graft")
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  /** Metadata-only scan: `DESCRIBE TABLE EXTENDED` (and any other
    * stats probe) builds one of these — statistics come from the
    * manifest's stats sidecar with ZERO data I/O. Actually executing
    * it is the misconfiguration trap: data reads resolve through the
    * injected analyzer rule, so `toBatch` throws the guidance error. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics {
          override def readSchema(): StructType = committed
          override def description(): String =
            s"graft snapshot $fullName (metadata-only; data reads " +
              "resolve through graft.GraftExtensions)"
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new IllegalStateException(
              "graft catalog reads resolve through the injected analyzer " +
                "rule - set spark.sql.extensions=graft.GraftExtensions " +
                "on the session")
          override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
            val (rows, bytes) =
              GraftCatalog.snapshotStatsEstimate(spark, root, pinned)
            // v2 colStats from the sidecar profile (r15): any stats
            // probe over the catalog table sees per-column
            // NDV/nulls/min/max with zero data I/O. The READ path's
            // CBO numbers flow through the analyzer-rule stamping
            // (GraftCatalogReadRule); this surface serves DESCRIBE
            // and external planners talking raw DSv2.
            val profile = scala.util.Try(
              GraftCatalog.snapshotCatalogStats(spark, root, pinned))
              .toOption.flatten
            new org.apache.spark.sql.connector.read.Statistics {
              override def sizeInBytes(): java.util.OptionalLong =
                bytes.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def numRows(): java.util.OptionalLong =
                rows.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def columnStats(): java.util.Map[
                  org.apache.spark.sql.connector.expressions.NamedReference,
                  org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
                val m = new java.util.HashMap[
                  org.apache.spark.sql.connector.expressions.NamedReference,
                  org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
                profile.foreach(_.colStats.foreach { case (name, cs) =>
                  m.put(
                    org.apache.spark.sql.connector.expressions.Expressions.column(name),
                    new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                      override def distinctCount(): java.util.OptionalLong =
                        cs.distinctCount.map(d => java.util.OptionalLong.of(d.toLong))
                          .getOrElse(java.util.OptionalLong.empty())
                      override def nullCount(): java.util.OptionalLong =
                        cs.nullCount.map(n => java.util.OptionalLong.of(n.toLong))
                          .getOrElse(java.util.OptionalLong.empty())
                      override def min(): java.util.Optional[Object] =
                        cs.min.map(v => java.util.Optional.of(v: Object))
                          .getOrElse(java.util.Optional.empty[Object]())
                      override def max(): java.util.Optional[Object] =
                        cs.max.map(v => java.util.Optional.of(v: Object))
                          .getOrElse(java.util.Optional.empty[Object]())
                    })
                })
                m
              }
            }
          }
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty, s"cannot write to a time-travel read of $fullName")
    new GraftSnapshotWriteBuilder(root)
  }
}

/** `INSERT INTO` appends; `INSERT OVERWRITE` (or `truncate()` from
  * `df.writeTo(...).createOrReplace`) replaces. Partition-scoped
  * overwrite is rejected loudly — hidden partitioning has no PARTITION
  * clause; `replaceWhere` is the Scala/TVF surface for that. */
final class GraftSnapshotWriteBuilder(root: String) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite {
  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      "partition-filtered INSERT OVERWRITE is not supported on hidden " +
        "partitioning - use GraftCatalog.replaceSnapshotWhere")
    replace = true; this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          // bounded conflict retries: appends re-read the head and
          // re-carry (commutative), overwrite retries are last-wins —
          // a concurrent SQL INSERT shouldn't abort a whole job the
          // way an explicit verb caller (who owns sequencing) would
          GraftCatalog.commitSnapshot(data, root,
            append = !(replace || overwrite), maxRetries = 5)
          ()
        }
      }
  }
}

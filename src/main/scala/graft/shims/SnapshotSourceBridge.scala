package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A manifest-backed [[FileIndex]] — the piece that makes graft's
  * snapshot tables first-class inside Catalyst's scan planning: Spark
  * calls `listFiles(partitionFilters, dataFilters)` AT PLANNING TIME
  * with the query's own resolved filter expressions, and this index
  * answers with only the files whose manifest stats envelope may
  * satisfy them (the `keep` callback closes over graft's
  * `mayContain` evaluator). The effect is Iceberg-grade integration:
  * `readSnapshotAuto(root).where(anything)` data-skips with NO
  * explicit predicate plumbing — every `.where`, join filter, or
  * dynamic subquery filter that reaches the scan prunes the file list
  * before a single parquet footer opens, and the surviving files then
  * still get normal parquet row-group pushdown on top.
  *
  * Driver-side only (a FileIndex is planning metadata — it never
  * ships to executors); `sizeInBytes` reports the UNPRUNED total so
  * join-strategy costing stays conservative.
  */
final class GraftSnapshotFileIndex(
    root: Path,
    allFiles: Seq[FileStatus],
    keep: Seq[Expression] => Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[Path] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, keep(dataFilters).toArray))
  override def inputFiles: Array[String] = allFiles.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = allFiles.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}

/** Builds the DataFrame over the index via a `HadoopFsRelation` —
  * `private[sql]` machinery, hence this bridge file in the
  * `org.apache.spark.sql` package (the same spark-extensions pattern
  * as [[GraftColumnBridge]]). */
object GraftSnapshotRelation {
  def dataFrame(spark: SparkSession, root: Path, files: Seq[FileStatus],
      schema: StructType, keep: Seq[Expression] => Seq[FileStatus]): DataFrame = {
    val idx = new GraftSnapshotFileIndex(root, files, keep)
    val rel = HadoopFsRelation(idx, StructType(Nil), schema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    spark.asInstanceOf[classic.SparkSession].baseRelationToDataFrame(rel)
  }
}

/** Reads small parquet files ON THE DRIVER through the function a
  * parquet file scan's tasks call, so the requested schema, type
  * widening and value conversions are exactly a scan's — but no Spark
  * job runs. For metadata-sized files only (graft's delete sidecars).
  * Stops after `limit` rows; rows come back as copies (the reader
  * reuses its buffers). */
object GraftLocalParquet {
  def read(spark: SparkSession, schema: StructType, files: Seq[FileStatus],
      limit: Int): Array[InternalRow] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(cs,
      schema, StructType(Nil), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      cs.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val it = files.iterator
    while (out.length < limit && it.hasNext) {
      val st = it.next()
      val rows = readFile(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty,
        st.getModificationTime, st.getLen))
      try while (out.length < limit && rows.hasNext) out += rows.next().copy()
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
    out.toArray
  }
}

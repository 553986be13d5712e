package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
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

/** Reads and writes small parquet files ON THE DRIVER with no Spark
  * job, through the reader and writer a parquet scan's and write's
  * tasks use. For metadata-sized files only (graft's delete sidecars).
  * Each call builds its own Hadoop conf and keeps nothing afterwards. */
object GraftLocalParquet {
  /** Rows of `files` read as `schema` by Spark's vectorized parquet
    * record reader, set up as a scan's reader factory sets it up (the
    * requested schema, the schema-conversion flags and the footer's
    * datetime rebase modes), so type widening and value conversions
    * are exactly a scan's; unlike the factory, no broadcast of the conf.
    * Stops after `limit` rows; rows come back as copies (the reader
    * reuses its buffers). */
  def read(spark: SparkSession, schema: StructType, files: Seq[FileStatus],
      limit: Int): Array[InternalRow] = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    val options = new ParquetOptions(Map.empty[String, String], sqlConf)
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val it = files.iterator
    while (out.length < limit && it.hasNext) {
      val st = it.next()
      val input = HadoopInputFile.fromStatus(st, conf)
      val footer = ParquetFooterReader.readFooter(input, ParquetMetadataConverter.NO_FILTER)
      val meta = footer.getFileMetaData.getKeyValueMetaData
      val dates = DataSourceUtils.datetimeRebaseSpec(meta.get, options.datetimeRebaseModeInRead)
      val int96 = DataSourceUtils.int96RebaseSpec(meta.get, options.int96RebaseModeInRead)
      // no INT96 time-zone conversion: a scan applies one only to files
      // not written by parquet-mr, and Spark writes through parquet-mr
      val reader = new VectorizedParquetRecordReader(null, dates.mode.toString, dates.timeZone,
        int96.mode.toString, int96.timeZone, false, sqlConf.parquetVectorizedReaderBatchSize)
      try {
        reader.initialize(new FileSplit(st.getPath, 0L, st.getLen, Array.empty[String]), ctx,
          Some(input), None, Some(footer))
        reader.initBatch(StructType(Nil), InternalRow.empty)
        while (out.length < limit && reader.nextKeyValue())
          out += reader.getCurrentValue.asInstanceOf[InternalRow].copy()
      } finally reader.close()
    }
    out.toArray
  }

  /** Write `rows` of `schema` as one parquet file in the directory `dir`
    * with the output writer a Spark write task opens (the same parquet
    * schema, codec and file metadata), on the driver and with no output
    * committer: the file is written in place under `dir`. Columns are
    * nullable, as a Spark write makes them. */
  def write(spark: SparkSession, schema: StructType, rows: Iterable[InternalRow],
      dir: Path): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val nullable = schema.asNullable
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, nullable)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, nullable, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Canonical loaders for the driver's testdata tables.
  *
  * Mirrors the reference's table registration surface
  * (reference: tests/setup_tables.rs:26, docs/2_cli_create_tables.md) but
  * Spark-first: `spark.read.parquet` + temp views; sort-order /
  * partitioning hints are the planner's job (AQE + pushdown), not
  * manual registration flags.
  *
  * SCHEMA MEMO. The reference resolves a table's schema once, when it
  * registers the table. A schemaless `spark.read.parquet` instead
  * launches a one-task inference job on every call, and every query
  * re-registers its views — at sf0.1 on 4 cores ten such jobs were
  * 1.1 s of `tpch_q6`'s 1.4 s. So [[df]] reads with the schema looked
  * up in a JVM-wide, size-bounded LRU memo (the `GraftCatalog` stats
  * memo's shape), and the read plans with no Spark job. The key is
  * everything the inferred schema depends on:
  *
  *  - the qualified path, plus its length and mtime (one
  *    `getFileStatus`) — a rewritten file is a new key;
  *  - the session's set values of `spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.*` and `spark.sql.caseSensitive` — a
  *    changed inference conf (`binaryAsString`, `nanosAsLong`,
  *    `inferTimestampNTZ`, …) is a new key.
  *
  * A miss infers exactly as before, so there is one read path and no
  * knob: a hit returns the very schema a miss would infer, and the
  * memo holds a few `StructType`s.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Load one table. Single place to normalize schema quirks: the
    * `events.ts` column has shipped in two encodings across driver
    * generations — nanosecond-precision INT64 (which Spark rejects:
    * [PARQUET_TYPE_ILLEGAL]; read as long via the nanosAsLong legacy
    * conf and floor-converted with `ts div 1000`, long arithmetic so no
    * double-routed ulp drift) and plain timestamp[us] (arrives as
    * TIMESTAMP_NTZ; cast to session-TZ TIMESTAMP — a numeric no-op
    * under the UTC session). Both paths yield the identical
    * microsecond TIMESTAMP column, so queries are encoding-agnostic.
    * Queries that output raw timestamps truncate to whole seconds so
    * the DuckDB oracle agrees at any precision (SURVEY.md §5).
    * `nanosAsLong` is set before the schema lookup, so it is part of
    * the memo key as well as of the read.
    */
  def df(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val s = schemaOf(spark, p)
      val ts = s("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast("timestamp")
      }
      spark.read.schema(s).parquet(p).withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else spark.read.schema(schemaOf(spark, p)).parquet(p)
  }

  private val schemaMemoMax = 32
  private val schemaMemo =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, StructType](schemaMemoMax, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, StructType]): Boolean =
          size() > schemaMemoMax
      })

  /** The schema `spark.read.parquet(p)` would infer, memoized on the
    * key described in the object doc. */
  private def schemaOf(spark: SparkSession, p: String): StructType = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(hp)
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted
    val key = (Seq(fs.makeQualified(hp).toString, st.getLen, st.getModificationTime) ++
      confs.map { case (k, v) => s"$k=$v" }).mkString("|")
    val hit = schemaMemo.get(key)
    if (hit != null) hit
    else {
      val s = spark.read.parquet(p).schema
      schemaMemo.put(key, s)
      s
    }
  }

  /** Register every table as a temp view named after the file.
    * Idempotent; with the schema memo warm it launches no Spark job. */
  def ensure(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => df(spark, sfDir, n).createOrReplaceTempView(n) }

  /** Fan a freshly-scanned frame out to the session's parallelism when
    * the file layout gives the scan fewer tasks than cores. The driver
    * testdata ships each table as ONE single-row-group parquet file, so
    * every scan is ONE task and per-row-heavy operators (decimal
    * rounding anchors, tokenization, per-row hashes) serialize on one
    * core — guide §2.5's input-skew case ("one huge unsplittable
    * file... repartition immediately after the read"). The gate is the
    * RUNTIME scan layout, not a constant: at production scale the scan
    * already has ≥ cores splits and this is the identity, and at the
    * driver's lower-core bench runs `defaultParallelism` follows the
    * master. Callers apply it only where measurement showed the
    * single-task scan dominating; results are unaffected (every
    * consumer is order-independent by the oracle discipline — exact
    * integer/decimal anchors, not fold-order-sensitive double sums).
    * Hash-distributes on a deterministic key when one is given (cheap,
    * retry-safe); keyless round-robin otherwise (pays the
    * sort-before-repartition tax, still deterministic).
    * `spark.graft.spread.enabled=false` turns every call into the
    * identity — the escape hatch that also powers same-session
    * interleaved A/B measurement (`ConfAB spark.graft.spread.enabled false true …`). */
  def spreadEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.spread.enabled").forall(_.toBoolean)

  def spread(df: DataFrame, key: org.apache.spark.sql.Column*): DataFrame = {
    if (!spreadEnabled(df.sparkSession)) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df
    else if (key.nonEmpty) df.repartition(want, key: _*)
    else df.repartition(want)
  }
}

package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.GraftCatalog

/** `table_churn`: writes beside reads on one growing snapshot table built
  * from `lineitem`, keyed (l_orderkey, l_linenumber). Every op is one
  * direct call to a public `GraftCatalog` verb; reads are materialized
  * through the `noop` sink.
  *
  * One pass is one cycle: append, CoW merge (updates plus new keys), MoR
  * key delete, MoR update-where, a predicate read at head, a predicate
  * time-travel read of the version the cycle's append committed (three
  * versions back, before the merge and the MoR sidecars), then one
  * maintenance op: compaction followed by a vacuum of all but the last
  * [[Keep]] versions. That makes seven ops a cycle, so the median of a
  * run's latencies falls inside one op's samples instead of in the gap
  * between two. The seed draws every batch, key sample and predicate;
  * the program sees only the generated frames and predicates. Sizes
  * are fixed (a batch is 250 orderkeys, a merge adds 50, a read covers
  * two buckets) so that seeds vary what is touched, not how much.
  *
  * Keys beyond lineitem's own range are lineitem rows re-keyed by a
  * whole multiple of that range, so appends never run out of rows.
  *
  * Correctness: an independent plain-DataFrame model replays every
  * write with ordinary joins and projections. After each write the
  * model's digest (row count and hash sum per key bucket) is recorded
  * under the committed version; a head read must match the head's
  * digest, and a time-travel read the digest recorded when its version
  * was committed. Predicates cover whole key buckets, so a digest of
  * the read is comparable bucket by bucket. Inputs and model upkeep are
  * untimed. The table lives under the run directory; nothing else is
  * written. */
final class Churn(sf: String, out: String, seed: Long) extends Workload {
  private val Pks = Seq("l_orderkey", "l_linenumber")
  private val Cols = Pks ++ Seq("l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag")
  private val BaseKeys = 5000L // orderkeys in the first version
  private val Bucket = 625L // orderkeys per digest bucket
  private val Keep = 6 // versions a vacuum retains

  private var spark: SparkSession = _
  private var source: DataFrame = _
  private var span = 0L // lineitem's orderkey range
  private var root = ""
  private var roots = 0
  private var hi = 0L // next unused orderkey
  private var model: DataFrame = _
  private var modelGen = 0
  private val digests = mutable.Map[Long, Map[Long, (Long, Long)]]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  // sources-layer counters, read by the caller from the record
  private var bytesWritten, rowsWritten = 0L
  private val skip = ArrayBuffer[Double]()

  /** Orderkeys [lo, hi) of the unbounded key space; key k comes from
    * lineitem key (k mod span). */
  private def slice(lo: Long, until: Long): DataFrame = {
    val off = pmod(col("l_orderkey") - lit(lo), lit(span))
    source.where(off < lit(until - lo))
      .withColumn("l_orderkey", lit(lo) + off)
      .select(Cols.map(col): _*)
  }

  private def bucketRange(b: Long, n: Long): Column =
    col("l_orderkey") >= lit(b * Bucket) && col("l_orderkey") < lit((b + n) * Bucket)

  private def digest(df: DataFrame): Map[Long, (Long, Long)] =
    df.groupBy(floor(col("l_orderkey") / Bucket).cast("long").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(pmod(xxhash64(Cols.map(col): _*), lit(2147483647L))).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def within(d: Map[Long, (Long, Long)], b: Long, n: Long): Map[Long, (Long, Long)] =
    d.filter { case (k, _) => k >= b && k < b + n }

  /** Replaces the model with `next`, materialized as plain parquet, and
    * records its digest under `version`. */
  private def advance(next: DataFrame, version: Long): Unit = {
    modelGen += 1
    val dir = s"$out/model/g$modelGen"
    next.write.parquet(dir)
    model = spark.read.parquet(dir)
    digests(version) = digest(model)
    if (modelGen > 2) deleteTree(new java.io.File(s"$out/model/g${modelGen - 2}"))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(): Unit
  }

  private def files(): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(root))
  }
  private def rootBytes(): Long = files().map(_.length).sum

  private def materialized(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  def prepare(s: SparkSession, tracer: Tracer, parts: mutable.Map[String, Double]): Unit = {
    spark = s
    roots += 1
    root = s"$out/table$roots"
    source = Tables.df(s, sf, "lineitem").select(Cols.map(col): _*)
    if (span == 0) span = source.agg(max("l_orderkey")).head().getLong(0) + 1
    val t0 = System.nanoTime()
    tracer.span("sources.commit")(
      GraftCatalog.commitSnapshot(slice(0, BaseKeys), root, append = false))
    parts("base_commit") = Harness.secondsOf(t0)
  }

  override def release(s: SparkSession): Unit =
    if (roots < 3) deleteTree(new java.io.File(root))

  def warmUp(s: SparkSession, tracer: Tracer): Seq[Map[String, Any]] = {
    hi = BaseKeys
    advance(slice(0, BaseKeys), GraftCatalog.snapshotVersions(s, root).last)
    cycle(-1, (_, _, f) => f(), tracer)
    Nil
  }

  def pass(s: SparkSession, pass: Int, tracer: Tracer)(
      run: (String, String, () => Unit) => Unit): Unit = cycle(pass, run, tracer)

  private def cycle(c: Int, run: (String, String, () => Unit) => Unit, tracer: Tracer): Unit = {
    val rng = new scala.util.Random(seed * 7919L + c)
    def sample(salt: String, perMille: Int): Column =
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed), lit(c), lit(salt)),
        lit(1000L)) < lit(perMille.toLong)
    var version = GraftCatalog.snapshotVersions(spark, root).last
    // every write: timed verb, then (untimed) the model replays it; the
    // versions a read checks against (the append's, read by the travel
    // read, and the head after the update) get a recorded digest
    def write(verb: String, rows: Long, next: => DataFrame, recorded: Boolean)(
        call: => Long): Unit = {
      val before = rootBytes()
      run(s"$verb@$c", verb, () => { version = tracer.span(s"sources.$verb")(call) })
      bytesWritten += rootBytes() - before
      rowsWritten += rows
      if (recorded) advance(next, version) else model = next
    }

    val width = 250L
    val (batch, nBatch) = materialized(slice(hi, hi + width))
    hi += width
    write("commit", nBatch, model.unionByName(batch), recorded = true)(
      GraftCatalog.commitSnapshot(batch, root, append = true))
    val appended = version
    batch.unpersist(blocking = true)

    val fresh = 50L
    val (updates, nUpd) = materialized(model.where(sample("merge", 10))
      .withColumn("l_quantity", col("l_quantity") + 1)
      .withColumn("l_extendedprice", round(col("l_extendedprice") * 1.01, 2))
      .unionByName(slice(hi, hi + fresh)))
    hi += fresh
    write("merge", nUpd, model.join(updates.select(Pks.map(col): _*), Pks, "left_anti")
      .unionByName(updates), recorded = false)(
      GraftCatalog.mergeSnapshotKeys(spark, root, updates, Pks))
    updates.unpersist(blocking = true)

    val (keys, nKeys) = materialized(model.where(sample("delete", 5)).select(Pks.map(col): _*))
    write("mor_delete", nKeys, model.join(keys, Pks, "left_anti"), recorded = false)(
      GraftCatalog.deleteSnapshotKeysMor(spark, root, keys, Pks))
    keys.unpersist(blocking = true)

    val lo = (rng.nextDouble() * (hi - 250)).toLong
    val pred = col("l_orderkey").between(lo, lo + 250) && col("l_linenumber") === (1 + rng.nextInt(7))
    val set = round(col("l_discount") + 0.01, 2)
    val nSet = model.where(pred).count()
    write("mor_update", nSet, model.withColumn("l_discount",
      when(pred, set).otherwise(col("l_discount"))), recorded = true)(
      GraftCatalog.updateSnapshotWhereMor(spark, root, pred, Seq("l_discount" -> set)))

    def read(verb: String, v: Option[Long]): Unit = {
      val buckets = hi / Bucket + 1
      val n = 2L
      val b = (rng.nextDouble() * (buckets - n + 1)).toLong
      val p = bucketRange(b, n)
      run(s"$verb@$c", verb, () => {
        val df = tracer.span("sources.read")(GraftCatalog.readSnapshot(spark, root, v, predicate = Some(p)))
        tracer.span("exec.materialize")(df.write.format("noop").mode("overwrite").save())
      })
      val at = v.getOrElse(version)
      val got = digest(GraftCatalog.readSnapshot(spark, root, Some(at), predicate = Some(p)))
      val want = within(digests(at), b, n)
      checks += Map("op" -> s"$verb@$c", "version" -> at, "ok" -> (got == want),
        "detail" -> (if (got == want) "" else s"digest mismatch over buckets [$b, ${b + n})"))
      if (v.isDefined) {
        val (scan, total) = GraftCatalog.snapshotScanFiles(spark, root, v, Some(p))
        skip += 1.0 - scan.size.toDouble / math.max(total, 1)
      }
    }
    read("head_read", None)
    read("travel_read", Some(appended))

    val before = version
    run(s"maintain@$c", "maintain", () => {
      version = tracer.span("sources.compact")(GraftCatalog.compactSnapshot(spark, root))
      tracer.span("sources.vacuum")(GraftCatalog.vacuumSnapshots(spark, root, version - Keep + 1))
    })
    digests(version) = digests(before)
    digests.keys.filter(_ < version - Keep + 1).toSeq.foreach(digests.remove)
  }

  /** The table's shape at the end of the run: sources-layer figures. */
  override def finish(s: SparkSession, tracer: Tracer): Map[String, Any] = {
    val fs = files().filterNot(_.getName.endsWith(".crc"))
    val deletes = fs.filter(_.getPath.contains("/_deletes/"))
    val meta = fs.filter(f => f.getPath.stripPrefix(root).startsWith("/_")).diff(deletes)
    val (live, _) = GraftCatalog.snapshotScanFiles(s, root, None, None)
    val liveBytes = live.map(p => new java.io.File(new java.net.URI(p).getPath).length).sum
    Map("checks" -> checks.toSeq, "sources" -> Map(
      "versions" -> GraftCatalog.snapshotVersions(s, root).size,
      "data_files" -> live.size, "delete_files" -> deletes.size, "meta_files" -> meta.size,
      "root_bytes" -> fs.map(_.length).sum, "live_bytes" -> liveBytes,
      "bytes_written" -> bytesWritten, "rows_written" -> rowsWritten,
      "skip_frac" -> (if (skip.isEmpty) 0.0 else skip.sum / skip.size)))
  }
}

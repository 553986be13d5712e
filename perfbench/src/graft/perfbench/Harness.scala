package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators._

/** One run of one benchmark workload, driven by `perfbench/run.py`.
  *
  * Closed loop, one client: one SparkSession, one op at a time, the next
  * op issued when the previous one returns. The session is sized by
  * `GraftSession.local()` from the `SPARK_GRAFT_CPUS` contract.
  *
  * A run sets up three times, each in a fresh session (session start,
  * then the workload's own preparation), and keeps the last session. It then runs one untimed warm-up pass, which also
  * produces the outputs the checks read, and measures a fixed number of
  * whole passes: `--seconds` / [[NominalPassS]], rounded, at least one,
  * which is about `--seconds` of busy time on the seed tree at 4 cores.
  * The work is fixed rather than the time so that two commits are
  * compared on the same ops however fast each is: a pass count that
  * flips with the host's speed changes the mix. With `--trace 1` the
  * run makes one traced pass, from which the per-layer records come,
  * and one untraced pass to compare it with.
  *
  * Between passes the harness runs a full GC and records the heap still
  * in use: the memory graft retains, which unlike the resident-set peak
  * does not depend on when the collector happened to run.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --sf <data dir> --out <run dir>
  * Writes `<out>/record.json`; the caller derives every metric from it.
  */
object Harness {

  /** A failed attempt, with what the run record must say about it. */
  def failure(e: Throwable): Map[String, Any] = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Map("class" -> e.getClass.getName, "root_class" -> root.getClass.getName,
      "message" -> Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ").take(400))
  }

  def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Busy seconds of one pass of either workload, as measured on the
    * seed tree at 4 cores; sets how many passes `--seconds` buys. */
  val NominalPassS = 5.0

  /** Heap in use after a full collection, in MB. Blocks are freed
    * asynchronously (`unpersist`, and broadcasts the context cleaner
    * drops once a collection finds them unreachable), so the harness
    * collects, waits until the block store stops shrinking, and collects
    * again: a block still being dropped is not retained. */
  def retainedMb(spark: SparkSession): Double = {
    def stored = spark.sparkContext.getExecutorMemoryStatus.values.map { case (m, r) => m - r }.sum
    System.gc()
    var (prev, cur, polls) = (-1L, stored, 0)
    while (cur != prev && polls < 40) { Thread.sleep(50); prev = cur; cur = stored; polls += 1 }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** An untraced run's measured pass during which the hypervisor gave
    * more than this share of the CPUs to other guests is run again, at
    * most [[MaxRepeats]] times per run. Steal is outside the program's
    * control, so the repeat can hide a slow host but never a slow
    * commit; both passes stay in the record. */
  val MaxSteal = 0.05
  val MaxRepeats = 2

  /** (steal, total) CPU time of the host so far, from /proc/stat. */
  def cpuTimes(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(b._2 - a._2, 1L)

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sf = a("sf")
    val out = a("out")
    val w: Workload = workload match {
      case "olap" => new Corpus(Pools.olap, sf, out, seed)
      case "llm_pipeline" => new Corpus(Pools.llm, sf, out, seed, Pools.llmIndexes)
      case "table_churn" => new Churn(sf, out, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer
    val record = mutable.LinkedHashMap[String, Any]("workload" -> workload)

    // ---- set-up, three times; the last session is kept ----------------
    tracer.recording = traced
    val setups = ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      if (spark != null) { w.release(spark); spark.stop() }
      val parts = mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      spark = tracer.span("setup.session")(GraftSession.local())
      parts("session") = secondsOf(t0)
      spark.sparkContext.setLogLevel("ERROR")
      w.prepare(spark, tracer, parts)
      setups += Map("total_s" -> secondsOf(t0), "parts" -> parts.toMap)
    }
    record("setups") = setups
    tracer.recording = false

    // ---- warm-up pass, which also produces the checked outputs --------
    val tw = System.nanoTime()
    record("checks") = w.warmUp(spark, tracer)
    record("warmup_s") = secondsOf(tw)
    if (traced) tracer.attach(spark)

    // ---- measured loop: a fixed number of whole passes -----------------
    val samples = ArrayBuffer[Map[String, Any]]()
    val retained = ArrayBuffer(retainedMb(spark))
    // a traced run makes one traced pass, then one untraced: a warming
    // trend can only inflate the traced-minus-untraced overhead
    val total = if (traced) 2 else math.max(1, math.round(seconds / NominalPassS).toInt)
    val passLog = ArrayBuffer[Map[String, Any]]()
    var (pass, kept) = (0, 0)
    while (kept < total) {
      val tracing = traced && kept == 0
      tracer.recording = tracing
      val cpu0 = cpuTimes()
      w.pass(spark, pass, tracer) { (op, kind, f) =>
        val ts = System.nanoTime()
        val err = try { tracer.op(spark, s"$pass:$op")(f()); None }
          catch { case e: Throwable => Some(failure(e)) }
        samples += Map("op" -> op, "kind" -> kind, "pass" -> pass, "traced" -> tracing,
          "wall_s" -> secondsOf(ts), "ok" -> err.isEmpty, "error" -> err)
      }
      tracer.recording = false
      val steal = stealFrac(cpu0, cpuTimes())
      val keep = traced || steal <= MaxSteal || pass - kept >= MaxRepeats
      passLog += Map("pass" -> pass, "steal" -> steal, "kept" -> keep)
      if (keep) kept += 1
      pass += 1
      retained += retainedMb(spark)
    }
    record("passes") = passLog
    record("retained_mb") = retained
    record("samples") = samples
    record ++= w.finish(spark, tracer)

    if (traced) {
      tracer.recording = true
      record("functions") = Functions.nsPerRow(spark, sf, tracer)
      tracer.recording = false
      tracer.detach(spark)
      record("trace") = tracer.dump
    }
    record("rss_peak_mb") = rssPeakMb()
    w.release(spark)
    spark.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(out, "record.json"), record)
  }
}

/** What a workload supplies to the run loop. */
trait Workload {
  /** Per-session preparation, timed as part of set-up; named parts go
    * into `parts` (seconds). */
  def prepare(spark: SparkSession, tracer: Tracer, parts: mutable.Map[String, Double]): Unit
  /** The untimed warm-up pass; returns the check records. */
  def warmUp(spark: SparkSession, tracer: Tracer): Seq[Map[String, Any]]
  /** One measured pass; each op goes through `run(op, kind, body)`. */
  def pass(spark: SparkSession, pass: Int, tracer: Tracer)(
      run: (String, String, () => Unit) => Unit): Unit
  /** Extra record entries after the measured loop. */
  def finish(spark: SparkSession, tracer: Tracer): Map[String, Any] = Map.empty
  /** Drop per-session state before the session stops. */
  def release(spark: SparkSession): Unit = ()
}

/** A corpus workload: a fixed pool of `SparkEntry` ops, in a seeded order
  * per pass. An op is `Q.run` (the `operators` layer, which may launch
  * jobs eagerly) followed by materialization through the `noop` sink. */
final class Corpus(pool: Seq[Q], sf: String, out: String, seed: Long,
    indexes: Seq[(String, (SparkSession, String) => Any)] = Nil) extends Workload {

  /** Registers the tables (the SQL ops read them as views), then builds
    * the pool's indexes, if any. */
  def prepare(spark: SparkSession, tracer: Tracer, parts: mutable.Map[String, Double]): Unit = {
    val t0 = System.nanoTime()
    tracer.span("setup.tables")(Tables.ensure(spark, sf))
    parts("tables") = Harness.secondsOf(t0)
    indexes.foreach { case (name, build) =>
      val t1 = System.nanoTime()
      tracer.span(s"setup.${name}_build")(build(spark, sf))
      parts(name) = Harness.secondsOf(t1)
    }
  }

  private def order(pass: Int): Seq[Q] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(pool)

  /** Writes each op's result once, as `Verify` does, for the oracle. */
  def warmUp(spark: SparkSession, tracer: Tracer): Seq[Map[String, Any]] = {
    val runs = order(-1).map { q =>
      val dir = s"$out/check/${q.name}"
      val err = try {
        q.run(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir); None
      } catch { case e: Throwable => Some(Harness.failure(e)) }
      (q.name, dir, err)
    }
    // read after the ops ran: export-pattern oracles name the paths the
    // op itself wrote
    val oracle = SparkEntry.oracleSql
    runs.map { case (name, dir, err) =>
      Map("op" -> name, "dir" -> dir, "oracle" -> oracle.get(name), "error" -> err)
    }
  }

  def pass(spark: SparkSession, pass: Int, tracer: Tracer)(
      run: (String, String, () => Unit) => Unit): Unit =
    order(pass).foreach { q =>
      run(q.name, "query", () => {
        val df: DataFrame = tracer.span("operators.build")(q.run(spark, sf))
        tracer.planned(df.queryExecution)
        tracer.span("exec.materialize")(df.write.format("noop").mode("overwrite").save())
      })
    }
}

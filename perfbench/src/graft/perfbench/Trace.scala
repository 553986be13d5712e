package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run, recorded from outside the program.
  *
  * Spans (name, start, end, parent, op id) come from the harness's own
  * calls into each layer. Jobs, stages, tasks and planning phases come
  * from Spark's public listeners, attributed to the op that was current
  * when the event was delivered: the harness drains the listener bus at
  * the end of every traced op, so no event can leak into the next op.
  * Nothing is written until [[dump]] at the end of the run.
  *
  * `recording` is toggled per pass: a traced run makes one traced and
  * one untraced pass, so the tracing overhead is measured on the same
  * seed in the same process. With `recording` false every call is a
  * plain pass-through. */
final class Tracer {
  @volatile var recording = false
  @volatile private var currentOp = ""

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds, on the same scale as Spark's event times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  final case class Span(id: Int, name: String, start: Double, end: Double,
      parent: Int, op: String)
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(f: => A): A =
    if (!recording) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = nowMs
      try f
      finally {
        stack = stack.tail
        spans += Span(id, name, s, nowMs, parent, currentOp)
      }
    }

  /** Runs `f` as the root span of op `op`; jobs it launches carry the op
    * id as their job group. */
  def op[A](spark: SparkSession, op: String)(f: => A): A =
    if (!recording) f
    else {
      currentOp = op
      spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
      try span("op")(f)
      finally {
        BenchBus.drain(spark.sparkContext)
        spark.sparkContext.clearJobGroup()
        currentOp = ""
      }
    }

  // ---- listener-side records -------------------------------------------

  private final class Job(val id: Int, val op: String, val start: Double,
      val stages: Seq[Int]) { var end = start; var ok = true }
  private final class Stage(val id: Int, val op: String) {
    val taskMs = ArrayBuffer[Long]()
    var runMs, gcMs, shuffleWrite, spill, failures = 0L
  }
  private final case class Phase(op: String, event: Int, action: String,
      name: String, start: Double, end: Double)

  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stages = scala.collection.mutable.LinkedHashMap[Int, Stage]()
  private val stageOp = scala.collection.mutable.HashMap[Int, String]()
  private val phases = ArrayBuffer[Phase]()
  private var events = 0
  private val lock = new Object

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(currentOp)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) lock.synchronized {
      val op = opOf(e.properties)
      jobs(e.jobId) = new Job(e.jobId, op, e.time.toDouble, e.stageIds)
      e.stageIds.foreach(stageOp(_) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, op))
        s.taskMs += e.taskInfo.duration
        if (e.reason != Success) s.failures += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private def record(action: String, qe: QueryExecution): Unit =
    if (recording) lock.synchronized {
      events += 1
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(currentOp, events, action, name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }

  /** Records the planning phases a built DataFrame has already been
    * through: parsing and analysis run eagerly while an op is built, in
    * a QueryExecution that no action reports to the listener. */
  def planned(qe: QueryExecution): Unit = record("build", qe)

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = record(action, qe)
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = record(action, qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Everything recorded, as one JSON-ready map. */
  def dump: Map[String, Any] = lock.synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "op" -> s.op)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "op" -> j.op, "start" -> j.start,
        "end" -> j.end, "ok" -> j.ok, "stages" -> j.stages)),
      "stages" -> stages.values.map(s => Map("id" -> s.id, "op" -> s.op,
        "tasks" -> s.taskMs.size, "task_ms" -> s.taskMs, "run_ms" -> s.runMs,
        "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
        "failures" -> s.failures)),
      "phases" -> phases.map(p => Map("op" -> p.op, "event" -> p.event, "action" -> p.action,
        "name" -> p.name, "start" -> p.start, "end" -> p.end)))
  }
}

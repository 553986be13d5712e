package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job census for one query: how many Spark jobs (driver round-trips)
  * a run schedules — the fixed-overhead diagnostic for the lifecycle
  * and iterative operators. `sbt "Test/runMain graft.JobCount q1,q2 [sfDir]"`. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Seq("q05_agg", "q15_window").foreach(once)
    names.foreach(once) // warm
    names.foreach { n =>
      Thread.sleep(200)
      val before = jobs.get()
      val t = once(n)
      Thread.sleep(200) // let async listener drain
      println(f"JOBS $n: ${jobs.get() - before} jobs, $t%.2f s")
    }
    spark.stop()
  }
}

package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall census for one query: job id, duration, stage count and
  * description — the fixed-overhead breakdown JobCount's single count
  * can't show. `sbt "Test/runMain graft.JobTrace q145_catalog_dml [sfDir]"`. */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = TrieMap.empty[Int, (Long, String, Int)]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time,
          Option(js.properties.getProperty("spark.job.description")).getOrElse(""),
          js.stageInfos.size))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, desc, nst) =>
          lines.add(f"JOB ${je.jobId}%4d ${(je.time - t0) / 1000.0}%6.2fs $nst%2d stages  ${desc.take(100)}")
        }
    })
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Seq("q05_agg", "q15_window").foreach(once)
    names.foreach(once) // warm
    names.foreach { n =>
      Thread.sleep(300)
      lines.clear()
      val t = once(n)
      Thread.sleep(300)
      println(f"===== $n: $t%.2f s =====")
      lines.forEach(l => println(l))
    }
    spark.stop()
  }
}

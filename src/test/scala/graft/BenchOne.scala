package graft

/** Inner-loop timing for ONE query: `sbt "Test/runMain graft.BenchOne
  * <name> [sfDir] [reps]"` — same noop-sink materialization as Bench,
  * per-rep times printed so warm-up and steady state are both visible. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 4
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"$name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}

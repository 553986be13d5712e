package graft

/** Run one query in a loop for external stack sampling.
  * `sbt "Test/runMain graft.QueryLoop q145_catalog_dml 20 [sfDir]"`. */
object QueryLoop {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 20
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once(name) // warm
    println(s"LOOP START pid=${ProcessHandle.current().pid()}")
    val walls = (1 to reps).map(_ => once(name))
    println(f"LOOP DONE median=${walls.sorted.apply(reps / 2)}%.2f")
    spark.stop()
  }
}

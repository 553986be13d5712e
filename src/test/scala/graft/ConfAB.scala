package graft

/** Same-JVM interleaved A/B of one session conf: each rep runs a query
  * with `key` at `offValue`, then at `onValue`, in the same session, so
  * co-tenant host load hits both arms equally; prints each arm's
  * median and its reps. Confs read at plan time (optimizer rules, join
  * strategy, `spark.graft.spread.enabled`) change the very next run.
  * The session is sized from SPARK_GRAFT_CPUS.
  * `sbt "Test/runMain graft.ConfAB <key> <offValue> <onValue> q1,q2 [sfDir] [reps]"` */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val Array(key, offValue, onValue, queries) = args.take(4)
    val names = queries.split(',').toSeq
    val sfDir = if (args.length > 4) args(4) else "/root/testdata/sf0.1"
    val reps = if (args.length > 5) args(5).toInt else 5
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    def once(n: String, value: String): Double = {
      spark.conf.set(key, value)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // session/codegen warm-up on neutral queries, then each query's
    // codegen under both arms
    Seq("q05_agg", "q15_window", "q10_join_shuffle").foreach(once(_, onValue))
    names.foreach { n => once(n, offValue); once(n, onValue) }
    names.foreach { n =>
      val (off, on) = (1 to reps).map(_ => (once(n, offValue), once(n, onValue))).unzip
      def med(a: Seq[Double]) = a.sorted.apply(a.length / 2)
      def fmt(a: Seq[Double]) = a.map(t => f"$t%.2f").mkString(" ")
      println(f"CONFAB $n $key $offValue=${med(off)}%.3f $onValue=${med(on)}%.3f  " +
        s"offReps=[${fmt(off)}] onReps=[${fmt(on)}]")
    }
    spark.stop()
  }
}

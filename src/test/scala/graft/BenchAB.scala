package graft

import org.apache.spark.sql.SparkSession

/** A/B harness: time queries on a session WITHOUT the graft
  * extensions vs WITH them, same JVM, interleaved reps — separates
  * "the injected rules cost analyzer time" from co-tenant host load.
  * The extensions session comes first (`GraftSession.local()`, sized
  * from SPARK_GRAFT_CPUS); the bare one shares its context and confs,
  * so the two differ only in the injected rules.
  * `sbt "Test/runMain graft.BenchAB q115_corr_matrix,tpch_q6 [sfDir] [reps]"` */
object BenchAB {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val ext = GraftSession.local()
    ext.sparkContext.setLogLevel("ERROR")
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val bare = SparkSession.builder().appName("bench-ab-bare").getOrCreate()
    graft.functions.GraftFunctions.register(bare) // functions, but no rules
    def once(s: SparkSession, n: String): Double = {
      SparkSession.setActiveSession(s); SparkSession.setDefaultSession(s)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(s, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n => once(bare, n); once(ext, n) } // warm both
    names.foreach { n =>
      val (tb, te) = (Array.newBuilder[Double], Array.newBuilder[Double])
      for (_ <- 1 to reps) { tb += once(bare, n); te += once(ext, n) }
      def med(a: Array[Double]) = a.sorted.apply(a.length / 2)
      println(f"$n bare=${med(tb.result())}%.3f ext=${med(te.result())}%.3f")
    }
    bare.stop()
  }
}

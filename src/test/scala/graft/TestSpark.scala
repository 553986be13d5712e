package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for the spec suite (one JVM, suites run
  * serially — see build.sbt). */
object TestSpark {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `f` launches, counted through the public status API.
    * The status store fills from the async listener bus, so a sentinel
    * job in its own group runs afterwards: once its start is visible,
    * every earlier job's start is too. */
  def jobsLaunched(spark: SparkSession)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-launched-${System.nanoTime()}"
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    inGroup(group)(f)
    inGroup(group + "-sentinel")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group + "-sentinel").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scratch probe: where does the decimal-moments time go?
  * `sbt "Test/runMain graft.DecProbe [sfDir] [reps]"` times variants of
  * the q50/q115 aggregation shape over lineitem with the noop sink. */
object DecProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val li = Tables.df(spark, sfDir, "lineitem")
    val x = col("l_quantity"); val y = col("l_extendedprice")

    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $label: ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }

    // 0: scan only
    time("scan_only")(li.select(x, y))
    // 1: plain double sums (the lower bound)
    time("double_sums")(li.groupBy("l_returnflag").agg(
      count(lit(1)), sum(x), sum(y), sum(x * x), sum(y * y), sum(x * y)))
    // 2: the current q50 shape — decimal(18,2)/(38,4) sums
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(18, 2))).cast("double")
    def dsum38(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 4))).cast("double")
    time("dec_38_sums")(li.groupBy("l_returnflag").agg(
      count(lit(1)), dsum(x), dsum(y),
      dsum38(x * x), dsum38(y * y), dsum38(x * y)))
    // 3: cast but sum as narrower decimal (19,4) (compact input repr)
    def dsum19(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(19, 4))).cast("double")
    time("dec_19_sums")(li.groupBy("l_returnflag").agg(
      count(lit(1)), dsum(x), dsum(y),
      dsum19(x * x), dsum19(y * y), dsum19(x * y)))
    // 4: decimal cast per row, but convert to long tenth-thousandths and
    // sum as SPLIT LONGS (hi/lo), recombine exactly at the end
    val XS = 1000000000L // 2^? no — decimal split base 1e9
    def longs(c: org.apache.spark.sql.Column) = {
      val u = (c.cast(DecimalType(38, 4)) * 10000).cast(DecimalType(38, 0))
      (floor(u / XS).cast("long"), (u % XS).cast("long"))
    }
    time("dec_cast_long_split") {
      val (h1, l1) = longs(x * x); val (h2, l2) = longs(y * y); val (h3, l3) = longs(x * y)
      li.groupBy("l_returnflag").agg(
        count(lit(1)),
        sum((x.cast(DecimalType(18, 2)) * 100).cast("long")),
        sum((y.cast(DecimalType(18, 2)) * 100).cast("long")),
        sum(h1), sum(l1), sum(h2), sum(l2), sum(h3), sum(l3))
    }
    // 5: pure long-space (round(x*100)) — NOT semantics-safe, just a bound
    time("pure_long") {
      val xc = round(x * 100).cast("long"); val yc = round(y * 100).cast("long")
      li.groupBy("l_returnflag").agg(
        count(lit(1)), sum(xc), sum(yc),
        sum(xc * xc), sum(yc * yc), sum(xc * yc))
    }
    // 6: one dec38 sum only (is cost per-agg linear?)
    time("one_dec38")(li.groupBy("l_returnflag").agg(count(lit(1)), dsum38(x * y)))
    // 7: cast only, no agg (isolate the double->decimal cast cost)
    time("cast_only")(li.select(
      (x * x).cast(DecimalType(38, 4)), (y * y).cast(DecimalType(38, 4)),
      (x * y).cast(DecimalType(38, 4)), x.cast(DecimalType(18, 2)),
      y.cast(DecimalType(18, 2))))
    spark.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SketchMv

/** The sketch-MV contract: HLL partial states persisted per batch must
  * merge to the direct full-scan sketch's answer (within the sketch's
  * published error), and absorbing a new batch must be a pure
  * sketch-the-delta + union — never a rescan. lgConfigK defaults to 12
  * → relative standard error 1.04/√4096 ≈ 1.6%; the floor here is 5%
  * (≈3σ), the same style of bound PipelineSpec puts on q34. */
class SketchMvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def orders = Tables.df(spark, sf, "orders")
  private val month = date_format(col("o_orderdate"), "yyyy-MM")

  test("persisted partials merge to the direct sketch within the published error bound") {
    val exact = orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    val direct = orders
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("e"))
      .head().getLong(0)
    // the MV path: partial states through a BINARY parquet round-trip
    val dir = s"/tmp/graft-sketchmv/parts_${System.nanoTime()}"
    SketchMv.partials(orders, month, col("o_custkey"))
      .write.mode("overwrite").parquet(dir)
    val got = SketchMv.mergedEstimate(spark.read.parquet(dir)).head()
    val merged = got.getLong(0)
    assert(got.getLong(1) == orders.count(), "MV row accounting broke")
    assert(math.abs(direct - exact) <= 0.05 * exact, s"direct $direct vs exact $exact")
    assert(math.abs(merged - exact) <= 0.05 * exact, s"merged $merged vs exact $exact")
    assert(math.abs(merged - direct) <= 0.02 * math.max(direct, 1),
      s"merge-of-parts $merged drifted from direct $direct")
  }

  test("absorbing a delta batch = sketch the delta + union, matching a full rebuild") {
    // split on the batch boundary: the stored MV's partial rows and the
    // rebuilt table's partial rows cover the same per-month data, so
    // the merged estimates must agree up to the estimator's documented
    // order sensitivity (the Datasketches union HIP accumulator is
    // absorption-order dependent — observed ~1% here), and both must
    // sit inside the published bound of the exact answer.
    val cutoff = "1997-01-01"
    val dir = s"/tmp/graft-sketchmv/mv0_${System.nanoTime()}"
    SketchMv.partials(orders.where(col("o_orderdate") < cutoff), month, col("o_custkey"))
      .write.mode("overwrite").parquet(dir)
    val delta = SketchMv.partials(
      orders.where(col("o_orderdate") >= cutoff), month, col("o_custkey"))
    val incremental = SketchMv
      .mergedEstimate(spark.read.parquet(dir).unionByName(delta))
      .head().getLong(0)
    val rebuild = SketchMv
      .mergedEstimate(SketchMv.partials(orders, month, col("o_custkey")))
      .head().getLong(0)
    assert(math.abs(incremental - rebuild) <= 0.02 * rebuild,
      s"incremental $incremental drifted from full rebuild $rebuild")
    val exact = orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(math.abs(incremental - exact) <= 0.05 * exact,
      s"incremental $incremental vs exact $exact")
  }

  test("streaming partials keep the live distinct-count card within bound after every batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"/tmp/graft-sketchmv/stream_${System.nanoTime()}"
    val ms = MemoryStream[(String, Long)]
    val q = SketchMv.streamingPartials(
        ms.toDF().toDF("etype", "user_id"), col("etype"), col("user_id"), dir)
      .option("checkpointLocation", dir + "_ckpt").start()
    val seen = scala.collection.mutable.Set.empty[Long]
    try {
      // overlapping user populations across batches: the card must
      // count each user once however many batches it appears in
      for ((lo, hi) <- Seq((0L, 4000L), (2000L, 7000L), (5000L, 9000L))) {
        ms.addData((lo until hi).map(u => (s"t${u % 3}", u)))
        q.processAllAvailable()
        seen ++= (lo until hi)
        val est = SketchMv.mergedEstimate(spark.read.parquet(dir)).head().getLong(0)
        assert(math.abs(est - seen.size) <= 0.05 * seen.size,
          s"card says $est, truth ${seen.size}")
      }
    } finally q.stop()
    // at-least-once redelivery: rewriting batch 1's partials in place
    // must leave the card unchanged (keyed overwrite, not append)
    val before = SketchMv.mergedEstimate(spark.read.parquet(dir)).head().getLong(0)
    SketchMv.partials(
        (2000L until 7000L).map(u => (s"t${u % 3}", u)).toDF("etype", "user_id"),
        col("etype"), col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/batch_id=1")
    val after = SketchMv.mergedEstimate(spark.read.parquet(dir)).head().getLong(0)
    assert(after == before, s"replay changed the card: $before -> $after")
  }

  test("q103 ALL row is the merge of its own per-month partials") {
    val out = SparkEntry.queries("q103_sketch_mv")(spark, sf).collect()
    val all = out.filter(_.getString(0) == "ALL")
    assert(all.length == 1 && out.length > 12, s"got ${out.length} rows")
    val exact = orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(math.abs(all.head.getLong(1) - exact) <= 0.05 * exact)
    // per-month estimates bound their months too
    val exactPer = orders.groupBy(month.as("m"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.filter(_.getString(0) != "ALL").foreach { r =>
      val e = exactPer(r.getString(0))
      assert(math.abs(r.getLong(1) - e) <= math.max(0.05 * e, 2.0), s"month ${r.getString(0)}")
    }
  }

  test("streaming KLL partials keep the live quantile card inside the rank bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"/tmp/graft-sketchmv/kllstream_${System.nanoTime()}"
    val ms = MemoryStream[(String, Double)]
    val q = SketchMv.streamingSketchPartials(
        ms.toDF().toDF("grp", "v"), col("grp"),
        expr("kll_sketch_agg(v)"), dir)
      .option("checkpointLocation", dir + "_ckpt").start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      // three skew-shifted batches; after each, the merged card's p50
      // must sit inside the exact rank window of everything seen so far
      for ((lo, n) <- Seq((0, 3000), (5000, 2000), (1000, 4000))) {
        ms.addData((0 until n).map(i => (s"g${i % 2}", (lo + i).toDouble)))
        q.processAllAvailable()
        seen ++= (0 until n).map(i => (lo + i).toDouble)
        val sorted = seen.sorted
        val got = spark.read.parquet(dir)
          .agg(expr("kll_quantiles(kll_merge_agg(sketch), array(0.5D))").as("q"))
          .head().getSeq[Double](0).head
        val eps = 0.033
        val lo50 = sorted(((0.5 - eps) * (sorted.size - 1)).toInt)
        val hi50 = sorted(((0.5 + eps) * (sorted.size - 1)).toInt)
        assert(got >= lo50 && got <= hi50,
          s"live p50 $got outside [$lo50, $hi50] after ${seen.size} rows")
      }
    } finally q.stop()
  }

  test("theta golden: set algebra on constructed cohorts is exact") {
    import spark.implicits._
    // cohort A = {1..100}, cohort B = {51..180}: |A|=100, |B|=130,
    // |A∩B|=50, |A\B|=50, |B\A|=80, |A∪B|=180 — all hand-derivable.
    val df = ((1L to 100L).map(("A", _)) ++ (51L to 180L).map(("B", _)))
      .toDF("cohort", "id")
    val sk = df.groupBy("cohort").agg(expr("theta_sketch_agg(id)").as("sk"))
    val a = sk.where(col("cohort") === "A").as("a")
    val b = sk.where(col("cohort") === "B").as("b")
    val r = a.crossJoin(b).select(
      expr("theta_count(a.sk)").as("na"),
      expr("theta_count(b.sk)").as("nb"),
      expr("theta_intersect_count(a.sk, b.sk)").as("inter"),
      expr("theta_anotb_count(a.sk, b.sk)").as("aonly"),
      expr("theta_anotb_count(b.sk, a.sk)").as("bonly"),
      expr("theta_union_count(a.sk, b.sk)").as("uni")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((100L, 130L, 50L, 50L, 80L, 180L)))
  }

  test("theta exact regime is partition-order independent, matching countDistinct") {
    // per-month active counts from the sketch == exact COUNT DISTINCT,
    // under two different partitionings (merge order changes; in the
    // exact regime theta=1 and the ordered compact result is canonical
    // for the hash set, so even the BYTES agree).
    val base = orders.select(month.as("m"), col("o_custkey"))
    val exact = base.groupBy("m").agg(countDistinct("o_custkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val skOf = (df: org.apache.spark.sql.DataFrame) => df.groupBy("m")
      .agg(expr("theta_count(theta_sketch_agg(o_custkey))").as("n"),
        md5(expr("theta_sketch_agg(o_custkey)")).as("sig"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val p1 = skOf(base.repartition(3))
    val p2 = skOf(base.repartition(31, col("o_custkey")))
    assert(p1.keySet == exact.keySet)
    p1.foreach { case (m, (n, sig)) =>
      assert(n == exact(m), s"month $m: sketch $n vs exact ${exact(m)}")
      assert(p2(m) == ((n, sig)), s"month $m: partitioning changed the sketch")
    }
  }

  test("kll merged-of-parts quantiles stay within the published rank-error bound") {
    val ps = Array(0.5, 0.95, 0.99)
    // exact rank window: value at rank p ± eps brackets the estimate.
    // k=200 → normalized rank error ~1.65% (two-sided, 99% conf); use
    // 2x margin for the randomized compaction.
    val eps = 0.033
    val n = orders.count()
    val sorted = orders.select(col("o_totalprice").cast("double").as("v"))
      .orderBy("v").collect().map(_.getDouble(0))
    def valueAtRank(p: Double): Double =
      sorted(math.min(sorted.length - 1, math.max(0, (p * (n - 1)).toInt)))
    // the q107 ALL row = merge of per-month persisted partials
    val dir = s"/tmp/graft-sketchmv/kll_${System.nanoTime()}"
    orders.groupBy(month.as("batch"))
      .agg(expr("kll_sketch_agg(o_totalprice)").as("sk"))
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .agg(expr("kll_quantiles(kll_merge_agg(sk), array(0.5D, 0.95D, 0.99D))").as("q"))
      .head().getSeq[Double](0)
    val direct = orders
      .agg(expr("kll_quantiles(kll_sketch_agg(o_totalprice), array(0.5D, 0.95D, 0.99D))").as("q"))
      .head().getSeq[Double](0)
    ps.zipWithIndex.foreach { case (p, i) =>
      val lo = valueAtRank(math.max(0.0, p - eps))
      val hi = valueAtRank(math.min(1.0, p + eps))
      assert(got(i) >= lo && got(i) <= hi,
        s"merged p$p=${got(i)} outside exact rank window [$lo, $hi]")
      assert(direct(i) >= lo && direct(i) <= hi,
        s"direct p$p=${direct(i)} outside exact rank window [$lo, $hi]")
    }
  }
}

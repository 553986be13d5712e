package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** Per-row cost of graft's native expressions and of Spark's
  * double→decimal cast, the `functions` layer of the traced run.
  *
  * Each figure is `select(f(col))` minus `select(col)`, both
  * materialized through the `noop` sink over the same cached sf0.1
  * column, divided by the row count: the difference is the expression's
  * own evaluation, without scan or decode. The small `documents` and
  * `embeddings` tables are replicated so one evaluation is long enough
  * to time. Medians of interleaved repetitions. */
object Functions {
  private val Reps = 3
  private val DocCopies = 10
  private val VecCopies = 25

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    Harness.secondsOf(t0)
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  def nsPerRow(spark: SparkSession, sf: String, tracer: Tracer): Map[String, Double] = {
    GraftFunctions.register(spark)
    val copies = (n: Int) => spark.range(n).select(col("id").as("copy"))
    val (toks, nToks) = cached(Tables.df(spark, sf, "documents")
      .select(expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
      .crossJoin(copies(DocCopies)).select("t"))
    val (vecs, nVecs) = cached(Tables.df(spark, sf, "embeddings")
      .select(col("embedding").as("e"),
        expr("transform(sequence(0, 15), m -> pmod(hash(vec_id, m), 16))").as("codes"))
      .crossJoin(copies(VecCopies)).select("e", "codes"))
    val (prices, nPrices) = cached(Tables.df(spark, sf, "lineitem").select("l_extendedprice"))
    val lut = typedlit(Seq.tabulate(256)(i => (i % 17) * 0.01))
    val cases: Seq[(String, DataFrame, Long, Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Column)] = Seq(
      ("simhash64", toks, nToks, Seq(col("t")), expr("simhash64(t)")),
      ("minhash_shingle32", toks, nToks, Seq(col("t")), expr("minhash_shingle32(t)")),
      ("shingle_hashes", toks, nToks, Seq(col("t")), expr("shingle_hashes(t)")),
      ("token_stats", toks, nToks, Seq(col("t")), expr("token_stats(t)")),
      ("gram_mass_stats", toks, nToks, Seq(col("t")), expr("gram_mass_stats(t)")),
      ("vec_dot", vecs, nVecs, Seq(col("e")), expr("vec_dot(e, e)")),
      ("pq_adc", vecs.withColumn("lut", lut), nVecs, Seq(col("codes")), expr("pq_adc(codes, lut)")),
      ("cast_double_decimal", prices, nPrices, Seq(col("l_extendedprice")),
        col("l_extendedprice").cast("decimal(18,2)")))
    val out = cases.map { case (name, df, rows, base, f) =>
      val times = tracer.span(s"functions.$name") {
        (1 to Reps).map(_ => (noop(df.select(base: _*)), noop(df.select(f))))
      }
      val ns = (Harness.median(times.map(_._2)) - Harness.median(times.map(_._1))) / rows * 1e9
      name -> ns
    }
    Seq(toks, vecs, prices).foreach(_.unpersist())
    out.toMap
  }
}

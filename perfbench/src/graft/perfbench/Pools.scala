package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.operators._

/** The op pools of the corpus workloads.
  *
  * Each pool is a fixed draw from its family list, small enough that a
  * run (three set-ups, a warm-up pass and a measured pass) stays well
  * under a minute at 4 cores; the seed only orders the pool within a
  * pass, so every run measures the same ops in whole passes. See
  * perfbench/README.md for why each op is in.
  */
object Pools {
  private def pick(from: Seq[Q], names: String*): Seq[Q] = {
    val byName = from.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, throw new NoSuchElementException(s"no op $n")))
  }

  /** Star-schema analytics: planning, scheduling and shuffle; one op per
    * shape (decimal aggregation, shuffle join, window, top-n, cube). */
  lazy val olap: Seq[Q] = pick(
    TpcH.all ++ Relational.all ++ Analytic.all ++ Analytic2.all ++ Analytic3.all ++
      Analytic4.all ++ Analytic5.all ++ Analytic6.all ++ PatternMatch.all ++
      SketchMv.all ++ TopK.all,
    "tpch_q6", "q10_join_shuffle", "q15_window", "q36_topn_agg", "q38_cube")

  /** Per-row native kernels, graph supersteps and prebuilt ANN layouts. */
  lazy val llm: Seq[Q] = pick(
    Dedup.all ++ Similarity.all ++ TextAnalysis.all ++ Multimodal.all ++ Sampling.all,
    "d02_dedup_jaccard", "d03_dedup_minhash", "d04_dedup_simhash",
    "d06_dedup_cluster", "d20_kcore", "s02_ann_lsh", "s08_ann_ivfpq",
    "t07_repetition", "t25_gopher_char_fracs", "m01_multimodal", "p01_sample_hash")

  /** The build-once indexes the `llm_pipeline` ops read, built (or, when
    * a layout for the same data is already on disk, opened) at set-up. */
  val llmIndexes: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "pair_cache" -> ((s, d) => Dedup.jaccardPairs(Tables.df(s, d, "documents"))),
    "dup_label_index" -> ((s, d) => Dedup.dupLabelIndex(Tables.df(s, d, "documents"))),
    "lsh_layout" -> ((s, d) => Similarity.lshIndex(s, d)),
    "ivf_layout" -> ((s, d) => Similarity.ivfIndex(s, d)),
    "pq_codebook" -> ((s, d) => Similarity.pqIndex(s, d)),
    "ivfpq_layout" -> ((s, d) => Similarity.ivfpqIndex(s, d)),
    "sq8_layout" -> ((s, d) => Similarity.sq8Index(s, d)))
}

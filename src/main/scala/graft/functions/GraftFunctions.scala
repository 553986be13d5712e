package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.sources.GraftTvf

/** The one table of graft's SQL functions: the native expressions and
  * the snapshot table-valued functions, each as Spark's own
  * (identifier, usage, builder) description. [[graft.GraftExtensions]]
  * injects every entry; [[register]] installs the same entries on a
  * session built without the extension. The tuples are shared, so
  * registering twice replaces nothing.
  */
object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def fn(name: String, usage: String)(
      builder: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), info(name, usage), builder)

  private def tvf(name: String, usage: String)(
      builder: Seq[Expression] => LogicalPlan): SparkSessionExtensions#TableFunctionDescription =
    (FunctionIdentifier(name), info(name, usage), builder)

  val scalar: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("simhash64", "simhash64(array<string>) - 64-bit SimHash of a token array")(
      es => SimHash64(es.head)),
    fn("minhash32", "minhash32(array<string>) - 32-permutation MinHash signature")(
      es => MinHash32(es.head)),
    fn("minhash_shingle32",
      "minhash_shingle32(array<string>) - MinHash32 over 3-token shingles")(
      es => MinHashShingle32(es.head)),
    fn("vec_dot", "vec_dot(array<float|double>, array<float|double>) - dot product")(
      es => VecDot(es(0), es(1))),
    fn("vec_norm", "vec_norm(array<float|double>) - L2 norm")(
      es => VecNorm(es.head)),
    fn("lsh_bucket64",
      "lsh_bucket64(array<float|double>) - random-hyperplane LSH bucket id")(
      es => LshBucket64(es.head)),
    fn("vec_sign64",
      "vec_sign64(array<float|double>) - 64-bit random-hyperplane sign signature")(
      es => VecSign64(es.head)),
    fn("pq_adc",
      "pq_adc(array<int>, array<double>) - PQ asymmetric-distance lookup-table sum")(
      es => PqAdc(es(0), es(1))),
    fn("fingerprint64",
      "fingerprint64(array<string>) - struct(fp64, win_fp) rolling document fingerprint")(
      es => Fingerprint64(es.head)),
    fn("token_stats",
      "token_stats(array<string>) - struct(n_tok, n_uniq, top_n, n_letters)")(
      es => TokenStats(es.head)),
    fn("ngram_dup_stats",
      "ngram_dup_stats(array<string>) - struct(grams2, dup2, grams5, dup5)")(
      es => NgramDupStats(es.head)),
    fn("gram_mass_stats",
      "gram_mass_stats(array<string>) - struct(topm2, tot2, dupm2, tot5, dupm5) n-gram character masses")(
      es => GramMassStats(es.head)),
    fn("shingle_hashes",
      "shingle_hashes(array<string>) - distinct 3-token shingle hashes")(
      es => ShingleHashes(es.head)),
    fn("ordered_pairs64",
      "ordered_pairs64(array<bigint>) - all ordered (a<b) id pairs")(
      es => OrderedPairs64(es.head)),
    fn("bigrams", "bigrams(array<string>) - adjacent-token bigram strings")(
      es => Bigrams(es.head)),
    fn("sig_pairs",
      "sig_pairs(array<struct<bigint,array<bigint>>>) - pairs with signature-agreement counts")(
      es => SigPairs(es.head)),
    fn("token_entropy",
      "token_entropy(array<string>) - Shannon entropy (nats) of the token distribution")(
      es => TokenEntropy(es.head)),
    fn("hamming_pairs",
      "hamming_pairs(array<struct<bigint,bigint>>) - pairs with Hamming distances")(
      es => HammingPairs(es.head)),
    fn("bucket_of",
      "bucket_of(double, array<double>) - #boundaries <= v by binary search")(
      es => BucketOf(es(0), es(1))),
    // mergeable-sketch aggregate family (q103/q106-q108, SketchMv)
    fn("theta_sketch_agg",
      "theta_sketch_agg(col) - compact theta sketch bytes of the group")(
      es => ThetaSketchAgg(es.head)),
    fn("theta_count", "theta_count(sketch) - estimated distinct count")(
      es => ThetaCount(es.head)),
    fn("theta_intersect_count",
      "theta_intersect_count(a, b) - estimated |A intersect B|")(
      es => ThetaSetOpCount(es(0), es(1), "intersect")),
    fn("theta_anotb_count", "theta_anotb_count(a, b) - estimated |A minus B|")(
      es => ThetaSetOpCount(es(0), es(1), "anotb")),
    fn("theta_union_count", "theta_union_count(a, b) - estimated |A union B|")(
      es => ThetaSetOpCount(es(0), es(1), "union")),
    fn("kll_sketch_agg", "kll_sketch_agg(col) - KLL doubles sketch bytes of the group")(
      es => KllSketchAgg(es.head)),
    fn("kll_merge_agg", "kll_merge_agg(sketch) - merge of KLL partial sketches")(
      es => KllMergeAgg(es.head)),
    fn("kll_quantiles",
      "kll_quantiles(sketch, array<double>) - quantile values at the given ranks")(
      es => KllQuantiles(es(0), es(1))))

  val table: Seq[SparkSessionExtensions#TableFunctionDescription] = Seq(
    tvf("graft_snapshot",
      "graft_snapshot(root[, version]) - a graft snapshot table (head or time travel) as a table-valued function; WHERE clauses data-skip via manifest stats")(
      GraftTvf.snapshotBuilder),
    tvf("graft_snapshot_changes",
      "graft_snapshot_changes(root, fromV, toV) - the snapshot table's CDC changelog over (fromV, toV] with _change/_version tags")(
      GraftTvf.changesBuilder),
    tvf("graft_snapshot_history",
      "graft_snapshot_history(root) - the snapshot table's commit log (DESCRIBE HISTORY) from pure metadata")(
      GraftTvf.historyBuilder),
    tvf("graft_snapshot_partitions",
      "graft_snapshot_partitions(root) - per-partition file/row/byte counts (DESCRIBE PARTITIONS) from pure metadata")(
      GraftTvf.partitionsBuilder),
    tvf("graft_snapshot_files",
      "graft_snapshot_files(root[, version]) - per-file layout (rows/bytes/mtime/spec/tuple/DV counts) from pure metadata")(
      GraftTvf.filesBuilder),
    tvf("graft_snapshot_spj",
      "graft_snapshot_spj(root[, version]) - storage-partitioned read reporting the hidden bucket layout for shuffle-free joins")(
      GraftTvf.spjBuilder),
    tvf("graft_vacuum_dry_run",
      "graft_vacuum_dry_run(root, keepFrom[, graceMs]) - everything a vacuum with these parameters WOULD reap, as (kind, item) rows, deleting nothing")(
      GraftTvf.vacuumDryRunBuilder),
    tvf("graft_snapshot_cursors",
      "graft_snapshot_cursors(root) - registered stream cursors (retention floors) as (cursor, pinned_version) rows")(
      GraftTvf.cursorsBuilder))

  /** Installs every table entry on `spark` — for a session built
    * without [[graft.GraftExtensions]]; idempotent. */
  def register(spark: SparkSession): Unit = {
    val state = spark.sessionState
    scalar.foreach { case (id, i, b) => state.functionRegistry.registerFunction(id, i, b) }
    table.foreach { case (id, i, b) => state.tableFunctionRegistry.registerFunction(id, i, b) }
  }
}

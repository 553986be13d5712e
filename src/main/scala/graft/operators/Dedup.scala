package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Deduplication operators over `documents` / `embeddings`.
  *
  * Scale design: no operator ever materializes the global cross-product.
  * Exact dedup shuffles 32-byte digests, not document bodies; the near-
  * dup family (Jaccard / MinHash-LSH / SimHash / embedding) first maps
  * every document into small blocking keys (shared shingle, LSH band,
  * SimHash prefix, cluster label) so the pairwise work is confined to
  * per-bucket blocks — the classic band-blocking bound on candidate
  * pairs. All token/hash math is codegen'd builtins (xxhash64,
  * higher-order array functions); no UDFs.
  */
object Dedup {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.df(s, d, "documents")

  /** Corpus row count used ONLY to size the hot-shingle block cap — a
    * number that needs to be order-of-magnitude right, not exact.
    * Catalog/CBO row-count statistics are used when present (ANALYZE'd
    * tables); otherwise ONE count() job runs per distinct input plan
    * per JVM and is cached by the plan's semantic hash, so a session
    * running d02+d06+d08+p07 pays the prepass once, not per query.
    * Callers that already know N pass it explicitly. */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private[graft] def approxRowCount(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(n) => n.toLong
      case None =>
        rowCountCache.computeIfAbsent(
          df.queryExecution.analyzed.semanticHash(), _ => df.count()): Long
    }

  private val tokExpr = "regexp_extract_all(lower(text), '[a-z]+', 0)"

  /** Distinct 3-token shingles per doc (docs shorter than 3 tokens drop
    * out — they cannot have a 3-shingle). */
  private[graft] def shingleIndex(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("toks", expr(tokExpr))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))")))
        .as("shingle"))

  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleIndex(docs(s, d))

  /** The inverted index with stop-shingles removed: any shingle in more
    * than max(dfFloor, maxDfShare·N) docs is dropped before candidate
    * generation. This bounds every self-join block at the cap — without
    * it one hot shingle ("the quick brown") makes a quadratic block and
    * the 100 TB posture collapses. The hot set is found with one
    * partial-aggregated pass (map-side combine shrinks it to distinct
    * shingles per partition) and is tiny by construction, so removal is
    * a broadcast anti-join — the raw index is never shuffled. */
  private[graft] def cappedShingleIndex(docsDf: DataFrame,
      maxDfShare: Double = 0.01, dfFloor: Long = 20,
      nDocs: Option[Long] = None): DataFrame = {
    val sh = shingleIndex(docsDf)
    val cap = math.max(dfFloor,
      (nDocs.getOrElse(approxRowCount(docsDf)) * maxDfShare).toLong)
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > cap)
      .select("shingle")
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** d01 — exact dedup: group by SHA-256 of the content so the shuffle
    * key is a fixed 64-char digest, never the document body. */
  private def d01(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  private val d01Oracle: String =
    """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin

  /** d02 — n-gram Jaccard near-dup: candidate pairs via the inverted
    * shingle index (docs sharing ≥1 shingle), exact Jaccard from
    * intersection/union counts, threshold 0.3. Stop-shingle buckets
    * (doc-frequency above the cap, the same bound cappedShingleIndex
    * enforces) are dropped before pair expansion, so no block is ever
    * quadratic in a hot shingle; Jaccard stays exact whenever no hot
    * shingle exists and is a documented slight underestimate (of TRUE
    * set Jaccard) for pairs whose only overlap is stop-shingles. The
    * DuckDB oracle mirrors the cap (same GREATEST(20, 1% of docs)
    * bucket bound), so engine agreement holds even on corpora that DO
    * reach it — the r7 ADVICE latent divergence, closed in r8. */
  private def d02(s: SparkSession, d: String): DataFrame = jaccardPairs(docs(s, d))

  /** Candidate pairs with intersection + both shingle-set sizes — the
    * shared front end of d02 (Jaccard) and d12 (containment). One
    * narrow pass hashes each doc's distinct 3-shingles to longs
    * (native shingle_hashes — no shingle strings are ever built): the
    * inverted index shuffles 8-byte hashes instead of shingle strings,
    * per-doc sizes are just size(shs) — a 1-row-per-doc dim that
    * BROADCASTS to both denominator joins (round-2 shuffled a separate
    * aggregate for them) — and per-bucket pair expansion is the native
    * ordered_pairs64 tight loop, not an interpreted HOF lambda per
    * emitted pair (~1.3M at sf0.1). */
  private[graft] def sharedShinglePairs(docsDf: DataFrame,
      nDocs: Option[Long] = None): DataFrame = {
    val nd = nDocs.getOrElse(approxRowCount(docsDf))
    val cap = math.max(20L, (nd * 0.01).toLong)
    val hashed = docsDf
      .withColumn("shs", expr(s"shingle_hashes($tokExpr)"))
      .where(size(col("shs")) >= 1) // <3-token docs have no 3-shingle
      .select(col("doc_id"), col("shs"))
    val sizes = hashed.select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
    val pairs = hashed
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .groupBy("sh")
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) <= cap && size(col("ids")) >= 2)
      .select(explode(expr("ordered_pairs64(ids)")).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    // Both denominator joins use the IDENTICAL sizes subplan (the
    // rename happens above the join, not inside the build side), so
    // ReuseExchange materializes it once — a per-branch rename would
    // re-run the tokenize+hash scan per join. The broadcast hint is
    // GATED on corpus size: sizes is one row PER DOCUMENT, and an
    // unconditional broadcast(sizes) is a multi-GB driver/executor
    // broadcast at 100 TB. Under the gate (16-byte rows × 5M ≈ 80 MB
    // raw, well inside a bench driver) the hint wins the exchange
    // reuse; above it the hint is dropped and the join shuffles — AQE
    // still promotes it to broadcast if the RUNTIME size turns out
    // small, so the gate only ever removes a footgun, never a win.
    def dim(): DataFrame = if (nd <= 5_000_000L) broadcast(sizes) else sizes
    pairs
      .join(dim(), col("a_id") === sizes("doc_id"))
      .drop("doc_id").withColumnRenamed("n_sh", "na")
      .join(dim(), col("b_id") === sizes("doc_id"))
      .drop("doc_id").withColumnRenamed("n_sh", "nb")
  }

  private val pairsCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Long), DataFrame]()

  /** One live corpus signature per session: when a NEW signature is
    * inserted into either content-keyed cache, the superseded entries'
    * localCheckpoint blocks are freed and the entries dropped — a long
    * session over an evolving corpus would otherwise pin every
    * historical snapshot's blocks in executor storage for the
    * session's lifetime (the exact leak freeCheckpoint exists to
    * prevent; round-5's p07 regression was this pattern). */
  private val liveSig =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Long]()

  private def retireStaleEntries(s: SparkSession, sig: Long): Unit = {
    // boxed Long: a Scala-Long-valued map would silently unbox put's
    // null (no previous entry) to 0L and make the null check vacuous
    val prev = liveSig.put(s, java.lang.Long.valueOf(sig))
    if (prev != null && prev.longValue != sig) {
      Seq(pairsCache, labelCache).foreach { cache =>
        Option(cache.remove((s, prev.longValue))).foreach(freeCheckpoint)
      }
    }
  }

  /** The candidate-pair table, materialized once per corpus content
    * signature: d02 (Jaccard), d12 (containment) and the dup-graph
    * label build all score the SAME (a_id, b_id, inter, na, nb) rows —
    * production near-dup pipelines store exactly this table between
    * stages. Same staleness contract as dupLabelIndex (content
    * signature, not path). Callers that pass an explicit nDocs bypass
    * the cache (they are tuning the cap, not reading the corpus
    * snapshot). */
  private def cachedPairs(docsDf: DataFrame): DataFrame = {
    val key = (docsDf.sparkSession, docsSignature(docsDf))
    retireStaleEntries(key._1, key._2)
    pairsCache.computeIfAbsent(key,
      _ => sharedShinglePairs(docsDf).localCheckpoint())
  }

  private[graft] def jaccardPairs(docsDf: DataFrame,
      nDocs: Option[Long] = None): DataFrame = {
    val pairs = if (nDocs.isDefined) sharedShinglePairs(docsDf, nDocs)
      else cachedPairs(docsDf)
    pairs
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= 0.3)
      .select("a_id", "b_id", "inter", "na", "nb", "jac")
      .orderBy("a_id", "b_id")
  }

  /** Shared DuckDB CTE block ending in `jp` — the capped shingle-
    * Jaccard pair table (a_id < b_id, jac ≥ 0.3). d02 selects it
    * directly; d19 classifies its batch-touching pairs. */
  private[graft] val jacPairsCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |cap AS (SELECT GREATEST(20, CAST(FLOOR(COUNT(*) * 0.01) AS BIGINT)) AS c
      |        FROM documents),
      |bk AS (SELECT shingle FROM sh GROUP BY shingle
      |       HAVING COUNT(*) <= (SELECT c FROM cap)),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  JOIN bk ON a.shingle = bk.shingle
      |  GROUP BY a.doc_id, b.doc_id),
      |jp AS (
      |  SELECT a_id, b_id, inter, sa.n_sh AS na, sb.n_sh AS nb,
      |    inter / (sa.n_sh + sb.n_sh - inter) AS jac
      |  FROM pr
      |  JOIN sz sa ON a_id = sa.doc_id
      |  JOIN sz sb ON b_id = sb.doc_id
      |  WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.3)""".stripMargin

  private val d02Oracle: String = jacPairsCtes + "\n" +
    """SELECT a_id, b_id, inter, na, nb, jac
      |FROM jp ORDER BY a_id, b_id""".stripMargin

  /** d03 — MinHash + LSH banding (rows-only: xxhash64 is Spark-specific).
    * 32-permutation signature via min over salted shingle hashes; 8 bands
    * × 4 rows; candidates = pairs sharing a band bucket; output the
    * signature-estimated Jaccard. Banding bounds candidate pairs by
    * bucket occupancy — the scale path for near-dup at 100 TB. */
  /** d03 — MinHash/LSH near-dup candidates. ORACLE-CHECKED since r14
    * via the export pattern: the 32-permutation signatures and band
    * hashes are engine constants (they ARE the export), but the whole
    * candidate machine downstream is not — DuckDB replays the band-
    * bucket pair expansion, the per-pair signature-agreement count and
    * the /32 estimate from the exported band rows, so the blocking and
    * estimation arithmetic hash-check end-to-end. */
  private def d03(s: SparkSession, d: String): DataFrame = {
    val out = Similarity.exportPath("d03bands", d)
    bandRows(docs(s, d)).write.mode("overwrite").parquet(out)
    pairsFromBandRows(docs(s, d).sparkSession.read.parquet(out))
      .orderBy("a_id", "b_id")
  }

  private def d03Oracle: String =
    s"""WITH br AS (
      |  SELECT doc_id, sig, band, bh
      |  FROM read_parquet('${Similarity.oracleExportPath("d03bands")}/*.parquet')),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS sa, b.sig AS sb
      |  FROM br a JOIN br b
      |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |ne AS (
      |  SELECT DISTINCT a_id, b_id,
      |    CAST(len(list_filter(list_zip(sa, sb), z -> z[1] = z[2])) AS INTEGER) AS n_eq
      |  FROM p)
      |SELECT a_id, b_id, n_eq, n_eq / 32.0 AS est_jac
      |FROM ne ORDER BY a_id, b_id""".stripMargin

  /** One (doc_id, sig, band, bh) row per band per doc — the
    * PERSISTABLE unit of the minhash index. Factored out of
    * bandEstimates so the batch query and d18's incremental ingest
    * derive candidates from byte-identical band keys: an index row
    * written yesterday collides with a delta row computed today iff
    * the same full recompute would have paired them. */
  private[graft] def bandRows(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("toks", expr(tokExpr))
      .where(size(col("toks")) >= 3)
      .withColumn("sig", expr("minhash_shingle32(toks)"))
      .select(col("doc_id"), col("sig"),
        explode(expr(
          "transform(sequence(0, 7), j -> named_struct('band', j, 'bh', xxhash64(slice(sig, j * 4 + 1, 4))))"))
          .as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Band-bucket candidate pairs + signature agreement from band rows.
    * One aggregation per band bucket instead of a two-sided self-join:
    * collect the bucket's (doc_id, sig) postings and expand ordered
    * pairs in place — the index is shuffled once, and bucket fan-out
    * is whatever the banding bounds it to. Pair expansion + signature
    * agreement is the native sig_pairs tight loop, not an interpreted
    * lambda per pair per signature element. */
  private def pairsFromBandRows(br: DataFrame): DataFrame =
    br.groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("xs"))
      .where(size(col("xs")) >= 2)
      .select(explode(expr("sig_pairs(xs)")).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"), col("p.n_eq").as("n_eq"))
      .distinct()
      .withColumn("est_jac", col("n_eq") / 32.0)

  /** d03's candidate generation + signature-estimated Jaccard, factored
    * on a docs DataFrame so d09 can calibrate the estimates. */
  private[graft] def bandEstimates(docsDf: DataFrame): DataFrame =
    pairsFromBandRows(bandRows(docsDf))

  /** d09 — sketch-calibration (rows-only): the signature-estimated
    * Jaccard next to the EXACT value for every band-candidate pair —
    * the query a pipeline runs before trusting a minhash threshold at
    * 100 TB (pick τ_sig so est ≥ τ_sig captures exact ≥ τ). Candidate
    * pairs are banding-bounded and tiny, so they broadcast; the exact
    * side re-reads only the shingle-hash sets of paired docs (two
    * broadcast joins, no second inverted index). DedupSpec bounds the
    * mean |est − exact| by the 32-permutation binomial error. */
  /** ORACLE-CHECKED since r14: the hash-derived ESTIMATES export
    * (pass-through, like s05's hamming); DuckDB recomputes the exact
    * Jaccard from raw shingle sets (injective 64-bit shingle hashing —
    * same cardinalities) and the |est − exact| calibration column. */
  private def d09(s: SparkSession, d: String): DataFrame = {
    val est0 = bandEstimates(docs(s, d)).select("a_id", "b_id", "est_jac")
    val out = Similarity.exportPath("d09est", d)
    est0.write.mode("overwrite").parquet(out)
    val est = s.read.parquet(out)
    val hashed = docs(s, d)
      .withColumn("shs", expr(s"shingle_hashes($tokExpr)"))
      .where(size(col("shs")) >= 1)
      .select(col("doc_id"), col("shs"))
    hashed
      .join(broadcast(est), col("doc_id") === col("a_id"))
      .withColumnRenamed("shs", "a_shs").drop("doc_id")
      .join(hashed, col("doc_id") === col("b_id"))
      .withColumnRenamed("shs", "b_shs").drop("doc_id")
      .withColumn("inter", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jac",
        col("inter") / (size(col("a_shs")) + size(col("b_shs")) - col("inter")))
      .select(
        col("a_id"), col("b_id"), col("est_jac"),
        round(col("jac"), 6).as("jac"),
        round(abs(col("est_jac") - col("jac")), 6).as("abs_err"))
      .orderBy("a_id", "b_id")
  }

  private def d09Oracle: String =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |est AS (
      |  SELECT a_id, b_id, est_jac
      |  FROM read_parquet('${Similarity.oracleExportPath("d09est")}/*.parquet')),
      |iv AS (
      |  SELECT e.a_id, e.b_id, COUNT(*) AS i
      |  FROM est e
      |  JOIN sh a ON a.doc_id = e.a_id
      |  JOIN sh b ON b.doc_id = e.b_id AND a.shingle = b.shingle
      |  GROUP BY e.a_id, e.b_id),
      |x AS (
      |  SELECT e.a_id, e.b_id, e.est_jac,
      |    COALESCE(i.i, 0) / (sa.n_sh + sb.n_sh - COALESCE(i.i, 0)) AS jac
      |  FROM est e
      |  JOIN sz sa ON sa.doc_id = e.a_id
      |  JOIN sz sb ON sb.doc_id = e.b_id
      |  LEFT JOIN iv i ON i.a_id = e.a_id AND i.b_id = e.b_id)
      |SELECT a_id, b_id, est_jac, round(jac, 6) AS jac,
      |  round(abs(est_jac - jac), 6) AS abs_err
      |FROM x ORDER BY a_id, b_id""".stripMargin

  /** d04 — SimHash near-dup (rows-only): 64-bit signature from signed
    * bit votes of token hashes; blocking on the four 16-bit quadrants
    * (any pair within Hamming ≤ 3 shares at least one quadrant by
    * pigeonhole... for ≤3 differing bits across 4 blocks); verify with
    * bit_count(xor) ≤ 3. */
  /** The quadrant-blocking candidate join on (doc_id, simhash) rows —
    * factored out so the pigeonhole-completeness property (any pair
    * within Hamming ≤ 3 shares at least one of the four 16-bit
    * quadrants) is testable against adversarial synthetic signatures,
    * not just whatever the corpus happens to contain. */
  private[graft] def simhashPairs(sig: DataFrame): DataFrame = {
    sig.select(
        col("doc_id"), col("simhash"),
        explode(expr(
          "transform(sequence(0, 3), q -> named_struct('q', q, 'bits', shiftright(simhash, q * 16) & 65535))"))
          .as("blk"))
      // same single-aggregation shape as d02/d03: one shuffle of the
      // blocked index, pairs expanded per quadrant bucket by the native
      // hamming_pairs tight loop
      .groupBy(col("blk.q"), col("blk.bits"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("xs"))
      .where(size(col("xs")) >= 2)
      .select(explode(expr("hamming_pairs(xs)")).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"), col("p.hamming").as("hamming"))
      .distinct()
      .where(col("hamming") <= 3)
      .orderBy("a_id", "b_id")
  }

  /** ORACLE-CHECKED since r14 via the export pattern: the 64-bit
    * signature is the engine constant (it IS the export); DuckDB
    * replays the quadrant blocking, the xor/bit_count Hamming distance
    * and the ≤3 cut from the exported signatures. */
  private def d04(s: SparkSession, d: String): DataFrame = {
    val sigs = docs(s, d)
      .withColumn("toks", expr(tokExpr))
      .where(size(col("toks")) >= 1)
      .withColumn("simhash", expr("simhash64(toks)"))
      .select("doc_id", "simhash")
    val out = Similarity.exportPath("d04sigs", d)
    sigs.write.mode("overwrite").parquet(out)
    simhashPairs(s.read.parquet(out))
  }

  private def d04Oracle: String =
    s"""WITH sg AS (
      |  SELECT doc_id, simhash
      |  FROM read_parquet('${Similarity.oracleExportPath("d04sigs")}/*.parquet')),
      |blk AS (
      |  SELECT doc_id, simhash, q, (simhash >> (q * 16)) & 65535 AS bits
      |  FROM sg, (SELECT unnest([0, 1, 2, 3]) AS q)),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |  FROM blk a JOIN blk b
      |  ON a.q = b.q AND a.bits = b.bits AND a.doc_id < b.doc_id)
      |SELECT DISTINCT a_id, b_id, hamming
      |FROM p WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin

  /** d05 — embedding-cosine near-dup: blocked by cluster label (metadata
    * blocking), pairwise cosine in double precision via zip_with +
    * aggregate fold, threshold 0.3 (this synthetic set has no tight
    * dup clusters; the operator semantics are threshold-parametric). */
  private def d05(s: SparkSession, d: String): DataFrame = {
    val n = Tables.df(s, d, "embeddings")
      .withColumn("nrm", expr("vec_norm(embedding)"))
      .select(col("vec_id"), col("label"), col("embedding").as("e"), col("nrm"))
    n.as("a")
      .join(n.as("b"), col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", expr("vec_dot(a.e, b.e)"))
      .withColumn("cos", col("dot") / (col("a.nrm") * col("b.nrm")))
      .where(col("cos") >= 0.3)
      .select(
        col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"), round(col("cos"), 6).as("cos_r"))
      .orderBy("a_id", "b_id")
  }

  private val d05Oracle: String =
    """WITH n AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
      |  round(list_reduce(list_transform(list_zip(a.e, b.e), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, x) -> a + x)
      |    / (a.nrm * b.nrm), 6) AS cos_r
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(list_zip(a.e, b.e), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, x) -> a + x)
      |    / (a.nrm * b.nrm) >= 0.3
      |ORDER BY a_id, b_id""".stripMargin

  /** The RDD a localCheckpoint pinned in the BlockManager, so a
    * superseded round can be freed the moment the next round's
    * checkpoint materializes. Without this every CC round (and every
    * CC-running query in a long session) leaks a pinned RDD — trivial
    * at test SFs, executor-memory fatal when the labels span billions
    * of edge nodes at 100 TB. */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Free a DataFrame previously materialized by localCheckpoint. Only
    * call once nothing will read it again — the checkpoint replaced
    * its lineage, so the data is unrecoverable after this. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Connected components by iterative hash-min label propagation: every
    * node starts labeled with its own id; each round every node takes
    * the min label over itself and its neighbors, then follows one hop
    * through the label graph (pointer jumping / shortcutting: lbl ←
    * label-of-lbl). The jump halves the unresolved distance to the
    * component minimum each round, so convergence is O(log diameter)
    * rounds — maxIters = 20 covers any realistic component, and the
    * loop FAILS LOUDLY rather than return silently-wrong labels if it
    * somehow doesn't converge. The driver loop is iteration CONTROL
    * only — no edge or label data ever reaches the driver.
    *
    * Scale shape (round-4 rework): only edge-touched nodes enter the
    * loop — at 100 TB the near-dup edge set is orders of magnitude
    * smaller than the corpus, and the singleton majority (which can
    * never change label) rejoins as its own component once, after
    * convergence. The previous label rides through the aggregation as
    * `old`, so ONE action per round both materializes the new labels
    * and answers the convergence test — the round-3 shape paid a second
    * join+action per round for the check. Labels are min-monotone, so
    * `lbl < old` is exactly "changed". */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    // r18 (opt, wave 3 — guide §1.2 step 1): Pregel superstep shape
    // like [[pageRank]]/[[sCore]]/[[kCore]] — one hash partitioner
    // owns the rounds (the label vector and the v-keyed edge list stay
    // co-partitioned, so the propagate join is narrow) and each round
    // is ONE action that both materializes the next labels and counts
    // the changed rows; the old DataFrame loop paid a localCheckpoint
    // job + an isEmpty action + fresh Catalyst plans per round. The
    // round arithmetic is identical: every node takes the min label
    // over itself and its neighbors, then follows one hop through the
    // label graph (pointer jumping — lbl ← label-of-lbl), a monotone
    // integer fixpoint, so labels are bit-identical round for round.
    val nParts = math.max(2, spark.sparkContext.defaultParallelism)
    val part = new org.apache.spark.HashPartitioner(nParts)
    val fwd = pairs.toDF("u", "v").rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    // keyed by the MESSAGE SOURCE'S neighbor: (v, u) receives v's
    // label and ships it to u — both directions present.
    val edgesByV = fwd.flatMap { case (u, v) => Iterator((v, u), (u, v)) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edgesByV.mapValues(_ => ()).reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map { case (id, _) => (id, id) },
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]](edgesByV, labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val incoming = edgesByV.join(labels) // narrow: both on `part`
        .map { case (_, (u, lv)) => (u, lv) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // shuffle 1
      val stepped = labels.leftOuterJoin(incoming).mapValues { // narrow
        case (l, in) => (math.min(l, in.getOrElse(l)), l)
      }
      // pointer jump: a label is itself an edge-node id, so follow it
      // one hop (the getOrElse only fires mid-round while labels are
      // in flight)
      val jumped = stepped
        .map { case (id, (m, old)) => (m, (id, old)) } // re-key: shuffle 2
        .leftOuterJoin(stepped.mapValues(_._1))
        .map { case (m, ((id, old), j)) =>
          (id, (math.min(m, j.getOrElse(m)), old))
        }
        .partitionBy(part) // back onto the loop partitioner: shuffle 3
        .persist(StorageLevel.MEMORY_AND_DISK)
      persisted += jumped
      // ONE action: materializes the round AND reads convergence
      // (labels are min-monotone, so lbl < old is exactly "changed").
      converged = jumped.aggregate(0L)(
        (a, kv) => a + (if (kv._2._1 < kv._2._2) 1L else 0L), _ + _) == 0L
      labels = jumped.mapValues(_._1)
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds")
    val fin = nodes.toDF("id").rdd.map(r => (r.getLong(0), ()))
      .leftOuterJoin(labels)
      .mapValues { case (_, l) => l }
      .localCheckpoint()
    fin.foreach(_ => ())
    persisted.foreach(_.unpersist(blocking = false))
    spark.createDataFrame(
      fin.map { case (id, l) =>
        org.apache.spark.sql.Row(id, l.getOrElse(id))
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lbl",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Content signature of a docs corpus (count ⊕ row hashes —
    * order-independent and ANSI-overflow-safe), the staleness key for
    * the dup-graph label index; same rule as the ANN indexes'
    * corpusSignature. One narrow scan. */
  private[graft] def docsSignature(docsDf: DataFrame): Long = {
    val r = docsDf
      .agg(count(lit(1)).as("n"), bit_xor(expr("xxhash64(doc_id, text)")).as("x"))
      .head()
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
      r.getAs[Long]("x"), r.getAs[Long]("n"))
  }

  private val labelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Long), DataFrame]()

  /** The dup-graph label index: CC labels over the d02 Jaccard graph,
    * built ONCE per (session, corpus content signature) and shared by
    * every consumer — d06, d08, d11 and p07 all read the same
    * materialized (id, lbl) table. This is the dedup twin of the ANN
    * build-once/query-many index contract: a dedup pipeline runs many
    * queries over one corpus snapshot, and re-deriving the candidate
    * pipeline + CC per query was the whole top of the bench. Keyed by
    * content signature, NOT path, so stale data never serves after the
    * corpus changes. The cached table is localCheckpointed (a few rows
    * per doc — the 100 TB posture is a stored label table, which this
    * models); the builder's internal round checkpoint is freed
    * eagerly. */
  private[graft] def dupLabelIndex(docsDf: DataFrame): DataFrame = {
    val key = (docsDf.sparkSession, docsSignature(docsDf))
    retireStaleEntries(key._1, key._2)
    labelCache.computeIfAbsent(key, _ => {
      val cc = connectedComponents(
        docsDf.select(col("doc_id")),
        jaccardPairs(docsDf).select(col("a_id"), col("b_id")))
      val out = cc.localCheckpoint()
      freeCheckpoint(cc)
      out
    })
  }

  /** d06 — dedup-cluster assignment: connected components over the d02
    * Jaccard candidate graph. Near-dup pairs are not transitive — A~B
    * and B~C does not imply A~C — so keep-one-per-pair dedup either
    * over- or under-deletes; the standard fix (what any production
    * near-dedup does before choosing keepers) is to cluster the pair
    * graph and keep one representative per component. Output: every
    * doc with its component id (min doc_id in the component) and the
    * component size; singletons are their own representative. */
  private def d06(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabelIndex(docs(s, d))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The shared oracle prefix for every query built on the dup graph
    * (d06/d08/p07): Jaccard pairs + transitive closure (recursive CTE),
    * ending at `lab(doc_id, cluster_id)` — reachable-min == hash-min's
    * converged label. */
  private[graft] val dupGraphCtes: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT a_id, b_id FROM pr
      |  JOIN sz sa ON a_id = sa.doc_id
      |  JOIN sz sb ON b_id = sb.doc_id
      |  WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.3),
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(u, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |lab AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u)""".stripMargin

  /** The t02 quality formula (NULL-guarded to −1 exactly as the Spark
    * side) as an appendable CTE. */
  private[graft] val qualityCte: String =
    """q AS (
      |  SELECT doc_id, COALESCE(
      |    (len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
      |       x -> list_contains([%STOPS%], x)))
      |      / len(regexp_extract_all(lower(text), '[a-z]+'))) * 0.5
      |    + (len(regexp_extract_all(text, '[.,;:!?]')) / length(text)) * 0.2
      |    + (len(regexp_extract_all(lower(text), '[a-z]+')) / length(text)) * 0.3,
      |    -1.0) AS quality_score
      |  FROM documents)""".stripMargin
      .replace("%STOPS%", graft.operators.TextAnalysis.allStopsSql)

  private val d06Oracle: String = dupGraphCtes + "\n" +
    """SELECT l.doc_id, l.cluster_id, c.cluster_size
      |FROM lab l JOIN (
      |  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id) c
      |  USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  /** d07 — embedding near-dup, LSH-blocked (rows-only): the capped-block
    * scale variant of d05 (SURVEY §9.2). Blocking key is (label,
    * lsh_bucket64 >> 4) — metadata label refined by a 4-plane sign
    * bucket — so the largest pairwise block shrinks ~16× vs d05's
    * per-label blocks while same-bucket near-dups are preserved
    * (sign-agreement probability rises with cosine). Same
    * single-aggregation pair expansion as d02/d03; lossy by design
    * (cross-bucket pairs are missed) — PipelineSpec bounds block size
    * and asserts found pairs ⊆ d05's exact pairs. */
  /** ORACLE-CHECKED since r14 via the export pattern: the random-
    * hyperplane bucket is the engine constant (exported per vector);
    * DuckDB replays the (label, block) candidate join, the exact
    * double cosine from the raw embeddings, the 0.3 cut and the
    * 6-digit round. */
  private def d07(s: SparkSession, d: String): DataFrame = {
    val blocks = Tables.df(s, d, "embeddings")
      .withColumn("blk", expr("CAST(lsh_bucket64(embedding) AS INT) >> 4"))
      .select("vec_id", "blk")
    blocks.write.mode("overwrite")
      .parquet(Similarity.exportPath("d07blocks", d))
    embedLshPairs(Tables.df(s, d, "embeddings"))
  }

  private def d07Oracle: String =
    s"""WITH blk AS (
      |  SELECT vec_id, blk
      |  FROM read_parquet('${Similarity.oracleExportPath("d07blocks")}/*.parquet')),
      |n AS (
      |  SELECT e.vec_id, e.label, b.blk, e.embedding AS e,
      |    sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings e JOIN blk b ON e.vec_id = b.vec_id),
      |p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
      |    list_reduce(list_transform(list_zip(a.e, b.e), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b
      |  ON a.label = b.label AND a.blk = b.blk AND a.vec_id < b.vec_id)
      |SELECT a_id, b_id, label, round(cos, 6) AS cos_r
      |FROM p WHERE cos >= 0.3 ORDER BY a_id, b_id""".stripMargin

  /** d07's blocked pairing on an `(vec_id, label, embedding)` frame —
    * factored so the blocking contract (same-label identical vectors
    * MUST pair, cross-label identicals and sub-threshold cosines must
    * NOT) is golden-pinned on constructed vectors in PipelineSpec, the
    * d14/m07 arms-length pattern; the driver corpus stays rows-only. */
  private[graft] def embedLshPairs(embDf: DataFrame): DataFrame = {
    val n = embDf
      .withColumn("nrm", expr("vec_norm(embedding)"))
      .withColumn("blk", expr("CAST(lsh_bucket64(embedding) AS INT) >> 4"))
      .select(col("vec_id"), col("label"), col("blk"), col("embedding").as("e"), col("nrm"))
    n.as("a")
      .join(n.as("b"),
        col("a.label") === col("b.label") && col("a.blk") === col("b.blk") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", expr("vec_dot(a.e, b.e)") / (col("a.nrm") * col("b.nrm")))
      .where(col("cos") >= 0.3)
      .select(
        col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"), round(col("cos"), 6).as("cos_r"))
      .orderBy("a_id", "b_id")
  }

  /** d08 — keep-best representative per dup cluster: the step after d06
    * that an actual dedup pipeline ships — for every connected component
    * of the near-dup graph, keep the highest-quality member (t02's
    * quality score, min doc_id on ties) and report what was dropped.
    * The champion pick is a partial-aggregating max_by over a
    * lexicographic (quality, −doc_id) struct — no per-cluster window
    * sort, so clusters of any size reduce map-side first. */
  private def d08(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    val labels = dupLabelIndex(ds).toDF("doc_id", "cluster_id")
    labels
      .join(graft.operators.TextAnalysis.qualityScore(ds), "doc_id")
      .groupBy("cluster_id")
      .agg(
        max_by(col("doc_id"), struct(col("quality_score"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("cluster_size"),
        round(max(col("quality_score")), 6).as("best_q"))
      .orderBy("cluster_id")
  }

  /** Oracle: the d06 transitive-closure fixpoint + the t02 quality
    * formula (NULL-guarded to −1 exactly as the Spark side), champion
    * via ORDER BY inside first(). */
  private val d08Oracle: String = dupGraphCtes + ",\n" + qualityCte + "\n" +
    """SELECT l.cluster_id,
      |  first(l.doc_id ORDER BY q.quality_score DESC, l.doc_id ASC) AS keep_id,
      |  COUNT(*) AS cluster_size,
      |  round(MAX(q.quality_score), 6) AS best_q
      |FROM lab l JOIN q USING (doc_id)
      |GROUP BY l.cluster_id ORDER BY l.cluster_id""".stripMargin

  /** d10's blocking + verify, factored on a docs DataFrame so the spec
    * can prove blocking COMPLETENESS on constructed keys (substitution /
    * insertion / deletion / identical), not just corpus behavior.
    *
    * Symmetric-delete (SymSpell) blocking: each doc's canonical 24-char
    * key expands to {key} ∪ {key minus one char} — ≤ 25 variants. Any
    * two keys within Levenshtein ≤ 1 share a variant: equal keys share
    * the identity, a substitution at position i shares the delete-i
    * variant, and an insertion/deletion pair shares the shorter key
    * itself. So the candidate join is exact-equality on an 8-byte
    * variant hash — no quadratic self-join, no approximate recall —
    * and the final levenshtein() check only confirms (it filters hash
    * collisions and delete-variant coincidences at distance 2). Blocks
    * above the stop-key cap (a degenerate corpus where thousands of
    * docs share a variant) are dropped — the same documented
    * slight-undercount bound d02 puts on hot shingles; no block is
    * ever quadratic in a hot key. */
  private[graft] def editDistPairs(docsDf: DataFrame, blockCap: Int = 1000): DataFrame = {
    val keyed = docsDf
      .withColumn("c", regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
      .where(length(col("c")) >= 8)
      .select(col("doc_id"), substring(col("c"), 1, 24).as("k"))
    val variants = keyed.select(
      col("doc_id"), col("k"),
      explode(expr(
        """array_distinct(concat(array(k),
          |  transform(sequence(1, length(k)),
          |    i -> concat(substring(k, 1, i - 1), substring(k, i + 1, length(k) - i)))))""".stripMargin))
        .as("v"))
      .select(col("doc_id"), col("k"), xxhash64(col("v")).as("vh"))
    variants.groupBy("vh")
      .agg(collect_list(struct(col("doc_id"), col("k"))).as("xs"))
      .where(size(col("xs")).between(2, blockCap))
      .select(explode(expr(
        """filter(flatten(transform(xs, a -> transform(xs,
          |  b -> struct(a.doc_id AS a_id, a.k AS a_k, b.doc_id AS b_id, b.k AS b_k)))),
          |  p -> p.a_id < p.b_id)""".stripMargin)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.a_k").as("a_k"), col("p.b_k").as("b_k"))
      .distinct()
      .withColumn("dist", levenshtein(col("a_k"), col("b_k")))
      .where(col("dist") <= 1)
      .select("a_id", "b_id", "dist")
      .orderBy("a_id", "b_id")
  }

  /** d10 — edit-distance fuzzy dedup: pairs of docs whose canonical
    * 24-char prefixes are within Levenshtein ≤ 1 (typo-level clones the
    * shingle family can't see — one character flip changes 3 shingles
    * but is still distance 1). Oracle is the arms-length quadratic
    * levenshtein self-join; this plan never builds it. */
  private def d10(s: SparkSession, d: String): DataFrame =
    editDistPairs(docs(s, d))

  private val d10Oracle: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS k
      |  FROM documents
      |  WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 8)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
      |FROM k a JOIN k b ON a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= 1
      |ORDER BY a_id, b_id""".stripMargin

  /** d11 — dup-cluster size histogram: how many components of each
    * size the near-dup graph contains — the ops-dashboard number a
    * dedup pipeline alarms on (a sudden giant component means a
    * boilerplate flood or a broken threshold; a collapse to singletons
    * means the candidate generation broke). Reuses d06's labels; two
    * more partial+final aggregations on the label table, output
    * bounded by |distinct sizes|. */
  private def d11(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabelIndex(docs(s, d))
    labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  private val d11Oracle: String = dupGraphCtes + "\n" +
    """SELECT cluster_size, COUNT(*) AS n_clusters,
      |  cluster_size * COUNT(*) AS n_docs
      |FROM (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
      |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** d12 — containment near-dup (overlap coefficient ≥ 0.8): catches
    * the doc-inside-doc cases Jaccard structurally misses — a page
    * quoted whole inside a 10× larger page has Jaccard ≈ 0.1 but
    * containment ≈ 1.0. Same capped-inverted-index front end as d02
    * (sharedShinglePairs), different score: inter / min(na, nb). The
    * emitted pair is directed — contained_id is the smaller shingle
    * set, container_id the larger (ties keep the id order), which is
    * what a keep-the-superset dedup policy consumes downstream. */
  private def d12(s: SparkSession, d: String): DataFrame =
    containmentPairs(docs(s, d))

  private[graft] def containmentPairs(docsDf: DataFrame,
      nDocs: Option[Long] = None): DataFrame =
    (if (nDocs.isDefined) sharedShinglePairs(docsDf, nDocs) else cachedPairs(docsDf))
      .withColumn("cont", col("inter") / least(col("na"), col("nb")))
      .where(col("cont") >= 0.8)
      .select(
        when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id")).as("contained_id"),
        when(col("na") <= col("nb"), col("b_id")).otherwise(col("a_id")).as("container_id"),
        col("inter"),
        least(col("na"), col("nb")).as("n_small"),
        greatest(col("na"), col("nb")).as("n_big"),
        col("cont"))
      .orderBy("contained_id", "container_id")

  private val d12Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT
      |  CASE WHEN sa.n_sh <= sb.n_sh THEN a_id ELSE b_id END AS contained_id,
      |  CASE WHEN sa.n_sh <= sb.n_sh THEN b_id ELSE a_id END AS container_id,
      |  inter,
      |  LEAST(sa.n_sh, sb.n_sh) AS n_small,
      |  GREATEST(sa.n_sh, sb.n_sh) AS n_big,
      |  inter / LEAST(sa.n_sh, sb.n_sh) AS cont
      |FROM pr
      |JOIN sz sa ON a_id = sa.doc_id
      |JOIN sz sb ON b_id = sb.doc_id
      |WHERE inter / LEAST(sa.n_sh, sb.n_sh) >= 0.8
      |ORDER BY contained_id, container_id""".stripMargin

  /** d13 — cross-table record linkage (entity resolution): match the
    * doc corpus against an external "registry" whose keys carry typo
    * noise, at Levenshtein ≤ 1 — the two-dataset twin of d10's self-
    * dedup. The registry is derived deterministically here (every
    * third record has one key character deleted at a doc_id-dependent
    * position) so the oracle can rebuild it; in production it is a
    * second table. Plan: union both sides with a side tag, expand
    * symmetric-delete (≤1) variants, ONE shuffle on the variant hash,
    * keep only cross-side pairs per bucket, verify with real
    * levenshtein — the quadratic cross join (which the oracle runs)
    * never exists. */
  private def d13(s: SparkSession, d: String): DataFrame = {
    val keyed = docs(s, d)
      .withColumn("c", regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
      .where(length(col("c")) >= 8)
      .select(col("doc_id"), substring(col("c"), 1, 24).as("k"))
    val registry = keyed.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0, expr(
        "concat(substring(k, 1, CAST(doc_id % 8 AS INT)), " +
          "substring(k, CAST(doc_id % 8 AS INT) + 2, length(k)))"))
        .otherwise(col("k")).as("k"))
    val tagged = keyed.withColumn("side", lit(0))
      .unionByName(registry.withColumn("side", lit(1)))
    val variants = tagged.select(
      col("side"), col("doc_id"), col("k"),
      explode(expr(
        """array_distinct(concat(array(k),
          |  transform(sequence(1, length(k)),
          |    i -> concat(substring(k, 1, i - 1), substring(k, i + 1, length(k) - i)))))""".stripMargin))
        .as("v"))
      .select(col("side"), col("doc_id"), col("k"), xxhash64(col("v")).as("vh"))
    variants.groupBy("vh")
      .agg(collect_list(struct(col("side"), col("doc_id"), col("k"))).as("xs"))
      .where(size(col("xs")).between(2, 1000))
      .select(explode(expr(
        """filter(flatten(transform(xs, a -> transform(xs,
          |  b -> struct(a.side AS a_side, a.doc_id AS a_id, a.k AS a_k,
          |              b.side AS b_side, b.doc_id AS b_id, b.k AS b_k)))),
          |  p -> p.a_side = 0 AND p.b_side = 1)""".stripMargin)).as("p"))
      .select(col("p.a_id").as("doc_id"), col("p.b_id").as("rec_id"),
        col("p.a_k").as("a_k"), col("p.b_k").as("b_k"))
      .distinct()
      .withColumn("dist", levenshtein(col("a_k"), col("b_k")))
      .where(col("dist") <= 1)
      .select("doc_id", "rec_id", "dist")
      .orderBy("doc_id", "rec_id")
  }

  private val d13Oracle: String =
    """WITH k0 AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS k
      |  FROM documents
      |  WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 8),
      |reg AS (
      |  SELECT doc_id + 1000000 AS rec_id,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      substring(k, 1, CAST(doc_id % 8 AS INT))
      |        || substring(k, CAST(doc_id % 8 AS INT) + 2, length(k))
      |    ELSE k END AS k
      |  FROM k0)
      |SELECT a.doc_id AS doc_id, r.rec_id AS rec_id,
      |  CAST(levenshtein(a.k, r.k) AS INT) AS dist
      |FROM k0 a JOIN reg r ON levenshtein(a.k, r.k) <= 1
      |ORDER BY doc_id, rec_id""".stripMargin

  /** PageRank-style centrality by power iteration, the second witness
    * (after connectedComponents) of the driver-controls/data-stays-
    * distributed iteration pattern: each round is one join + one
    * partial+final aggregation, lineage cut by an eager checkpoint
    * that is freed as soon as the next round supersedes it. Fixed
    * iteration count — rank deltas at 10 rounds are far below the
    * 1e-6 output rounding. Dangling nodes (no edges) keep the
    * teleport mass 1−d. */
  /** One rank unit = 1e-9 of the classic PageRank's 1.0: the power
    * iteration runs in SCALED INTEGERS (rank₀ = 1e9; contribution =
    * `rank DIV deg`; next = 0.15·SCALE + (85·Σ) DIV 100, all floor
    * divisions). Integer sums are order-independent where float sums
    * are not, so every engine — Spark under any partitioning, DuckDB
    * replaying the unrolled iterations — computes bit-identical ranks;
    * that determinism is what lets d15 sit on the driver's hash gate.
    * Headroom: hub in-mass is ≤ n·SCALE, so 85·Σ stays ~1e5× under
    * Long overflow even at 10⁹ nodes. */
  private[graft] val PrScale = 1_000_000_000L

  private[graft] def pageRank(nodes: DataFrame, pairs: DataFrame,
      iters: Int = 10): DataFrame = {
    val spark = nodes.sparkSession
    // r18 (opt, wave 3 — guide §1.2 step 1): the DataFrame loop spent
    // its wall on per-round driver work — 10 rounds × (Catalyst
    // planning + a broadcast build + a localCheckpoint job) — while
    // each round's compute on the banded candidate graph was
    // milliseconds (JobTrace: ~50 jobs, job time ≪ wall). This is the
    // Pregel superstep shape instead: ONE hash partitioner owns the
    // loop — the (edge, degree) adjacency is partitioned by source
    // once and the rank vector stays co-partitioned by node id, so the
    // per-round join is narrow and the round's only shuffle is the
    // contribution reduceByKey. Zero per-round planning or actions:
    // all `iters` rounds materialize as ONE job at the end. The
    // arithmetic is the same scaled-integer Long math (`a DIV b` on
    // nonnegative longs == Java `/`) summed by commutative Long
    // addition, so ranks are bit-identical to the unrolled DuckDB
    // oracle replay regardless of partitioning or round fusion.
    val fwd = pairs.toDF("u", "v").rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = fwd.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
    val nParts = math.max(2, spark.sparkContext.defaultParallelism)
    val part = new org.apache.spark.HashPartitioner(nParts)
    val nodeIds = nodes.toDF("id").rdd.map(r => (r.getLong(0), ()))
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val byU = edges.partitionBy(part)
    val deg = byU.mapValues(_ => 1L).reduceByKey(part, _ + _)
    val adj = byU.join(deg) // co-partitioned: narrow. (u, (v, deg))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodeIds.mapValues(_ => PrScale)
    for (_ <- 1 to iters) {
      val contribs = adj.join(ranks) // narrow
        .map { case (_, ((v, dg), rank)) => (v, rank / dg) }
        .reduceByKey(part, _ + _) // the round's one shuffle
      ranks = nodeIds.leftOuterJoin(contribs).mapValues { // narrow
        case (_, in) => 15L * PrScale / 100L + 85L * in.getOrElse(0L) / 100L
      }
    }
    // One materialization for all rounds; truncate the 3·iters-deep
    // lineage and release the loop inputs before handing back a frame.
    val fin = ranks.localCheckpoint()
    fin.foreach(_ => ())
    nodeIds.unpersist(blocking = false)
    adj.unpersist(blocking = false)
    spark.createDataFrame(
      fin.map { case (id, r) => org.apache.spark.sql.Row(id, r) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** d15 — centrality-based canonical pick: rank every doc by its
    * authority in the near-dup graph (power iteration over the d02
    * pairs) — the alternative to d08's quality-score keeper policy
    * (the most-connected version of a template is usually the
    * canonical one; quality and centrality disagree exactly on the
    * interesting clusters). ORACLE-CHECKED since r13: [[pageRank]]
    * runs in scaled integers, so DuckDB replays the 10 unrolled
    * iterations bit-identically over the same capped edge set (the
    * d02 `jp` CTE) — the iterative-float excuse for rows-only is
    * gone. Star-graph ordering and mass conservation stay spec-pinned.
    * Output: the top 50 most-central docs with their cluster ids and
    * nano-scaled rank. */
  private def d15(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    val ranks = pageRank(ds.select(col("doc_id")),
      jaccardPairs(ds).select(col("a_id"), col("b_id")))
    ranks.join(dupLabelIndex(ds).toDF("id", "cluster_id"), "id")
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("rank").as("rank_n"))
      .orderBy(col("rank_n").desc, col("doc_id"))
      .limit(50)
  }

  /** DuckDB replay of [[pageRank]]'s 10 scaled-integer iterations over
    * the capped d02 edge set, joined to the (uncapped-graph) cluster
    * labels exactly as d15 composes them. Built by unrolling — the
    * loop count is a compile-time constant, and chained CTEs avoid any
    * dependence on recursive-aggregate support. */
  private val d15Oracle: String = {
    val iterCtes = (1 to 10).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         |  SELECT n.id,
         |    CAST(150000000 + (85 * COALESCE(s.i, 0)) // 100 AS BIGINT) AS rank
         |  FROM r0 n LEFT JOIN (
         |    SELECT e.v AS id, SUM(r.rank // d.deg) AS i
         |    FROM ed e JOIN $prev r ON e.u = r.id JOIN dg d ON e.u = d.u
         |    GROUP BY e.v) s ON n.id = s.id)""".stripMargin
    }.mkString(",\n")
    dupGraphCtes + ",\n" +
      """cap AS MATERIALIZED (SELECT GREATEST(20, CAST(FLOOR(COUNT(*) * 0.01) AS BIGINT)) AS c
        |        FROM documents),
        |bk AS (SELECT shingle FROM sh GROUP BY shingle
        |       HAVING COUNT(*) <= (SELECT c FROM cap)),
        |prc AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN bk ON a.shingle = bk.shingle
        |  GROUP BY a.doc_id, b.doc_id),
        |jpe AS (
        |  SELECT a_id, b_id FROM prc
        |  JOIN sz sa ON a_id = sa.doc_id
        |  JOIN sz sb ON b_id = sb.doc_id
        |  WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.3),
        |ed AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM jpe
        |       UNION ALL SELECT b_id, a_id FROM jpe),
        |dg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM ed GROUP BY u),
        |r0 AS MATERIALIZED (SELECT doc_id AS id, CAST(1000000000 AS BIGINT) AS rank
        |       FROM documents),""".stripMargin + "\n" + iterCtes + "\n" +
      """SELECT r10.id AS doc_id, l.cluster_id, r10.rank AS rank_n
        |FROM r10 JOIN lab l ON r10.id = l.doc_id
        |ORDER BY rank_n DESC, doc_id LIMIT 50""".stripMargin
  }

  /** d14 — boilerplate sentence detection: sentences (t18's
    * segmentation, whitespace-normalized) that recur across ≥ 3
    * DISTINCT docs — the template/footer/navigation text a corpus
    * cleaner strips before training. Per-doc sentence explosion is
    * bounded by sentences-per-doc; the aggregation is partial+final on
    * the normalized sentence (count + distinct-doc count shrink
    * map-side). The exact form shuffles the sentence text as its own
    * key — at 100 TB the group key becomes a 128-bit hash with the
    * text as a min() payload, same plan shape. */
  private def d14(s: SparkSession, d: String): DataFrame =
    boilerplateSentences(docs(s, d))

  /** Factored so the spec can prove detection on a constructed corpus —
    * the driver testdata happens to contain no repeated sentences, so
    * the oracle check there pins the (correct) empty result. */
  private[graft] def boilerplateSentences(docsDf: DataFrame,
      minDocs: Int = 3): DataFrame =
    docsDf
      .select(col("doc_id"), explode(expr(
        // normalize \s runs BEFORE trim: trim() strips only spaces
        // (not \n), so a leading newline would survive as a space
        """filter(transform(split(text, '[.!?]+'),
          |  x -> trim(regexp_replace(lower(x), '\\s+', ' '))),
          |  x -> length(x) >= 20)""".stripMargin)).as("sentence"))
      .groupBy("sentence")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("sentence"))

  private val d14Oracle: String =
    """WITH sents AS (
      |  SELECT doc_id, unnest(list_filter(
      |    list_transform(string_split_regex(text, '[.!?]+'),
      |      x -> trim(regexp_replace(lower(x), '\s+', ' ', 'g'))),
      |    x -> length(x) >= 20)) AS sentence
      |  FROM documents)
      |SELECT sentence, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_occurrences
      |FROM sents
      |GROUP BY sentence
      |HAVING COUNT(DISTINCT doc_id) >= 3
      |ORDER BY n_docs DESC, sentence""".stripMargin

  /** d16 — sentence-level NEAR-duplicate pairs: the cross-doc
    * paragraph-lift detector. d14 catches sentences repeated VERBATIM;
    * a lifted-and-lightly-edited sentence (one word swapped, a typo
    * fixed) evades exact matching entirely — so d16 runs d02's
    * shingle-Jaccard machinery at SENTENCE granularity: t18/d14's
    * normalized segmentation, token 3-shingles per DISTINCT sentence,
    * an inverted shingle index with the hot-shingle cap cutting the
    * candidate space, exact Jaccard ≥ 0.5 on the survivors. Exact
    * duplicates collapse into one distinct sentence before pairing, so
    * every emitted pair is a genuine near-miss (the texts differ).
    * Scale notes: the unit of work is the distinct sentence (bounded
    * by corpus text, shrunk by the distinct), the bucket join is
    * capped exactly like d02, and at 100 TB the sentence text key
    * becomes a 128-bit hash with min(text) payload — d14's documented
    * plan shape. */
  private def d16(s: SparkSession, d: String): DataFrame =
    sentenceNearDupPairs(docs(s, d))

  /** Factored for the constructed-corpus proof in PipelineSpec (the
    * driver corpus has no near-dup sentences either — the oracle pins
    * that empty result, the spec proves detection). */
  private[graft] def sentenceNearDupPairs(docsDf: DataFrame,
      minJac: Double = 0.5): DataFrame = {
    // One row per DISTINCT sentence, keyed by its 64-bit hash: every
    // shuffle downstream moves 8-byte ids, never sentence text (the
    // first cut of this operator self-joined on the text and was 12.6 s
    // at sf0.1 — this d02-shaped form is ~10× cheaper). Collision odds
    // are ~n²/2⁶⁵ over distinct sentences — the same negligible-risk
    // contract the shingle hashes already carry.
    val dim = docsDf
      .select(col("doc_id"), explode(expr(
        """filter(transform(split(text, '[.!?]+'),
          |  x -> trim(regexp_replace(lower(x), '\\s+', ' '))),
          |  x -> length(x) >= 20)""".stripMargin)).as("sent"))
      .distinct()
      .groupBy("sent").agg(countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("sid", expr("xxhash64(sent)"))
      .withColumn("shs", expr("shingle_hashes(regexp_extract_all(sent, '[a-z]+', 0))"))
      .where(size(col("shs")) >= 1)
      .withColumn("n_sh", size(col("shs")).cast("long"))
    // same hot-key bound as d02: a shingle present in >1% of docs'
    // sentences is boilerplate vocabulary, not lift signal — and it is
    // what keeps any single bucket from going quadratic
    val cap = math.max(20L, (approxRowCount(docsDf) * 0.01).toLong)
    val pairs = dim.select(col("sid"), explode(col("shs")).as("sh"))
      .groupBy("sh")
      .agg(collect_list(col("sid")).as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= cap)
      .select(explode(expr("ordered_pairs64(ids)")).as("p"))
      .groupBy(col("p.a_id").as("a_sid"), col("p.b_id").as("b_sid"))
      .agg(count(lit(1)).as("inter"))
    // texts/sizes re-attached from the per-sentence dim. The broadcast
    // hint is GATED on corpus size, same contract as sharedShinglePairs'
    // dim() gate but with a TIGHTER threshold: this dim is one row per
    // DISTINCT SENTENCE and carries the full sentence text (~100+ B/row
    // vs 16 B), so the corpus bound that keeps it driver-safe is ~10×
    // lower. Under the gate (500k docs × a handful of distinct
    // sentences × ~150 B ≈ low hundreds of MB worst case) the hint
    // wins; above it the hint drops and the join shuffles 8-byte sid
    // keys — AQE still promotes to broadcast if the runtime size turns
    // out small, so the gate only removes the 100 TB driver-OOM
    // footgun, never a win. Pair identity is the sid pair, the OUTPUT
    // order key is the lexicographic text pair the oracle uses, so
    // swap sides after the join.
    val sizes = dim.select(col("sid"), col("sent"), col("n_sh"), col("n_docs"))
    def sdim(d: DataFrame): DataFrame =
      if (approxRowCount(docsDf) <= 500_000L) broadcast(d) else d
    val aFirst = col("sa") <= col("sb")
    pairs
      .join(sdim(sizes.select(col("sid").as("a_sid"), col("sent").as("sa"),
        col("n_sh").as("nsa"), col("n_docs").as("da"))), "a_sid")
      .join(sdim(sizes.select(col("sid").as("b_sid"), col("sent").as("sb"),
        col("n_sh").as("nsb"), col("n_docs").as("db"))), "b_sid")
      .withColumn("jac", col("inter") / (col("nsa") + col("nsb") - col("inter")))
      .where(col("jac") >= minJac)
      .select(
        least(col("sa"), col("sb")).as("a_sent"),
        greatest(col("sa"), col("sb")).as("b_sent"),
        col("inter"),
        when(aFirst, col("nsa")).otherwise(col("nsb")).as("na"),
        when(aFirst, col("nsb")).otherwise(col("nsa")).as("nb"),
        col("jac"),
        when(aFirst, col("da")).otherwise(col("db")).as("a_docs"),
        when(aFirst, col("db")).otherwise(col("da")).as("b_docs"))
      .orderBy("a_sent", "b_sent")
  }

  private val d16Oracle: String =
    """WITH rawsent AS (
      |  SELECT doc_id, unnest(list_filter(
      |    list_transform(string_split_regex(text, '[.!?]+'),
      |      x -> trim(regexp_replace(lower(x), '\s+', ' ', 'g'))),
      |    x -> length(x) >= 20)) AS sent
      |  FROM documents),
      |inst AS (SELECT DISTINCT doc_id, sent FROM rawsent),
      |dp AS (SELECT sent, COUNT(DISTINCT doc_id) AS n_docs FROM inst GROUP BY sent),
      |toks AS (SELECT sent, regexp_extract_all(sent, '[a-z]+') AS t FROM dp),
      |sh AS (
      |  SELECT sent, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT sent, COUNT(*) AS n_sh FROM sh GROUP BY sent),
      |cap AS (SELECT GREATEST(20, CAST(FLOOR(COUNT(*) * 0.01) AS BIGINT)) AS c
      |        FROM documents),
      |bk AS (SELECT shingle FROM sh GROUP BY shingle
      |       HAVING COUNT(*) <= (SELECT c FROM cap)),
      |pr AS (
      |  SELECT a.sent AS a_sent, b.sent AS b_sent, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sent < b.sent
      |  JOIN bk ON a.shingle = bk.shingle
      |  GROUP BY a.sent, b.sent)
      |SELECT a_sent, b_sent, inter, sa.n_sh AS na, sb.n_sh AS nb,
      |  inter / (sa.n_sh + sb.n_sh - inter) AS jac,
      |  da.n_docs AS a_docs, db.n_docs AS b_docs
      |FROM pr
      |JOIN sz sa ON a_sent = sa.sent
      |JOIN sz sb ON b_sent = sb.sent
      |JOIN dp da ON a_sent = da.sent
      |JOIN dp db ON b_sent = db.sent
      |WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.5
      |ORDER BY a_sent, b_sent""".stripMargin

  /** d17 — triangle census + local clustering coefficient on the
    * near-dup graph (d02's edges): per node, its degree, the number of
    * triangles through it, and 2·tri/(deg·(deg−1)). The dup-graph
    * DENSITY diagnostic: CC (d06) says which docs are connected,
    * triangles say whether a component is a tight clique (one
    * template, safe to collapse to d08's keeper) or a loose chain of
    * pairwise borrowings (collapsing loses distinct content) — the
    * standard decision signal before destructive dedup. Plan: edges
    * come from the content-signature pair cache (built once, shared
    * with d02/d06/d08/d11/d12); enumeration is the id-oriented wedge
    * join — e1(a,b)⋈e2(b,c) shuffled on the shared node key, closed by
    * an equality join on the FULL (a,c) pair key, so candidates are
    * wedges (bounded by the pair-cache's per-block cap), never
    * all-pairs. Counts and degrees are integer-exact; the coefficient
    * is one correctly-rounded division. */
  private def d17(s: SparkSession, d: String): DataFrame = {
    val e = jaccardPairs(docs(s, d)).select("a_id", "b_id")
    val deg = e.select(col("a_id").as("id"))
      .unionAll(e.select(col("b_id").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b_id") === col("e2.a_id"))
      .join(e.as("e3"),
        col("e3.a_id") === col("e1.a_id") && col("e3.b_id") === col("e2.b_id"))
      .select(col("e1.a_id").as("x"), col("e1.b_id").as("y"),
        col("e2.b_id").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          round(coalesce(col("n_tri"), lit(0L)) * 2.0 /
            (col("degree") * (col("degree") - 1)), 6)).as("clust_coef"))
      .orderBy("doc_id")
  }

  private val d17Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |cap AS (SELECT GREATEST(20, CAST(FLOOR(COUNT(*) * 0.01) AS BIGINT)) AS c
      |        FROM documents),
      |bk AS (SELECT shingle FROM sh GROUP BY shingle
      |       HAVING COUNT(*) <= (SELECT c FROM cap)),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  JOIN bk ON a.shingle = bk.shingle
      |  GROUP BY a.doc_id, b.doc_id),
      |edges AS (
      |  SELECT a_id, b_id FROM pr
      |  JOIN sz sa ON a_id = sa.doc_id
      |  JOIN sz sb ON b_id = sb.doc_id
      |  WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.3),
      |deg AS (
      |  SELECT id, COUNT(*) AS degree FROM (
      |    SELECT a_id AS id FROM edges
      |    UNION ALL SELECT b_id AS id FROM edges) GROUP BY id),
      |tri AS (
      |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
      |  FROM edges e1
      |  JOIN edges e2 ON e1.b_id = e2.a_id
      |  JOIN edges e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
      |tpn AS (
      |  SELECT id, COUNT(*) AS n_tri FROM (
      |    SELECT x AS id FROM tri
      |    UNION ALL SELECT y AS id FROM tri
      |    UNION ALL SELECT z AS id FROM tri) GROUP BY id)
      |SELECT deg.id AS doc_id, deg.degree,
      |  CAST(COALESCE(tpn.n_tri, 0) AS BIGINT) AS n_tri,
      |  CASE WHEN deg.degree >= 2 THEN
      |    round(COALESCE(tpn.n_tri, 0) * 2.0 / (deg.degree * (deg.degree - 1)), 6)
      |  END AS clust_coef
      |FROM deg LEFT JOIN tpn ON deg.id = tpn.id
      |ORDER BY doc_id""".stripMargin

  /** Persist a corpus's band rows as the incremental-dedup index:
    * partitioned by band (8 dirs), sorted by bucket hash within files
    * so a bucket-targeted read prunes row groups on bh min/max stats —
    * the layout that makes d18's touched-bucket semi-join a pruned
    * read rather than an index scan at 100 TB. */
  private[graft] def writeBandIndex(docsDf: DataFrame, dir: String): Unit =
    writeBandRows(bandRows(docsDf), dir)

  private def writeBandRows(rows: DataFrame, dir: String): Unit =
    rows
      .repartition(col("band"))
      .sortWithinPartitions(col("bh"))
      .write.mode("overwrite").partitionBy("band").parquet(dir)

  /** Incremental near-dup ingest: candidate pairs for a DELTA batch
    * against a persisted band index, never re-pairing the corpus. Cost
    * is |delta|×8 band rows + the index rows in TOUCHED buckets (the
    * broadcast semi-join on the delta's (band, bh) keys — partition-
    * pruned by band, row-group-pruned by the sorted bh layout); a
    * continuous crawl pays per-batch cost proportional to the batch,
    * not the corpus. Emits exactly the bandEstimates pairs that touch
    * a delta doc (corpus×corpus pairs inside touched buckets are
    * already known to prior runs and filtered), then appends the
    * delta's band rows so the next batch sees this one. Equality with
    * the full recompute is spec-proven, not assumed. */
  /** The candidate pairs a delta's band rows introduce against an
    * index of PRIOR band rows — the persistence-free core shared by
    * batch [[ingestDelta]] and the streaming ingest sink: index rows
    * in touched buckets (broadcast semi-join on the delta's (band, bh)
    * keys) unioned with the delta, paired, then filtered to pairs
    * touching a delta doc (index×index pairs inside touched buckets
    * are already known to prior runs). */
  private[graft] def deltaPairs(dRows: DataFrame, idx: DataFrame): DataFrame = {
    val cols = Seq("doc_id", "sig", "band", "bh")
    val touched = idx.select(cols.map(col): _*).join(
      broadcast(dRows.select("band", "bh").distinct()), Seq("band", "bh"), "left_semi")
    val pairs = pairsFromBandRows(touched.unionByName(dRows.select(cols.map(col): _*)))
    val deltaIds = broadcast(dRows.select("doc_id").distinct().withColumn("is_d", lit(1)))
    pairs
      .join(deltaIds.withColumnRenamed("doc_id", "a_id").withColumnRenamed("is_d", "da"),
        Seq("a_id"), "left")
      .join(deltaIds.withColumnRenamed("doc_id", "b_id").withColumnRenamed("is_d", "db"),
        Seq("b_id"), "left")
      .where(col("da").isNotNull || col("db").isNotNull)
      .select("a_id", "b_id", "n_eq", "est_jac")
  }

  private[graft] def ingestDelta(delta: DataFrame, dir: String): DataFrame =
    ingestRows(bandRows(delta).cache(), dir)

  private def ingestRows(dRows: DataFrame, dir: String): DataFrame = {
    val s = dRows.sparkSession
    val idx = s.read.parquet(dir)
      .select(col("doc_id"), col("sig"), col("band").cast("int"), col("bh"))
    val out = deltaPairs(dRows, idx)
    dRows
      .repartition(col("band"))
      .sortWithinPartitions(col("bh"))
      .write.mode("append").partitionBy("band").parquet(dir)
    out
  }

  /** d18 — incremental dedup ingest, live (rows-only: xxhash64 banding,
    * d03's contract): the driver corpus splits into a base (80%) and a
    * delta batch (doc_id % 5 == 0); the base's band index is written,
    * the delta ingests against it, and the output is every band-
    * candidate pair the delta introduced. PipelineSpec proves the
    * arms-length property that makes the operator trustworthy: the
    * incremental pair set EQUALS the full base∪delta recompute's pairs
    * restricted to delta-touching ones, and the appended index equals
    * the from-scratch index — on the driver corpus AND a chained
    * two-batch constructed corpus. Rebuilt per run (signature-keyed
    * dir) so the query is deterministic and self-contained. */
  /** ORACLE-CHECKED since r14 via the export pattern: the signatures
    * and band keys export (flagged base vs delta); DuckDB replays the
    * touched-bucket semi-join, the pair expansion, and the
    * delta-touching filter — proving the INCREMENTAL candidate set
    * equals the replay, not just the batch one. */
  private def d18(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    // r18 (opt): deliberately NEITHER spread NOR compute-once here.
    // The protocol reads the corpus three times (export, index write,
    // ingest); a doc_id spread re-shuffles the heavy document text on
    // every pass (guide §8 — don't move payloads more than once) and a
    // compute-once MEMORY_AND_DISK band-rows frame materializes every
    // minhash signature array (guide §5 — recompute beat the persist
    // pressure). Both variants measured SLOWER at sf0.1 over paired
    // alternating BenchOne runs; evidence in OPTIMIZATION_r18.md.
    val base = all.where(col("doc_id") % 5 =!= 0)
    val delta = all.where(col("doc_id") % 5 === 0)
    bandRows(base).withColumn("is_delta", lit(0))
      .unionByName(bandRows(delta).withColumn("is_delta", lit(1)))
      .write.mode("overwrite").parquet(Similarity.exportPath("d18bands", d))
    val dir = s"/tmp/graft-index/bands-s${docsSignature(all)}"
    writeBandIndex(base, dir)
    ingestDelta(delta, dir).orderBy("a_id", "b_id")
  }

  private def d18Oracle: String =
    s"""WITH br AS (
      |  SELECT doc_id, sig, band, bh, is_delta
      |  FROM read_parquet('${Similarity.oracleExportPath("d18bands")}/*.parquet')),
      |dk AS (SELECT DISTINCT band, bh FROM br WHERE is_delta = 1),
      |tr AS (SELECT br.* FROM br JOIN dk USING (band, bh)),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS sa, b.sig AS sb
      |  FROM tr a JOIN tr b
      |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |ne AS (
      |  SELECT DISTINCT a_id, b_id,
      |    CAST(len(list_filter(list_zip(sa, sb), z -> z[1] = z[2])) AS INTEGER) AS n_eq
      |  FROM p),
      |did AS (SELECT DISTINCT doc_id FROM br WHERE is_delta = 1)
      |SELECT a_id, b_id, n_eq, n_eq / 32.0 AS est_jac
      |FROM ne
      |WHERE a_id IN (SELECT doc_id FROM did) OR b_id IN (SELECT doc_id FROM did)
      |ORDER BY a_id, b_id""".stripMargin

  /** d19 — incremental ingest VERDICTS, oracle-checked: d18 answers
    * "which candidate pairs did this batch introduce" in d03's
    * rows-only minhash domain; d19 answers the question the ingest
    * pipeline actually acts on — for every batch doc, is it a near-dup
    * of the EXISTING corpus (`dup_of_history`), of an EARLIER doc in
    * the same batch (`dup_in_batch` — arrival order inside the batch,
    * exactly the order a from-history replay would assign), or
    * genuinely `new`? Built on the exact capped shingle-Jaccard pair
    * table (threshold 0.3, d02's semantics and cap discipline), so the
    * whole verdict column is hash-checked against DuckDB. The corpus
    * split is data-derived (history = first 80% of the id space —
    * broadcast scalar, no driver action); `canonical_id` is the
    * earliest qualifying partner (history first), the d01 min-id
    * keeper convention. Scale posture: pair generation is the shared
    * content-signature pair cache (one aggregation over capped
    * blocks); the verdict pass adds one |batch-touching pairs|
    * aggregation and one broadcast-scalar join — at a real 100 TB
    * ingest the history×history pairs are never expanded because the
    * batch filter lands BEFORE the per-doc rollup.
    */
  private def d19(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val split = broadcast(
      dd.agg(max(col("doc_id")).as("mx"))
        .select(expr("((mx + 1) * 4) DIV 5").as("split")))
    val touching = jaccardPairs(dd)
      .crossJoin(split)
      .where(col("b_id") >= col("split"))
    val agg = touching
      .groupBy(col("b_id").as("doc_id"))
      .agg(
        sum(when(col("a_id") < col("split"), 1L).otherwise(0L)).as("nh"),
        min(when(col("a_id") < col("split"), col("a_id"))).as("hist_min"),
        sum(when(col("a_id") >= col("split"), 1L).otherwise(0L)).as("nb"),
        min(when(col("a_id") >= col("split"), col("a_id"))).as("batch_min"))
    dd.crossJoin(split).where(col("doc_id") >= col("split"))
      .select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("nh") > 0, lit("dup_of_history"))
          .when(col("nb") > 0, lit("dup_in_batch"))
          .otherwise(lit("new")).as("verdict"),
        when(col("nh") > 0, col("hist_min"))
          .otherwise(col("batch_min")).as("canonical_id"),
        coalesce(col("nh"), lit(0L)).as("n_hist"),
        coalesce(col("nb"), lit(0L)).as("n_batch"))
      .orderBy("doc_id")
  }

  private val d19Oracle: String = jacPairsCtes + ",\n" +
    """m AS (SELECT ((MAX(doc_id) + 1) * 4) // 5 AS split FROM documents),
      |agg AS (
      |  SELECT b_id AS doc_id,
      |    CAST(SUM(CASE WHEN a_id < m.split THEN 1 ELSE 0 END) AS BIGINT) AS nh,
      |    MIN(CASE WHEN a_id < m.split THEN a_id END) AS hist_min,
      |    CAST(SUM(CASE WHEN a_id >= m.split THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    MIN(CASE WHEN a_id >= m.split THEN a_id END) AS batch_min
      |  FROM jp, m WHERE b_id >= m.split GROUP BY 1)
      |SELECT d.doc_id,
      |  CASE WHEN agg.nh > 0 THEN 'dup_of_history'
      |       WHEN agg.nb > 0 THEN 'dup_in_batch'
      |       ELSE 'new' END AS verdict,
      |  CASE WHEN agg.nh > 0 THEN agg.hist_min
      |       ELSE agg.batch_min END AS canonical_id,
      |  COALESCE(agg.nh, 0) AS n_hist,
      |  COALESCE(agg.nb, 0) AS n_batch
      |FROM (SELECT doc_id FROM documents, m WHERE doc_id >= m.split) d
      |LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Distributed k-core decomposition by iterated neighbor h-index
    * (Montresor/Lulli's locality-based coreness): every node starts at
    * its degree, then repeatedly becomes the H-INDEX of its neighbors'
    * current values (the largest h with ≥ h neighbors valued ≥ h) —
    * a monotone non-increasing sequence that converges to the exact
    * core number on every graph, usually in a handful of rounds. Each
    * round is ONE edge⋈values join + one degree-bounded
    * collect/sort/fold per node (the capped pair cache bounds degrees
    * the same way it bounds d17's wedges), with the d06/d15
    * checkpoint-freed lineage discipline. Isolated nodes are core 0.
    */
  private[graft] def kCore(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    val spark = nodes.sparkSession
    // r18 (opt, wave 3 — guide §1.2 step 1): Pregel superstep shape,
    // like [[pageRank]]/[[sCore]] — one hash partitioner owns the
    // loop, the adjacency (keyed by message SOURCE) and the value
    // vector stay co-partitioned, so a round is one narrow join, the
    // message shuffle, and ONE action that both materializes the next
    // values and counts the changed rows (the old loop paid 2 driver
    // actions + 2 Catalyst plans per round). The per-node h-index is
    // the same fold over the same desc-sorted neighbor values (degree
    // is bounded by the capped pair graph, exactly the bound the old
    // collect_list relied on), computed in Long — bit-identical to the
    // SQL form and the DuckDB unroll round for round.
    val nParts = math.max(2, spark.sparkContext.defaultParallelism)
    val part = new org.apache.spark.HashPartitioner(nParts)
    val fwd = pairs.toDF("u", "v").rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = fwd.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      .distinct(nParts)
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var cur = adj.mapValues(_ => 1L).reduceByKey(part, _ + _) // narrow
      .persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]](adj, cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val msgs = adj.join(cur) // narrow: each edge ships c(source) to v
        .map { case (_, (v, c)) => (v, c) }
      val next = msgs.groupByKey(part) // the round's one shuffle
        .mapValues { vs =>
          val ns = vs.toArray.sorted(Ordering[Long].reverse)
          var h = 0L
          var i = 0
          while (i < ns.length) {
            if (ns(i) >= i + 1) h = math.max(h, i + 1L)
            i += 1
          }
          h
        }
        .join(cur) // narrow; every cur node has ≥1 live neighbor in cur
        .mapValues { case (h, c) => (math.min(h, c), c) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      persisted += next
      // ONE action: materializes next AND reads the fixpoint flag.
      converged = next.aggregate(0L)(
        (a, kv) => a + (if (kv._2._1 < kv._2._2) 1L else 0L), _ + _) == 0L
      cur = next.mapValues(_._1)
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not converge in $maxIters rounds")
    val fin = nodes.toDF("id").rdd.map(r => (r.getLong(0), ()))
      .leftOuterJoin(cur)
      .mapValues { case (_, c) => c.getOrElse(0L) }
      .localCheckpoint()
    fin.foreach(_ => ())
    persisted.foreach(_.unpersist(blocking = false))
    spark.createDataFrame(
      fin.map { case (id, c) => org.apache.spark.sql.Row(id, c) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("core",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** d20 — coreness over the near-dup graph: BEFORE destructive dedup
    * you want to know whether a dup neighborhood is a tight clique
    * (template farm — collapse aggressively) or a loose chain
    * (borderline near-misses — tread carefully). d17's triangle census
    * answers it locally; the k-core number is the GLOBAL density
    * certificate (a node of core k sits in a subgraph where everyone
    * has ≥ k dup-partners). ORACLE-CHECKED since r14 via the d15
    * unroll pattern: the h-index iteration is pure integer arithmetic
    * and MONOTONE — once converged, further rounds are the identity —
    * so unrolling exactly [[kCore]]'s maxIters rounds as chained CTEs
    * equals the Spark fixpoint whenever the Spark side converges (and
    * the Spark side THROWS when it doesn't). PipelineSpec's exact core
    * numbers on constructed clique/cycle/chain graphs stay pinned. */
  private def d20(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val e = jaccardPairs(dd).select("a_id", "b_id")
    kCore(dd.select("doc_id"), e)
      .select(col("id").as("doc_id"), col("core"))
      .where(col("core") > 0)
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[kCore]]: 30 unrolled h-index rounds (the Spark
    * side's maxIters) over the capped d02 edge set. Every value is an
    * integer; each round is the SAME map both engines compute — the
    * h-index of the neighbors' current values, capped by one's own —
    * and rounds past the fixpoint are the identity, so c30 equals the
    * converged Spark result exactly. */
  private val d20Oracle: String = {
    val rounds = (1 to 30).map { i =>
      val prev = s"c${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT p.id, CAST(LEAST(COALESCE(h.h, 0), p.c) AS BIGINT) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT e.u AS id,
         |      list_max(list_transform(list_sort(list(r.c), 'DESC'),
         |        (v, k) -> CASE WHEN v >= k THEN k ELSE 0 END)) AS h
         |    FROM ed e JOIN $prev r ON e.v = r.id
         |    GROUP BY e.u) h ON p.id = h.id)""".stripMargin
    }.mkString(",\n")
    jacPairsCtes + ",\n" +
      """ed AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM jp
        |       UNION ALL SELECT b_id, a_id FROM jp),
        |c0 AS MATERIALIZED (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM ed GROUP BY u),""".stripMargin + "\n" + rounds + "\n" +
      """SELECT id AS doc_id, c AS core FROM c30
        |WHERE c > 0 ORDER BY doc_id""".stripMargin
  }

  /** Edge TRUSSNESS by level-wise support peeling: trussness(e) = the
    * largest k such that e survives in the k-truss (the maximal
    * subgraph where every edge closes ≥ k−2 triangles). Each level
    * iterates: recompute per-edge support with the d17 wedge join over
    * the SURVIVING edges, delete under-supported edges (they get
    * trussness k−1), until the level stabilizes — then raise k. The
    * cohesion ladder between d20's node-coreness and d17's raw
    * triangle counts: cores say "well-connected node", trusses say
    * "edge embedded in overlapping triangles" — the signal that two
    * docs are in the SAME template farm rather than both merely
    * popular. Checkpoint-freed like d06/d15; support joins are
    * id-oriented equality joins, never all-pairs. */
  private[graft] def kTruss(pairs: DataFrame, maxIters: Int = 60): DataFrame = {
    val spark = pairs.sparkSession
    var e = pairs.toDF("a", "b")
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .where(col("a") < col("b")).distinct()
      .localCheckpoint()
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 3
    var iters = 0
    // r18 (opt): ONE count aggregate per round replaces the separate
    // e.isEmpty and dead.isEmpty actions (two fewer driver round-trips
    // per peel round; same arithmetic, same rounds).
    var eEmpty = e.isEmpty
    // r18 (opt, second wave): 2 driver actions per round — the scored
    // checkpoint and the count aggregate. The survivor edge set and the
    // round's dead edges are plain filters over the checkpointed scored
    // (the same partition of the same rows), so the per-round e/done
    // checkpoints disappear. A scored frame stays persisted only while
    // referenced: the next round's scored supersedes it as the e
    // lineage root, and it backs `done` only on rounds that peeled.
    var prevScored: Option[DataFrame] = None
    var prevInDone = false
    while (!eEmpty && iters < maxIters) {
      // per-edge support over the surviving graph (oriented wedge join)
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val sup = tri.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("y").as("a"), col("z").as("b")),
          struct(col("x").as("a"), col("z").as("b")))).as("ed"))
        .groupBy(col("ed.a").as("a"), col("ed.b").as("b"))
        .agg(count(lit(1)).as("sup"))
      val scored = e.join(sup, Seq("a", "b"), "left")
        .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("sup"))
        .localCheckpoint()
      if (iters == 0) freeCheckpoint(e)
      else if (!prevInDone) prevScored.foreach(freeCheckpoint)
      val r = scored.agg(count(lit(1)).as("n"),
        count(when(col("sup") < k - 2, 1)).as("nd")).head()
      val (n, nd) = (r.getLong(0), r.getLong(1))
      if (nd == 0) {
        e = scored.select("a", "b")
        k += 1 // level stable — every survivor is in the k-truss
        eEmpty = n == 0
        prevInDone = false
      } else {
        done += scored.where(col("sup") < k - 2)
          .select(col("a"), col("b"), lit(k - 1L).as("truss"))
        e = scored.where(col("sup") >= k - 2).select("a", "b")
        eEmpty = n == nd
        prevInDone = true
      }
      prevScored = Some(scored)
      iters += 1
    }
    // eEmpty is exact (n == 0 on a stable level, n == nd on a peel), so
    // the convergence check costs no extra job.
    if (!eEmpty) throw new IllegalStateException(
      s"kTruss did not converge in $maxIters rounds")
    if (done.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("truss",
            org.apache.spark.sql.types.LongType))))
    else done.reduce(_ unionByName _)
  }

  /** d21 — k-truss over the near-dup graph. ORACLE-CHECKED since r14:
    * [[kTruss]]'s level-wise peeling is pure integer arithmetic over a
    * deterministic edge set, so the loop unrolls as chained CTEs — the
    * level k threads through as a one-row CTE whose CASE mirrors the
    * Spark branch (dead empty → k+1, else peel at k), and iterations
    * past the empty-edge-set exit are no-ops. Unrolling exactly the
    * Spark side's maxIters guarantees equality whenever the Spark side
    * converges (it THROWS when it doesn't). PipelineSpec's constructed
    * clique/chain/cycle trussness and PropertySpec's set-theoretic
    * re-derivation stay pinned. */
  private def d21(s: SparkSession, d: String): DataFrame =
    kTruss(jaccardPairs(docs(s, d)).select("a_id", "b_id"))
      .select(col("a").as("a_id"), col("b").as("b_id"), col("truss"))
      .orderBy("a_id", "b_id")

  /** DuckDB replay of [[kTruss]]: 60 unrolled iterations. Each round
    * recomputes per-edge triangle support over the survivors (the same
    * oriented wedge join), peels edges under k−2 into a dead set
    * stamped truss = k−1, and advances k only on a stable level —
    * byte-identical control flow to the Spark loop. */
  private val d21Oracle: String = {
    val rounds = (0 until 60).map { i =>
      s"""tri$i AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e$i e1 JOIN e$i e2 ON e1.b = e2.a
         |  JOIN e$i e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sup$i AS MATERIALIZED (
         |  SELECT a, b, COUNT(*) AS sup FROM (
         |    SELECT x AS a, y AS b FROM tri$i
         |    UNION ALL SELECT y, z FROM tri$i
         |    UNION ALL SELECT x, z FROM tri$i)
         |  GROUP BY a, b),
         |sc$i AS MATERIALIZED (
         |  SELECT e.a, e.b, COALESCE(s.sup, 0) AS sup
         |  FROM e$i e LEFT JOIN sup$i s ON e.a = s.a AND e.b = s.b),
         |dead$i AS MATERIALIZED (
         |  SELECT a, b, (SELECT kv FROM kk$i) - 1 AS truss
         |  FROM sc$i WHERE sup < (SELECT kv FROM kk$i) - 2),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT a, b FROM sc$i WHERE sup >= (SELECT kv FROM kk$i) - 2),
         |kk${i + 1} AS MATERIALIZED (
         |  SELECT CASE WHEN (SELECT COUNT(*) FROM dead$i) = 0
         |    THEN kv + 1 ELSE kv END AS kv FROM kk$i)""".stripMargin
    }.mkString(",\n")
    val union = (0 until 60).map(i => s"SELECT * FROM dead$i")
      .mkString("\n    UNION ALL ")
    jacPairsCtes + ",\n" +
      """e0 AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM jp),
        |kk0 AS MATERIALIZED (SELECT 3 AS kv),""".stripMargin + "\n" + rounds + "\n" +
      s"""SELECT a AS a_id, b AS b_id, CAST(truss AS BIGINT) AS truss
         |FROM ($union)
         |ORDER BY a_id, b_id""".stripMargin
  }

  /** d22 — SEMANTIC dedup, cluster-blocked (the published SemDeDup
    * shape: k-means over the embedding space, pairwise cosine only
    * WITHIN each learned cluster, remove the member of each near-dup
    * pair that sits CLOSEST to its centroid — keeping the less
    * prototypical example preserves diversity). The blocking is the
    * novelty vs d05 (metadata label blocking) and d07 (LSH bucket
    * blocking): clusters are LEARNED from the vectors themselves, so
    * the method needs no labels and no hash-family tuning — the
    * trade is quadratic work within a cluster, bounded statistically
    * by nlist (at 100 TB you raise nlist so E[cluster] stays
    * rewrite-affordable, exactly the published recipe's sqrt(N)
    * guidance). Reuses s03's persisted k-means index: the self-join is
    * keyed on the cluster id, one shuffle, never corpus × corpus.
    * Rows-only (a learned quantizer has no SQL restatement);
    * PipelineSpec pins recall of d05's same-label near-dup pairs and
    * the removed-side centroid rule. */
  /** Weighted s-core decomposition by level-wise strength peeling
    * (Eidsaa & Almaas's s-core / Batagelj-Zaveršnik generalized cores
    * with p(v) = Σ incident weights): node score = the largest level s
    * such that the node survives peeling everything with weighted
    * degree < s. The weighted refinement d20's unit-count coreness
    * cannot see: five 0.3-weak partners and one 0.95-twin both give
    * count-core ≥ 1, but only the strong neighborhood survives a high
    * s level. Each round is ONE strength aggregation + two anti-joins
    * over surviving edges (never all-pairs), checkpoint-freed like
    * d06/d15; round count is bounded by the number of distinct PEEL
    * WAVES, which the caller bounds by quantizing weights (integer
    * deciles here) — the resolution/rounds trade, stated. */
  private[graft] def sCore(nodes: DataFrame, wpairs: DataFrame,
      maxIters: Int = 400): DataFrame = {
    val spark = nodes.sparkSession
    // r18 (opt, wave 3 — guide §1.2 step 1): two structural changes vs
    // the DataFrame peel loop. (1) Pregel superstep shape — one hash
    // partitioner owns the loop; adjacency and the strength vector stay
    // co-partitioned by node id, so a round is ONE narrow job (the
    // min/max read) plus one shuffle (the decrement reduceByKey) with
    // zero Catalyst planning — the old loop paid 3 driver actions and
    // 3 plan compilations per round. (2) Decrement messages instead of
    // rebuilding the adjacency: peeling node p sends (neighbor, w) for
    // p's incident edges and survivors subtract, so each edge fires at
    // most TWO messages across the WHOLE loop (once per endpoint) —
    // the old per-round double anti-join re-shuffled the surviving
    // edge set every round, O(|E|·rounds) total. Exactness: strength
    // is a Long sum of Long weights, and sum-over-live-neighbors minus
    // sum-over-peeled-neighbors is the same Long as recomputing over
    // the survivors, so every round's strengths — and the peel waves,
    // levels, and scores — are bit-identical to the rebuild form the
    // DuckDB oracle unrolls (PropertySpec pins the definitional
    // fixpoint; PipelineSpec pins the zero-residual-wave goldens).
    // `live` is tracked as the strength vector itself: a node whose
    // remaining strength drops to ZERO (every neighbor peeled) must
    // still be peeled AT the current level — it survived up to here,
    // so its score is the level, not a silent 0.
    val nParts = math.max(2, spark.sparkContext.defaultParallelism)
    val part = new org.apache.spark.HashPartitioner(nParts)
    val fwd = wpairs.toDF("u", "v", "w").rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val adj = fwd
      .flatMap { case (u, (v, w)) => Iterator((u, (v, w)), (v, (u, w))) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val nodeIds = nodes.toDF("id").rdd.map(r => (r.getLong(0), ()))
      .reduceByKey(part, (a, _) => a) // distinct, onto the loop's partitioner
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s0 = adj.mapValues(_._2).reduceByKey(part, _ + _) // narrow
    var str = nodeIds.leftOuterJoin(s0) // narrow
      .mapValues { case (_, s) => s.getOrElse(0L) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]](adj, nodeIds, str)
    // ONE action per round reads the min strength AND the next round's
    // emptiness (exact: peel takes every s ≤ level, so the next round
    // is empty iff max(s) ≤ level); mn > mx signals an empty live set.
    def mnmx(r: org.apache.spark.rdd.RDD[(Long, Long)]): (Long, Long) =
      r.aggregate((Long.MaxValue, Long.MinValue))(
        (acc, kv) => (math.min(acc._1, kv._2), math.max(acc._2, kv._2)),
        (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    val done = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[(Long, Long)]]
    var level = 0L
    var iters = 0
    var cur = mnmx(str)
    var liveEmpty = cur._1 > cur._2
    while (!liveEmpty && iters < maxIters) {
      level = math.max(level, cur._1)
      val lv = level
      val peeled = str.filter(_._2 <= lv) // narrow, lazy
      done += peeled.mapValues(_ => lv)
      liveEmpty = cur._2 <= level
      if (!liveEmpty) {
        val decs = adj.join(peeled) // narrow: both on `part`
          .map { case (_, ((nb, w), _)) => (nb, w) }
          .reduceByKey(part, _ + _) // the round's one shuffle
        val next = str.filter(_._2 > lv)
          .leftOuterJoin(decs) // narrow
          .mapValues { case (s, d) => s - d.getOrElse(0L) }
          .persist(StorageLevel.MEMORY_AND_DISK)
        persisted += next
        str = next
        cur = mnmx(next)
      }
      iters += 1
    }
    // liveEmpty is exact (see above), so the convergence check costs no
    // extra job.
    if (!liveEmpty) throw new IllegalStateException(
      s"sCore did not converge in $maxIters rounds")
    val scored =
      if (done.isEmpty)
        spark.sparkContext.emptyRDD[(Long, Long)].partitionBy(part)
      else done.reduce(_ union _) // partitioner-aware: all on `part`
    // The final join uses the RAW node frame (not the deduped live
    // set), exactly like the old nodes⟕scored left join.
    val fin = nodes.toDF("id").rdd.map(r => (r.getLong(0), ()))
      .leftOuterJoin(scored)
      .mapValues { case (_, s) => s.getOrElse(0L) }
      .localCheckpoint()
    fin.foreach(_ => ())
    persisted.foreach(_.unpersist(blocking = false))
    spark.createDataFrame(
      fin.map { case (id, s) => org.apache.spark.sql.Row(id, s) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** d23 — weighted coreness of the near-dup graph: d20 counts
    * partners, this SUMS similarity — the score that separates "five
    * borderline near-misses" from "one 0.95 template twin plus
    * backup". Weights are integer similarity deciles (floor(jac·10) ∈
    * 3..10 above the 0.3 pair floor) so peel levels are discrete and
    * the round count stays bounded. ORACLE-CHECKED since r14 via the
    * d20 unroll pattern: the peel loop restates as chained CTEs with
    * the level threaded as a one-row CTE, iterations past the
    * empty-live exit are no-ops, and the weights are already integer
    * deciles — the unroll matches this call's OWN maxIters (60: the
    * real corpus peels in ≤10 rounds, and the Spark side THROWS past
    * the bound instead of outrunning its oracle). PipelineSpec's exact
    * scores on constructed weighted cliques/stars/chains stay pinned. */
  private def d23(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = jaccardPairs(dd).select(
      col("a_id").as("a"), col("b_id").as("b"),
      floor(col("jac") * 10).cast("long").as("w"))
    sCore(dd.select("doc_id"), w, maxIters = 60)
      .select(col("id").as("doc_id"), col("score"))
      .where(col("score") > 0)
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[sCore]]'s 60 unrolled peel rounds over the
    * capped weighted edge set (see the d23 scaladoc). */
  private val d23Oracle: String = {
    val rounds = (0 until 60).map { i =>
      s"""str$i AS MATERIALIZED (
         |  SELECT l.id, CAST(COALESCE(s.s, 0) AS BIGINT) AS s
         |  FROM live$i l LEFT JOIN (
         |    SELECT id, CAST(SUM(w) AS BIGINT) AS s FROM adj$i GROUP BY id) s
         |  ON l.id = s.id),
         |lvl${i + 1} AS MATERIALIZED (
         |  SELECT GREATEST((SELECT lv FROM lvl$i),
         |    COALESCE((SELECT MIN(s) FROM str$i),
         |             (SELECT lv FROM lvl$i))) AS lv),
         |peel$i AS MATERIALIZED (
         |  SELECT id, (SELECT lv FROM lvl${i + 1}) AS score
         |  FROM str$i WHERE s <= (SELECT lv FROM lvl${i + 1})),
         |live${i + 1} AS MATERIALIZED (
         |  SELECT id FROM live$i WHERE id NOT IN (SELECT id FROM peel$i)),
         |adj${i + 1} AS MATERIALIZED (
         |  SELECT a.id, a.nb, a.w FROM adj$i a
         |  WHERE a.id NOT IN (SELECT id FROM peel$i)
         |    AND a.nb NOT IN (SELECT id FROM peel$i))""".stripMargin
    }.mkString(",\n")
    val union = (0 until 60).map(i => s"SELECT * FROM peel$i")
      .mkString("\n    UNION ALL ")
    jacPairsCtes + ",\n" +
      """wed AS MATERIALIZED (
        |  SELECT a_id AS id, b_id AS nb, CAST(FLOOR(jac * 10) AS BIGINT) AS w
        |  FROM jp
        |  UNION ALL
        |  SELECT b_id, a_id, CAST(FLOOR(jac * 10) AS BIGINT) FROM jp),
        |live0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id FROM documents),
        |adj0 AS MATERIALIZED (SELECT id, nb, w FROM wed),
        |lvl0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS lv),""".stripMargin +
      "\n" + rounds + "\n" +
      s"""SELECT id AS doc_id, CAST(score AS BIGINT) AS score
         |FROM ($union)
         |WHERE score > 0 ORDER BY doc_id""".stripMargin
  }

  /** d22 ORACLE-CHECKED since r14 via the export pattern: the learned
    * clustering is the engine constant (assignments + centroids
    * export); DuckDB replays the within-cluster pair expansion, both
    * cosines (pairwise and to-centroid), the 0.3 cut and the
    * keep-the-diverse-one removal rule from raw embeddings. */
  private def d22(s: SparkSession, d: String): DataFrame = {
    val (idx, cents) = Similarity.ivfIndex(s, d)
    val centDf = Similarity.centroidsDf(s, cents)
    centDf.coalesce(1).write.mode("overwrite")
      .parquet(Similarity.exportPath("d22cents", d))
    idx.select(col("cl"), col("vec_id")).write.mode("overwrite")
      .parquet(Similarity.exportPath("d22asg", d))
    val withCos = idx.join(broadcast(centDf), "cl")
      .withColumn("ccos", expr("vec_dot(e, ce)") / (col("nrm") * col("cnrm")))
      .select(col("cl"), col("vec_id"), col("e"), col("nrm"), col("ccos"))
    val a = withCos.select(col("cl"), col("vec_id").as("a_id"),
      col("e").as("ea"), col("nrm").as("na"), col("ccos").as("ca"))
    val b = withCos.select(col("cl"), col("vec_id").as("b_id"),
      col("e").as("eb"), col("nrm").as("nb"), col("ccos").as("cb"))
    a.join(b, "cl").where(col("a_id") < col("b_id"))
      .withColumn("cos", expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .where(col("cos") >= 0.3)
      .select(col("cl"), col("a_id"), col("b_id"),
        round(col("cos"), 6).as("cos_r"),
        when(col("ca") >= col("cb"), col("a_id")).otherwise(col("b_id"))
          .as("removed"))
      .orderBy("a_id", "b_id")
  }

  private def d22Oracle: String =
    s"""WITH asg AS (
      |  SELECT cl, vec_id
      |  FROM read_parquet('${Similarity.oracleExportPath("d22asg")}/*.parquet')),
      |ct AS (
      |  SELECT cl, ce, cnrm
      |  FROM read_parquet('${Similarity.oracleExportPath("d22cents")}/*.parquet')),
      |n AS (
      |  SELECT vec_id, embedding AS e,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings),
      |wc AS (
      |  SELECT a.cl, a.vec_id, n.e, n.nrm,
      |    list_reduce(list_transform(list_zip(n.e, ct.ce), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (n.nrm * ct.cnrm) AS ccos
      |  FROM asg a JOIN n ON a.vec_id = n.vec_id JOIN ct ON a.cl = ct.cl),
      |p AS (
      |  SELECT a.cl, a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_reduce(list_transform(list_zip(a.e, b.e), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (a.nrm * b.nrm) AS cos,
      |    a.ccos AS ca, b.ccos AS cb
      |  FROM wc a JOIN wc b ON a.cl = b.cl AND a.vec_id < b.vec_id)
      |SELECT cl, a_id, b_id, round(cos, 6) AS cos_r,
      |  CASE WHEN ca >= cb THEN a_id ELSE b_id END AS removed
      |FROM p WHERE cos >= 0.3 ORDER BY a_id, b_id""".stripMargin

  /** d24 — cross-document VERBATIM SPAN dedup (the C4/RefinedWeb exact
    * substring pass: boilerplate headers, license blocks and templated
    * paragraphs repeat verbatim across documents, and near-dup pair
    * scoring never surfaces them because the CONTAINING docs aren't
    * similar): every 8-token window is a span; a span seen in ≥2
    * distinct documents is shared; per doc, the count and ratio of
    * its window occurrences covered by shared spans — the signal a
    * pipeline thresholds to strip boilerplate before training. Scale
    * posture: LINEAR — one explode (≈1 row per token), two gram-keyed
    * map-side-combined aggregations and one semi-join; no pair
    * expansion anywhere, unlike the similarity family (a doc sharing a
    * span with 10 000 others costs 1 aggregation row, not 10 000
    * pairs). Spans stay strings so DuckDB rebuilds them verbatim and
    * the WHOLE output hash-checks (t27's trade; production would hash
    * spans to 8 bytes for the shuffle). */
  private def d24(s: SparkSession, d: String): DataFrame = {
    // ONE tokenize+explode (r15; was three — the span generation
    // repeated for the span universe, the per-doc totals and the
    // shared side, and the corpus regexp tokenization dominated the
    // wall-clock). Reduce immediately to per-(doc, span) occurrence
    // counts: both consumers aggregate off that pair-sized frame, and
    // the shared occ subplan ends in ONE exchange ReuseExchange
    // materializes once. n_spans = Σc; a span is shared iff it
    // appears in ≥2 docs, i.e. its occ row count ≥ 2 — the old
    // countDistinct(doc_id) on the raw span stream, for free here.
    // r18 (opt, wave 3 — guide §2.5): hash-spread the one-task scan on
    // doc_id so the tokenize+8-gram explode parallelizes (identity at
    // any multi-split layout); every aggregate here is an exact count.
    val occ = graft.Tables.spread(docs(s, d), col("doc_id"))
      .withColumn("t", expr(tokExpr))
      .where(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8), i -> array_join(slice(t, i + 1, 8), ' '))"))
        .as("span"))
      .groupBy("doc_id", "span").agg(count(lit(1)).as("c"))
    // r18 (opt, guide §2.4): n_shared = n_spans − (occurrences of spans
    // living in exactly ONE doc), and an nd = 1 span group is a single
    // occ row — min(doc_id) is the owner, sum(c) its count. The old
    // plan joined occ BACK onto the per-span nd table (a second full
    // exchange of occ by span + the join); both branches below re-use
    // occ's own exchange (identical subtree) and the final join is
    // |docs|-sized on both sides.
    val nSpans = occ.groupBy("doc_id").agg(sum(col("c")).as("n_spans"))
    val uniq = occ.groupBy("span")
      .agg(count(lit(1)).as("nd"), sum(col("c")).as("tc"),
        min(col("doc_id")).as("doc_id"))
      .where(col("nd") === 1)
      .groupBy("doc_id").agg(sum(col("tc")).as("n_uniq"))
    nSpans.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        (col("n_spans") - coalesce(col("n_uniq"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_spans"), col("n_shared"),
        round(col("n_shared") / col("n_spans"), 6).as("shared_ratio"))
      .orderBy("doc_id")
  }

  private val d24Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id, unnest(
      |    [array_to_string(t[i+1:i+8], ' ') for i in range(len(t) - 7)]) AS span
      |  FROM toks WHERE len(t) >= 8),
      |shared AS (
      |  SELECT span FROM sp GROUP BY span
      |  HAVING COUNT(DISTINCT doc_id) >= 2),
      |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
      |shr AS (
      |  SELECT doc_id, COUNT(*) AS n_shared FROM sp
      |  WHERE span IN (SELECT span FROM shared) GROUP BY doc_id)
      |SELECT t.doc_id, t.n_spans,
      |  COALESCE(s.n_shared, 0) AS n_shared,
      |  ROUND(COALESCE(s.n_shared, 0) / t.n_spans, 6) AS shared_ratio
      |FROM tot t LEFT JOIN shr s ON t.doc_id = s.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // def, not val: the export-pattern oracles (d03/d04/d07/d09/d22)
  // interpolate per-dataset export paths recorded when the query ran.
  def all: Seq[Q] = Seq(
    Q("d01_dedup_exact", Some(d01Oracle), d01),
    Q("d02_dedup_jaccard", Some(d02Oracle), d02),
    Q("d03_dedup_minhash", Some(d03Oracle), d03),
    Q("d04_dedup_simhash", Some(d04Oracle), d04),
    Q("d05_dedup_embed", Some(d05Oracle), d05),
    Q("d06_dedup_cluster", Some(d06Oracle), d06),
    Q("d07_dedup_embed_lsh", Some(d07Oracle), d07),
    Q("d08_dedup_keep_best", Some(d08Oracle), d08),
    Q("d09_dedup_calibrate", Some(d09Oracle), d09),
    Q("d10_dedup_editdist", Some(d10Oracle), d10),
    Q("d11_cluster_histogram", Some(d11Oracle), d11),
    Q("d12_dedup_containment", Some(d12Oracle), d12),
    Q("d13_record_linkage", Some(d13Oracle), d13),
    Q("d14_boilerplate", Some(d14Oracle), d14),
    Q("d15_rank_centrality", Some(d15Oracle), d15),
    Q("d16_sentence_near_dup", Some(d16Oracle), d16),
    Q("d17_triangles", Some(d17Oracle), d17),
    Q("d18_incremental_ingest", Some(d18Oracle), d18),
    Q("d19_incremental_verdicts", Some(d19Oracle), d19),
    Q("d20_kcore", Some(d20Oracle), d20),
    Q("d21_ktruss", Some(d21Oracle), d21),
    Q("d22_semantic_dedup", Some(d22Oracle), d22),
    Q("d23_weighted_core", Some(d23Oracle), d23),
    Q("d24_span_dedup", Some(d24Oracle), d24))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table. Everything is built from codegen'd builtins
  * (regexp_extract_all, higher-order array functions) — no UDFs — so the
  * whole pipeline stays inside whole-stage codegen and scales linearly
  * with document bytes (narrow, no shuffle until the final sort).
  */
object TextAnalysis {

  /** Disjoint per-language stopword lists for the n-gram/stopword
    * language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "los", "que", "por", "con", "una", "para", "como"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "pour", "une", "sur"),
    "zh" -> Seq("zhe", "shi", "bu", "wo", "ni", "ta", "men", "hen"))

  private val langs = stopwords.keys.toSeq.sorted // de, en, es, fr, zh

  private def sqlList(ws: Seq[String]) = ws.mkString("'", "', '", "'")

  /** The combined stopword list as a SQL array body — shared with d08's
    * oracle so the quality formula stays textually identical. */
  private[graft] val allStopsSql: String = sqlList(langs.flatMap(stopwords).distinct)

  /** t01 — language ID: distinct-stopword hit count per language, argmax
    * with alphabetical tie-break (expressed as an ordered CASE). */
  /** Per-language stopword-overlap scores + the argmax prediction
    * column, shared by t01 (per-doc output) and t15 (confusion
    * rollup). */
  private def langScored(docsDf: DataFrame): DataFrame = {
    val scored = langs.foldLeft(
      docsDf.withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))) {
      (df, l) =>
        df.withColumn(s"s_$l",
          size(array_intersect(col("toks"), array(stopwords(l).map(lit): _*))))
    }
    val pred = langs.init.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
      (l, elseCol) =>
        val geAll = langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o"))
          .reduce(_ && _)
        when(geAll, lit(l)).otherwise(elseCol)
    }
    scored.withColumn("pred", pred)
  }

  private def t01(s: SparkSession, d: String): DataFrame = {
    val outCols = ("doc_id" +: langs.map(l => s"s_$l")) :+ "pred"
    langScored(Tables.df(s, d, "documents"))
      .select(outCols.map(col): _*)
      .orderBy("doc_id")
  }

  private val t01Oracle: String = {
    val scoreCols = langs.map { l =>
      s"len(list_intersect(regexp_extract_all(lower(text), '[a-z]+'), [${sqlList(stopwords(l))}])) AS s_$l"
    }.mkString(",\n  ")
    val caseArms = langs.init.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |  $scoreCols
       |  FROM documents)
       |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $caseArms ELSE '${langs.last}' END AS pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** The t02 quality score as a reusable per-doc projection (d08 keeps
    * the best-quality representative per dup cluster with it). NULL-free
    * by construction: zero-token docs get score -1 so cross-engine
    * ordering never hits engine-specific NULL placement. */
  private[graft] def qualityScore(docsDf: DataFrame): DataFrame = {
    val allStops = langs.flatMap(stopwords).distinct
    docsDf
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("n_tok", expr("size(regexp_extract_all(lower(text), '[a-z]+', 0))"))
      .withColumn("n_punct", expr("size(regexp_extract_all(text, '[.,;:!?]', 0))"))
      .withColumn("n_stop", expr(
        s"size(filter(regexp_extract_all(lower(text), '[a-z]+', 0), " +
          s"x -> array_contains(array(${sqlList(allStops)}), x)))"))
      .withColumn("quality_score", coalesce(
        (col("n_stop") / col("n_tok")) * 0.5 + (col("n_punct") / col("n_chars_m")) * 0.2
          + (col("n_tok") / col("n_chars_m")) * 0.3,
        lit(-1.0)))
      .select(col("doc_id"), col("quality_score"))
  }

  /** t02 — quality scoring: token/punctuation/stopword ratios + a
    * weighted quality score. Ratios are single divisions of identical
    * integers, so they are bit-identical cross-engine. */
  private def t02(s: SparkSession, d: String): DataFrame = {
    val allStops = langs.flatMap(stopwords).distinct
    Tables.df(s, d, "documents")
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("n_tok", expr("size(regexp_extract_all(lower(text), '[a-z]+', 0))"))
      .withColumn("n_punct", expr("size(regexp_extract_all(text, '[.,;:!?]', 0))"))
      .withColumn("n_stop", expr(
        s"size(filter(regexp_extract_all(lower(text), '[a-z]+', 0), " +
          s"x -> array_contains(array(${sqlList(allStops)}), x)))"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tok"))
      .withColumn("punct_ratio", col("n_punct") / col("n_chars_m"))
      .withColumn("quality_score",
        col("stop_ratio") * 0.5 + col("punct_ratio") * 0.2
          + (col("n_tok") / col("n_chars_m")) * 0.3)
      .select("doc_id", "n_chars_m", "n_tok", "n_punct", "n_stop",
        "stop_ratio", "punct_ratio", "quality_score")
      .orderBy("doc_id")
  }

  private val t02Oracle: String = {
    val allStops = langs.flatMap(stopwords).distinct
    s"""WITH c AS (
       |  SELECT doc_id,
       |    length(text) AS n_chars_m,
       |    len(regexp_extract_all(lower(text), '[a-z]+')) AS n_tok,
       |    len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       |    len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
       |        x -> list_contains([${sqlList(allStops)}], x))) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_chars_m, n_tok, n_punct, n_stop,
       |  n_stop / n_tok AS stop_ratio,
       |  n_punct / n_chars_m AS punct_ratio,
       |  (n_stop / n_tok) * 0.5 + (n_punct / n_chars_m) * 0.2
       |    + (n_tok / n_chars_m) * 0.3 AS quality_score
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** t03 — token counting: whitespace tokens and a BPE-ish regex
    * (word pieces + individual punctuation marks). */
  private def t03(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents")
      .select(
        col("doc_id"),
        expr("size(regexp_extract_all(text, '\\\\S+', 0))").as("n_ws_tokens"),
        expr("size(regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0))").as("n_bpe_tokens"),
        length(col("text")).as("n_chars_m"))
      .orderBy("doc_id")

  private val t03Oracle: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
      |  length(text) AS n_chars_m
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t04 — document fingerprinting, ORACLE-CHECKED since r13: rolling
    * polynomial hash over ENGINE-NEUTRAL token hashes (base-31 byte
    * polynomial mod 1e9+7 — modular, not wrap-around: ANSI mode is on
    * and long overflow would throw), plus a winnowed min-hash over
    * 8-token windows (robust to local edits). The byte polynomial
    * replaced the r1 XXH64 token hash, which was Spark-private and
    * kept the whole column rows-only; DuckDB now replays token hash,
    * document fold and window minimum exactly. Golden values pinned in
    * PipelineSpec. */
  private def t04(s: SparkSession, d: String): DataFrame =
    fingerprint(Tables.df(s, d, "documents"))

  /** DuckDB replay of the full fingerprint pipeline (hash-checked
    * since r13): the token hash is a base-31 byte polynomial mod P —
    * engine-neutral, so list_reduce recomputes every token hash, the
    * document fold, and the winnowed 8-token window minimum exactly.
    * Same comprehension/slicing idioms the d02 oracle established. */
  private val t04Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |hm AS (
      |  SELECT doc_id, list_transform(t, s ->
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(s) + 1),
      |          i -> CAST(unicode(s[i]) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
      |  FROM toks),
      |f AS (
      |  SELECT doc_id, hs,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
      |      (acc, h) -> (acc * 31 + h) % 1000000007) AS fp64
      |  FROM hm)
      |SELECT doc_id, fp64,
      |  CASE WHEN len(hs) >= 8 THEN
      |    list_min([list_reduce(list_prepend(CAST(0 AS BIGINT), hs[x+1:x+8]),
      |      (acc, h) -> (acc * 31 + h) % 1000000007) for x in range(len(hs) - 7)])
      |  ELSE fp64 END AS win_fp
      |FROM f ORDER BY doc_id""".stripMargin

  /** Factored on a docs DataFrame so the spec can pin golden values for
    * constructed texts, not just determinism on the corpus. The rolling
    * math runs in the native `fingerprint64` expression — the HOF
    * formulation it replaces (nested aggregate-inside-transform) ran
    * interpreted and dominated t04's bench time. */
  private[graft] def fingerprint(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("fp", expr(
        "fingerprint64(regexp_extract_all(lower(text), '[a-z]+', 0))"))
      .select(col("doc_id"), col("fp.fp64").as("fp64"), col("fp.win_fp").as("win_fp"))
      .orderBy("doc_id")
  }

  /** t05 — PII redaction: count and strip emails / phone numbers /
    * IPv4 addresses (the regex subset shared by Java and RE2, so the
    * DuckDB oracle runs the identical patterns). This corpus contains
    * no PII, so the oracle pins the all-zero profile; the redaction
    * semantics are pinned on injected text in PipelineSpec. */
  private[graft] def redactPii(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("clean", expr(
        """regexp_replace(regexp_replace(regexp_replace(text,
          |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]'),
          |  '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PHONE]'),
          |  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]')""".stripMargin))
      .select(
        col("doc_id"),
        expr("size(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', 0))").as("n_emails"),
        expr("size(regexp_extract_all(text, '\\\\b\\\\d{3}[-. ]\\\\d{3}[-. ]\\\\d{4}\\\\b', 0))").as("n_phones"),
        expr("size(regexp_extract_all(text, '\\\\b\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\b', 0))").as("n_ips"),
        length(col("clean")).as("clean_len"),
        col("clean"))
      .orderBy("doc_id")

  private def t05(s: SparkSession, d: String): DataFrame =
    redactPii(Tables.df(s, d, "documents")).drop("clean")

  private val t05Oracle: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phones,
      |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
      |  length(regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS clean_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t06 — corpus bigram frequencies (contamination screens and n-gram
    * LM features start here): explode token bigrams, count, keep the
    * deterministic top 50. Partial aggregation collapses each
    * partition's bigrams before the shuffle; the final top-N is a
    * TakeOrdered, never a global sort. */
  private def t06(s: SparkSession, d: String): DataFrame = {
    Tables.df(s, d, "documents")
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("toks")) >= 2)
      // native bigrams: one linear pass, no interpreted lambda per window
      .select(explode(expr("bigrams(toks)")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  private val t06Oracle: String =
    """WITH toks AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |bg AS (
      |  SELECT unnest([t[i+1] || ' ' || t[i+2] for i in range(len(t) - 1)]) AS bigram
      |  FROM toks WHERE len(t) >= 2)
      |SELECT bigram, COUNT(*) AS n FROM bg
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin

  /** t07 — repetition / boilerplate signals (the Gopher-style filters
    * a pretraining pipeline thresholds on): duplicate-token fraction,
    * most-frequent-token share, mean word length. All per-row array
    * math over the token list — narrow, no shuffle, and the divisions
    * are integer-exact doubles so the oracle matches bit-for-bit. */
  private def t07(s: SparkSession, d: String): DataFrame = {
    Tables.df(s, d, "documents")
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("toks")) >= 1)
      // one-pass native stats: the HOF formulation pays O(distinct*n)
      // interpreted lambda dispatches per document
      .withColumn("st", expr("token_stats(toks)"))
      .select(
        col("doc_id"),
        col("st.n_tok").as("n_tok"),
        col("st.n_uniq").as("n_uniq"),
        col("st.top_n").as("top_n"),
        col("st.n_letters").as("n_letters"))
      .withColumn("dup_frac", lit(1.0) - col("n_uniq") / col("n_tok"))
      .withColumn("top_share", col("top_n") / col("n_tok"))
      .withColumn("mean_word_len", col("n_letters") / col("n_tok"))
      .select("doc_id", "n_tok", "n_uniq", "dup_frac", "top_share", "mean_word_len")
      .orderBy("doc_id")
  }

  private val t07Oracle: String =
    """WITH c AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents)
      |SELECT doc_id,
      |  len(t) AS n_tok,
      |  len(list_distinct(t)) AS n_uniq,
      |  1.0 - len(list_distinct(t)) / len(t) AS dup_frac,
      |  list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x)))) / len(t) AS top_share,
      |  list_sum(list_transform(t, x -> length(x))) / len(t) AS mean_word_len
      |FROM c WHERE len(t) >= 1 ORDER BY doc_id""".stripMargin

  /** t08 — token-distribution entropy (a repetition/diversity signal
    * complementary to t07's ratios: boilerplate has low entropy even at
    * a high unique-token count). One narrow pass via the native
    * `token_entropy` expression — no explode, no per-doc aggregation
    * shuffle; rounded to 6 decimals so double summation order across
    * engines cannot surface. */
  private def t08(s: SparkSession, d: String): DataFrame = {
    Tables.df(s, d, "documents")
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("toks")) >= 1)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tok"),
        round(expr("token_entropy(toks)"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  private val t08Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
      |  FROM documents),
      |cnt AS (
      |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS c
      |  FROM tok GROUP BY doc_id, t),
      |agg AS (
      |  SELECT doc_id, SUM(c * ln(c)) AS s, CAST(SUM(c) AS BIGINT) AS n
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS INT) AS n_tok,
      |  round(ln(CAST(n AS DOUBLE)) - s / n, 6) AS entropy
      |FROM agg ORDER BY doc_id""".stripMargin

  /** t09 — text normalization (the canonicalization step ahead of
    * exact dedup: lowercase, strip non-alphanumerics, collapse runs of
    * whitespace) plus the sha256 of the canonical form — the dedup key
    * d01 would group on in a normalized pipeline. Regexes stay in the
    * Java∩RE2 common subset (t05's rule); everything is a codegen'd
    * projection, no shuffle. */
  private def t09(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.df(s, d, "documents")
      .select(
        col("doc_id"),
        size(split(norm, " ")).cast("long").as("n_tok"),
        substring(sha2(norm, 256), 1, 16).as("norm_hash"))
      .orderBy("doc_id")
  }

  private val t09Oracle: String =
    """WITH n AS (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tok,
      |  substr(sha256(norm), 1, 16) AS norm_hash
      |FROM n ORDER BY doc_id""".stripMargin

  /** t10 — pattern-term extraction (the grep-shaped corpus question:
    * which taxonomy terms appear, how often, in how many documents):
    * regexp_extract_all pulls every taxonomy match, a Generate explodes
    * them, and one partial+final aggregation counts occurrences and
    * document reach. The regex stays in the Java∩RE2 subset (t05's
    * rule) so the oracle runs the identical pattern; COUNT(DISTINCT
    * doc_id) is exact here, and at 100 TB the same query swaps in
    * q34's approx_count_distinct. */
  private def t10(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents")
      .select(col("doc_id"),
        explode(expr(
          "regexp_extract_all(lower(text), '(join|merge|sort|scan|filter|hash)', 0)"))
          .as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("term")

  private val t10Oracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '(join|merge|sort|scan|filter|hash)')) AS term
      |  FROM documents)
      |SELECT term, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      |FROM m GROUP BY term ORDER BY term""".stripMargin

  /** t11 — corpus-LM fluency scoring (the integer-exact core of a
    * perplexity filter): score each document by how common its bigrams
    * are in the corpus — mean corpus frequency plus the count of rare
    * bigrams (df ≤ 2), the signal that flags machine-garbled or
    * boilerplate-stitched text. Two aggregations over one exploded
    * bigram relation: the corpus LM table (bigram → count) and the
    * per-doc rollup after a join back. Everything is integer
    * arithmetic — no log-prob float folds — so the oracle matches
    * bit-for-bit; at 100 TB the LM join shuffles on the bigram key with
    * partial aggregation on both sides (the LM table itself is the
    * corpus-wide aggregate a real pipeline materializes once). */
  private def t11(s: SparkSession, d: String): DataFrame = {
    val docBg = Tables.df(s, d, "documents")
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr("bigrams(toks)")).as("bigram"))
    val lm = docBg.groupBy("bigram").agg(count(lit(1)).as("c"))
    docBg.join(lm, "bigram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bg"),
        sum(col("c")).as("freq_sum"),
        count_if(col("c") <= 2).as("n_rare"))
      .select(
        col("doc_id"), col("n_bg"), col("freq_sum"),
        round(col("freq_sum").cast("double") / col("n_bg"), 6).as("mean_freq"),
        col("n_rare"))
      .orderBy("doc_id")
  }

  private val t11Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest([t[i+1] || ' ' || t[i+2] for i in range(len(t) - 1)]) AS bigram
      |  FROM toks WHERE len(t) >= 2),
      |lm AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram)
      |SELECT doc_id,
      |  COUNT(*) AS n_bg,
      |  CAST(SUM(c) AS BIGINT) AS freq_sum,
      |  round(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS mean_freq,
      |  COUNT(*) FILTER (WHERE c <= 2) AS n_rare
      |FROM bg JOIN lm USING (bigram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t12 — vocabulary growth stats per language: type count, type/token
    * ratio, and hapax-legomenon fraction (tokens seen exactly once) —
    * the corpus-QC dashboard numbers a data pipeline watches for
    * boilerplate floods (TTR collapses) and OCR noise (hapax share
    * explodes). One explode + two two-phase aggregations; the
    * intermediate (lang, token) vocabulary is bounded by corpus
    * vocabulary, not corpus size, so the shape holds at 100 TB. */
  private def t12(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents")
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("lang")
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 6).as("hapax_frac"))
      .orderBy("lang")

  private val t12Oracle: String =
    """WITH toks AS (
      |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      |  FROM documents),
      |voc AS (SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY lang, tok)
      |SELECT lang,
      |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  round(COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS ttr,
      |  round(CAST(COUNT(*) FILTER (WHERE cnt = 1) AS DOUBLE) / COUNT(*), 6) AS hapax_frac
      |FROM voc GROUP BY lang ORDER BY lang""".stripMargin

  /** t13 — Zipf fit of the token rank-frequency curve: least-squares
    * slope/intercept of ln(freq) against ln(rank) over the top-100
    * tokens — the one-number distributional health check next to t12's
    * TTR (a natural corpus fits slope ≈ −1; template/boilerplate floods
    * flatten it, OCR noise steepens the tail). The corpus-sized work is
    * the token count (partial+final agg + TakeOrdered top-100); ranking
    * and the regr_slope/regr_intercept aggregate run on 100 rows. The
    * single-partition row_number window is over those 100 rows only —
    * not a global-sort anti-pattern. */
  private def t13(s: SparkSession, d: String): DataFrame = {
    val top = Tables.df(s, d, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(100)
    top
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("f").desc, col("tok"))))
      .agg(
        count(lit(1)).as("n_top"),
        round(expr("regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 6)
          .as("zipf_slope"),
        round(expr("regr_intercept(ln(CAST(f AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 6)
          .as("zipf_intercept"))
  }

  private val t13Oracle: String =
    """WITH freqs AS (
      |  SELECT tok, COUNT(*) AS f FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      |    FROM documents)
      |  GROUP BY tok ORDER BY f DESC, tok LIMIT 100),
      |ranked AS (
      |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rank FROM freqs)
      |SELECT COUNT(*) AS n_top,
      |  round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
      |  round(regr_intercept(ln(CAST(f AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS zipf_intercept
      |FROM ranked""".stripMargin

  /** t14 — fused one-scan document profile: the t02 quality ratios,
    * t03's whitespace token count, and t08's token entropy computed in
    * ONE projection over ONE scan of the corpus. At 100 TB the QC
    * pass IS a dominant cost, and running each signal as its own query
    * re-reads the corpus per signal; here every expression (including
    * the native token_entropy) shares the tokenize work inside a
    * single whole-stage-codegen span — the scan count stays 1 no
    * matter how many signals ride along. Each signal's formula is
    * byte-identical to its standalone operator's, and the oracle
    * composes the standalone oracles. */
  private def t14(s: SparkSession, d: String): DataFrame = {
    val allStops = langs.flatMap(stopwords).distinct
    Tables.df(s, d, "documents")
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_stop", expr(
        s"size(filter(toks, x -> array_contains(array(${sqlList(allStops)}), x)))"))
      .select(
        col("doc_id"), col("n_chars_m"), col("n_tok"),
        expr("size(regexp_extract_all(text, '\\\\S+', 0))").as("n_ws_tokens"),
        (col("n_stop") / col("n_tok")).as("stop_ratio"),
        ((col("n_stop") / col("n_tok")) * 0.5
          + (expr("size(regexp_extract_all(text, '[.,;:!?]', 0))") / col("n_chars_m")) * 0.2
          + (col("n_tok") / col("n_chars_m")) * 0.3).as("quality_score"),
        when(size(col("toks")) >= 1, round(expr("token_entropy(toks)"), 6)).as("entropy"))
      .orderBy("doc_id")
  }

  private val t14Oracle: String = {
    val allStops = langs.flatMap(stopwords).distinct
    s"""WITH c AS (
       |  SELECT doc_id,
       |    length(text) AS n_chars_m,
       |    len(regexp_extract_all(lower(text), '[a-z]+')) AS n_tok,
       |    len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       |    len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       |    len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
       |        x -> list_contains([${sqlList(allStops)}], x))) AS n_stop
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS cc
       |  FROM tok GROUP BY doc_id, t),
       |ent AS (
       |  SELECT doc_id, round(ln(CAST(SUM(cc) AS DOUBLE)) - SUM(cc * ln(cc)) / SUM(cc), 6) AS entropy
       |  FROM cnt GROUP BY doc_id)
       |SELECT c.doc_id, n_chars_m, n_tok, n_ws_tokens,
       |  n_stop / n_tok AS stop_ratio,
       |  (n_stop / n_tok) * 0.5 + (n_punct / n_chars_m) * 0.2
       |    + (n_tok / n_chars_m) * 0.3 AS quality_score,
       |  ent.entropy AS entropy
       |FROM c LEFT JOIN ent ON c.doc_id = ent.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  /** t15 — language-ID confusion matrix: t01's heuristic predictions
    * rolled up against the labeled `lang` column — the evaluation
    * query any classifier-in-the-pipeline ships with (precision per
    * language falls out of the matrix). Same one-scan scoring
    * projection as t01 (shared langScored), then a |langs|²-bounded
    * partial+final aggregate. */
  private def t15(s: SparkSession, d: String): DataFrame =
    langScored(Tables.df(s, d, "documents"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")

  private val t15Oracle: String = {
    val scoreCols = langs.map { l =>
      s"len(list_intersect(regexp_extract_all(lower(text), '[a-z]+'), [${sqlList(stopwords(l))}])) AS s_$l"
    }.mkString(",\n  ")
    val caseArms = langs.init.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT lang,
       |  $scoreCols
       |  FROM documents)
       |SELECT lang, CASE $caseArms ELSE '${langs.last}' END AS pred,
       |  COUNT(*) AS n
       |FROM scored GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
  }

  /** t16 — readability scoring (Flesch-reading-ease shape): words =
    * non-space runs, sentences = [.!?]+ runs floored at 1, syllables ≈
    * vowel-group count ([aeiouy]+ runs, the standard cheap proxy).
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * identical literal arithmetic both engines, rounded. Zero-word
    * docs score NULL via an explicit guard (double 0/0 semantics
    * differ across engines — never rely on them). One codegen'd
    * projection pass — three regex counters, no shuffle except the
    * final sort. */
  private def t16(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents")
      .select(col("doc_id"),
        expr("size(regexp_extract_all(text, '\\\\S+', 0))").cast("double").as("words"),
        greatest(expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("double"),
          lit(1.0)).as("sentences"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))").cast("double").as("syllables"))
      .select(col("doc_id"), col("words").cast("long").as("n_words"),
        col("sentences").cast("long").as("n_sentences"),
        col("syllables").cast("long").as("n_syllables"),
        when(col("words") > 0,
          round(lit(206.835) - lit(1.015) * (col("words") / col("sentences")) -
            lit(84.6) * (col("syllables") / col("words")), 4)).as("flesch"))
      .orderBy("doc_id")

  private val t16Oracle: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS words,
      |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS DOUBLE), 1.0) AS sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS syllables
      |  FROM documents)
      |SELECT doc_id, CAST(words AS BIGINT) AS n_words,
      |  CAST(sentences AS BIGINT) AS n_sentences,
      |  CAST(syllables AS BIGINT) AS n_syllables,
      |  CASE WHEN words > 0 THEN
      |    round(206.835 - 1.015 * (words / sentences)
      |          - 84.6 * (syllables / words), 4)
      |  END AS flesch
      |FROM f ORDER BY doc_id""".stripMargin

  /** t17 — blocklist / safety filtering: count word-boundary matches
    * of a term list per doc and emit keep/flag verdicts — the safety
    * screen every training corpus passes through. The list compiles to
    * ONE alternation regex (\b(a|b|…)\b — in the Java∩RE2∩DuckDB
    * subset), applied in a single codegen'd pass; at production list
    * sizes the same shape holds via Aho-Corasick in a native
    * expression, and the per-term breakdown here (a small explode over
    * matches) stays bounded by matches, not terms × docs. */
  private def t17(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("que", "der", "wo", "la") // stand-in list: corpus-present tokens
    val rx = terms.mkString("\\\\b(", "|", ")\\\\b")
    Tables.df(s, d, "documents")
      .select(col("doc_id"),
        expr(s"size(regexp_extract_all(lower(text), '$rx', 0))").as("n_hits"),
        expr(s"array_distinct(regexp_extract_all(lower(text), '$rx', 1))").as("terms_hit"))
      .select(col("doc_id"), col("n_hits"),
        array_join(array_sort(col("terms_hit")), ",").as("terms_hit"),
        when(col("n_hits") === 0, lit("keep"))
          .when(col("n_hits") <= 2, lit("review"))
          .otherwise(lit("block")).as("verdict"))
      .orderBy("doc_id")
  }

  private val t17Oracle: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(lower(text), '\b(que|der|wo|la)\b')) AS n_hits,
      |  COALESCE(array_to_string(list_sort(list_distinct(
      |    regexp_extract_all(lower(text), '\b(que|der|wo|la)\b', 1))), ','), '')
      |    AS terms_hit,
      |  CASE WHEN len(regexp_extract_all(lower(text), '\b(que|der|wo|la)\b')) = 0 THEN 'keep'
      |       WHEN len(regexp_extract_all(lower(text), '\b(que|der|wo|la)\b')) <= 2 THEN 'review'
      |       ELSE 'block' END AS verdict
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** t18 — sentence segmentation + per-sentence statistics: split on
    * terminator runs, drop whitespace-only segments EXPLICITLY (split
    * engines disagree about trailing empties — never rely on their
    * defaults), report count / mean length / longest per doc. Mean is
    * a single division of exact integers (sum of lengths, count), so
    * it is engine-identical; one codegen'd pass, no explode — the
    * per-sentence rows never materialize, the higher-order aggregate
    * folds them in place. */
  private def t18(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents")
      .withColumn("sents", expr(
        "filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> length(x) > 0)"))
      .select(col("doc_id"),
        size(col("sents")).as("n_sents"),
        expr("aggregate(sents, 0L, (a, x) -> a + length(x))").as("total_len"),
        expr("aggregate(sents, 0, (a, x) -> greatest(a, length(x)))").as("longest"))
      .withColumn("mean_len",
        when(col("n_sents") > 0,
          round(col("total_len").cast("double") / col("n_sents"), 4)))
      .orderBy("doc_id")

  private val t18Oracle: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(string_split_regex(text, '[.!?]+'),
      |      x -> trim(x)), x -> length(x) > 0) AS sents
      |  FROM documents)
      |SELECT doc_id,
      |  len(sents) AS n_sents,
      |  CAST(list_reduce(list_prepend(0, list_transform(sents, x -> length(x))),
      |    (a, x) -> a + x) AS BIGINT) AS total_len,
      |  CAST(list_reduce(list_prepend(0, list_transform(sents, x -> length(x))),
      |    (a, x) -> greatest(a, x)) AS INT) AS longest,
      |  CASE WHEN len(sents) > 0 THEN
      |    round(CAST(list_reduce(list_prepend(0, list_transform(sents, x -> length(x))),
      |      (a, x) -> a + x) AS DOUBLE) / len(sents), 4)
      |  END AS mean_len
      |FROM f ORDER BY doc_id""".stripMargin

  /** t19 — n-gram novelty scoring: the share of each doc's distinct
    * 3-token shingles that appear in NO other document. The
    * memorization-risk / dedup-health metric pretraining curation
    * tracks per source: a corpus whose novel-shingle ratio collapses is
    * one big template. Complements t07 (WITHIN-doc repetition) and d02
    * (pairwise overlap) with the corpus-global view. Plan: one shingle
    * scan (d02's exact tokenization, so the numbers reconcile across
    * the three operators), a partial+final doc-frequency aggregate on
    * the shingle key, and a join back on that same key — co-partitioned
    * by the aggregate's own shuffle, so the fact-side moves once. The
    * df table is |distinct shingles| rows: the standard n-gram-table
    * scale posture (hash the shingle key at 100 TB, d14's documented
    * move). */
  private def t19(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingleIndex(Tables.df(s, d, "documents"))
    // shingleIndex emits DISTINCT (doc_id, shingle) pairs (array_distinct
    // before the explode), so plain count == distinct-doc count — and
    // count(1) partial-aggregates in one phase where countDistinct
    // plans a second Expand+shuffle round.
    //
    // r18 (opt, guide §2.4): a novel shingle has df = 1, and a df = 1
    // group consists of exactly ONE (doc, shingle) row — so min(doc_id)
    // of the group IS the owning document, and the per-doc novel count
    // falls out of the df aggregation itself. The old plan joined the
    // raw shingle fact BACK onto the df table (one more full exchange
    // of the fact by shingle + a sort-merge join); this one never
    // shuffles the fact again: per-doc totals partial-aggregate
    // map-side, per-doc novel counts come off the (tiny) df=1 slice,
    // and the final join is |docs|-sized on both sides.
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val novel = sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .where(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novel_ratio", round(col("n_novel") / col("n_sh"), 6))
      .orderBy("doc_id")
  }

  private val t19Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ') for i in range(len(t) - 2)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |df AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY shingle)
      |SELECT doc_id, COUNT(*) AS n_sh,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) / COUNT(*), 6) AS novel_ratio
      |FROM sh JOIN df USING (shingle)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t20 — per-document TF-IDF top terms: the classic keyword surface
    * over the shared `[a-z]+` tokenizer (t03/t19's, so term counts
    * reconcile). tf from one (doc, term) aggregate; df as a second
    * partial+final aggregate over THAT result (vocabulary-sized, not
    * corpus-sized); the corpus doc count joins in as a broadcast
    * 1-row scalar — no driver-side count action. Score is
    * tf·ln((N+1)/(df+1)) rounded to 6; ranking runs on the ROUNDED
    * score + term so both engines order identically (ln differs in the
    * last ulp across libm implementations — never rank on a raw
    * transcendental). Top-3 per doc via per-doc row_number — partition
    * key is doc_id (unbounded cardinality, bounded per-key vocab), the
    * scale-safe window direction. At 100 TB the tf→df join on the term
    * key is the skew point (stopwords); AQE skew-split handles it, and
    * the plan keeps both sides partial-aggregated before the shuffle. */
  private def t20(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.df(s, d, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfT, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .select("doc_id", "rnk", "term", "tf", "df", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  private val t20Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
      |    round(tf.tf * ln((n.n_docs + 1.0) / (dft.df + 1.0)), 6) AS tfidf
      |  FROM tf JOIN dft USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
      |  FROM sc)
      |SELECT doc_id, rnk, term, tf, df, tfidf
      |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** t21 — distinctive vocabulary per source (corpus keyness): the
    * top-5 terms most over-represented in each source vs the whole
    * corpus, lift = (tf_src/T_src)/(tf_corpus/T_corpus), min support
    * 5. The domain-signature QC every mixture pipeline runs — it
    * answers "what is IN this source" before p11 assigns it a weight.
    * All counts are integer-exact; lift is one product-and-divide of
    * exactly-representable integers (<2^53), so both engines produce
    * the identical double and ranking on it is deterministic (term asc
    * breaks ties). The top-5 cut is the WindowGroupLimit shape: each
    * partition pre-filters to its local top-5 before the per-source
    * window, so the vocabulary-sized relation is never sorted whole
    * per source. */
  private def t21(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.df(s, d, "documents")
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
    val a = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val tSrc = a.groupBy("source").agg(sum("tf").as("t_src"))
    val cTf = a.groupBy("term").agg(sum("tf").as("corpus_tf"))
    val tAll = a.agg(sum("tf").as("t_all"))
    val w = Window.partitionBy("source")
      .orderBy(col("lift").desc, col("term").asc)
    a.join(cTf, "term").join(broadcast(tSrc), "source").crossJoin(broadcast(tAll))
      .where(col("tf") >= 5)
      .withColumn("lift",
        (col("tf").cast("double") * col("t_all")) /
          (col("t_src").cast("double") * col("corpus_tf")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("term"), col("tf"),
        col("corpus_tf"), round(col("lift"), 6).as("lift"))
      .orderBy("source", "rnk")
  }

  private val t21Oracle: String =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      |  FROM documents),
      |a AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |srct AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS t_src FROM a GROUP BY 1),
      |ct AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS corpus_tf FROM a GROUP BY 1),
      |allt AS (SELECT CAST(SUM(tf) AS BIGINT) AS t_all FROM a),
      |sc AS (
      |  SELECT a.source, a.term, a.tf, ct.corpus_tf,
      |    (CAST(a.tf AS DOUBLE) * allt.t_all)
      |      / (CAST(srct.t_src AS DOUBLE) * ct.corpus_tf) AS lift
      |  FROM a JOIN ct USING (term) JOIN srct USING (source) CROSS JOIN allt
      |  WHERE a.tf >= 5),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY source ORDER BY lift DESC, term ASC) AS rnk
      |  FROM sc)
      |SELECT source, rnk, term, tf, corpus_tf, round(lift, 6) AS lift
      |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin

  /** Duplicate n-gram occurrence fractions per doc (n = 2, 5): the
    * share of a doc's n-gram OCCURRENCES that are repeats of an n-gram
    * already seen in the SAME doc — the published within-doc
    * repetition-filter family (dup-bigram fraction catches "a b a b a
    * b" loops; dup-5-gram fraction catches copied paragraphs), sitting
    * between t07's token-level dup fraction (n = 1) and d02's
    * cross-doc shingle overlap. Factored off the `documents` loader so
    * PipelineSpec pins hand-derived goldens on constructed texts.
    *
    * Scale shape: the whole profile is PER-ROW computable, so it is
    * one narrow scan with the native `ngram_dup_stats` expression —
    * one linear pass interning tokens and counting both gram sizes,
    * NO Generate, NO shuffle (the first formulation exploded both
    * gram sizes and aggregated twice: 2.2 s → this at sf0.1; the
    * token_stats round-1 lesson applied again). Docs with no 2-gram
    * (< 2 tokens) drop out, mirroring the explode semantics the
    * DuckDB oracle states. The fraction is one divide of exact
    * integers (< 2^53) rounded to 6 places, so both engines produce
    * the identical double (the t21 lift discipline).
    */
  private[graft] def dupNgramProfile(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("st",
        expr("ngram_dup_stats(regexp_extract_all(lower(text), '[a-z]+', 0))"))
      .where(col("st.grams2") > 0)
      .select(col("doc_id"), col("st.grams2").as("grams2"),
        round(col("st.dup2").cast("double") /
          when(col("st.grams2") > 0, col("st.grams2")), 6).as("dup2_frac"),
        col("st.grams5").as("grams5"),
        round(col("st.dup5").cast("double") /
          when(col("st.grams5") > 0, col("st.grams5")), 6).as("dup5_frac"))
  }

  private def t22(s: SparkSession, d: String): DataFrame =
    dupNgramProfile(Tables.df(s, d, "documents")).orderBy("doc_id")

  private val t22Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, 2 AS n, t[i] || ' ' || t[i+1] AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  UNION ALL
      |  SELECT doc_id, 5 AS n,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
      |c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
      |p AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN n = 2 THEN cnt ELSE 0 END) AS BIGINT) AS grams2,
      |  CAST(SUM(CASE WHEN n = 2 AND cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup2,
      |  CAST(SUM(CASE WHEN n = 5 THEN cnt ELSE 0 END) AS BIGINT) AS grams5,
      |  CAST(SUM(CASE WHEN n = 5 AND cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup5
      |  FROM c GROUP BY 1)
      |SELECT doc_id, grams2,
      |  round(CAST(dup2 AS DOUBLE) / nullif(grams2, 0), 6) AS dup2_frac,
      |  grams5,
      |  round(CAST(dup5 AS DOUBLE) / nullif(grams5, 0), 6) AS dup5_frac
      |FROM p ORDER BY doc_id""".stripMargin

  /** t23 — collocation strength: which word pairs co-occur far more
    * than their unigram frequencies predict (the PMI family — "new
    * york" vs "the the"). Scored as the LIFT
    * P(ab) / (P(a)·P(b)) — PMI is ln(lift), monotone, so ranking on
    * lift avoids putting libm's ln in the compare path; the t21/t20
    * discipline: integer-exact counts, a fixed-association chain of
    * IEEE divides/multiplies both engines evaluate identically,
    * ranking on the ROUNDED score. Support floor c_ab ≥ 20 (PMI is
    * notoriously garbage on rare pairs). One bigram aggregate + one
    * vocabulary aggregate; the two denominator joins are word-keyed
    * (vocabulary-bounded, never corpus-bounded) and the totals are
    * 1-row broadcasts. */
  private def t23(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.df(s, d, "documents")
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
    val uc = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ut = uc.agg(sum(col("c")).as("u_tot"))
    val bgAll = toks.where(size(col("toks")) >= 2)
      .select(explode(expr("bigrams(toks)")).as("bigram"))
    val bt = bgAll.agg(count(lit(1)).as("t_tot"))
    bgAll
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= 20)
      .join(uc.select(col("w"), col("c").as("c_a")),
        expr("split_part(bigram, ' ', 1)") === col("w")).drop("w")
      .join(uc.select(col("w"), col("c").as("c_b")),
        expr("split_part(bigram, ' ', 2)") === col("w")).drop("w")
      .crossJoin(broadcast(bt)).crossJoin(broadcast(ut))
      .withColumn("lift", round(
        (col("c_ab").cast("double") / col("t_tot")) *
          (col("u_tot").cast("double") / col("c_a")) *
          (col("u_tot").cast("double") / col("c_b")), 6))
      .select("bigram", "c_ab", "lift")
      .orderBy(col("lift").desc, col("bigram"))
      .limit(30)
  }

  private val t23Oracle: String =
    """WITH toks AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |uc AS (
      |  SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks)
      |  GROUP BY w),
      |ut AS (SELECT CAST(SUM(c) AS BIGINT) AS u_tot FROM uc),
      |bg AS (
      |  SELECT unnest([t[i+1] || ' ' || t[i+2] for i in range(len(t) - 1)]) AS bigram
      |  FROM toks WHERE len(t) >= 2),
      |bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_tot FROM bg),
      |bc AS (SELECT bigram, COUNT(*) AS c_ab FROM bg
      |       GROUP BY bigram HAVING COUNT(*) >= 20)
      |SELECT bigram, c_ab,
      |  round((CAST(c_ab AS DOUBLE) / bt.t_tot)
      |    * (CAST(ut.u_tot AS DOUBLE) / uc_a.c)
      |    * (CAST(ut.u_tot AS DOUBLE) / uc_b.c), 6) AS lift
      |FROM bc
      |CROSS JOIN bt CROSS JOIN ut
      |JOIN uc uc_a ON uc_a.w = split_part(bigram, ' ', 1)
      |JOIN uc uc_b ON uc_b.w = split_part(bigram, ' ', 2)
      |ORDER BY lift DESC, bigram LIMIT 30""".stripMargin

  /** t24 — CROSS-document duplicated n-gram coverage: per document,
    * the fraction of its 5-gram positions whose 5-gram also occurs in
    * at least one OTHER document — the corpus-global exact-substring
    * duplication signal (the published training-data dedup family's
    * "what share of this doc is copied text" metric, at 5-gram
    * granularity; t22 measures repetition WITHIN a doc, this measures
    * it ACROSS the corpus — a doc can be internally clean and still be
    * 100% boilerplate). Plan: one Generate materializes positional
    * 5-grams (cross-doc comparison inherently needs grams out of the
    * doc, exactly like d02's shingles), collapsed to per-(doc, gram)
    * occurrence counts map-side; the doc-reach aggregate is
    * vocabulary-sized, and the join back is gram-keyed — never a doc
    * × doc comparison. At 100 TB the gram frame is the dominant
    * shuffle and is why production systems hash grams first (d02's
    * native shingle_hashes path); here grams stay as STRINGS so the
    * DuckDB oracle can rebuild them verbatim — agreement then also
    * covers the tokenizer and window arithmetic. */
  private def t24(s: SparkSession, d: String): DataFrame = {
    // r18 (opt, wave 3 — guide §2.5): hash-spread the one-task testdata
    // scan on doc_id so the tokenize+explode parallelizes (identity at
    // any multi-split layout); all aggregates are exact counts.
    val toks = Tables.spread(Tables.df(s, d, "documents"), col("doc_id"))
      .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("tk")) >= 5)
    val perDoc = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tk) - 5), i -> concat_ws(' ', slice(tk, i + 1, 5)))"))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("occ"))
    // r18 (opt, guide §2.4): dup_pos = n_pos − (positions of grams seen
    // in exactly ONE doc), and an nd = 1 gram group is a single perDoc
    // row whose min(doc_id) IS the owner and whose sum(occ) IS that
    // doc's occurrence count. The old plan joined perDoc BACK onto the
    // per-gram reach table (a second full exchange of perDoc by g plus
    // the join); this one re-uses perDoc's exchange for both branches
    // (ReuseExchange: identical subtree) and never re-shuffles the
    // fact — the final join is |docs|-sized on both sides.
    val nPos = perDoc.groupBy("doc_id").agg(sum(col("occ")).as("n_pos"))
    val uniq = perDoc.groupBy("g")
      .agg(count(lit(1)).as("nd"), sum(col("occ")).as("tocc"),
        min(col("doc_id")).as("doc_id"))
      .where(col("nd") === 1)
      .groupBy("doc_id").agg(sum(col("tocc")).as("uniq_pos"))
    nPos.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"),
        (col("n_pos") - coalesce(col("uniq_pos"), lit(0L))).as("dup_pos"))
      .withColumn("coverage",
        round(col("dup_pos").cast("double") / col("n_pos"), 6))
      .orderBy(col("coverage").desc, col("doc_id"))
      .limit(25)
  }

  private val t24Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest([array_to_string(tk[i+1:i+5], ' ') for i in range(len(tk) - 4)]) AS g
      |  FROM toks WHERE len(tk) >= 5),
      |pd AS (SELECT doc_id, g, COUNT(*) AS occ FROM grams GROUP BY 1, 2),
      |rc AS (SELECT g, COUNT(*) AS nd FROM pd GROUP BY g)
      |SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_pos,
      |  CAST(SUM(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS BIGINT) AS dup_pos,
      |  round(CAST(SUM(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS DOUBLE)
      |    / SUM(occ), 6) AS coverage
      |FROM pd JOIN rc USING (g)
      |GROUP BY doc_id
      |ORDER BY coverage DESC, doc_id
      |LIMIT 25""".stripMargin

  /** t27 — cross-SOURCE n-gram overlap matrix: pairwise Jaccard
    * between each source's distinct-3-gram SET — the corpus-mixture
    * diligence check (how much of source A is already in source B
    * decides dedup priority and mixture weights; the published
    * training-corpus overlap methodology at 3-gram granularity). Plan:
    * one Generate → distinct (source, gram) — the gram frame collapses
    * to set membership map-side — then a GRAM-KEYED self-join whose
    * per-key expansion is bounded by C(|sources|, 2), never doc×doc or
    * source×source data movement; set sizes broadcast. At 100 TB the
    * distinct gram frame is the dominant shuffle, and |sources|² stays
    * planning-sized. Grams stay strings so the oracle rebuilds them
    * verbatim (the t24 trade). */
  private def t27(s: SparkSession, d: String): DataFrame = {
    // r18 (opt, wave 3 — guide §2.5): spread the one-task scan (t24's
    // reasoning; distinct + counts only).
    val sg = Tables.spread(Tables.df(s, d, "documents"), col("doc_id"))
      .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("tk")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', slice(tk, i + 1, 3)))"))
        .as("g"))
      .distinct()
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sg.alias("a").join(sg.alias("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "sa")
        .withColumnRenamed("n", "na")), "sa")
      .join(broadcast(sizes.withColumnRenamed("source", "sb")
        .withColumnRenamed("n", "nb")), "sb")
      .withColumn("jac",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .select("sa", "sb", "inter", "na", "nb", "jac")
      .orderBy("sa", "sb")
  }

  private val t27Oracle: String =
    """WITH toks AS (
      |  SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS tk
      |  FROM documents),
      |grams0 AS (
      |  SELECT source,
      |    unnest([array_to_string(tk[i+1:i+3], ' ') for i in range(len(tk) - 2)]) AS g
      |  FROM toks WHERE len(tk) >= 3),
      |grams AS (SELECT DISTINCT source, g FROM grams0),
      |sz AS (SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
      |pr AS (
      |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS inter
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa, sb, inter, za.n AS na, zb.n AS nb,
      |  round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jac
      |FROM pr JOIN sz za ON za.source = pr.sa
      |JOIN sz zb ON zb.source = pr.sb
      |ORDER BY sa, sb""".stripMargin

  // def (was lazy val): the t26 oracle interpolates the per-dataset
  // export path recorded when the query ran.
  def all: Seq[Q] = Seq(
    Q("t01_lang_id", Some(t01Oracle), t01),
    Q("t02_quality", Some(t02Oracle), t02),
    Q("t03_tokens", Some(t03Oracle), t03),
    Q("t04_fingerprint", Some(t04Oracle), t04),
    Q("t05_pii_redact", Some(t05Oracle), t05),
    Q("t06_bigram_freq", Some(t06Oracle), t06),
    Q("t07_repetition", Some(t07Oracle), t07),
    Q("t08_entropy", Some(t08Oracle), t08),
    Q("t09_normalize", Some(t09Oracle), t09),
    Q("t10_term_extract", Some(t10Oracle), t10),
    Q("t11_bigram_score", Some(t11Oracle), t11),
    Q("t12_vocab_stats", Some(t12Oracle), t12),
    Q("t13_zipf_fit", Some(t13Oracle), t13),
    Q("t14_doc_profile", Some(t14Oracle), t14),
    Q("t15_langid_confusion", Some(t15Oracle), t15),
    Q("t16_readability", Some(t16Oracle), t16),
    Q("t17_blocklist", Some(t17Oracle), t17),
    Q("t18_sentences", Some(t18Oracle), t18),
    Q("t19_novelty", Some(t19Oracle), t19),
    Q("t20_tfidf", Some(t20Oracle), t20),
    Q("t21_source_keyness", Some(t21Oracle), t21),
    Q("t22_dup_ngrams", Some(t22Oracle), t22),
    Q("t23_collocations", Some(t23Oracle), t23),
    Q("t24_crossdoc_coverage", Some(t24Oracle), t24),
    Q("t25_gopher_char_fracs", Some(t25Oracle), t25),
    Q("t26_dsir_scores", Some(t26Oracle), t26),
    Q("t27_source_overlap", Some(t27Oracle), t27),
    Q("t28_contamination", Some(t28Oracle), t28),
    Q("t29_lm_perplexity", Some(t29Oracle), t29))

  /** t29 — n-gram LM PERPLEXITY quality filtering (the CCNet recipe
    * every production pretraining pipeline runs: score each document's
    * cross-entropy under a language model trained on a trusted
    * reference, keep what scores fluent): here the LM is a word-BIGRAM
    * model with Laplace smoothing trained on a deterministic reference
    * half (`doc_id % 5 = 0` — the d19 split discipline), and every
    * remaining document gets `ce = -(1/n) Σ ln P(w2|w1)` with
    * `P = (c2 + 1) / (c1 + V)`. Unlike KenLM this LM is EXACT integer
    * count arithmetic, so DuckDB replays the entire pipeline — train,
    * smooth, score, filter — and the hash match proves the whole
    * filter end-to-end (the reference's quality-scoring surface has
    * nothing comparable). Scale posture: the count tables are
    * data-sized and joined BIGRAM-KEYED with no broadcast hint (AQE
    * decides from runtime size — a 100 TB reference LM shuffles, a
    * small one broadcasts); the vocab scalar rides a broadcast
    * 1-row agg (d19's pattern); everything else is two linear
    * group-bys. Float discipline: per-term nll rounds through
    * DECIMAL(18,6) before every SUM (§5), so the doc and source
    * averages are order-independent in both engines. */
  /** Factored for PipelineSpec's detection proof: per-doc (doc_id,
    * source, ce) cross-entropies of the scored half under the
    * reference half's bigram LM. */
  private[graft] def lmPerplexityScores(docsDf: DataFrame): DataFrame = {
    // r18 (opt, wave 3 — guide §2.5): spread the one-task scan on
    // doc_id so the tokenize parallelizes; every sum is anchored in
    // DECIMAL(18,6) (§5), so fold order cannot change results.
    val toks = graft.Tables.spread(docsDf, col("doc_id")).select(col("doc_id"),
      col("source"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
      .where(size(col("ws")) >= 2)
    val bi = toks.select(col("doc_id"), col("source"), explode(expr(
      "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
      .as("b"))
      .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
    val ref = bi.where(col("doc_id") % 5 === 0)
    val c2 = ref.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = ref.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = ref.agg(countDistinct(col("w1")).as("v"))
    bi.where(col("doc_id") % 5 =!= 0)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("nll",
        log(coalesce(col("c1"), lit(0L)) + col("v")) -
          log(coalesce(col("c2"), lit(0L)) + lit(1L)))
      .groupBy("doc_id", "source")
      .agg((sum(col("nll").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("ce"))
  }

  private def t29(s: SparkSession, d: String): DataFrame =
    lmPerplexityScores(Tables.df(s, d, "documents")).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      round(sum(col("ce").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("avg_ce"),
      sum(when(col("ce") <= 8.0, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")

  private val t29Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |    regexp_extract_all(lower(text), '[a-z]+') AS ws
      |  FROM documents
      |  WHERE len(regexp_extract_all(lower(text), '[a-z]+')) >= 2),
      |bi AS (
      |  SELECT doc_id, source, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM tok, UNNEST(range(1, len(ws))) AS t(i)),
      |ref AS (SELECT w1, w2 FROM bi WHERE doc_id % 5 = 0),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM ref GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM ref GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w1) AS v FROM ref),
      |pd AS (
      |  SELECT b.doc_id, ANY_VALUE(b.source) AS source,
      |    CAST(SUM(CAST(ln(COALESCE(c1.c1, 0) + v.v)
      |                - ln(COALESCE(c2.c2, 0) + 1) AS DECIMAL(18,6)))
      |      AS DOUBLE) / COUNT(*) AS ce
      |  FROM bi b
      |  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      |  LEFT JOIN c1 ON b.w1 = c1.w1
      |  CROSS JOIN v
      |  WHERE b.doc_id % 5 <> 0
      |  GROUP BY b.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  ROUND(CAST(SUM(CAST(ce AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_ce,
      |  CAST(SUM(CASE WHEN ce <= 8.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** t28 — train/test CONTAMINATION detection (the diligence gate
    * every training pipeline runs before reporting eval numbers: did a
    * benchmark's text leak into the corpus?): the held-out set is
    * `source = 'src0'` standing in for a benchmark; for every OTHER
    * document, the fraction of its distinct 5-gram set that appears
    * ANYWHERE in the held-out set — the standard n-gram contamination
    * rate (GPT-3 appendix C / PaLM's 13-gram variant, scaled to this
    * corpus's short docs). LINEAR like d24: the benchmark gram set is
    * one distinct aggregate, membership is a gram-keyed semi-join, and
    * a doc overlapping thousands of benchmark docs costs its own gram
    * count, never a pair. Top-50 most-contaminated for a stable,
    * compact result; grams stay strings so the whole output
    * hash-checks against DuckDB. */
  private def t28(s: SparkSession, d: String): DataFrame = {
    // r18 (opt, wave 3 — guide §2.5): spread the one-task scan (t24's
    // reasoning; distinct + counts only).
    val dg = Tables.spread(Tables.df(s, d, "documents"), col("doc_id"))
      .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("tk")) >= 5)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(tk) - 5), i -> concat_ws(' ', slice(tk, i + 1, 5)))"))
        .as("g"))
      .distinct()
    val bench = dg.where(col("source") === "src0").select("g").distinct()
    val rest = dg.where(col("source") =!= "src0")
    val tot = rest.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hit = rest.join(bench, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)) / col("n_grams"), 6)
          .as("rate"))
      .orderBy(col("rate").desc, col("doc_id")).limit(50)
  }

  private val t28Oracle: String =
    """WITH dg AS (
      |  SELECT DISTINCT doc_id, source, unnest(
      |    [array_to_string(t[i+1:i+5], ' ') for i in range(len(t) - 4)]) AS g
      |  FROM (SELECT doc_id, source,
      |          regexp_extract_all(lower(text), '[a-z]+') AS t
      |        FROM documents)
      |  WHERE len(t) >= 5),
      |bench AS (SELECT DISTINCT g FROM dg WHERE source = 'src0'),
      |rest AS (SELECT * FROM dg WHERE source <> 'src0'),
      |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM rest GROUP BY doc_id),
      |hit AS (
      |  SELECT doc_id, COUNT(*) AS n_contaminated FROM rest
      |  WHERE g IN (SELECT g FROM bench) GROUP BY doc_id)
      |SELECT t.doc_id, t.n_grams,
      |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
      |  ROUND(COALESCE(h.n_contaminated, 0) / t.n_grams, 6) AS rate
      |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
      |ORDER BY rate DESC, t.doc_id LIMIT 50""".stripMargin

  /** t26 — DSIR-style importance scores (the published
    * data-selection-via-importance-resampling recipe: select raw docs
    * that RESEMBLE a target domain by the likelihood ratio of
    * hashed-bigram features): bag-of-bigrams hashed into B=256
    * buckets, add-one-smoothed multinomials fitted for the target
    * (here: `source = 'src0'`, the domain proxy) and the raw pool,
    * per-doc log-importance = Σ over bigram positions of
    * ln p_target(b) − ln p_raw(b). The 100 TB shape: TWO B-bounded
    * bucket aggregates (256 longs each — the documented bounded
    * metadata collect), the log-ratio table re-enters as a LITERAL
    * array column, and the scoring pass is then NARROW — one
    * higher-order fold per doc, no join, no shuffle until the final
    * top-50. Rows-only (ln has no cross-engine-stable restatement —
    * the t23 reasoning); PipelineSpec proves the separation property
    * on a constructed two-domain corpus. */
  /** ORACLE-CHECKED since r14 via the export pattern: the murmur
    * bucket ids and the fitted log-ratio table are the engine
    * constants (exported as per-doc bucket counts + the 256-entry
    * ratio table); DuckDB replays the weighted sum, the bigram count,
    * the 4-digit round and the top-50 cut. The sum regroups by bucket
    * (Σ cnt·lr vs the engine's per-position fold) — a ~1e-12
    * reassociation residue the 4-digit round absorbs by 8 orders of
    * magnitude. */
  private def t26(s: SparkSession, d: String): DataFrame =
    dsirScores(Tables.df(s, d, "documents"), col("source") === "src0",
      export = Some((Similarity.exportPath("t26pos", d),
        Similarity.exportPath("t26lr", d))))

  private[graft] def t26Oracle: String =
    s"""WITH pos AS (
      |  SELECT doc_id, b, cnt
      |  FROM read_parquet('${Similarity.oracleExportPath("t26pos")}/*.parquet')),
      |lrt AS (
      |  SELECT b, lr
      |  FROM read_parquet('${Similarity.oracleExportPath("t26lr")}/*.parquet')),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |    round(SUM(cnt * l.lr), 4) AS score
      |  FROM pos p JOIN lrt l USING (b) GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, score FROM sc
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  private[graft] def dsirScores(docsDf: DataFrame,
      isTarget: org.apache.spark.sql.Column,
      export: Option[(String, String)] = None): DataFrame = {
    val B = 256
    // Tokenize ONCE; both the fit pass and the score pass reuse it
    // (the regex is the dominant per-doc cost — paying it twice is the
    // naive 3-pass shape's whole overhead).
    // r18 (opt, wave 3 — guide §2.5): the regex tokenize ran inside the
    // driver testdata's ONE-task scan; hash-spread on doc_id first so
    // it parallelizes. Keying by doc_id keeps each document's exploded
    // rows together in original order, so every per-doc aggregate
    // accumulates in the same order as before (identity at any
    // multi-split layout).
    val positions = graft.Tables.spread(docsDf, col("doc_id"))
      .withColumn("t", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("t")) >= 2)
      .withColumn("tgt", isTarget)
      .select(col("doc_id"), col("tgt"), explode(expr(
        s"transform(sequence(0, size(t) - 2), i -> pmod(hash(concat(t[i], ' ', t[i+1])), $B))"))
        .as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE aggregate fits BOTH add-one-smoothed multinomials: 256
      // rows × (target count, raw count) — the bounded metadata
      // collect.
      val counts = positions.groupBy("b").agg(
        count(when(col("tgt"), 1)).as("cp"),
        count(when(!col("tgt"), 1)).as("cq"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (pTot, qTot) = (counts.values.map(_._1).sum, counts.values.map(_._2).sum)
      def lr(i: Int): Double = {
        val (cp, cq) = counts.getOrElse(i, (0L, 0L))
        math.log((cp + 1.0) / (pTot + B.toDouble)) -
          math.log((cq + 1.0) / (qTot + B.toDouble))
      }
      // Score pass: bucket-keyed broadcast join + hash aggregate —
      // whole-stage codegen end to end (no interpreted HOF fold, no
      // per-row 256-literal array).
      val spark = docsDf.sparkSession
      val sp = spark
      import sp.implicits._
      val ratios = broadcast(
        (0 until B).map(i => (i, lr(i))).toDF("b", "lr"))
      export.foreach { case (posPath, lrPath) =>
        positions.where(!col("tgt")).groupBy("doc_id", "b")
          .agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(posPath)
        (0 until B).map(i => (i, lr(i))).toDF("b", "lr")
          .coalesce(1).write.mode("overwrite").parquet(lrPath)
      }
      positions.where(!col("tgt"))
        .join(ratios, "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(sum(col("lr")), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
        .localCheckpoint(true)
    } finally positions.unpersist(blocking = false)
  }

  // NOTE: t25Oracle is referenced by `all` above; `all` is lazy so the
  // below initializes first on any access path.

  /** t25 — the published repetition-filter thresholds operate on
    * CHARACTER fractions, not occurrence fractions (a doc repeating one
    * LONG phrase is worse than one repeating "of the" equally often —
    * t22's occurrence ratios cannot tell them apart): per document, the
    * char mass of the single most frequent 2-gram (concentration), and
    * the char mass of all duplicated 2-/5-grams, each over the total
    * positional gram char mass. `MAX(cnt·len)` needs no tie-break — the
    * mass alone is the signal, so arg-of-max ambiguity never enters the
    * compare path; the one division per signal is exact-integer → IEEE-
    * identical, rounded at 6 dp by the t22 discipline. Grams stay as
    * strings (the t24 trade: the DuckDB oracle rebuilds them verbatim,
    * so agreement covers the tokenizer); docs shorter than 5 tokens
    * report NULL for the 5-gram signal in both engines. */
  private def t25(s: SparkSession, d: String): DataFrame = {
    // r18 (opt, guide §2.4/§4): every output fraction is a PER-DOC
    // function of the token array — the old plan exploded every 2- and
    // 5-gram instance through a (doc, gram) groupBy exchange, re-
    // aggregated per doc, and joined the two widths; the native
    // gram_mass_stats expression computes the same distinct-gram
    // masses in one tight loop per row (interned token ids, grams
    // never materialized as strings), leaving a pure scan → project →
    // sort with NO exchange. 5-gram fields are 0 iff the doc has < 5
    // tokens (token lengths are ≥ 1, so a real 5-gram mass is > 0) —
    // translated to NULL exactly where the old left_outer join was
    // unmatched. Division/round shapes identical to the old form.
    Tables.df(s, d, "documents")
      .withColumn("t", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), expr("gram_mass_stats(t)").as("g"))
      .select(col("doc_id"),
        round(col("g.topm2").cast("double") / col("g.tot2"), 6).as("top2_char_frac"),
        round(col("g.dupm2").cast("double") / col("g.tot2"), 6).as("dup2_char_frac"),
        when(col("g.tot5") > 0,
          round(col("g.dupm5").cast("double") / col("g.tot5"), 6))
          .as("dup5_char_frac"))
      .orderBy("doc_id")
  }

  private val t25Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |g2 AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 2),
      |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
      |a2 AS (
      |  SELECT doc_id,
      |    CAST(MAX(cnt * length(gram)) AS BIGINT) AS topm,
      |    CAST(SUM(cnt * length(gram)) AS BIGINT) AS tot,
      |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
      |      AS BIGINT) AS dupm
      |  FROM c2 GROUP BY 1),
      |g5 AS (
      |  SELECT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
      |  WHERE len(t) >= 5),
      |c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2),
      |a5 AS (
      |  SELECT doc_id,
      |    CAST(SUM(cnt * length(gram)) AS BIGINT) AS tot5,
      |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
      |      AS BIGINT) AS dupm5
      |  FROM c5 GROUP BY 1)
      |SELECT a2.doc_id,
      |  round(CAST(topm AS DOUBLE) / tot, 6) AS top2_char_frac,
      |  round(CAST(dupm AS DOUBLE) / tot, 6) AS dup2_char_frac,
      |  round(CAST(dupm5 AS DOUBLE) / tot5, 6) AS dup5_char_frac
      |FROM a2 LEFT JOIN a5 USING (doc_id)
      |ORDER BY a2.doc_id""".stripMargin
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch/hash hot paths.
  *
  * The higher-order-function formulations of SimHash/MinHash are correct
  * but run interpreted (ArrayTransform/ArrayAggregate don't participate
  * in whole-stage codegen) and allocate per token; on the sf0.1 bench
  * the HOF SimHash cost 650 s. These expressions do the same math in a
  * tight JVM loop — O(tokens × 64) integer ops, zero allocation per
  * token — reducing it to scan speed. CodegenFallback is deliberate:
  * the eval loop IS the fast path; codegen would only inline the call.
  *
  * Registered as SQL functions (`simhash64`, `minhash32`) via
  * the [[GraftFunctions]] table so they compose with the rest of the
  * declarative plan.
  */
final case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 needs array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  /** 64-bit SimHash over tokens (hashed internally, xxhash64 seed 42):
    * signed per-bit votes, sign → bit. */
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 32-permutation MinHash signature over a string-shingle array: element
  * i is the minimum xxhash64(shingle, seed = i). Output is a fixed
  * 32-long array. */
final case class MinHash32(child: Expression)
    extends UnaryExpression with CodegenFallback {

  val k = 32

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash32 needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      var j = 0
      while (j < k) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, j.toLong)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)
}

/** 32-permutation MinHash over 3-token shingles, computed straight from
  * the token array — no shingle strings are ever materialized: per-token
  * base hashes are chain-mixed per window, then re-seeded per
  * permutation. Duplicate shingles collapse under min() by construction,
  * so no distinct pass is needed either. */
final case class MinHashShingle32(child: Expression)
    extends UnaryExpression with CodegenFallback {

  val k = 32

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_shingle32 needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_shingle32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    if (n >= 3) {
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        val t = arr.getUTF8String(i)
        th(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
        i += 1
      }
      var w = 0
      while (w <= n - 3) {
        val base = XXH64.hashLong(th(w + 2), XXH64.hashLong(th(w + 1), th(w)))
        var j = 0
        while (j < k) {
          val h = XXH64.hashLong(base, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        w += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashShingle32 =
    copy(child = newChild)
}

/** Distinct 3-token shingle hashes straight from the token array —
  * array<long> of the chain-mixed window hashes (the same per-window
  * base hash MinHashShingle32 permutes), deduplicated in place. This is
  * d02's scale unit: the exploded inverted index shuffles 8-byte longs
  * instead of reconstructed shingle STRINGS, and the per-doc shingle
  * count is just size(result) — a narrow projection, no second
  * aggregation. Collision risk of 64-bit hashes is ~n²/2⁶⁵ per corpus —
  * negligible against the oracle at any verify SF. */
final case class ShingleHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingle_hashes needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3) new GenericArrayData(Array.emptyLongArray)
    else {
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        val t = arr.getUTF8String(i)
        th(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
        i += 1
      }
      val seen = new java.util.HashSet[java.lang.Long](n * 2)
      val out = new Array[Long](n - 2)
      var m = 0
      var w = 0
      while (w <= n - 3) {
        val h = XXH64.hashLong(th(w + 2), XXH64.hashLong(th(w + 1), th(w)))
        if (seen.add(h)) { out(m) = h; m += 1 }
        w += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, m))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** All ordered pairs (a < b) from a bucket's posting list — the pair-
  * expansion unit of the dedup family's single-aggregation candidate
  * generation. The HOF formulation (flatten ∘ transform ∘ filter)
  * dispatches an interpreted lambda per emitted struct — ~1.3M times at
  * sf0.1 — where this is one tight O(k²) loop per bucket (k already
  * bounded by the stop-shingle cap upstream). Each pair is emitted as
  * (min, max) regardless of input order, so the downstream groupBy key
  * is canonical without a sort. */
final case class OrderedPairs64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ordered_pairs64 needs array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ordered_pairs64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = arr.toLongArray()
    val out = new Array[Any](n * (n - 1) / 2)
    var m = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val a = ids(i)
        val b = ids(j)
        out(m) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          if (a < b) Array[Any](a, b) else Array[Any](b, a))
        m += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairs64 =
    copy(child = newChild)
}

/** Document fingerprint: polynomial rolling hash over token xxhash64s
  * mod 1e9+7 (`fp64`), plus a winnowed min over all 8-token window
  * folds (`win_fp`, robust to local edits; short docs fall back to
  * fp64). Bit-identical to the HOF formulation it replaces (golden
  * values pinned in PipelineSpec) at tight-loop speed: one hash pass,
  * O(8n) window folds, no per-token allocation. */
final case class Fingerprint64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private val P = 1000000007L
  private val W = 8

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"fingerprint64 needs array<string>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("fp64", LongType, nullable = false),
    StructField("win_fp", LongType, nullable = false)))
  override def prettyName: String = "fingerprint64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hm = new Array[Long](n) // token hashes pre-reduced mod P
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      // ENGINE-NEUTRAL token hash (r13, what flips t04 onto the hash
      // gate): a base-31 polynomial over the token's UTF-8 bytes mod P
      // — the tokenizer feeds [a-z]+ ASCII, so DuckDB's unicode()
      // codepoints are the same byte values and list_reduce replays
      // every hash exactly. The previous XXH64 token hash was
      // Spark-private and made the whole fingerprint unverifiable.
      val bs = t.getBytes
      var h = 0L
      var j = 0
      while (j < bs.length) {
        h = java.lang.Math.floorMod(h * 31L + (bs(j) & 0xffL), P)
        j += 1
      }
      hm(i) = h
      i += 1
    }
    var fp = 0L
    i = 0
    while (i < n) { fp = java.lang.Math.floorMod(fp * 31L + hm(i), P); i += 1 }
    var win = fp
    if (n >= W) {
      win = Long.MaxValue
      var w = 0
      while (w <= n - W) {
        var acc = 0L
        var j = w
        while (j < w + W) { acc = java.lang.Math.floorMod(acc * 31L + hm(j), P); j += 1 }
        if (acc < win) win = acc
        w += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](fp, win))
  }

  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 =
    copy(child = newChild)
}

/** Adjacent-token bigram strings ("a b") from a token array. The HOF
  * formulation (`transform(sequence(...), i -> concat(...))`) dispatches
  * an interpreted lambda per bigram — ~1.5M times at sf0.1 in t06 — and
  * re-indexes the array per element; this is one linear pass with a
  * single UTF8String concat per window. */
final case class Bigrams(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bigrams needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bigrams"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n - 1)
      var prev = arr.getUTF8String(0)
      var i = 1
      while (i < n) {
        val cur = arr.getUTF8String(i)
        out(i - 1) = UTF8String.concat(prev, space, cur)
        prev = cur
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)
}

/** All ordered pairs with signature-agreement counts from an LSH band
  * bucket's postings — array<struct<doc_id, sig>> in, array<struct<a_id,
  * b_id, n_eq>> out. This is d03's pair-expansion unit: the HOF
  * formulation (flatten ∘ transform ∘ filter with a zip_with equality
  * fold inside) dispatches interpreted lambdas per candidate pair AND
  * per signature element; this is one O(k²·|sig|) tight loop per bucket
  * (k bounded by band-bucket occupancy). Pairs are canonical (a < b)
  * so the downstream distinct needs no normalization. */
final case class SigPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(LongType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sig_pairs needs array<struct<bigint, array<bigint>>>, got $t")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false),
    StructField("n_eq", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "sig_pairs"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val sigs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      ids(i) = row.getLong(0)
      sigs(i) = row.getArray(1).toLongArray()
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var m = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val si = sigs(i)
        val sj = sigs(j)
        var eq = 0
        var p = 0
        val len = math.min(si.length, sj.length)
        while (p < len) { if (si(p) == sj(p)) eq += 1; p += 1 }
        val a = ids(i)
        val b = ids(j)
        out(m) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          if (a < b) Array[Any](a, b, eq) else Array[Any](b, a, eq))
        m += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SigPairs =
    copy(child = newChild)
}

/** Per-document token statistics in one pass: total tokens, distinct
  * tokens, the highest single-token count, and total letters. The HOF
  * formulation (a filter scan per distinct token) is O(distinct·n)
  * interpreted; this is O(n) over one hash map. Values are exact
  * integers, so any downstream ratio matches the oracle bit-for-bit. */
final case class TokenStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"token_stats needs array<string>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("top_n", IntegerType, nullable = false),
    StructField("n_letters", IntegerType, nullable = false)))
  override def prettyName: String = "token_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var letters = 0
    var top = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      letters += t.numChars()
      val c = counts.merge(t, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, counts.size(), top, letters))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** All ordered pairs with Hamming distances from a SimHash quadrant
  * bucket's postings — array<struct<doc_id, simhash>> in,
  * array<struct<a_id, b_id, hamming>> out. d04's pair-expansion unit,
  * same shape as SigPairs: one tight O(k²) loop per bucket instead of
  * an interpreted lambda per candidate pair. */
final case class HammingPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hamming_pairs needs array<struct<bigint, bigint>>, got $t")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false),
    StructField("hamming", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "hamming_pairs"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val sigs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      ids(i) = row.getLong(0)
      sigs(i) = row.getLong(1)
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var m = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
        val a = ids(i)
        val b = ids(j)
        out(m) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          if (a < b) Array[Any](a, b, h) else Array[Any](b, a, h))
        m += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HammingPairs =
    copy(child = newChild)
}

/** Shannon entropy (nats) of the token distribution in one pass:
  * H = ln(n) − (Σ c·ln c)/n over per-token counts c. The shuffle-free
  * alternative to explode + two aggregations per document; exact to
  * double precision, so downstream rounding to 6 decimals matches any
  * engine computing the same formula. */
final case class TokenEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"token_entropy needs array<string>, got $t")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "token_entropy"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) 0.0
    else {
      val counts = new java.util.HashMap[UTF8String, Int](n * 2)
      var i = 0
      while (i < n) {
        counts.merge(arr.getUTF8String(i), 1, (a, b) => a + b)
        i += 1
      }
      var s = 0.0
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().toDouble
        s += c * math.log(c)
      }
      math.log(n.toDouble) - s / n
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}

/** Per-document duplicate n-gram statistics for n = 2 AND n = 5 in ONE
  * linear pass over the token array: (grams2, dup2, grams5, dup5),
  * where dupN = the number of n-gram OCCURRENCES whose gram appears
  * more than once in the document. t22's first formulation exploded
  * both gram sizes and aggregated twice — two shuffles moving
  * doc×distinct-gram rows; this is the token_stats lesson applied to
  * n-grams: the whole profile is per-row computable, so the operator
  * becomes a narrow scan with NO shuffle at all. Tokens are interned
  * to dense ints first; gram keys are the int sequences (exact — no
  * hash-collision undercount is possible). */
final case class NgramDupStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ngram_dup_stats needs array<string>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("grams2", LongType, nullable = false),
    StructField("dup2", LongType, nullable = false),
    StructField("grams5", LongType, nullable = false),
    StructField("dup5", LongType, nullable = false)))
  override def prettyName: String = "ngram_dup_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Int](n)
    val intern = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var id = intern.get(t)
      if (id == null) { id = Integer.valueOf(intern.size()); intern.put(t, id) }
      ids(i) = id.intValue()
      i += 1
    }
    def dups(g: Int): (Long, Long) = {
      if (n < g) return (0L, 0L)
      val m = new java.util.HashMap[String, Integer]
      val sb = new java.lang.StringBuilder(g * 7)
      var j = 0
      while (j + g <= n) {
        sb.setLength(0)
        var k = 0
        while (k < g) { sb.append(ids(j + k)); sb.append(','); k += 1 }
        m.merge(sb.toString, 1, (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
        j += 1
      }
      var dup = 0L
      m.values.forEach(c => if (c.intValue() > 1) dup += c.intValue())
      ((n - g + 1).toLong, dup)
    }
    val (g2, d2) = dups(2)
    val (g5, d5) = dups(5)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](g2, d2, g5, d5))
  }

  override protected def withNewChildInternal(newChild: Expression): NgramDupStats =
    copy(child = newChild)
}

/** Per-document n-gram CHARACTER-MASS statistics for the Gopher-style
  * duplicate-text fractions (t25): over the token array, for each
  * distinct space-joined n-gram g with within-doc count c, mass(g) =
  * c·length(g) where length is concat_ws(' ', …)'s character count
  * (Σ token chars + n−1). Returns
  * struct(topm2, tot2, dupm2, tot5, dupm5): max/total/duplicated
  * (c > 1) mass over 2-grams and total/duplicated over 5-grams; the
  * 5-gram fields are 0 when the doc has < 5 tokens (callers translate
  * to NULL). r18 opt: the fractions are PER-DOC functions of the token
  * array alone — the old plan exploded every gram instance through a
  * (doc, gram) groupBy exchange plus a per-doc re-aggregation and a
  * 2-gram⋈5-gram join; this computes them in one tight loop per row,
  * no shuffle at all (guide §2.4/§4). Grams are keyed by interned
  * token ids (the NgramDupStats trick), never materialized as strings. */
final case class GramMassStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"gram_mass_stats needs array<string>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("topm2", LongType, nullable = false),
    StructField("tot2", LongType, nullable = false),
    StructField("dupm2", LongType, nullable = false),
    StructField("tot5", LongType, nullable = false),
    StructField("dupm5", LongType, nullable = false)))
  override def prettyName: String = "gram_mass_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Int](n)
    val lens = new Array[Int](n)
    val intern = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var id = intern.get(t)
      if (id == null) { id = Integer.valueOf(intern.size()); intern.put(t, id) }
      ids(i) = id.intValue()
      lens(i) = t.numChars()
      i += 1
    }
    /** (top mass, total mass, duplicated mass) for n-grams of width g. */
    def masses(g: Int): (Long, Long, Long) = {
      if (n < g) return (0L, 0L, 0L)
      // count + char length per distinct gram, keyed on the id tuple
      val cnt = new java.util.HashMap[String, Array[Int]]
      val sb = new java.lang.StringBuilder(g * 7)
      var j = 0
      while (j + g <= n) {
        sb.setLength(0)
        var k = 0
        var len = g - 1 // the g-1 joining spaces
        while (k < g) {
          sb.append(ids(j + k)); sb.append(',')
          len += lens(j + k)
          k += 1
        }
        val e = cnt.computeIfAbsent(sb.toString, _ => Array(0, 0))
        e(0) += 1; e(1) = len
        j += 1
      }
      var top = 0L; var tot = 0L; var dup = 0L
      cnt.values.forEach { e =>
        val mass = e(0).toLong * e(1)
        tot += mass
        if (mass > top) top = mass
        if (e(0) > 1) dup += mass
      }
      (top, tot, dup)
    }
    val (top2, tot2, dup2) = masses(2)
    val (_, tot5, dup5) = masses(5)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top2, tot2, dup2, tot5, dup5))
  }

  override protected def withNewChildInternal(newChild: Expression): GramMassStats =
    copy(child = newChild)
}

package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE detailed JSON line, then ONE
  * compact `"metric":"phases"` line.
  *
  * Each query is fully materialized through the `noop` sink — a bare
  * count() would let Catalyst prune the query down to a metadata scan
  * and time nothing. Each query runs 3 times and reports the MEDIAN:
  * round-1's single-shot harness attributed one-off GC/compile storms
  * to whichever query ran next (63 s of phantom regression). Failures
  * are reported explicitly in a "failed" list — a -1 can't silently
  * shrink the total. A failed query's entry in the detailed line's
  * `errors` object names the exception class and the first line of
  * its message, so the record says why it failed; a failed index build
  * has its entry there too, as `build:<name>`.
  *
  * WHY TWO LINES (r16): the detailed line carries all 270+ per-query
  * medians and is ~9 KB — any log tail shorter than that truncates it
  * mid-object, which is exactly why BENCH_r15's recorded `parsed` was
  * null and its 650→1,029 s wall delta was unexplainable. The compact
  * line is printed LAST, fits any tail, and decomposes the run:
  * in-JVM wall (everything OUTSIDE it is sbt launch/compile), session
  * build, warm-up, index builds, fixture pre-warm, the 3-rep measured
  * loop, and per-family median sums. A wall jump is then attributable
  * to a specific phase instead of a guess.
  *
  * SELF-DIAGNOSING RECORD (r17): BENCH_r16 carried a t28 median of
  * 82.7 s where the identical tree measures 2.5 s — and the record
  * could neither confirm nor refute the obvious "sustained host event"
  * explanation, because a bare median discards exactly that evidence.
  * The detailed line now also carries, per query: the full rep array
  * (`reps`), the wall-clock offset from JVM start at which the query's
  * reps began (`t_start`, seconds — localizes a slow window in time),
  * and the 1-minute system load average sampled at that moment
  * (`load` — a loaded host indicts itself). The compact line adds the
  * run's ambient index (the five frozen [[BenchControls]] queries
  * measured IN the loop vs their r14 idle-host references) plus
  * start/end/max load — so even a 2,000-char tail proves or clears a
  * host event without re-running anything.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val tJvm0 = System.nanoTime()
    def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tSess0 = System.nanoTime()
    val spark: SparkSession = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val tSession = secsSince(tSess0)

    /** Seconds to materialize one query, or the failure that stopped it. */
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[Throwable, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
    }

    /** A failure as "ExceptionClass: first message line". */
    def errText(e: Throwable): String =
      e.getClass.getName + ": " +
        Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

    /** (reps, median, t_start offset secs, loadavg at start, first
      * failure) — the reps/offset/load ride into the record so an
      * outlier median is diagnosable from the file alone (r17). A
      * failed rep records -1 and makes the median -1; the failure is
      * kept as "ExceptionClass: first message line". */
    def reps3(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Seq[Double], Double, Double, Double, Option[String]) = {
      val off = secsSince(tJvm0)
      val load = BenchControls.loadAvg()
      val runs = Seq.fill(3)(once(fn))
      val ts = runs.map(_.getOrElse(-1.0))
      val med = if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(1)
      val err = runs.collectFirst { case Left(e) => errText(e) }
      (ts, med, off, load, err)
    }

    // One warm-up query BEFORE the build timers: the first job in a
    // fresh JVM absorbs several seconds of classloading/codegen/JIT
    // that would otherwise masquerade as index-build cost (pair_cache
    // read 8.1 s cold vs ~3 s warm at sf0.1).
    val tWarm0 = System.nanoTime()
    once(SparkEntry.queries("q05_agg"))
    val tWarmFirst = secsSince(tWarm0)

    // Build-once/query-many index builds, timed EXPLICITLY and first:
    // each accessor eagerly builds (or opens, if the signature-keyed
    // layout already exists on disk) its index, so the per-query
    // medians below exclude build cost BY CONSTRUCTION rather than by
    // median-of-3 accounting (VERDICT r6 §next-6 / SURVEY §9.4). A
    // build that fails records -1, its failure under `errors` as
    // `build:<name>`, and leaves its consumers to rebuild.
    def timedBuild(f: => Any): Either[Throwable, Double] = {
      val t0 = System.nanoTime()
      try { f; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e) }
    }
    val docsDf = Tables.df(spark, sfDir, "documents")
    val buildRuns: Seq[(String, Either[Throwable, Double])] = Seq(
      "pair_cache" -> timedBuild(graft.operators.Dedup.jaccardPairs(docsDf)),
      "dup_label_index" -> timedBuild(graft.operators.Dedup.dupLabelIndex(docsDf)),
      "lsh_layout" -> timedBuild(graft.operators.Similarity.lshIndex(spark, sfDir)),
      "ivf_layout" -> timedBuild(graft.operators.Similarity.ivfIndex(spark, sfDir)),
      "pq_codebook" -> timedBuild(graft.operators.Similarity.pqIndex(spark, sfDir)),
      "ivfpq_layout" -> timedBuild(graft.operators.Similarity.ivfpqIndex(spark, sfDir)),
      "sq8_layout" -> timedBuild(graft.operators.Similarity.sq8Index(spark, sfDir)))
    val builds = buildRuns.map { case (k, r) => k -> r.getOrElse(-1.0) }
    val tBuilds = builds.map(_._2).filter(_ >= 0).sum

    // JIT/codegen/session warm-up (not reported): one query per major
    // execution family — agg, window, join, regex/text, typed
    // Dataset/Aggregator encoders, iterative CC (localCheckpoint/RDD
    // machinery) — so the first reported member of each family doesn't
    // absorb its family's one-time codegen/JIT cost
    val tFam0 = System.nanoTime()
    Seq("q05_agg", "q15_window", "q10_join_shuffle", "t02_quality",
      "q36_topn_agg", "d06_dedup_cluster")
      .foreach(q => once(SparkEntry.queries(q)))
    val tWarmFamilies = secsSince(tFam0)

    // Snapshot fixture pre-warm (not reported): the pooled read-only
    // tables (q133/q134/q136/q137/q141/q142) and the clone base
    // (q117 family) build on FIRST touch — warming them here means the
    // measured medians time the pruned READ / describe / join, not a
    // one-time table build landing in whichever query ran first
    // (BENCHFOCUS_r10a showed q134 at 3.7 s of which ~3.2 s was the
    // fixture build).
    val tFix0 = System.nanoTime()
    Seq("q117_merge_cow", "q133_hidden_partition", "q134_partition_describe",
      "q136_bloom_prune", "q137_partitions_tvf", "q141_spec_evolution",
      "q142_spj_join")
      .foreach(q => once(SparkEntry.queries(q)))
    val tFixtures = secsSince(tFix0)

    val tLoop0 = System.nanoTime()
    val loadStart = BenchControls.loadAvg()
    val detailed = SparkEntry.allQs.map(q => q.name -> reps3(q.run))
    val loadEnd = BenchControls.loadAvg()
    val tLoop = secsSince(tLoop0)
    val results = detailed.map { case (k, (_, med, _, _, _)) => k -> med }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val repsJson = detailed.map { case (k, (ts, _, _, _, _)) =>
      "\"" + k + "\":[" + ts.map(t => BenchControls.num(t, 3)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val tStartJson = detailed.map { case (k, (_, _, off, _, _)) =>
      "\"" + k + "\":" + BenchControls.num(off, 1) }.mkString("{", ",", "}")
    val loadJson = detailed.map { case (k, (_, _, _, ld, _)) =>
      "\"" + k + "\":" + BenchControls.num(ld, 2) }.mkString("{", ",", "}")
    val errorsJson = (buildRuns.collect { case (k, Left(e)) => s"build:$k" -> errText(e) } ++
      detailed.collect { case (k, (_, _, _, _, Some(e))) => k -> e })
      .map { case (k, e) => "\"" + k + "\":" + graft.sources.GraftCatalog.jsonEsc(e) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val buildJson = builds.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$repsJson,"t_start":$tStartJson,"load":$loadJson,"failed":$failed,"errors":$errorsJson,"build":$buildJson,"sf":"$sfDir"}""")

    // Compact, tail-proof phase breakdown — printed LAST so a 2,000-char
    // log tail still contains one complete parseable JSON object.
    def fam(n: String): String =
      if (n.startsWith("tpch")) "tpch" else n.take(1)
    val famSums = results.filter(_._2 >= 0).groupBy(r => fam(r._1)).toSeq
      .sortBy(_._1)
      .map { case (fm, rs) => "\"" + fm + "\":" + BenchControls.num(rs.map(_._2).sum, 1) }
      .mkString("{", ",", "}")
    val phases =
      s""""session":${BenchControls.num(tSession, 1)},"warmup_first":${BenchControls.num(tWarmFirst, 1)},""" +
        s""""builds":${BenchControls.num(tBuilds, 1)},"warmup_families":${BenchControls.num(tWarmFamilies, 1)},""" +
        s""""fixtures":${BenchControls.num(tFixtures, 1)},"measure_loop_wall":${BenchControls.num(tLoop, 1)}"""
    // Ambient + host-load summary (r17): controls measured IN the loop
    // above vs their frozen r14 refs; load sampled per query start.
    val medOf = results.toMap
    // per-SF refs (r18): the ambient is computed against THIS SF's own
    // idle baseline whenever one exists; otherwise the sf0.1 refs
    // serve under an explicit `(sf-mismatch)` label
    val (refLabel, sfRefs, _) = BenchControls.refsFor(sfDir)
    val ambient = BenchControls.ambientIndex(
        q => medOf.get(q).filter(_ >= 0), sfRefs)
      .map(a => BenchControls.num(a, 3)).getOrElse("null")
    val loadMax = math.max(math.max(loadStart, loadEnd),
      detailed.map(_._2._4).foldLeft(-1.0)(math.max))
    val ctrlJson = sfRefs.map { case (q, ref) =>
      s""""$q":[${medOf.getOrElse(q, -1.0)},$ref]""" }.mkString("{", ",", "}")
    println(s"""{"metric":"phases","value":$total,"unit":"sec","phases":{$phases},""" +
      s""""families_median_sum":$famSums,"reps_per_query":3,""" +
      s""""n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},""" +
      s""""ambient_index":$ambient,"ambient_ref":"$refLabel",""" +
      s""""controls":$ctrlJson,""" +
      s""""load":{"start":${BenchControls.num(loadStart, 2)},"end":${BenchControls.num(loadEnd, 2)},"max_seen":${BenchControls.num(loadMax, 2)}},""" +
      s""""jvm_wall":${BenchControls.num(secsSince(tJvm0), 1)},"sf":"$sfDir"}""")
    spark.stop()
  }
}

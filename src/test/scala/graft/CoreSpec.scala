package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.plans.PlanInspector._

/** Core relational operators: every SURVEY §2.B query runs at sf0.001,
  * plus the §2.C plan-shape assertions the reference makes by reading
  * EXPLAIN output. */
class CoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("every declared query runs and the non-filter ones return rows") {
    val mayBeEmpty = Set("q13_join_anti", "d02_dedup_jaccard", "d03_dedup_minhash",
      "d04_dedup_simhash", "d05_dedup_embed",
      // no repeated sentences in the driver corpus — detection is
      // proven on a constructed corpus in PipelineSpec
      "d14_boilerplate",
      // d17 rides d02's edges — empty when the tiny corpus has no pairs
      "d17_triangles",
      // m07's lifted-clip overlaps can all fall under minLen on the
      // tiny corpus — the overlap model is pinned in PipelineSpec
      "m07_shared_segments",
      // sf0.001 has 10 suppliers, one per nation, and none in Q21's
      // NATION_7 — the sf0.01 driver gate returns rows (6, DuckDB-checked)
      "tpch_q21")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry (flagship) smoke-checks rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("an export path carries the process id; day-old exports of dead processes are reaped") {
    import graft.operators.Similarity
    val pid = ProcessHandle.current.pid
    val p = Similarity.exportPath("s02cand", sf)
    assert(p.endsWith(s"-$pid") && Similarity.oracleExportPath("s02cand") == p, p)
    val deadPid = Iterator.from(4194304).map(_.toLong).find(!ProcessHandle.of(_).isPresent).get
    def plant(name: String, ageMs: Long): java.io.File = {
      val dir = new java.io.File(s"/tmp/graft-index/$name")
      dir.mkdirs()
      java.nio.file.Files.write(new java.io.File(dir, "part-0.parquet").toPath, Array[Byte](1))
      dir.setLastModified(System.currentTimeMillis() - ageMs)
      dir
    }
    val twoDays = 2 * 24 * 3600 * 1000L
    val dead = plant(s"s02cand-1-$deadPid", twoDays)
    val fresh = plant(s"s02cand-2-$deadPid", 0L) // a finished run's, awaiting its compare
    val live = plant(s"s02cand-1-$pid", twoDays)
    try {
      Similarity.reapDeadExports()
      assert(!dead.exists() && fresh.exists() && live.exists())
    } finally Seq(fresh, live).foreach { d =>
      d.listFiles().foreach(_.delete())
      d.delete()
    }
  }

  test("q01: column pruning reaches the parquet scan") {
    val schemas = readSchemas(SparkEntry.queries("q01_project")(spark, sf))
    assert(schemas.nonEmpty)
    assert(schemas.head.contains("l_orderkey") && !schemas.head.contains("l_returnflag"),
      s"scan not pruned: ${schemas.head}")
  }

  test("q02: predicate pushdown reaches the parquet scan") {
    val pushed = pushedFilters(SparkEntry.queries("q02_filter")(spark, sf))
    assert(pushed.exists(p => p.contains("l_quantity") && p.contains("l_returnflag")),
      s"filters not pushed: $pushed")
  }

  test("q04: top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(usesTakeOrdered(SparkEntry.queries("q04_topk")(spark, sf)))
  }

  test("q05: aggregation is two-phase (partial + final)") {
    assert(hasTwoPhaseAgg(SparkEntry.queries("q05_agg")(spark, sf)))
  }

  test("q09/q17: dimension joins broadcast (CollectLeft analog)") {
    assert(usesBroadcastHashJoin(SparkEntry.queries("q09_join_broadcast")(spark, sf)))
    assert(usesBroadcastHashJoin(SparkEntry.queries("q17_flagship")(spark, sf)))
  }

  test("q10: big-big join shuffles when broadcast is off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(usesShuffleJoin(SparkEntry.queries("q10_join_shuffle")(spark, sf)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hot queries stay inside whole-stage codegen") {
    assert(codegenSpans(SparkEntry.queries("q05_agg")(spark, sf)) > 0)
    assert(codegenSpans(SparkEntry.queries("q17_flagship")(spark, sf)) > 0)
  }

  test("repartition/coalesce surface (reference docs/5)") {
    val li = Tables.df(spark, sf, "lineitem")
    val rep = li.repartition(8, col("l_orderkey"))
    assert(plans.PlanInspector.physical(rep).toString.contains("hashpartitioning(l_orderkey"))
    val co = li.coalesce(2)
    assert(co.rdd.getNumPartitions <= 2)
    // AQE partition coalescing is on (target_partitions analog)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
  }

  test("q41: grouping sets reaggregate the finest level — no Expand fan-out") {
    // r18 (opt): GROUPING SETS planned through Expand pushed 3-4 copies
    // of every fact row through the partial aggregate; q41 now
    // aggregates the finest grouping once and reaggregates the coarser
    // sets from its handful of rows. Pin the shape: NO Expand, and the
    // repeated scan subtrees are identical so AQE's stage cache ships
    // the shared partial-aggregate exchange once (the pre-execution
    // plan prints one scan per grouping level — dedup by location).
    val plan = physical(SparkEntry.queries("q41_grouping_sets")(spark, sf)).toString
    assert(!plan.contains("Expand"), s"Expand fan-out is back:\n$plan")
    assert("Location: [^\\n]+".r.findAllIn(plan).toSet.size <= 1,
      s"grouping levels read different fact inputs:\n$plan")
  }

  test("s06: the metadata filter reaches the parquet scan before any ranking") {
    val pushed = pushedFilters(SparkEntry.queries("s06_ann_filtered")(spark, sf))
    assert(pushed.exists(p => p.contains("label") && p.contains("vec_id")),
      s"filtered-ANN predicate not pushed: $pushed")
    assert(plans.PlanInspector.usesTakeOrdered(
      SparkEntry.queries("s06_ann_filtered")(spark, sf)))
  }

  test("p06: the per-source rate table joins as a broadcast, docs never shuffle") {
    assert(usesBroadcastHashJoin(
      SparkEntry.queries("p06_sample_temperature")(spark, sf)))
  }

  test("d08: champion pick is a partial-aggregating max_by, not a window sort") {
    val plan = physical(SparkEntry.queries("d08_dedup_keep_best")(spark, sf)).toString
    assert(plan.contains("partial_max_by") || plan.contains("partial max_by")
      || (plan.contains("max_by") && !plan.contains("Window")),
      s"keep-best is not a partial aggregation:\n$plan")
  }

  test("q47: gap-fill scans events once; spine and bounds read the checkpointed agg") {
    val a = plans.PlanInspector.analyze(SparkEntry.queries("q47_gap_fill")(spark, sf))
    val scans = "Scan parquet".r.findAllIn(a.finalPlan).size
    assert(scans <= 1,
      s"events scanned $scans times — the per-bin aggregate is not shared:\n${a.finalPlan}")
  }

  test("explain formats render") {
    val df = SparkEntry.queries("q05_agg")(spark, sf)
    assert(formatted(df).contains("HashAggregate"))
    assert(extended(df).contains("== Physical Plan =="))
  }

  test("explain-analyze analog executes and reports the post-AQE plan") {
    val a = plans.PlanInspector.analyze(SparkEntry.queries("q05_agg")(spark, sf))
    assert(a.rows == 6)
    assert(a.wallSec > 0.0)
    assert(a.finalPlan.contains("HashAggregate"))
  }

  test("GraftExtensions injects the native functions into a fresh session") {
    // the production wiring: users opt in at session construction
    // (spark.sql.extensions=graft.GraftExtensions on a fresh cluster;
    // Builder.withExtensions here, because the extensions static conf
    // is only read when the SparkContext is created and the suites
    // share one). No imperative register() call anywhere. The session
    // shares the SparkContext and must NOT be stopped (that would kill
    // the context for every suite).
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val out = s2.sql(
        """SELECT simhash64(array('alpha', 'beta')) AS sh,
          |  lsh_bucket64(array(CAST(0.5 AS FLOAT), CAST(-1.5 AS FLOAT))) AS bk,
          |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd""".stripMargin)
        .head()
      assert(out.getAs[Double]("vd") == 11.0)
      assert(out.getAs[Long]("bk") >= 0L && out.getAs[Long]("bk") < 256L)
      // deterministic engine constant: same input, same signature
      assert(out.getAs[Long]("sh") ==
        s2.sql("SELECT simhash64(array('alpha', 'beta')) AS sh").head().getAs[Long]("sh"))
      // sketch-aggregate family parity: a pure-SQL client can run the
      // whole mergeable-sketch surface through the extension
      val sk = s2.sql(
        """SELECT theta_count(theta_sketch_agg(x)) AS dc,
          |  kll_quantiles(kll_sketch_agg(CAST(x AS DOUBLE)), array(0.5D))[0] AS med,
          |  ngram_dup_stats(array('a', 'b', 'a', 'b')).dup2 AS d2
          |FROM VALUES (1), (2), (3), (4), (5) AS t(x)""".stripMargin).head()
      assert(sk.getAs[Number]("dc").longValue == 5L)
      assert(sk.getAs[Double]("med") >= 1.0 && sk.getAs[Double]("med") <= 5.0)
      assert(sk.getAs[Long]("d2") == 2L) // "a b" occurs twice
      // every entry of the one function table resolves, each in its
      // own registry
      graft.functions.GraftFunctions.scalar.foreach { case (id, _, _) =>
        assert(s2.sessionState.functionRegistry.functionExists(id), s"missing $id")
      }
      graft.functions.GraftFunctions.table.foreach { case (id, _, _) =>
        assert(s2.sessionState.tableFunctionRegistry.functionExists(id), s"missing $id")
      }
      // the one "a b" 2-gram: 3 characters, seen once; no 5-grams
      val gm = s2.sql("SELECT gram_mass_stats(array('a', 'b')) AS g").head()
        .getStruct(0)
      assert(gm.getAs[Long]("tot2") == 3L && gm.getAs[Long]("dupm2") == 0L &&
        gm.getAs[Long]("tot5") == 0L)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("GraftFunctions.register installs the function table on a session built without the extension") {
    // the imperative path: a session that never saw GraftExtensions
    // (shares the SparkContext, so it must NOT be stopped)
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s3 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-register-test")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val fns = s3.sessionState.functionRegistry
      val tvfs = s3.sessionState.tableFunctionRegistry
      assert(!fns.functionExists(graft.functions.GraftFunctions.scalar.head._1),
        "the bare session already carries the graft functions")
      graft.functions.GraftFunctions.register(s3)
      graft.functions.GraftFunctions.scalar.foreach { case (id, _, _) =>
        assert(fns.functionExists(id), s"missing $id")
      }
      graft.functions.GraftFunctions.table.foreach { case (id, _, _) =>
        assert(tvfs.functionExists(id), s"missing $id")
      }
      assert(s3.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd")
        .head().getDouble(0) == 11.0)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("Tables schema memo: a warm ensure plus every df launches no Spark job") {
    // two passes warm it: `events` sets nanosAsLong mid-pass, and that
    // conf is part of every later table's key
    Tables.ensure(spark, sf)
    Tables.ensure(spark, sf)
    val jobs = TestSpark.jobsLaunched(spark) {
      Tables.ensure(spark, sf)
      Tables.names.foreach(Tables.df(spark, sf, _))
    }
    assert(jobs == 0)
  }

  test("Tables schema memo: every table reads the schema and rows a plain read infers") {
    def digest(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(hash(df.columns.map(col): _*).cast("long"))).head().getLong(0)
    Tables.names.foreach { n =>
      val got = Tables.df(spark, sf, n)
      val raw = spark.read.parquet(Tables.path(sf, n))
      val plain =
        if (n != "events") raw
        else raw.withColumn("ts", raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
          case _ => col("ts").cast("timestamp")
        }).select("event_id", "ts", "user_id", "event_type", "value", "props")
      assert(got.schema == plain.schema, n)
      assert(got.queryExecution.analyzed.collectLeaves().map(_.schema) == Seq(raw.schema), n)
      assert(digest(got) == digest(plain), n)
    }
  }

  test("Tables schema memo: a rewritten file or a changed parquet conf re-infers") {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-memo").toString
    // Tables reads one parquet FILE per table. The file comes from a
    // plain parquet writer, as the testdata does: a Spark-written footer
    // carries Spark's own schema, which inference prefers over every
    // parquet conf.
    def writeT(schema: String, withBin: Boolean): Unit = {
      val mt = MessageTypeParser.parseMessageType(schema)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(Tables.path(dir, "t")))
        .withType(mt).withConf(spark.sessionState.newHadoopConf())
        .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
        .build()
      try (0L until 3L).foreach { a =>
        val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
          .newGroup().append("a", a)
        w.write(if (withBin)
          g.append("bin", org.apache.parquet.io.api.Binary.fromString(a.toString)) else g)
      } finally w.close()
    }
    writeT("message t { required int64 a; }", withBin = false)
    assert(Tables.df(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    writeT("message t { required int64 a; required binary bin; }", withBin = true)
    val rewritten = Tables.df(spark, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq == Seq("a", "bin"))
    assert(rewritten.schema("bin").dataType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val asString = Tables.df(spark, dir, "t")
      assert(asString.schema("bin").dataType == StringType)
      assert(asString.where(col("a") === 2L).head().getAs[String]("bin") == "2")
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Tables.df(spark, dir, "t").schema("bin").dataType == BinaryType)
  }

  test("round-6 analytics keep their declared plan shapes") {
    // q70: the surviving price spine broadcasts back to the fact table
    assert(usesBroadcastHashJoin(SparkEntry.queries("q70_skyline")(spark, sf)),
      "skyline spine join does not broadcast")
    // q73: the per-stage event-type filters reach the parquet scan
    val pushed = pushedFilters(SparkEntry.queries("q73_funnel")(spark, sf))
    assert(pushed.exists(_.contains("event_type")),
      s"funnel stage filters not pushed: $pushed")
    // q77: both aggregates are partial+final; the priority-count scalar
    // joins as a broadcast
    val q77 = SparkEntry.queries("q77_relational_division")(spark, sf)
    assert(hasTwoPhaseAgg(q77) && usesBroadcastHashJoin(q77))
    // p12: the per-stratum rank filter runs as WindowGroupLimit (a
    // bounded per-partition heap before the shuffle), not a full
    // per-group sort
    assert(nodeNames(SparkEntry.queries("p12_sample_k_per_group")(spark, sf))
      .exists(_.contains("WindowGroupLimit")),
      "p12 rank filter did not plan as WindowGroupLimit")
  }

  test("TPC-H plans: Q1/Q6 push the date filter; Q3/Q5 broadcast every dim side") {
    // Q1: pure scan + two-phase agg, shipdate pushed to parquet
    val q1 = SparkEntry.queries("tpch_q1")(spark, sf)
    assert(hasTwoPhaseAgg(q1))
    assert(pushedFilters(q1).exists(_.contains("l_shipdate")),
      s"Q1 date filter not pushed: ${pushedFilters(q1)}")
    // Q6: filter-only scan, all four predicates pushed
    val q6f = pushedFilters(SparkEntry.queries("tpch_q6")(spark, sf))
    assert(Seq("l_shipdate", "l_discount", "l_quantity").forall(c => q6f.exists(_.contains(c))),
      s"Q6 predicates not pushed: $q6f")
    // Q3/Q5 star joins: no shuffle (SortMerge) join anywhere — every
    // dim side broadcasts, the single Exchange is the agg's
    for (n <- Seq("tpch_q3", "tpch_q5")) {
      val names = nodeNames(SparkEntry.queries(n)(spark, sf))
      assert(names.exists(_.contains("BroadcastHashJoin")), s"$n: no broadcast join")
      assert(!names.exists(_.contains("SortMergeJoin")),
        s"$n plans a shuffle join over a broadcastable dim: $names")
    }
    // Q17: the correlated AVG subquery must decorrelate to an
    // aggregate + join — a per-row subquery re-execution would be a
    // scan per part at scale. Decorrelated = the plan is joins over a
    // per-partkey aggregate, with no Subquery node on the lineitem side
    // (Q15-style uncorrelated scalar subqueries do keep one).
    val q17names = nodeNames(SparkEntry.queries("tpch_q17")(spark, sf))
    assert(q17names.count(_.contains("HashAggregate")) >= 4, // per-key avg (2-phase) + final sum
      s"Q17 lacks the decorrelated per-partkey aggregate: $q17names")
    assert(q17names.exists(_.contains("Join")), s"Q17 lost its join: $q17names")
  }

  test("q83/q84/q85 window-frame emulations shuffle once on the partition key") {
    // all three stack multiple window specs over the same custkey
    // partitioning; the emulations must not introduce a second
    // shuffle — extra Sorts are fine (different order keys), extra
    // Exchanges are not. One more Exchange is the final orderBy's
    // range partitioning.
    for (n <- Seq("q83_groups_frame", "q84_frame_exclude", "q85_ema")) {
      val names = nodeNames(SparkEntry.queries(n)(spark, sf))
      val exchanges = names.count(_.contains("Exchange"))
      assert(exchanges <= 2,
        s"$n plans $exchanges exchanges (want ≤ 2: custkey hash + final sort): $names")
      assert(names.count(_ == "Window") >= 1, s"$n lost its Window: $names")
    }
  }

  test("join and repartition hints are honored in the plan") {
    // the escape hatch when the optimizer guesses wrong: a BROADCAST
    // hint forces the small side to ship even with autoBroadcast off,
    // and MERGE forces a sort-merge join even under the threshold
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forced = spark.sql(
        s"""SELECT /*+ BROADCAST(n) */ n.n_name, count(*) AS c
           |FROM parquet.`$sf/customer.parquet` c
           |JOIN parquet.`$sf/nation.parquet` n ON c.c_nationkey = n.n_nationkey
           |GROUP BY n.n_name""".stripMargin)
      assert(nodeNames(forced).exists(_.contains("BroadcastHashJoin")),
        "BROADCAST hint ignored with autoBroadcast off")
    } finally saved.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    val merged = spark.sql(
      s"""SELECT /*+ MERGE(n) */ n.n_name, c.c_custkey
         |FROM parquet.`$sf/customer.parquet` c
         |JOIN parquet.`$sf/nation.parquet` n ON c.c_nationkey = n.n_nationkey""".stripMargin)
    assert(nodeNames(merged).exists(_.contains("SortMergeJoin")),
      "MERGE hint ignored under the broadcast threshold")
    val repartitioned = spark.sql(
      s"SELECT /*+ REPARTITION(7) */ * FROM parquet.`$sf/nation.parquet`")
    assert(repartitioned.rdd.getNumPartitions == 7, "REPARTITION(7) hint ignored")
  }

  test("DISTRIBUTE BY + SORT BY lays out partition-local order without a global sort") {
    // the physical-layout surface (write-side clustering): one hash
    // exchange + per-partition sort; a global Sort (range exchange)
    // would serialize the world at 100 TB
    val df = spark.sql(
      s"""SELECT o_custkey, o_orderkey FROM parquet.`$sf/orders.parquet`
         |DISTRIBUTE BY o_custkey SORT BY o_custkey, o_orderkey""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(o_custkey"),
      s"DISTRIBUTE BY did not hash-partition:\n$plan")
    // Sort's second argument is the global flag: `Sort [...], false, 0`
    // is a partition-local sort
    assert(plan.linesIterator.exists(l =>
      l.contains("Sort [o_custkey") && l.contains("], false,")),
      s"SORT BY did not plan a partition-local sort:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"layout query planned a global range sort:\n$plan")
  }

  test("cached table serves from InMemoryTableScan and uncaches cleanly") {
    val t = spark.read.parquet(s"$sf/region.parquet")
    t.cache()
    try {
      assert(t.count() == 5)
      val names = nodeNames(t.groupBy("r_name").count())
      assert(names.exists(_.contains("InMemoryTableScan")),
        s"cached table not served from memory: $names")
    } finally t.unpersist(blocking = true)
    assert(!nodeNames(t.groupBy("r_name").count())
      .exists(_.contains("InMemoryTableScan")), "unpersist left the cache live")
  }

  test("runtime Bloom-filter pruning injects into a selective shuffle join") {
    // the runtime-filter analog of the reference's pruning story: a
    // selective dim-side predicate is turned into a Bloom filter that
    // prunes probe-side rows BEFORE the shuffle. Production thresholds
    // (10 MB build / 10 GB probe scan) exist precisely because this
    // pays off at cluster scale; they are floored here to demonstrate
    // the plan shape on test-sized data.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creationSideThreshold is a MAX (the filter is built only when
      // the dim side is small enough); applicationSideScanSizeThreshold
      // is a MIN (the probe scan must be big enough to be worth it)
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .join(
          spark.read.parquet(s"$sf/orders.parquet")
            .where(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"no runtime Bloom filter injected:\n$optimized")
      assert(df.head().getAs[Long]("n") > 0, "pruned join must still produce rows")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q96/d16 plan shapes: aggregation not window, native pair expansion, no nested-loop joins") {
    val p96 = SparkEntry.queries("q96_pattern_match")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p96.contains("Window"),
      "q96 must assemble sequences via aggregation, not a window")
    assert(!p96.contains("CartesianProduct") && !p96.contains("BroadcastNestedLoop"),
      s"q96 plans an unbounded join:\n$p96")
    val p16 = SparkEntry.queries("d16_sentence_near_dup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p16.contains("ordered_pairs64"),
      s"d16 must expand candidate pairs with the native generator:\n$p16")
    assert(p16.contains("BroadcastHashJoin"),
      s"d16's per-sentence dim re-attach should broadcast:\n$p16")
    assert(!p16.contains("CartesianProduct") && !p16.contains("BroadcastNestedLoop")
      && !p16.contains("SortMergeJoin"),
      s"d16 has a non-broadcast or unbounded join:\n$p16")
  }

  test("q98/t20/d17 plan shapes: pre-agg before window, pruned scans, equality-only graph joins") {
    // q98: the window must run over the daily pre-aggregate, never raw
    // orders — the plan has an aggregate BELOW the window, and the
    // orders scan reads exactly the three needed columns
    val q98df = SparkEntry.queries("q98_anomaly_zscore")(spark, sf)
    val p98 = q98df.queryExecution.executedPlan.toString
    assert(p98.contains("Window"), "q98 lost its window")
    assert(p98.indexOf("HashAggregate") >= 0, "q98 lost its pre-aggregate")
    val s98 = readSchemas(q98df)
    assert(s98.exists(s => s.contains("o_orderpriority") && s.contains("o_totalprice")
      && !s.contains("o_custkey")), s"q98 scan not pruned: $s98")
    assert(!p98.contains("percentile"), "q98 must not use buffering aggregates")
    // t20: the only nested-loop join allowed is the deliberate 1-row
    // corpus-count broadcast; the tf->df term join must be an equality
    // join, and the top-3 cut must be a row_number window on doc_id
    val p20 = SparkEntry.queries("t20_tfidf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p20.contains("CartesianProduct"), s"t20 non-broadcast cross:\n$p20")
    assert(p20.contains("row_number"), "t20 lost its per-doc ranking window")
    // d17: wedge enumeration is equality joins only — no all-pairs shape
    val p17 = SparkEntry.queries("d17_triangles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoop"),
      s"d17 plans an unbounded join:\n$p17")
    // t21: the top-5 cut must pre-filter per partition (WindowGroupLimit)
    // so the vocabulary-sized relation is never sorted whole per source
    val p21 = SparkEntry.queries("t21_source_keyness")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p21.contains("WindowGroupLimit"),
      s"t21 lost its partial top-k:\n$p21")
  }

  test("q111 multi-distinct is one Expand pass; q112 interval join is equi-blocked") {
    // q111: several COUNT(DISTINCT col) must plan as ONE scan + Expand +
    // two-phase agg, not self-joined subqueries
    val p111 = SparkEntry.queries("q111_multi_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p111.contains("Expand"), s"q111 lost the Expand rewrite:\n$p111")
    assert(!p111.contains("Join"), s"q111 must not self-join:\n$p111")
    // q112: the non-equi overlap join must ride an equi bin key — any
    // nested-loop shape means the banding failed and the plan is
    // quadratic at scale
    val p112 = SparkEntry.queries("q112_interval_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p112.contains("CartesianProduct") && !p112.contains("BroadcastNestedLoop"),
      s"q112 plans an unbounded join:\n$p112")
    assert(p112.contains("HashJoin") || p112.contains("SortMergeJoin"),
      s"q112 lost its equi bin join:\n$p112")
    // t22: the dup-ngram profile must stay a NARROW scan — the native
    // per-row expression replaced two shuffling aggregations; the only
    // allowed exchange is the output sort's range partitioning
    val p22t = SparkEntry.queries("t22_dup_ngrams")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p22t.contains("HashAggregate"),
      s"t22 must not aggregate — the profile is per-row:\n$p22t")
    assert("Exchange".r.findAllIn(p22t).size <= 1,
      s"t22 grew a shuffle beyond the output sort:\n$p22t")
    // q113: the rank <= 3 cut must push below the window sort
    // (rank-like WindowGroupLimit), and ties must actually fan out
    val q113df = SparkEntry.queries("q113_topk_ties")(spark, sf)
    val p113 = q113df.queryExecution.executedPlan.toString
    assert(p113.contains("WindowGroupLimit"),
      s"q113 lost its partial tied-top-k:\n$p113")
    val perRank = q113df.collect()
      .groupBy(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("rnk")))
    assert(perRank.exists(_._2.length > 1),
      "fixture should produce at least one genuine tie group")
  }

  test("taskSkewReport surfaces a hot-key stage; balanced stages stay flat") {
    val s = spark
    import s.implicits._
    // AQE's partition coalescing would fold the tiny reduce side into
    // ONE task (nothing to compare); a real deployment has many — pin
    // the reduce width for the fixture
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      // hot key 0 carries 50k rows; 100 cold keys carry 50 each. A
      // combine-free hash exchange (repartition-by-key — the shape of
      // any keyed write / mapGroups) hands ONE reduce task 50k records.
      // (A groupBy would NOT show this: map-side combine collapses the
      // hot key to one partial per mapper — two-phase agg is exactly
      // the fix this report tells you to reach for.)
      val skewed = ((1 to 50000).map(_ => 0L) ++
        (1 to 100).flatMap(k => Seq.fill(50)(k.toLong)))
        .toDF("k").repartition(4, col("k"))
      val rep = graft.plans.PlanInspector.taskSkewReport(skewed)
        .collect().map(r => (r.getAs[Int]("n_tasks"), r.getAs[Any]("record_skew")))
      val skews = rep.collect { case (n, sk: Double) if n > 1 => sk }
      assert(skews.nonEmpty && skews.max >= 10.0,
        s"hot-key stage not surfaced (skews: ${rep.mkString(", ")})")
      // uniform keys through the same shape: no stage may look skewed
      val balanced = (1 to 10000).map(i => i.toLong % 1000)
        .toDF("k").repartition(4, col("k"))
      val rep2 = graft.plans.PlanInspector.taskSkewReport(balanced)
        .collect().map(r => (r.getAs[Int]("n_tasks"), r.getAs[Any]("record_skew")))
      val skews2 = rep2.collect { case (n, sk: Double) if n > 1 => sk }
      assert(skews2.forall(_ <= 3.0),
        s"balanced stages reported skewed (skews: ${rep2.mkString(", ")})")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("aqeDiff names the AQE skew split on a skewed shuffle join") {
    val s = spark
    import s.implicits._
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // one hot key carries ~99% of the left side: its post-shuffle
      // partition dwarfs the 16k threshold while the rest stay tiny
      val left = (1 to 200000).map(i => (if (i % 100 == 0) i % 37 else 0, i.toLong))
        .toDF("k", "payload")
      val right = (0 until 37).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = left.join(right, "k").groupBy("name").agg(sum("payload").as("s"))
      val diff = plans.PlanInspector.aqeDiff(joined).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(diff.exists(_._1 == "skew_split"),
        s"diff must name the skew split, got:\n${diff.mkString("\n")}")
      val split = diff.find(_._1 == "skew_split").get
      assert("\\(\\d+ skew-split".r.findFirstIn(split._3).isDefined)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffleReport: partial agg shuffles groups not rows; broadcast side is the dim") {
    // two-phase agg: the exchange carries per-partition partial states
    // (≤ |groups| × |map partitions|), NOT the 60k input rows — the
    // map-side-combine win as a measured number, not a plan shape.
    val li = Tables.df(spark, sf, "lineitem")
    val agg = li.groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
    val rep = plans.PlanInspector.shuffleReport(agg).collect()
      .map(r => (r.getString(0), r.getLong(3)))
    val shuffled = rep.filter(_._1 == "shuffle").map(_._2).sum
    val rows = li.count()
    assert(shuffled > 0 && shuffled <= 3 * 64,
      s"partial agg shuffled $shuffled records (input $rows)")
    // broadcast join: the broadcast exchange carries exactly the dim
    val nation = Tables.df(spark, sf, "nation")
    val joined = Tables.df(spark, sf, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
    val rep2 = plans.PlanInspector.shuffleReport(joined).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    val bc = rep2.filter(_._1 == "broadcast")
    assert(bc.nonEmpty, "expected a broadcast exchange")
    assert(bc.exists(e => e._2 == 25 && e._3 > 0),
      s"broadcast should carry the 25-row nation dim, got ${bc.toSeq}")
  }

  test("q109 estimate path shuffles per-key counts while the real join moves every row") {
    val s = spark
    import s.implicits._
    // 100k × 1k rows on 100 keys: the counts-product path must agree
    // with the materialized join AND move orders of magnitude less.
    val a = (1 to 100000).map(i => (i % 100, i)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i % 100, i)).toDF("k2", "vb")
    val est = operators.SketchMv.joinSizeEstimate(a, "k", b, "k2")
    assert(est.head().getLong(0) == 1000000L) // 100 keys × 1000 × 10
    def shuffled(df: org.apache.spark.sql.DataFrame): Long =
      plans.PlanInspector.shuffleReport(df).collect()
        .filter(_.getString(0) == "shuffle").map(_.getLong(3)).sum
    val estMoved = shuffled(est)
    val restore = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val realMoved = shuffled(
        a.join(b, col("k") === col("k2")).agg(count(lit(1)).as("n")))
      assert(estMoved > 0 && estMoved * 10 < realMoved,
        s"estimate moved $estMoved records vs join's $realMoved — expected ≥10× less")
    } finally restore match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.GraftCatalog

/** SURVEY §2.A: sources, sinks, and the information-schema surface
  * (reference docs/1 + docs/2). */
class SourcesCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf
  private val tmp = "/tmp/graft-sources"

  test("csv sink + source round-trip with header and schema inference") {
    val region = Tables.df(spark, sf, "region")
    GraftCatalog.writeCsv(region, s"$tmp/region_csv")
    val back = GraftCatalog.registerCsv(spark, "region_csv", s"$tmp/region_csv")
    assert(back.count() == region.count())
    assert(back.columns.toSeq == region.columns.toSeq)
    assert(spark.table("region_csv").where(col("r_regionkey") === 0).count() == 1)
  }

  test("multi-file parquet directory registers as one table") {
    val nation = Tables.df(spark, sf, "nation")
    nation.where(col("n_nationkey") < 12).write.mode("overwrite")
      .parquet(s"$tmp/nation_dir/part_a")
    nation.where(col("n_nationkey") >= 12).write.mode("overwrite")
      .parquet(s"$tmp/nation_dir/part_b")
    val df = GraftCatalog.registerParquet(
      spark, "nation_dir", s"$tmp/nation_dir/part_*")
    assert(df.count() == nation.count())
  }

  test("json sink + source round-trip") {
    val nation = Tables.df(spark, sf, "nation")
    GraftCatalog.writeJson(nation, s"$tmp/nation_json")
    val back = GraftCatalog.registerJson(spark, "nation_json", s"$tmp/nation_json")
    assert(back.count() == nation.count())
    assert(spark.table("nation_json").where(col("n_nationkey") === 0).count() == 1)
  }

  test("schema evolution: mergeSchema unions file versions, old files read NULL") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v1col")
      .write.mode("overwrite").parquet(s"$tmp/evolve/gen=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1col", "v2col")
      .write.mode("overwrite").parquet(s"$tmp/evolve/gen=2")
    val df = GraftCatalog.registerParquetMerged(spark, "evolved", s"$tmp/evolve")
    assert(df.columns.toSet == Set("id", "v1col", "v2col", "gen"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v2col")),
      "old-generation file must surface NULL for the added column")
    assert(rows(1).getDouble(rows(1).fieldIndex("v2col")) == 9.5)
  }

  test("orc sink + source round-trip with predicate pushdown") {
    val orders = Tables.df(spark, sf, "orders")
    GraftCatalog.writeOrc(orders, s"$tmp/orders_orc")
    val back = GraftCatalog.registerOrc(spark, "orders_orc", s"$tmp/orders_orc")
    assert(back.count() == orders.count())
    assert(back.columns.toSeq == orders.columns.toSeq)
    // the same pushdown contract as parquet: the filter must reach the scan
    val plan = spark.table("orders_orc").where(col("o_orderkey") === 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)]")
      || plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7"),
      s"ORC scan did not receive the pushed filter:\n$plan")
  }

  test("observed runtime metrics accumulate during the run") {
    val m = plans.PlanInspector.observed(
      Tables.df(spark, sf, "orders"), "orders_obs",
      count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
    assert(m("n") == Tables.df(spark, sf, "orders").count())
    assert(m("total").asInstanceOf[Double] > 0)
  }

  test("values + insert analog") {
    import spark.implicits._
    GraftCatalog.registerValues(spark, "manual",
      Seq(("A", "dev"), ("B", "prod")).toDF("dkey", "env"))
    val merged = GraftCatalog.insertInto(spark, "manual",
      Seq(("C", "prod")).toDF("dkey", "env"))
    assert(merged.count() == 3)
    assert(spark.table("manual").count() == 3)
  }

  test("bucketed+sorted table (WITH ORDER analog) joins without exchange on the bucket key") {
    val orders = Tables.df(spark, sf, "orders")
    // the in-memory catalog is per-session: a leftover warehouse dir from
    // an earlier JVM would block Overwrite, so clear both
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft-warehouse/orders_bkt"))
    GraftCatalog.writeBucketedSorted(orders, "orders_bkt", "o_custkey",
      Seq("o_custkey", "o_orderdate"), buckets = 8)
    val t = spark.table("orders_bkt")
    assert(t.count() == orders.count())
    // self-aggregation on the bucket key: no shuffle exchange needed
    val agged = t.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val plan = plans.PlanInspector.physical(agged).toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket pruning failed, plan still shuffles:\n$plan")
  }

  test("bucketed+sorted tables sort-merge join with neither Exchange nor Sort (WITH ORDER sort elimination)") {
    // The reference's WITH ORDER lets a sorted scan replace SortExec
    // entirely (docs/4, docs/6 SortPreservingMergeExec). Spark's analog:
    // both join sides bucketed AND sorted on the key, one file per
    // bucket (repartition(8, key) aligns with the bucket hash, so each
    // writer task owns exactly one bucket) -> the scan reports its
    // ordering and SortMergeJoin plans with no Sort children.
    for ((src, tbl, key) <- Seq(("orders", "orders_srt", "o_custkey"),
                                ("customer", "cust_srt", "c_custkey"))) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft-warehouse/$tbl"))
      GraftCatalog.writeBucketedSorted(
        Tables.df(spark, sf, src).repartition(8, col(key)),
        tbl, key, Seq(key), buckets = 8)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // scans only report their on-disk sort order behind this flag
      // (off by default since 3.0 because the one-file-per-bucket
      // precondition costs a listing check) — it is exactly the
      // prefer_existing_sort switch of the reference
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val j = spark.table("orders_srt").join(
        spark.table("cust_srt"),
        col("o_custkey") === col("c_custkey"))
      val plan = plans.PlanInspector.physical(j).toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val noSmj = plan.replace("SortMergeJoin", "SMJ")
      assert(!noSmj.contains("Sort ["),
        s"sort was not eliminated by the on-disk order:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"shuffle was not eliminated by bucketing:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("hive-partitioned layout prunes partitions at the scan") {
    val ev = Tables.df(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$tmp/events_by_day")
    val part = spark.read.parquet(s"$tmp/events_by_day")
      .where(col("day") === "2024-01-05")
    val plan = plans.PlanInspector.formatted(part)
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition filter in scan:\n$plan")
    // pruned read touches exactly the one day
    val expected = ev.where(col("day") === "2024-01-05").count()
    assert(part.count() == expected && expected > 0)
  }

  test("file-per-partition placement (with_repartition_file_scans(false) analog)") {
    // The reference keeps probe files in separate partitions for
    // locality + preserved per-file order. Spark's knob is the file
    // open cost: raising it above maxPartitionBytes makes the
    // bin-packer refuse to coalesce files, so each file maps to
    // exactly one input partition.
    val nation = Tables.df(spark, sf, "nation")
    for (i <- 0 until 4)
      nation.where(pmod(col("n_nationkey"), lit(4)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/nation_4files/f$i")
    val prev = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.openCostInBytes", (256L << 20).toString)
      val scan = spark.read.parquet(s"$tmp/nation_4files/f*")
      assert(scan.rdd.getNumPartitions == 4,
        s"expected one partition per file, got ${scan.rdd.getNumPartitions}")
      assert(scan.count() == nation.count())
      // (the inverse — default bin-packing coalescing many files per
      // partition — only shows when files outnumber cores; with 32
      // local cores and 4 files both settings give 4 partitions, so
      // the locality direction is the one asserted here)
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prev)
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan at runtime") {
    import spark.implicits._
    // fact partitioned by day; the filter arrives via a JOIN, not a
    // literal — static pruning can't help, DPP injects a runtime
    // subquery into the fact scan's PartitionFilters
    val ev = Tables.df(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$tmp/events_dpp")
    val fact = spark.read.parquet(s"$tmp/events_dpp")
    // the dim must be a file relation with a live filter: a local
    // relation folds the predicate away and the pruning rule sees no
    // selective filter to reuse
    Seq(("2024-01-05", "promo"), ("2024-01-06", "launch"))
      .toDF("day", "campaign")
      .write.mode("overwrite").parquet(s"$tmp/campaign_dim")
    val dim = spark.read.parquet(s"$tmp/campaign_dim")
      .where(col("campaign") === "promo")
    val joined = fact.join(dim, Seq("day"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no runtime pruning subquery in the fact scan:\n$plan")
    val expected = ev.where(col("day") === "2024-01-05").count()
    assert(joined.count() == expected && expected > 0)
    // the runtime report: EXPLAIN only shows the opaque subquery
    // placeholder; dppReport shows what actually survived — exactly
    // ONE of the many day partitions was read by the fact scan
    val totalDays = ev.select("day").distinct().count()
    assert(totalDays > 1, "fixture needs multiple partitions")
    val rep = plans.PlanInspector.dppReport(fact.join(dim, Seq("day"))).collect()
    val factScan = rep.filter(_.getAs[Boolean]("dynamic"))
    assert(factScan.length == 1, s"expected one dynamically-pruned scan: ${rep.toSeq}")
    assert(factScan.head.getAs[Long]("partitions_read") == 1,
      s"DPP should leave 1 of $totalDays partitions: ${factScan.head}")
    assert(factScan.head.getAs[Long]("pruning_time_ms") >= 0)
  }

  test("information schema: tables, columns, settings") {
    Tables.ensure(spark, sf)
    val tbls = GraftCatalog.tables(spark).collect().map(_.getAs[String]("tableName")).toSet
    assert(Set("region", "nation", "lineitem").subsetOf(tbls))
    val cols = GraftCatalog.columns(spark, "region").collect().map(_.getString(0)).toSet
    assert(cols.contains("r_regionkey"))
    val st = GraftCatalog.settings(spark, "shuffle.partitions").collect()
    assert(st.exists(_.getString(0) == "spark.sql.shuffle.partitions"))
  }

  test("binaryFile source ingests raw media files straight into the decode stage") {
    // the production multimodal ingest path: a directory of opaque
    // media files → (path, length, content) binary rows → the same
    // typed decode boundary m01 uses. No driver-side file reads — the
    // source distributes file splits like any other scan.
    import graft.operators.Multimodal
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toFile
    for (i <- 0 until 3) {
      val bmp = Multimodal.encodeBmp(4, 3, (x, y) => (x * 20 + i, y * 30, 40))
      java.nio.file.Files.write(
        new java.io.File(dir, s"img_$i.bmp").toPath, bmp)
    }
    java.nio.file.Files.write( // a non-media straggler the glob must skip
      new java.io.File(dir, "notes.txt").toPath, "not an image".getBytes)
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bmp")
      .load(dir.getAbsolutePath)
    assert(files.count() == 3)
    val feats = files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val id = path.replaceAll(".*img_(\\d+)\\.bmp$", "$1").toLong
        Multimodal.decodeBmp(Multimodal.MediaRow(id, bytes, 4, 3, "bmp"))
      }
      .collect()
    assert(feats.length == 3)
    assert(feats.forall(f => f.width == 4 && f.height == 3))
    assert(feats.map(_.doc_id).sorted.sameElements(Array(0L, 1L, 2L)))
  }

  test("small-file compaction rewrites a fragmented dir and preserves rows") {
    val nation = Tables.df(spark, sf, "nation")
    val dir = s"$tmp/nation_fragmented"
    // 25 rows spread over ~12 files: the streaming-sink pathology.
    nation.repartition(12).write.mode("overwrite").parquet(dir)
    val rowsBefore = spark.read.parquet(dir).count()
    val sumBefore = spark.read.parquet(dir)
      .agg(sum(col("n_nationkey"))).head.getLong(0)
    val (before, after) = GraftCatalog.compactParquet(spark, dir)
    assert(before >= 10, s"fixture should be fragmented, got $before files")
    assert(after == 1, s"tiny table should compact to 1 file, got $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == rowsBefore)
    assert(back.agg(sum(col("n_nationkey"))).head.getLong(0) == sumBefore)
    // Idempotent on an already-compact dir.
    val (b2, a2) = GraftCatalog.compactParquet(spark, dir)
    assert(b2 == 1 && a2 == 1)
  }

  test("snapshot table: append/overwrite versions, time travel, isolation from compaction") {
    import spark.implicits._
    val root = s"$tmp/snap_${System.nanoTime()}"
    def batch(lo: Int, hi: Int) = (lo to hi).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet

    val v1 = GraftCatalog.commitSnapshot(batch(1, 10).repartition(3), root, append = false)
    val v2 = GraftCatalog.commitSnapshot(batch(11, 15).repartition(2), root, append = true)
    val v3 = GraftCatalog.commitSnapshot(batch(100, 102), root, append = false)
    assert((v1, v2, v3) == (1L, 2L, 3L))
    // latest = the overwrite; earlier versions still read their contents
    assert(ids(GraftCatalog.readSnapshot(spark, root)) == (100 to 102).map(_.toLong).toSet)
    assert(ids(GraftCatalog.readSnapshot(spark, root, Some(1))) == (1 to 10).map(_.toLong).toSet)
    assert(ids(GraftCatalog.readSnapshot(spark, root, Some(2))) == (1 to 15).map(_.toLong).toSet)

    // compaction publishes a new head with identical rows; v2's
    // pre-compaction file list is untouched (snapshot isolation)
    val v4 = GraftCatalog.compactSnapshot(spark, root)
    assert(v4 == 4L)
    assert(ids(GraftCatalog.readSnapshot(spark, root)) == (100 to 102).map(_.toLong).toSet)
    assert(ids(GraftCatalog.readSnapshot(spark, root, Some(2))) == (1 to 15).map(_.toLong).toSet)

    // rollback republishes v2's file list as a NEW version
    val v5 = GraftCatalog.rollbackSnapshot(spark, root, to = 2)
    assert(v5 == 5L)
    assert(ids(GraftCatalog.readSnapshot(spark, root)) == (1 to 15).map(_.toLong).toSet)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("snapshot vacuum deletes only unreferenced files; commit conflicts are detected") {
    import spark.implicits._
    val root = s"$tmp/snapvac_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(4),
      root, append = false)
    GraftCatalog.commitSnapshot(
      (11 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = true)
    GraftCatalog.commitSnapshot(
      (20 to 24).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    // v1/v2's files are referenced ONLY by them → vacuum(keepFrom=3)
    // removes them; the surviving head still reads in full
    val deleted = GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 3)
    assert(deleted > 0, "vacuum should delete the orphaned v1/v2 batch files")
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(3L))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 5)

    // a concurrently-published manifest is never overwritten: a commit
    // that finds v4 already present lands as v5 (versions are
    // monotone; the create-exclusive rename inside publish turns a
    // true same-version race into a loud IllegalStateException)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val clash = new org.apache.hadoop.fs.Path(s"$root/_manifests/v4.manifest")
    val out = fs.create(clash, false); out.write("\n".getBytes("UTF-8")); out.close()
    val v = GraftCatalog.commitSnapshot(
      Seq((1L, "x")).toDF("id", "v"), root, append = false)
    assert(v == 5L, "commit must slot AFTER the externally published v4")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 1)
  }

  test("time-based vacuum reaps versions committed before the cut; the head always survives") {
    import spark.implicits._
    val root = s"$tmp/snapvact_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 4).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      Seq((5L, "r5")).toDF("id", "v"), root, append = true)
    Thread.sleep(60)
    val cut = System.currentTimeMillis()
    Thread.sleep(60)
    GraftCatalog.commitSnapshot(
      Seq((6L, "r6")).toDF("id", "v"), root, append = true)
    // v1/v2 predate the cut and reap; v3 (the post-cut commit) survives
    GraftCatalog.vacuumSnapshotsOlderThan(spark, root, cut, orphanGraceMs = 0)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(3L))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 6)
    // a cut in the FUTURE must still keep the head — never empty a table
    GraftCatalog.vacuumSnapshotsOlderThan(spark, root,
      System.currentTimeMillis() + 3600000L, orphanGraceMs = 0)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(3L))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 6)
  }

  test("snapshot schema evolution: appended batches may add columns; mergeSchema unions them") {
    import spark.implicits._
    val root = s"$tmp/snapevo_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, append = false)
    // a later feed generation carries an extra column
    GraftCatalog.commitSnapshot(
      Seq((3L, "c", 9L)).toDF("id", "v", "score"), root, append = true)
    val merged = GraftCatalog.readSnapshot(spark, root, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val byId = merged.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(9L)),
      s"old files must read NULL for the new column: $byId")
    // v1 time travel is oblivious to the evolution
    assert(GraftCatalog.readSnapshot(spark, root, Some(1)).columns.toSet == Set("id", "v"))
  }

  test("z-ordered snapshot compaction improves pruning; old versions keep their layout") {
    import spark.implicits._
    val root = s"$tmp/snapz_${System.nanoTime()}"
    val ev = Tables.df(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("tsl"))
    // events arrive TIME-ordered in 5 streaming commits — the layout a
    // user-selective scan cannot prune
    val rows = ev.orderBy("tsl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.grouped(rows.length / 5 + 1).zipWithIndex.foreach { case (chunk, i) =>
      GraftCatalog.commitSnapshotBatch(
        chunk.toSeq.toDF("event_id", "user_id", "tsl").repartition(1), root, i)
    }
    val vPre = GraftCatalog.snapshotVersions(spark, root).last
    val (uLo, uHi) = {
      val r = ev.agg(min("user_id"), max("user_id")).head
      (r.getLong(0), r.getLong(0) + math.max(1L, (r.getLong(1) - r.getLong(0)) / 10))
    }
    def scanned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val f = df.where(col("user_id").between(uLo, uHi))
      val kept = f.count()
      val qe = f.queryExecution
      f.collect()
      (kept, qe.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum)
    }
    val (keptPre, scanPre) = scanned(GraftCatalog.readSnapshot(spark, root))
    val vz = GraftCatalog.compactSnapshotZOrdered(spark, root,
      Seq("user_id", "tsl"), nFiles = 4, rowGroupBytes = 16 * 1024)
    assert(vz == vPre + 1)
    val (keptPost, scanPost) = scanned(GraftCatalog.readSnapshot(spark, root))
    assert(keptPost == keptPre && keptPre > 0, s"compaction changed the data: $keptPost vs $keptPre")
    assert(scanPost * 2 <= scanPre,
      s"z-compacted head should prune at least 2x better: $scanPost vs $scanPre")
    // the PRE-compaction version still reads, with its OWN (unpruned)
    // layout untouched — maintenance never disturbs a pinned reader
    val (keptOld, scanOld) = scanned(GraftCatalog.readSnapshot(spark, root, Some(vPre)))
    assert(keptOld == keptPre && scanOld == scanPre,
      s"old version's layout changed under a reader: $scanOld vs $scanPre")
  }

  test("nested schema pruning: one-subfield projection reads only that subfield from parquet") {
    // struct columns are how multimodal metadata and feature bags ship;
    // at 100 TB reading u.user_id must not deserialize u.value — the
    // scan's ReadSchema is the proof, same contract as flat pruning
    val dir = s"$tmp/nested_prune"
    Tables.df(spark, sf, "events")
      .select(col("event_id"),
        struct(col("user_id"), col("value"), col("event_type")).as("u"))
      .write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir).select(col("u.user_id"))
    val schemas = plans.PlanInspector.readSchemas(one)
    assert(schemas.exists(s => s.contains("user_id") && !s.contains("value")
        && !s.contains("event_type")),
      s"nested projection not pruned at the scan: $schemas")
    assert(one.count() > 0)
  }

  test("bucket_of binary search assigns the exact buckets of the interpreted HOF formulation") {
    // the codegen'd bucket_of replaced size(filter(bnd, x -> x <= v))
    // in zOrderWriteN — identical buckets means identical z-keys means
    // identical layout bytes. Pinned on skew (log-normal-ish), ties,
    // duplicate boundaries, NULLs, and values outside the sketch range.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vals: Seq[Option[Double]] =
      (1 to 5000).map(_ => Some(math.exp(rnd.nextGaussian() * 2))) ++
      (1 to 500).map(_ => Some(7.0)) ++ // heavy tie
      Seq(None, Some(-1e18), Some(1e18))
    val df = rnd.shuffle(vals).toDF("v")
    val bnds = GraftCatalog.zBoundaries(df, Seq("v"))
    val both = df.crossJoin(org.apache.spark.sql.functions.broadcast(bnds))
      .select(
        expr("size(filter(bnd0, x -> x <= CAST(v AS DOUBLE)))").as("hof"),
        expr("coalesce(bucket_of(CAST(v AS DOUBLE), bnd0), 0)").as("bin"))
    assert(both.where(col("hof") =!= col("bin")).count() == 0)
    assert(both.select(countDistinct(col("bin"))).head.getLong(0) > 100,
      "degenerate boundaries: bucket spread too narrow to exercise the search")
  }

  test("z-order layout prunes 2-D selective scans a linear sort cannot") {
    // sf0.01, not the usual sf0.001: row-group pruning needs enough
    // rows for many row groups — 1k rows is 1-2 groups per file and
    // the measurement degenerates
    val ev = Tables.df(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("tsl"))
    val total = ev.count()
    val zDir = s"$tmp/ev_zorder"; val linDir = s"$tmp/ev_linear"
    // same file count, same (small) row groups — the ONLY difference
    // under measurement is row order
    GraftCatalog.zOrderWrite(ev, "user_id", "tsl", zDir,
      nFiles = 4, rowGroupBytes = 16 * 1024)
    ev.repartitionByRange(4, col("tsl")).sortWithinPartitions("tsl")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("parquet.block.size", 16 * 1024).parquet(linDir)
    // selective on user_id ONLY: the ts-linear layout's row groups all
    // span the full user range, so none can be skipped; z-order gives
    // every row group a tight user envelope
    val (uLo, uHi) = {
      val r = ev.agg(min("user_id"), max("user_id")).head
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      (mn, mn + math.max(1L, (mx - mn) / 10))
    }
    def scannedRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
        .where(col("user_id").between(uLo, uHi))
      val kept = df.count()
      val qe = df.queryExecution
      df.collect()
      val scanned = qe.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      (kept, scanned)
    }
    val (keptZ, scanZ) = scannedRows(zDir)
    val (keptL, scanL) = scannedRows(linDir)
    assert(keptZ == keptL && keptZ > 0, s"layouts disagree: $keptZ vs $keptL")
    assert(scanL > total / 2,
      s"linear layout should scan most of the table for a user-only filter, scanned $scanL of $total")
    assert(scanZ * 2 < scanL,
      s"z-order should skip most row groups: scanned $scanZ vs linear $scanL")
  }

  test("3-column z-order prunes on the third dimension a time-sort cannot") {
    // sf0.1 and 4 KB row groups: k-dim z-order discriminates ~(log2
    // #rowgroups)/k bits per dimension, so 3-dim pruning needs
    // hundreds of row groups to show — 100k rows / 4 KB gives ~800,
    // i.e. ~3 bits of value envelope per group
    val ev = Tables.df(spark, "/root/testdata/sf0.1", "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("tsl"), col("value"))
    val zDir = s"$tmp/ev_z3"; val linDir = s"$tmp/ev_lin3"
    GraftCatalog.zOrderWriteN(ev, Seq("user_id", "tsl", "value"), zDir,
      nFiles = 4, rowGroupBytes = 4 * 1024)
    ev.repartitionByRange(4, col("tsl")).sortWithinPartitions("tsl")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("parquet.block.size", 4 * 1024).parquet(linDir)
    // selective on `value` ONLY — the dimension neither a time sort
    // nor a 2-D (user, time) key would give row groups envelopes on.
    // Bounds come from QUANTILES (p50–p60, ~10% of rows): the column
    // is log-normal-skewed, so a fixed fraction of the value RANGE is
    // not a fixed fraction of the rows
    val (vLo, vHi) = {
      val q = ev.stat.approxQuantile("value", Array(0.5, 0.6), 0.001)
      (q(0), q(1))
    }
    def scanned(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir).where(col("value").between(vLo, vHi))
      val kept = df.count()
      val qe = df.queryExecution
      df.collect()
      (kept, qe.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum)
    }
    val (keptZ, scanZ) = scanned(zDir)
    val (keptL, scanL) = scanned(linDir)
    assert(keptZ == keptL && keptZ > 0, s"layouts disagree: $keptZ vs $keptL")
    // the linear baseline already gets parquet page-level column-index
    // pruning, so the bar is: strictly better than it AND absolutely
    // small (under a third of the table for a ~1/12-selective filter)
    val total = ev.count()
    assert(scanZ < scanL,
      s"3-col z-order not better than linear: $scanZ vs $scanL")
    assert(scanZ * 3 < total,
      s"3-col z-order scans too much of the table: $scanZ of $total")
  }

  test("snapshot data skipping: manifest stats prune the file list before any footer I/O") {
    import spark.implicits._
    val root = s"$tmp/snapskip_${System.nanoTime()}"
    // four appended batches with DISJOINT id ranges, one file each —
    // the shape a range-partitioned ingest leaves behind
    Seq(1 to 100, 101 to 200, 201 to 300, 301 to 400).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
        root, append = true)
    }
    val full = GraftCatalog.readSnapshot(spark, root)

    // range predicate: 150..160 lives in exactly one batch
    val pRange = col("id").between(150L, 160L)
    val (kept, total) = GraftCatalog.snapshotScanFiles(spark, root, None, Some(pRange))
    assert(total == 4, s"expected 4 manifest files, got $total")
    assert(kept.size == 1, s"range predicate should prune to 1 file, kept ${kept.size}")
    val pruned = GraftCatalog.readSnapshot(spark, root, predicate = Some(pRange))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == (150L to 160L),
      "pruned read must equal the unpruned filtered read")

    // equality predicate, plus the flipped-orientation and IN forms
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("id") === 250L))._1.size == 1)
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(lit(250L) === col("id")))._1.size == 1)
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("id").isin(50L, 350L)))._1.size == 2)

    // string stats prune too (lexicographic envelopes are coarser —
    // 'r150' falls inside batch 1's [r1, r99] — but batches 3 and 4 go)
    val (keptS, _) = GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("v") === "r150"))
    assert(keptS.size <= 2, s"string envelope should drop half the files: ${keptS.size}")

    // all files pruned: empty result, schema intact
    val none = GraftCatalog.readSnapshot(spark, root, predicate = Some(col("id") === -5L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // IS NULL prunes everything (null counts are in the stats);
    // IS NOT NULL keeps everything
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("v").isNull))._1.isEmpty)
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("v").isNotNull))._1.size == 4)

    // untranslatable predicates degrade to keep-everything, never wrong
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(length(col("v")) > 2))._1.size == 4)
    // semantics check: pruned+filtered == plain filtered, row for row
    assert(GraftCatalog.readSnapshot(spark, root,
        predicate = Some(col("id") % 7 === 0 && col("id") < 210L)).count() ==
      full.where(col("id") % 7 === 0 && col("id") < 210L).count())
  }

  test("snapshot data skipping composes with schema evolution and time travel") {
    import spark.implicits._
    val root = s"$tmp/snapskipevo_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 50).map(i => (i.toLong, s"a$i")).toDF("id", "v").repartition(1),
      root, append = false)
    GraftCatalog.commitSnapshot(
      (51 to 60).map(i => (i.toLong, s"b$i", i * 10L)).toDF("id", "v", "score")
        .repartition(1),
      root, append = true)
    // predicate on the NEW column: the old file has no 'score' stats →
    // conservatively kept; the row filter still yields only new rows
    val evolved = GraftCatalog.readSnapshot(spark, root, mergeSchema = true,
      predicate = Some(col("score") >= 550L))
    assert(evolved.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (55L to 60L))
    // predicate on the shared column prunes across generations
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("id") <= 10L))._1.size == 1)
    // time travel ignores later stats entirely
    assert(GraftCatalog.readSnapshot(spark, root, Some(1),
      predicate = Some(col("id") <= 10L)).count() == 10)
  }

  test("copy-on-write merge rewrites only matched files; carried files and time travel are untouched") {
    import spark.implicits._
    val root = s"$tmp/snapmerge_${System.nanoTime()}"
    Seq(1 to 100, 101 to 200, 201 to 300).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
        root, append = true)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(v: Long): Seq[String] =
      GraftCatalog.snapshotScanFiles(spark, root, Some(v), None)._1
    val preFiles = manifestFiles(3L)
    val preMeta = preFiles.map { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      f -> (st.getModificationTime, st.getLen)
    }.toMap

    // updates touch ONLY batch 2's key range, plus two brand-new keys
    val updates = Seq((150L, "UPDATED150"), (160L, "UPDATED160"),
      (1000L, "NEW1000"), (1001L, "NEW1001")).toDF("id", "v")
    val vm = GraftCatalog.mergeSnapshot(spark, root, updates, "id")
    assert(vm == 4L)

    // row-level semantics: updated, inserted, everything else intact
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 302)
    val byId = head.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(150L) == "UPDATED150" && byId(160L) == "UPDATED160")
    assert(byId(1000L) == "NEW1000" && byId(1001L) == "NEW1001")
    assert(byId(149L) == "r149" && byId(250L) == "r250")

    // file-level copy-on-write: batches 1 and 3 carried BY PATH with
    // bytes untouched; batch 2's file is gone from the head manifest
    val postFiles = manifestFiles(4L)
    val carried = postFiles.filter(preFiles.contains)
    assert(carried.size == 2, s"expected 2 carried files, got ${carried.size}")
    carried.foreach { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      assert((st.getModificationTime, st.getLen) == preMeta(f),
        s"carried file was rewritten: $f")
    }
    val rewritten = preFiles.filterNot(postFiles.contains)
    assert(rewritten.size == 1, "exactly the matched file must leave the manifest")

    // stats survive the merge: a selective read of the head still prunes
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("id") === 50L))._1.size < postFiles.size)

    // time travel to the pre-merge version is intact
    val pre = GraftCatalog.readSnapshot(spark, root, Some(3L))
    assert(pre.count() == 300)
    assert(pre.where(col("id") === 150L).head().getString(1) == "r150")

    // a merge that loses its commit race aborts CLEANLY: the clash
    // lands WHILE the merge is running (the updates DataFrame's first
    // evaluation happens after the merge pins its base version), so the
    // merge plans against v4 and finds v5 taken at publish time
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
    val dirsBefore = fs.listStatus(dataDir).count(_.isDirectory)
    val mkClash = udf(() => {
      val p = new org.apache.hadoop.fs.Path(s"$root/_manifests/v5.manifest")
      val f = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      if (!f.exists(p)) {
        val o = f.create(p, true); o.write("#eof\n".getBytes("UTF-8")); o.close()
      }
      true
    })
    intercept[graft.sources.SnapshotConflictException] {
      GraftCatalog.mergeSnapshot(spark, root,
        Seq((150L, "X")).toDF("id", "v").filter(mkClash()), "id")
    }
    assert(fs.listStatus(dataDir).count(_.isDirectory) == dirsBefore,
      "aborted merge must not orphan its batch directory")
  }

  test("copy-on-write delete rewrites only files truly holding matched rows; NULL-predicate rows survive") {
    import spark.implicits._
    val root = s"$tmp/snapdel_${System.nanoTime()}"
    // batch 2 carries the only deletable rows; batch 3 range-overlaps
    // nothing deletable; batch 1 is outside the predicate range entirely
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, Some(s"r$i"))).toDF("id", "v")
        .repartition(1), root, append = true)
    GraftCatalog.commitSnapshot(
      (101 to 200).map(i =>
        (i.toLong, if (i % 2 == 0) Some(s"r$i") else None)).toDF("id", "v")
        .repartition(1), root, append = true)
    GraftCatalog.commitSnapshot(
      (201 to 300).map(i => (i.toLong, Some(s"r$i"))).toDF("id", "v")
        .repartition(1), root, append = true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(v: Long): Seq[String] =
      GraftCatalog.snapshotScanFiles(spark, root, Some(v), None)._1
    val preFiles = manifestFiles(3L)
    val preMeta = preFiles.map { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      f -> (st.getModificationTime, st.getLen)
    }.toMap

    // delete even ids in [101, 200] — ONLY batch 2 truly matches; the
    // predicate's id range excludes batch 1/3 at the STATS level
    val vd = GraftCatalog.deleteSnapshotWhere(spark, root,
      col("id").between(101L, 200L) && col("v").startsWith("r"))
    assert(vd == 4L)

    // row semantics: DELETE WHERE p removes only p=TRUE rows — batch 2's
    // NULL-v rows (p=NULL) survive, everything outside the range survives
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 250)
    assert(head.where(col("id").between(101L, 200L)).count() == 50)
    assert(head.where(col("id").between(101L, 200L) && col("v").isNotNull)
      .count() == 0, "all non-NULL batch-2 rows were deletable")
    assert(head.where(col("id") === 50L).head().getString(1) == "r50")

    // file-level: batches 1 and 3 carried by path, bytes untouched
    val postFiles = manifestFiles(4L)
    val carried = postFiles.filter(preFiles.contains)
    assert(carried.size == 2, s"expected 2 carried files, got ${carried.size}")
    carried.foreach { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      assert((st.getModificationTime, st.getLen) == preMeta(f),
        s"carried file was rewritten: $f")
    }
    assert(preFiles.filterNot(postFiles.contains).size == 1,
      "exactly the matched file must leave the manifest")

    // stats survive: selective head read still prunes
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("id") === 50L))._1.size < postFiles.size)

    // time travel to the pre-delete version is intact
    assert(GraftCatalog.readSnapshot(spark, root, Some(3L)).count() == 300)

    // no-op delete (nothing matches) publishes NO new version
    val v2 = GraftCatalog.deleteSnapshotWhere(spark, root, col("id") > 100000L)
    assert(v2 == 4L && manifestFiles(4L) == postFiles)

    // a delete matching EVERY row of a file drops it without rewrite:
    // the whole batch-3 range goes; no new data dir should be needed
    // (empty survivor batch is allowed, but the file must leave)
    val v3 = GraftCatalog.deleteSnapshotWhere(spark, root,
      col("id").between(201L, 300L))
    assert(v3 == 5L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 150)
  }

  test("copy-on-write update applies SET against the pre-update row; schema and carried files never drift") {
    import spark.implicits._
    val root = s"$tmp/snapupd_${System.nanoTime()}"
    // (id, a, b, n): a/b for the swap test, n for type preservation
    Seq(1 to 100, 101 to 200, 201 to 300).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"a$i", s"b$i", i)).toDF("id", "a", "b", "n")
          .repartition(1), root, append = true)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(v: Long): Seq[String] =
      GraftCatalog.snapshotScanFiles(spark, root, Some(v), None)._1
    val preFiles = manifestFiles(3L)
    val preMeta = preFiles.map { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      f -> (st.getModificationTime, st.getLen)
    }.toMap
    val preSchema = GraftCatalog.readSnapshot(spark, root).schema

    // SET a = b, b = a must SWAP (both read the pre-update row), and
    // n = n * 2 is a LONG expression that must cast back to int
    val vu = GraftCatalog.updateSnapshotWhere(spark, root,
      col("id").between(101L, 150L),
      Seq("a" -> col("b"), "b" -> col("a"), "n" -> (col("n") * 2L)))
    assert(vu == 4L)

    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.schema == preSchema, "UPDATE must not drift the table schema")
    assert(head.count() == 300)
    val r120 = head.where(col("id") === 120L).head()
    assert(r120.getString(1) == "b120" && r120.getString(2) == "a120",
      "SET a = b, b = a must swap, not chain")
    assert(r120.getInt(3) == 240)
    // rows of the REWRITTEN file outside the predicate are untouched
    val r180 = head.where(col("id") === 180L).head()
    assert(r180.getString(1) == "a180" && r180.getInt(3) == 180)
    // other files' rows untouched
    assert(head.where(col("id") === 50L).head().getString(1) == "a50")

    // file-level: batches 1 and 3 carried by path, bytes untouched
    val postFiles = manifestFiles(4L)
    val carried = postFiles.filter(preFiles.contains)
    assert(carried.size == 2, s"expected 2 carried files, got ${carried.size}")
    carried.foreach { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      assert((st.getModificationTime, st.getLen) == preMeta(f),
        s"carried file was rewritten: $f")
    }

    // time travel to the pre-update version is intact
    assert(GraftCatalog.readSnapshot(spark, root, Some(3L))
      .where(col("id") === 120L).head().getString(1) == "a120")

    // no-op update publishes nothing; unknown SET column throws
    assert(GraftCatalog.updateSnapshotWhere(spark, root,
      col("id") > 100000L, Seq("a" -> lit("x"))) == 4L)
    intercept[IllegalArgumentException] {
      GraftCatalog.updateSnapshotWhere(spark, root,
        col("id") === 1L, Seq("nope" -> lit("x")))
    }
  }

  test("replaceWhere swaps a slice atomically; out-of-slice rows are rejected") {
    import spark.implicits._
    val root = s"$tmp/snaprw_${System.nanoTime()}"
    Seq(1 to 100, 101 to 200, 201 to 300).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
        root, append = true)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(v: Long): Seq[String] =
      GraftCatalog.snapshotScanFiles(spark, root, Some(v), None)._1
    val preFiles = manifestFiles(3L)

    val slice = col("id").between(101L, 200L)
    // an out-of-slice row must be rejected BEFORE any mutation
    intercept[IllegalArgumentException] {
      GraftCatalog.overwriteSnapshotWhere(spark, root, slice,
        Seq((150L, "ok"), (500L, "outside")).toDF("id", "v"))
    }
    assert(manifestFiles(3L) == preFiles, "failed replace must not mutate")

    // the backfill SHRINKS the slice (evens only) and rewrites values;
    // the swap is ONE version flip — delete and insert never observable
    // separately
    val backfill = (101 to 200).filter(_ % 2 == 0)
      .map(i => (i.toLong, s"NEW$i")).toDF("id", "v")
    val vr = GraftCatalog.overwriteSnapshotWhere(spark, root, slice, backfill)
    assert(vr == 4L, "replaceWhere is one commit, one version")

    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 250)
    assert(head.where(slice).count() == 50)
    assert(head.where(col("id") === 150L).head().getString(1) == "NEW150")
    assert(head.where(col("id") === 151L).count() == 0)
    assert(head.where(col("id") === 50L).head().getString(1) == "r50")

    // the fully-covered slice file drops from the manifest; the other
    // two carry by path
    val postFiles = manifestFiles(4L)
    assert(postFiles.filter(preFiles.contains).size == 2)
    assert(preFiles.filterNot(postFiles.contains).size == 1)

    // time travel: pre-replace slice intact
    assert(GraftCatalog.readSnapshot(spark, root, Some(3L))
      .where(slice).count() == 100)
  }

  test("tags pin versions through vacuum; shallow clone is zero-copy and evolves independently") {
    import spark.implicits._
    val root = s"$tmp/snaptag_${System.nanoTime()}"
    Seq(1 to 100, 101 to 200, 201 to 300).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
        root, append = true)
    }

    // tag v1; a duplicate create must throw (tags are never repointed
    // silently), as must tagging an absent version
    GraftCatalog.tagSnapshot(spark, root, "corpus-2026-08", 1L)
    intercept[IllegalStateException] {
      GraftCatalog.tagSnapshot(spark, root, "corpus-2026-08", 2L)
    }
    intercept[IllegalArgumentException] {
      GraftCatalog.tagSnapshot(spark, root, "nope", 99L)
    }
    assert(GraftCatalog.listSnapshotTags(spark, root) ==
      Seq("corpus-2026-08" -> 1L))
    assert(GraftCatalog.readSnapshotTag(spark, root, "corpus-2026-08")
      .count() == 100)

    // vacuum with a horizon PAST the tagged version: v2 is reaped, the
    // tagged v1 survives and stays readable by name
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 3L, orphanGraceMs = Long.MaxValue)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L, 3L))
    assert(GraftCatalog.readSnapshotTag(spark, root, "corpus-2026-08")
      .count() == 100)

    // shallow clone of the head: no data bytes move (the clone root has
    // no data dir), rows identical, data skipping live on the clone
    val dst = s"$tmp/snapclone_${System.nanoTime()}"
    assert(GraftCatalog.cloneSnapshot(spark, root, dst) == 1L)
    val dfs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!dfs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "shallow clone must not copy data")
    assert(GraftCatalog.readSnapshot(spark, dst).count() == 300)
    assert(GraftCatalog.snapshotScanFiles(spark, dst, None,
      Some(col("id") === 50L))._1.size <
      GraftCatalog.snapshotScanFiles(spark, dst, None, None)._1.size,
      "clone must inherit data-skipping stats")

    // the clone evolves independently: a CoW delete on the clone
    // rewrites into the CLONE's data dir and the source is untouched
    GraftCatalog.deleteSnapshotWhere(spark, dst, col("id").between(1L, 100L))
    assert(GraftCatalog.readSnapshot(spark, dst).count() == 200)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 300,
      "mutating the clone must not touch the source")
    assert(dfs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "the clone's rewrites land under the clone root")

    // dropping the tag re-exposes the version to retention
    GraftCatalog.deleteSnapshotTag(spark, root, "corpus-2026-08")
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 3L, orphanGraceMs = Long.MaxValue)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(3L))
  }

  test("CHECK constraints gate every write path; NULL passes; violations abort before any data lands") {
    import spark.implicits._
    val root = s"$tmp/snapcheck_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      Seq((1L, Some(10.0)), (2L, None)).toDF("id", "amt"), root, append = true)

    // a check violated by the CURRENT head cannot be added
    intercept[graft.sources.SnapshotCheckViolation] {
      GraftCatalog.addSnapshotCheck(spark, root, "amt_big", "amt > 100")
    }
    // NULL amt passes (SQL CHECK: unknown is not a violation)
    GraftCatalog.addSnapshotCheck(spark, root, "amt_pos", "amt >= 0")
    assert(GraftCatalog.listSnapshotChecks(spark, root) ==
      Seq("amt_pos" -> "amt >= 0"))

    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataDirs(): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .count(_.isDirectory)
    val dirsBefore = dataDirs()

    // violating APPEND aborts before any batch dir is written
    intercept[graft.sources.SnapshotCheckViolation] {
      GraftCatalog.commitSnapshot(
        Seq((3L, Some(-5.0))).toDF("id", "amt"), root, append = true)
    }
    assert(dataDirs() == dirsBefore, "aborted commit must write nothing")
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L))

    // violating MERGE and UPDATE abort too
    intercept[graft.sources.SnapshotCheckViolation] {
      GraftCatalog.mergeSnapshot(spark, root,
        Seq((1L, Some(-1.0))).toDF("id", "amt"), "id")
    }
    intercept[graft.sources.SnapshotCheckViolation] {
      GraftCatalog.updateSnapshotWhere(spark, root, col("id") === 1L,
        Seq("amt" -> (col("amt") - lit(100.0))))
    }

    // an UPDATE whose SET rewrites the predicate's OWN column must
    // still validate against the post-assignment rows (the mask is
    // evaluated pre-update and carried — re-applying the predicate
    // after the assignments would validate nothing)
    intercept[graft.sources.SnapshotCheckViolation] {
      GraftCatalog.updateSnapshotWhere(spark, root, col("amt") >= 10.0,
        Seq("amt" -> (col("amt") - lit(1000.0))))
    }

    // passing writes land; NULL-valued rows pass everywhere
    GraftCatalog.commitSnapshot(
      Seq((4L, Option.empty[Double]), (5L, Some(0.0))).toDF("id", "amt"),
      root, append = true)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 4)

    // a batch OMITTING the checked column (schema-evolving feed — the
    // column lands as NULL) passes by SQL NULL semantics instead of
    // failing resolution
    GraftCatalog.mergeSnapshot(spark, root,
      Seq(Tuple1(4L)).toDF("id"), "id", allowSchemaEvolution = true)
    assert(GraftCatalog.readSnapshot(spark, root, mergeSchema = true)
      .where(col("id") === 4L).head().isNullAt(1))

    // dropping the check re-opens the gate
    GraftCatalog.dropSnapshotCheck(spark, root, "amt_pos")
    GraftCatalog.commitSnapshot(
      Seq((6L, Some(-5.0))).toDF("id", "amt"), root, append = true)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 5)
  }

  test("merge schema evolution: opt-in new columns land in the rewritten batch; strict mode drops them") {
    import spark.implicits._
    val root = s"$tmp/snapevo_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1),
      root, append = true)

    // strict (default): the extra column is dropped, schema unchanged
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((2L, "b2", "X")).toDF("id", "v", "extra"), "id")
    assert(GraftCatalog.readSnapshot(spark, root, mergeSchema = true)
      .columns.toSeq == Seq("id", "v"))

    // evolution: the new column lands; pre-existing rows read NULL
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((2L, "b3", "X"), (3L, "c", "Y")).toDF("id", "v", "extra"), "id",
      allowSchemaEvolution = true)
    val head = GraftCatalog.readSnapshot(spark, root, mergeSchema = true)
    assert(head.columns.toSeq == Seq("id", "v", "extra"))
    val byId = head.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId(2L) == ("b3", "X") && byId(3L) == ("c", "Y"))
    assert(byId(1L)._2 == null, "pre-evolution rows read NULL for the new column")
  }

  test("CDC apply handles I/U/D in one version; replays are no-ops; absent-key deletes vanish") {
    import spark.implicits._
    val root = s"$tmp/snapcdcapply_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
      root, append = true)

    // one mixed batch: update 10, delete 20, insert 200 (as U — an
    // update to an absent key inserts), delete absent 999 (no-op)
    val cdc = Seq(
      (10L, "U10", "U"), (20L, "ignored", "D"),
      (200L, "NEW200", "U"), (999L, "ignored", "D"))
      .toDF("id", "v", "_op")
    val v = GraftCatalog.applyCdcSnapshotBatch(spark, root, cdc, "id", batchId = 7L)
    assert(v == 2L, "one mixed batch must be ONE version flip")

    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 100) // -1 delete, +1 insert
    val byId = head.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(10L) == "U10" && byId(200L) == "NEW200")
    assert(!byId.contains(20L) && !byId.contains(999L))
    assert(byId(50L) == "r50")

    // a crash-replay of the SAME batch id is a byte-level no-op
    assert(GraftCatalog.applyCdcSnapshotBatch(spark, root, cdc, "id", 7L) == 2L)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L, 2L))

    // invalid op tags are rejected before any mutation
    intercept[IllegalArgumentException] {
      GraftCatalog.applyCdcSnapshot(spark, root,
        Seq((1L, "x", "Z")).toDF("id", "v", "_op"), "id")
    }
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L, 2L))
  }

  test("readSnapshotAuto: the query's own filters data-skip at scan planning, no predicate plumbing") {
    import spark.implicits._
    val root = s"$tmp/snapauto_${System.nanoTime()}"
    Seq(1 to 100, 101 to 200, 201 to 300, 301 to 400).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
        root, append = true)
    }
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // drive the scan so metrics populate
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val auto = GraftCatalog.readSnapshotAuto(spark, root)

    // an unfiltered read scans the whole manifest
    assert(scannedFiles(GraftCatalog.readSnapshotAuto(spark, root)) == 4L)

    // a PLAIN .where — no explicit predicate parameter anywhere —
    // prunes the file list to the one covering batch
    val sel = auto.where(col("id").between(150L, 160L))
    assert(sel.count() == 11)
    assert(scannedFiles(auto.where(col("id").between(150L, 160L))) == 1L,
      "the query's own filter must reach the manifest stats")

    // equality and IN prune too; disjunction keeps both touched files
    assert(scannedFiles(auto.where(col("id") === 50L)) == 1L)
    assert(scannedFiles(auto.where(col("id").isin(50L, 350L))) == 2L)

    // row-level semantics identical to the plain read
    val expect = GraftCatalog.readSnapshot(spark, root)
      .where(col("id").between(150L, 160L)).collect().map(_.getLong(0)).sorted
    assert(sel.collect().map(_.getLong(0)).sorted.sameElements(expect))

    // an untranslatable filter conservatively keeps everything (and
    // still answers correctly row-level)
    val odd = auto.where(col("id") % 2 === 1)
    assert(odd.count() == 200 && scannedFiles(auto.where(col("id") % 2 === 1)) == 4L)

    // the SQL surface skips identically: a temp view over the auto
    // relation prunes from a plain WHERE in SQL text
    GraftCatalog.readSnapshotAuto(spark, root).createOrReplaceTempView("snap_auto")
    val viaSql = spark.sql("SELECT * FROM snap_auto WHERE id BETWEEN 250 AND 260")
    assert(viaSql.count() == 11 && scannedFiles(
      spark.sql("SELECT * FROM snap_auto WHERE id BETWEEN 250 AND 260")) == 1L,
      "SQL WHERE over the view must reach the manifest stats")

    // schema evolution: an appended batch's NEW column is visible
    // under mergeSchema (older files read NULL), and pruning on the
    // original column still works
    GraftCatalog.commitSnapshot(
      Seq((401L, "r401", "X")).toDF("id", "v", "extra"), root, append = true)
    val evolved = GraftCatalog.readSnapshotAuto(spark, root, mergeSchema = true)
    assert(evolved.columns.toSeq == Seq("id", "v", "extra"))
    assert(evolved.where(col("id") === 401L).head().getString(2) == "X")
    assert(evolved.where(col("id") === 50L).head().isNullAt(2))
    assert(scannedFiles(GraftCatalog.readSnapshotAuto(spark, root, mergeSchema = true)
      .where(col("id") === 50L)) == 1L)

    // the TABLE-VALUED FUNCTION surface: pure SQL, head and time
    // travel, with the same automatic data skipping
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$root')")
      .head().getLong(0) == 401L)
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$root', 2)")
      .head().getLong(0) == 200L, "TVF time travel")
    assert(scannedFiles(spark.sql(
      s"SELECT * FROM graft_snapshot('$root') WHERE id = 50")) == 1L,
      "TVF WHERE must data-skip")
  }

  test("describeSnapshotHistory reports the commit log with CoW deltas, from metadata only") {
    import spark.implicits._
    val root = s"$tmp/snaphist_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2),
      root, append = false)
    GraftCatalog.commitSnapshot(
      (101 to 150).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
      root, append = true)
    GraftCatalog.mergeSnapshotBatch(spark, root,
      Seq((120L, "UPD")).toDF("id", "v"), "id", batchId = 42L)

    val h = GraftCatalog.describeSnapshotHistory(spark, root)
      .orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // rows come from the stats sidecar, not a scan
    assert(h.map(r => r.getLong(3)).toSeq == Seq(100L, 150L, 150L))
    // v2 appended one file and carried v1's two; the CoW merge swapped
    // exactly the file holding key 120
    assert(h(1).getInt(2) == 3 && h(1).getInt(5) == 1 && h(1).getInt(6) == 0)
    assert(h(2).getInt(6) == 1 && h(2).getInt(5) >= 1,
      s"merge must show exactly one file leaving (the matched one): ${h(2)}")
    // the exactly-once tag surfaces in meta
    assert(h(2).getString(7).contains("#batch:42"))
    assert(h.forall(_.getLong(4) > 0L))
  }

  test("branches fork safely, mutate independently, fast-forward merge back, and refuse to discard parent commits") {
    import spark.implicits._
    val root = s"$tmp/snapbr_${System.nanoTime()}"
    Seq(1 to 100, 101 to 200, 201 to 300).foreach { rng =>
      GraftCatalog.commitSnapshot(
        rng.map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
        root, append = true)
    }

    // fork: zero-copy, fork point pinned against parent vacuum
    val br = GraftCatalog.createSnapshotBranch(spark, root, "exp")
    assert(GraftCatalog.listSnapshotBranches(spark, root) == Seq("exp"))
    assert(GraftCatalog.readSnapshot(spark, br).count() == 300)

    // the branch mutates; the parent is bit-undisturbed
    GraftCatalog.deleteSnapshotWhere(spark, br, col("id").between(1L, 100L))
    assert(GraftCatalog.readSnapshot(spark, br).count() == 200)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 300)

    // parent vacuum during the branch's life keeps the pinned fork
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 4L,
      orphanGraceMs = Long.MaxValue)
    assert(GraftCatalog.readSnapshot(spark, br).count() == 200,
      "vacuum must not reap files the branch references")

    // fast-forward: parent head becomes the branch head, pure metadata
    val vm = GraftCatalog.mergeSnapshotBranch(spark, root, "exp")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 200 && head.where(col("id") === 50L).count() == 0)
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
    val hist = GraftCatalog.describeSnapshotHistory(spark, root)
      .orderBy("version").collect()
    assert(hist.last.getLong(0) == vm &&
      hist.last.getString(7).contains("#branch-merge:exp"))

    // a parent that MOVED refuses the fast-forward (the git contract)
    GraftCatalog.createSnapshotBranch(spark, root, "exp2")
    GraftCatalog.commitSnapshot(
      Seq((900L, "new")).toDF("id", "v"), root, append = true)
    intercept[graft.sources.SnapshotConflictException] {
      GraftCatalog.mergeSnapshotBranch(spark, root, "exp2")
    }
    GraftCatalog.dropSnapshotBranch(spark, root, "exp2")
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 201)
  }

  test("three-way branch merge reconciles a diverged parent by row; conflicts fail loudly or resolve by policy") {
    import spark.implicits._
    val root = s"$tmp/snapbr3_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
      root, append = false)

    // fork, then BOTH sides move: branch updates 10, deletes 20,
    // inserts 200; parent updates 50 (disjoint) and 10 (CONFLICT)
    GraftCatalog.createSnapshotBranch(spark, root, "exp")
    val br = GraftCatalog.snapshotBranchRoot(root, "exp")
    GraftCatalog.mergeSnapshot(spark, br,
      Seq((10L, "b10"), (200L, "b200")).toDF("id", "v"), "id")
    GraftCatalog.deleteSnapshotWhere(spark, br, col("id") === 20L)
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((50L, "p50"), (10L, "p10")).toDF("id", "v"), "id")

    // default policy: the overlapping key fails the merge, loudly
    val e = intercept[graft.sources.SnapshotConflictException] {
      GraftCatalog.mergeSnapshotBranch3Way(spark, root, "exp", "id")
    }
    assert(e.getMessage.contains("10"), s"conflict key must be named: ${e.getMessage}")
    assert(GraftCatalog.listSnapshotBranches(spark, root) == Seq("exp"),
      "failed merge must leave the branch intact")

    // branch-wins: branch ops apply wholesale; parent's disjoint
    // commit survives
    val v = GraftCatalog.mergeSnapshotBranch3Way(spark, root, "exp", "id",
      resolve = "branch")
    val byId = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(10L) == "b10", "conflicted key resolves to the branch")
    assert(byId(50L) == "p50", "parent's disjoint commit survives")
    assert(!byId.contains(20L) && byId(200L) == "b200")
    assert(byId(30L) == "r30")
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
    // parent history intact: time travel to the pre-merge head works
    assert(GraftCatalog.readSnapshot(spark, root, Some(v - 1))
      .where(col("id") === 10L).head().getString(1) == "p10")

    // parent-wins policy on a fresh conflict drops the branch's op on
    // the conflicted key only
    GraftCatalog.createSnapshotBranch(spark, root, "exp2")
    val br2 = GraftCatalog.snapshotBranchRoot(root, "exp2")
    GraftCatalog.mergeSnapshot(spark, br2,
      Seq((30L, "b30"), (40L, "b40")).toDF("id", "v"), "id")
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((30L, "p30")).toDF("id", "v"), "id")
    GraftCatalog.mergeSnapshotBranch3Way(spark, root, "exp2", "id",
      resolve = "parent")
    val byId2 = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId2(30L) == "p30" && byId2(40L) == "b40")

    // value-aware: both sides writing the SAME row (and both deleting
    // the same key) is agreement — the default policy merges cleanly
    GraftCatalog.createSnapshotBranch(spark, root, "exp3")
    val br3 = GraftCatalog.snapshotBranchRoot(root, "exp3")
    GraftCatalog.mergeSnapshot(spark, br3,
      Seq((60L, "same60"), (61L, "b61")).toDF("id", "v"), "id")
    GraftCatalog.deleteSnapshotWhere(spark, br3, col("id") === 70L)
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((60L, "same60")).toDF("id", "v"), "id")
    GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 70L)
    GraftCatalog.mergeSnapshotBranch3Way(spark, root, "exp3", "id")
    val byId3 = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId3(60L) == "same60" && byId3(61L) == "b61" && !byId3.contains(70L))
  }

  test("branch REBASE replays changes onto the moved parent; fast-forward then succeeds") {
    import spark.implicits._
    val root = s"$tmp/snapreb_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
      root, append = false)
    GraftCatalog.createSnapshotBranch(spark, root, "exp")
    val br = GraftCatalog.snapshotBranchRoot(root, "exp")
    // branch: update 10, delete 20, insert 200; parent: update 50 (disjoint)
    GraftCatalog.mergeSnapshot(spark, br,
      Seq((10L, "b10"), (200L, "b200")).toDF("id", "v"), "id")
    GraftCatalog.deleteSnapshotWhere(spark, br, col("id") === 20L)
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((50L, "p50")).toDF("id", "v"), "id")
    // the moved parent blocks a fast-forward...
    intercept[graft.sources.SnapshotConflictException] {
      GraftCatalog.mergeSnapshotBranch(spark, root, "exp")
    }
    // ...rebase replays the branch onto the new head...
    GraftCatalog.rebaseSnapshotBranch(spark, root, "exp", "id")
    val onBranch = GraftCatalog.readSnapshot(spark, br)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(onBranch(10L) == "b10" && onBranch(200L) == "b200" &&
      !onBranch.contains(20L), s"branch changes must survive the rebase")
    assert(onBranch(50L) == "p50", "the parent's commit must appear on the rebased line")
    // parent untouched by the rebase itself
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("id") === 10L).head().getString(1) == "r10")
    // ...and the fast-forward now lands cleanly
    GraftCatalog.mergeSnapshotBranch(spark, root, "exp")
    val merged = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged(10L) == "b10" && merged(50L) == "p50" &&
      merged(200L) == "b200" && !merged.contains(20L))

    // conflicting edits: default policy fails naming the key, parent
    // policy drops the branch's op on the conflicted key only
    GraftCatalog.createSnapshotBranch(spark, root, "exp2")
    val br2 = GraftCatalog.snapshotBranchRoot(root, "exp2")
    GraftCatalog.mergeSnapshot(spark, br2,
      Seq((30L, "b30"), (40L, "b40")).toDF("id", "v"), "id")
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((30L, "p30")).toDF("id", "v"), "id")
    val e = intercept[graft.sources.SnapshotConflictException] {
      GraftCatalog.rebaseSnapshotBranch(spark, root, "exp2", "id")
    }
    assert(e.getMessage.contains("30"))
    GraftCatalog.rebaseSnapshotBranch(spark, root, "exp2", "id",
      resolve = "parent")
    GraftCatalog.mergeSnapshotBranch(spark, root, "exp2")
    val merged2 = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged2(30L) == "p30" && merged2(40L) == "b40")
  }

  test("readRowChanges nets a CoW history to one row per key; applying it reconstructs the head") {
    import spark.implicits._
    val root = s"$tmp/snaprowcdc_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2),
      root, append = false)
    // a CoW-heavy history: merge (rewrites a file), delete, append
    GraftCatalog.mergeSnapshot(spark, root,
      Seq((10L, "u10"), (200L, "n200")).toDF("id", "v"), "id")
    GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 20L)
    GraftCatalog.commitSnapshot(
      Seq((300L, "n300")).toDF("id", "v"), root, append = true)

    val rc = GraftCatalog.readRowChanges(spark, root, 1L, 4L, "id").collect()
    val byId = rc.map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // NET view: one row per touched key, carried rewrite rows absent
    assert(rc.length == byId.size && byId.size == 4,
      s"expected exactly the 4 net-changed keys, got ${byId.keySet}")
    assert(byId(10L) == ("u10", "upsert") && byId(200L) == ("n200", "upsert"))
    assert(byId(300L) == ("n300", "upsert"))
    assert(byId(20L)._2 == "delete")
    // the file-level stream for the same span surfaces MANY more rows
    // (the rewrite's delete+insert pairs) — the two views trade cost
    // for netness
    assert(GraftCatalog.readChanges(spark, root, 1L, 4L).count() > rc.length)

    // replaying the net changes onto the v1 image == the head
    val base = GraftCatalog.readSnapshot(spark, root, Some(1L))
    val ups = rc.filter(_.getString(2) == "upsert").map(r => (r.getLong(0), r.getString(1)))
    val delKeys = rc.filter(_.getString(2) == "delete").map(_.getLong(0)).toSet
    val rebuilt = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      .removedAll(delKeys) ++ ups
    val head = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt == head, "net changes must reconstruct the head exactly")
  }

  test("a CoW UPDATE losing its commit race aborts cleanly through the shared commit tail") {
    import spark.implicits._
    val root = s"$tmp/snapupdrace_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
      root, append = false)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
    val dirsBefore = fs.listStatus(dataDir).count(_.isDirectory)
    // the clash lands DURING the update (first evaluation of the SET
    // expression happens after the update pins its base version), so
    // the update plans against v1 and finds v2 taken at publish time
    val mkClash = udf(() => {
      val p = new org.apache.hadoop.fs.Path(s"$root/_manifests/v2.manifest")
      val f = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      if (!f.exists(p)) {
        val o = f.create(p, true); o.write("#eof\n".getBytes("UTF-8")); o.close()
      }
      "clash"
    })
    intercept[graft.sources.SnapshotConflictException] {
      GraftCatalog.updateSnapshotWhere(spark, root, col("id") === 10L,
        Seq("v" -> mkClash()))
    }
    assert(fs.listStatus(dataDir).count(_.isDirectory) == dirsBefore,
      "aborted update must not orphan its batch directory")
    // the table is undisturbed (the torn clash manifest is refused by
    // strict readers, so the head is still v1's content)
    assert(GraftCatalog.readSnapshot(spark, root, Some(1L)).count() == 100)
  }

  test("concurrent appenders with retry both land as serialized versions") {
    import spark.implicits._
    val root = s"$tmp/snapconc_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      Seq((0L, "base")).toDF("id", "v"), root, append = false)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val landed = Await.result(Future.sequence((1 to 4).map { i =>
      Future(GraftCatalog.commitSnapshot(
        Seq((i.toLong, s"w$i")).toDF("id", "v"), root,
        append = true, maxRetries = 16))
    }), 120.seconds)
    assert(landed.toSet.size == 4, s"writers must land distinct versions: $landed")
    assert(GraftCatalog.snapshotVersions(spark, root) == (1L to 5L),
      "five contiguous versions after four racing appends")
    // append retries are conflict-free merges: EVERY writer's batch is
    // at the head, nobody's commit was silently replaced
    val ids = GraftCatalog.readSnapshot(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L, 3L, 4L), s"lost a racing batch: $ids")
  }

  test("barrier-synced writer pairs never both claim a version (20 rounds)") {
    // The r10 lost-batch race: Hadoop's local create(fin, false) is
    // exists()-then-open — two writers could both pass the window and
    // both "publish" the same version, one batch silently truncated.
    // The claim is now an atomic O_EXCL createFile; this spec forces
    // the narrow interleaving 20× by RELEASING both writers from a
    // CyclicBarrier immediately before each commit attempt, so the
    // claims collide within microseconds every round instead of
    // relying on scheduler luck.
    import spark.implicits._
    val root = s"$tmp/snapbarrier_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      Seq((0L, "base")).toDF("id", "v"), root, append = false)
    val rounds = 20
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val landed = Await.result(Future.sequence((0 until 2).map { w =>
      Future {
        (0 until rounds).map { k =>
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          GraftCatalog.commitSnapshot(
            Seq((w * 1000L + k, s"w${w}r$k")).toDF("id", "v"), root,
            append = true, maxRetries = 64)
        }
      }
    }), 300.seconds)
    val versions = landed.flatten
    assert(versions.toSet.size == 2 * rounds,
      s"two writers claimed the same version: ${versions.sorted}")
    assert(GraftCatalog.snapshotVersions(spark, root) ==
      (1L to (1L + 2 * rounds)), "contiguous versions, none torn/lost")
    val ids = GraftCatalog.readSnapshot(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    val expect = (0 until 2).flatMap(w =>
      (0 until rounds).map(k => w * 1000L + k)).toSet + 0L
    assert(ids == expect, s"lost a racing batch: missing ${expect -- ids}")
  }

  test("vacuum reaps unreferenced sidecars, aged orphan batch dirs, and aged torn manifests") {
    import spark.implicits._
    val root = s"$tmp/snapreap_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      (11 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = true)
    GraftCatalog.commitSnapshot(
      (20 to 24).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed commit's residue: an orphan batch dir nothing references
    val orphan = new org.apache.hadoop.fs.Path(s"$root/data/b0_orphan")
    fs.mkdirs(orphan)
    val o = fs.create(new org.apache.hadoop.fs.Path(orphan, "junk.parquet"), false)
    o.write(Array[Byte](1, 2, 3)); o.close()
    // a crashed publish: manifest with no #eof terminator
    val tornP = new org.apache.hadoop.fs.Path(s"$root/_manifests/v4.manifest")
    val t = fs.create(tornP, false)
    t.write("/nowhere/file.parquet\n".getBytes("UTF-8")); t.close()
    // strict readers refuse the torn version loudly
    val err = intercept[IllegalStateException] {
      GraftCatalog.readSnapshot(spark, root, Some(4L))
    }
    assert(err.getMessage.contains("torn"))
    Thread.sleep(50) // age everything past an orphanGraceMs = 0 horizon

    val deleted = GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 3,
      orphanGraceMs = 0L)
    assert(deleted > 0)
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(3L),
      "v1/v2 vacuumed by retention, torn v4 reaped as garbage")
    assert(!fs.exists(orphan), "orphan batch dir must be reaped")
    assert(!fs.exists(tornP), "aged torn manifest must be reaped")
    // exactly the surviving version's stats sidecar remains
    val sidecars = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
      .filter(_.getPath.getName.endsWith(".stats"))
    assert(sidecars.length == 1, s"expected 1 surviving sidecar, got ${sidecars.length}")
    // the survivor still reads in full and still data-skips
    assert(GraftCatalog.readSnapshot(spark, root).count() == 5)
    assert(GraftCatalog.snapshotScanFiles(spark, root, None,
      Some(col("id") === 20L))._1.nonEmpty)
  }

  test("readChanges surfaces per-version inserts and deletes with cumulative correctness") {
    import spark.implicits._
    val root = s"$tmp/snapchg_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 5).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      (6 to 8).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = true)
    // an overwrite shows up as delete-of-old + insert-of-new
    GraftCatalog.commitSnapshot(
      (100 to 101).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    val all = GraftCatalog.readChanges(spark, root, 0L, 3L)
    val byTag = all.groupBy("_version", "_change").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byTag((1L, "insert")) == 5 && byTag((2L, "insert")) == 3)
    assert(byTag((3L, "insert")) == 2 && byTag((3L, "delete")) == 8)
    // an incremental consumer applying inserts-minus-deletes converges
    // to the head snapshot
    val net = all.where(col("_change") === "insert")
      .groupBy("id").agg(max("_version").as("iv"))
      .join(all.where(col("_change") === "delete")
        .groupBy("id").agg(max("_version").as("dv")), Seq("id"), "left")
      .where(col("dv").isNull || col("iv") > col("dv"))
    assert(net.select("id").collect().map(_.getLong(0)).toSet == Set(100L, 101L))
    // every version records its schema, so an append's CDC reads its
    // files under it and plans with no footer-merge job
    var append: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsLaunched(spark) {
      append = GraftCatalog.readChanges(spark, root, 1L, 2L)
    }
    assert(jobs == 0, s"CDC of an append planned with $jobs jobs")
    assert(append.select("id").as[Long].collect().sorted.toSeq == Seq(6L, 7L, 8L))
  }

  test("vacuum never deletes clone/branch-carried foreign files: the source survives a clone's vacuum") {
    import spark.implicits._
    val src = s"$tmp/snapvacsrc_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 200).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")), src, append = false)
    val dst = s"$tmp/snapvacdst_${System.nanoTime()}"
    GraftCatalog.cloneSnapshot(spark, src, dst)
    // CoW-rewrite the clone twice so its v1 (carrying SOURCE files by
    // path) ages out of retention entirely
    GraftCatalog.deleteSnapshotWhere(spark, dst, col("id") <= 50L)
    GraftCatalog.updateSnapshotWhere(spark, dst, col("id") === 60L,
      Seq("v" -> lit("xx")))
    assert(GraftCatalog.snapshotVersions(spark, dst) == Seq(1L, 2L, 3L))
    // vacuum the CLONE with every old version dead: without the
    // ownership guard this deletes source-owned data files
    GraftCatalog.vacuumSnapshots(spark, dst, keepFrom = 3L,
      orphanGraceMs = Long.MaxValue)
    assert(GraftCatalog.snapshotVersions(spark, dst) == Seq(3L))
    assert(GraftCatalog.readSnapshot(spark, src).count() == 200,
      "vacuuming the clone must never reap the source's files")
    assert(GraftCatalog.readSnapshot(spark, dst).count() == 150)
    // and the source's OWN vacuum still reclaims its own dead files
    GraftCatalog.commitSnapshot(
      Seq((999L, "z")).toDF("id", "v"), src, append = false)
    assert(GraftCatalog.vacuumSnapshots(spark, src, keepFrom = 2L,
      orphanGraceMs = Long.MaxValue) > 0)
  }

  test("scattered-key CoW planning nominates per-file: a two-extreme-keys batch pins 2 of 100 files") {
    import spark.implicits._
    val root = s"$tmp/snapnom_${System.nanoTime()}"
    // 100 files, each a tight contiguous id envelope of 100 keys
    GraftCatalog.commitSnapshot(
      (1 to 10000).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .repartitionByRange(100, col("id")), root, append = false)
    val files0 = GraftCatalog.snapshotScanFiles(spark, root, None, None)._1
    assert(files0.size == 100)
    // the batch's GLOBAL envelope [1, 10000] covers every file; the
    // per-file test must still nominate only the 2 files whose own
    // envelope holds an actual key
    val updates = Seq((1L, "lo"), (10000L, "hi")).toDF("id", "v")
    val nominated = GraftCatalog.nominateFilesByKey(spark, files0,
      GraftCatalog.readStats(spark, root, 1L), updates.select("id"), "id")
    assert(nominated.size == 2,
      s"expected 2 nominated files, got ${nominated.size}")
    // the merge itself still lands correctly through the same planner
    val v = GraftCatalog.mergeSnapshot(spark, root, updates, "id")
    val head = GraftCatalog.readSnapshot(spark, root, Some(v))
    assert(head.count() == 10000)
    assert(head.where(col("id").isin(1L, 10000L))
      .select("v").collect().map(_.getString(0)).toSet == Set("lo", "hi"))
    // exactly 2 manifest files rewritten, 98 carried by path
    val pre = files0.toSet
    val post = GraftCatalog.snapshotScanFiles(spark, root, Some(v), None)._1.toSet
    assert((pre -- post).size == 2 && (pre & post).size == 98)
  }

  test("snapshot planning is metadata-only: sidecar len/schema plan a read with zero file RPCs") {
    import spark.implicits._
    val root = s"$tmp/snapmeta_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 400).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), root, append = false)
    val files = GraftCatalog.snapshotScanFiles(spark, root, None, None)._1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // sidecar carries len+mtime equal to the filesystem's own answer
    val stats = GraftCatalog.readStats(spark, root, 1L)
    files.foreach { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      assert(stats(f).len.contains(st.getLen) &&
        stats(f).mtime.contains(st.getModificationTime))
    }
    // the scan's costing comes from the sidecar sum
    val df = GraftCatalog.readSnapshotAuto(spark, root)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong ==
      files.map(f => stats(f).len.get).sum)
    // the PROOF of zero per-file RPCs and zero footer sniffing at
    // planning: physically delete the manifest's FIRST file — schema
    // comes from the #schema line and statuses from the sidecar, so a
    // query whose filter prunes the deleted file still plans AND runs
    val victim = files.head // lowest id range after the sorted listing
    val victimHi = GraftCatalog.readStats(spark, root, 1L)(victim)
      .cols.find(_.col == "id").get.mx.toLong
    fs.delete(new org.apache.hadoop.fs.Path(victim), false)
    val got = GraftCatalog.readSnapshotAuto(spark, root)
      .where(col("id") > victimHi).agg(count(lit(1))).head().getLong(0)
    assert(got == 400 - victimHi,
      "pruned read must never touch (or stat) the deleted file")
  }

  test("committed schema line: evolved columns surface on non-merge reads regardless of manifest order") {
    import spark.implicits._
    val root = s"$tmp/snapschema_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 5).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      (6 to 8).map(i => (i.toLong, s"r$i", i * 10)).toDF("id", "v", "score"),
      root, append = true)
    // committed schema = prior ∪ batch, recorded in the manifest
    assert(GraftCatalog.snapshotSchema(spark, root).get.fieldNames.toSeq ==
      Seq("id", "v", "score"))
    // DEFAULT (non-merge) reads serve the committed schema: pre-evolution
    // rows read NULL for the evolved column — no head-file lottery
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.columns.toSeq == Seq("id", "v", "score"))
    assert(head.where(col("score").isNull).count() == 5)
    val auto = GraftCatalog.readSnapshotAuto(spark, root)
    assert(auto.columns.toSeq == Seq("id", "v", "score"))
    assert(auto.where(col("score").isNotNull).count() == 3)
    // pure-SQL users get the evolved schema through the TVF too
    assert(spark.sql(s"SELECT score FROM graft_snapshot('$root') WHERE score IS NOT NULL")
      .count() == 3)
    // rollback carries the schema line with the file list
    val rb = GraftCatalog.rollbackSnapshot(spark, root, 1L)
    assert(GraftCatalog.snapshotSchema(spark, root, Some(rb)).get.fieldNames.toSeq ==
      Seq("id", "v"))
  }

  test("CDC multi-event keys: seqCol resolves last-wins; without it duplicate keys abort") {
    import spark.implicits._
    val root = s"$tmp/snapcdcseq_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 6).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    // U then D for key 2 (delete wins), D then U for key 3 (row wins),
    // two Us for key 4 (later value wins) — all ordered by seq
    val batch = Seq(
      (2L, "u2", "U", 1L), (2L, null.asInstanceOf[String], "D", 2L),
      (3L, null.asInstanceOf[String], "D", 1L), (3L, "u3", "U", 2L),
      (4L, "old4", "U", 1L), (4L, "new4", "U", 2L)
    ).toDF("id", "v", "_op", "seq")
    val v = GraftCatalog.applyCdcSnapshot(spark, root, batch, "id",
      seqCol = Some("seq"))
    val head = GraftCatalog.readSnapshot(spark, root, Some(v))
    assert(head.count() == 5, "key 2's U-then-D must resolve to delete")
    assert(head.where(col("id") === 2L).isEmpty)
    assert(head.where(col("id") === 3L).head().getString(1) == "u3")
    assert(head.where(col("id") === 4L).head().getString(1) == "new4")
    // pk uniqueness still holds after the apply
    assert(head.groupBy("id").count().where(col("count") > 1).isEmpty)
    // without seqCol, multi-event keys must abort loudly, not land both
    val dup = Seq((5L, "a", "U"), (5L, "b", "U")).toDF("id", "v", "_op")
    intercept[IllegalArgumentException] {
      GraftCatalog.applyCdcSnapshot(spark, root, dup, "id")
    }
    assert(GraftCatalog.readSnapshot(spark, root).count() == 5,
      "the aborted apply must not have published")
  }

  test("streaming replay tags are namespaced per sink: merge batch N and CDC batch N do not collide") {
    import spark.implicits._
    val root = s"$tmp/snaptagns_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 4).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    // a merge stream lands ITS batch 7
    GraftCatalog.mergeSnapshotBatch(spark, root,
      Seq((1L, "m")).toDF("id", "v"), "id", batchId = 7L)
    // a CDC stream's batch 7 must still apply (different namespace)...
    val v = GraftCatalog.applyCdcSnapshotBatch(spark, root,
      Seq((2L, "c", "U")).toDF("id", "v", "_op"), "id", batchId = 7L)
    assert(GraftCatalog.readSnapshot(spark, root, Some(v))
      .where(col("id") === 2L).head().getString(1) == "c")
    // ...and ITS replay is still a no-op
    assert(GraftCatalog.applyCdcSnapshotBatch(spark, root,
      Seq((2L, "zz", "U")).toDF("id", "v", "_op"), "id", batchId = 7L) == v)
    // two distinct CDC sinks separate by sinkId
    val v2 = GraftCatalog.applyCdcSnapshotBatch(spark, root,
      Seq((3L, "s2", "U")).toDF("id", "v", "_op"), "id", batchId = 7L,
      sinkId = "feed-b")
    assert(v2 > v, "a second sink's batch 7 must not be mistaken for a replay")
  }

  test("a table owning a literal __hit column updates without clobbering it") {
    import spark.implicits._
    val root = s"$tmp/snaphit_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 6).map(i => (i.toLong, s"r$i", s"h$i")).toDF("id", "v", "__hit"),
      root, append = false)
    GraftCatalog.updateSnapshotWhere(spark, root, col("id") <= 3L,
      Seq("v" -> lit("upd")))
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.where(col("v") === "upd").count() == 3)
    assert(head.select("__hit").collect().map(_.getString(0)).toSet ==
      (1 to 6).map(i => s"h$i").toSet,
      "the table's own __hit column must survive the update untouched")
  }

  test("time travel by timestamp and by tag name through pure SQL") {
    import spark.implicits._
    val root = s"$tmp/snapasof_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(10).select(col("id")), root, append = false)
    Thread.sleep(30) // separate the manifests' mtimes
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(30)
    GraftCatalog.commitSnapshot(
      spark.range(10, 30).select(col("id")), root, append = true)
    assert(GraftCatalog.snapshotVersionAsOf(spark, root, betweenTs) == 1L,
      "an instant between the commits must resolve to v1")
    assert(GraftCatalog.snapshotVersionAsOf(spark, root,
      System.currentTimeMillis()) == 2L, "now must resolve to the head")
    intercept[IllegalArgumentException] {
      GraftCatalog.snapshotVersionAsOf(spark, root, 0L) // pre-table instant
    }
    // tag-name travel through the TVF: pure SQL, head has moved on
    GraftCatalog.tagSnapshot(spark, root, "rel-1", 1L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft_snapshot('$root', 'rel-1')")
      .head().getLong(0) == 10L, "the tag must serve the pinned v1")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft_snapshot('$root')")
      .head().getLong(0) == 30L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft_snapshot('$root', 2)")
      .head().getLong(0) == 30L, "numeric second arg stays a version")
    // the commit log reads as one SQL text too
    val hist = spark.sql(
      s"SELECT version, n_rows FROM graft_snapshot_history('$root') ORDER BY version")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.toSeq == Seq(1L -> 10L, 2L -> 30L),
      s"history TVF must serve the commit log: ${hist.toSeq}")
  }

  test("stats sidecar driver-side JSON round-trips and parses the legacy toJSON shape") {
    import graft.sources.{ColStat, FileStat}
    val stats = Seq(
      FileStat("/a/b.parquet", 100L, Seq(
        ColStat("id", "bigint", "0", "99", 0L, None, Some(100L)),
        ColStat("s", "string", "a\"x\\y\nz", "ü", 3L, Some("64:QUJD"), None),
        ColStat("allnull", "string", null, null, 100L, None, Some(0L))),
        Some(1234L), Some(1700000000000L)),
      FileStat("/a/c.parquet", 0L, Seq.empty, None, None))
    // new writer → new parser round-trip
    stats.foreach { f =>
      assert(GraftCatalog.parseStatLine(GraftCatalog.statJsonLine(f)) == f)
    }
    // the legacy Dataset.toJSON shape parses identically
    val sp = spark
    import sp.implicits._
    val legacy = sp.createDataset(stats).toJSON.collect()
    assert(legacy.map(GraftCatalog.parseStatLine).toSeq == stats,
      "pre-r14 sidecar lines must keep parsing byte-identically")
    // and the new writer's lines are accepted by the legacy Spark parser
    val viaSpark = sp.read
      .schema(org.apache.spark.sql.Encoders.product[FileStat].schema)
      .json(sp.createDataset(stats.map(GraftCatalog.statJsonLine)))
      .as[FileStat].collect().toSeq
    assert(viaSpark.sortBy(_.path) == stats.sortBy(_.path))
  }

  test("footerFileStats matches the scanning stats path byte-for-byte") {
    import spark.implicits._
    val root = s"$tmp/footstats_${System.nanoTime()}"
    // longs, ints, doubles (negative, fractional), strings (empty,
    // unicode), dates, nulls mixed in, one ALL-NULL column, booleans
    val df = spark.range(500).select(
      col("id"),
      col("id").cast("int").as("i32"),
      (col("id") * -1.75d - 0.5d).as("dbl"),
      when(col("id") % 7 === 0, lit(null)).otherwise(
        concat(lit("ünïcode-"), col("id"))).as("s"),
      expr("date_add(DATE'2024-01-15', CAST(id % 40 AS INT))").as("d"),
      lit(null).cast("string").as("allnull"),
      (col("id") % 2 === 0).as("b"))
      .repartition(3)
    df.write.parquet(root)
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq.sorted
    val viaFooter = GraftCatalog.footerFileStats(spark, files, Map.empty)
    assert(viaFooter.isDefined, "footer path must serve this shape")
    val viaScan = GraftCatalog.computeFileStats(spark, files)
    val fBy = viaFooter.get.map(f => f.path -> f).toMap
    viaScan.foreach { sc =>
      val ft = fBy(sc.path)
      assert(ft.rows == sc.rows, s"rows ${sc.path}")
      val fCols = ft.cols.map(c => c.col -> c).toMap
      sc.cols.foreach { c =>
        val fc = fCols(c.col)
        assert(fc.typ == c.typ, s"${sc.path}/${c.col} typ: ${fc.typ} vs ${c.typ}")
        assert(fc.mn == c.mn, s"${sc.path}/${c.col} mn: '${fc.mn}' vs '${c.mn}'")
        assert(fc.mx == c.mx, s"${sc.path}/${c.col} mx: '${fc.mx}' vs '${c.mx}'")
        assert(fc.nc == c.nc, s"${sc.path}/${c.col} nulls: ${fc.nc} vs ${c.nc}")
      }
      assert(fCols.keySet == sc.cols.map(_.col).toSet)
    }
    // above the footerMaxFiles bound the driver-side sequential loop
    // loses to the scanning agg's parallelism — batchFileStats must
    // fall back (observable: the scanning path records NDV sketches)
    spark.conf.set("spark.graft.stats.footerMaxFiles", "0")
    try {
      val viaBatch = GraftCatalog.batchFileStats(spark, files, Map.empty, Map.empty)
      assert(viaBatch.forall(_.cols.forall(_.ndv.isDefined)),
        "beyond the bound the scanning path (with NDV) must serve")
    } finally spark.conf.unset("spark.graft.stats.footerMaxFiles")
    // INT96 timestamps (Spark's default parquet timestamp encoding)
    // must force the fallback, not produce wrong envelopes
    val root2 = s"$tmp/footstats_ts_${System.nanoTime()}"
    spark.range(10).select(col("id"),
      expr("timestamp_micros(id * 1000000)").as("ts")).write.parquet(root2)
    val files2 = new java.io.File(root2).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val viaFooter2 = GraftCatalog.footerFileStats(spark, files2, Map.empty)
    val int96 = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      .forall(_ == "INT96")
    if (int96) assert(viaFooter2.isEmpty, "INT96 timestamps must fall back")
    else viaFooter2.foreach { sts =>
      val sc2 = GraftCatalog.computeFileStats(spark, files2)
      assert(sts.map(f => (f.path, f.rows, f.cols.map(c => (c.col, c.mn, c.mx, c.nc)))).sortBy(_._1)
        == sc2.map(f => (f.path, f.rows, f.cols.map(c => (c.col, c.mn, c.mx, c.nc)))).sortBy(_._1))
    }
    // Zero-valued doubles and floats: parquet reads a zero minimum back
    // as -0.0, so a zero bound serves from the footer only when the
    // write's observation proves the batch holds no -0.0. Such a commit
    // is its write job alone; the scanning fallback adds three jobs.
    def envelopes(sts: Iterable[graft.sources.FileStat]) =
      sts.map(f => (f.path, f.rows, f.cols.map(c => (c.col, c.mn, c.mx, c.nc)).sortBy(_._1)))
        .toSeq.sortBy(_._1)
    def commitJobs(df: org.apache.spark.sql.DataFrame) = {
      val root = s"$tmp/footstats_zero_${System.nanoTime()}"
      val jobs = TestSpark.jobsLaunched(spark)(
        GraftCatalog.commitSnapshot(df, root, append = false))
      val stats = GraftCatalog.readStats(spark, root,
        GraftCatalog.snapshotVersions(spark, root).last)
      (jobs, stats, GraftCatalog.computeFileStats(spark, stats.keys.toSeq.sorted))
    }
    val (zJobs, zStats, zScan) = commitJobs(spark.range(300).select(col("id"),
      ((col("id") % 11) / 100.0d).as("disc"), lit(0.0d).as("allzero"),
      (col("id") % 5).cast("float").as("f")))
    assert(zJobs == 1, s"a zero-valued batch must take the fused path: $zJobs jobs")
    assert(zStats.values.exists(_.cols.exists(c => c.col == "disc" && c.mn == "0.0")))
    assert(envelopes(zStats.values) == envelopes(zScan))
    val (nJobs, nStats, nScan) = commitJobs(spark.range(300).select(col("id"),
      when(col("id") === 7, lit(-0.0d)).otherwise(col("id") / 10.0d).as("dbl")))
    assert(nJobs > 1, "a batch holding -0.0 must take the scanning path")
    assert(nStats.values.forall(_.cols.forall(_.hll.isDefined)))
    assert(envelopes(nStats.values) == envelopes(nScan))
  }

  test("write-time stats fusion: the batch sketch rides the write job onto EVERY file (r18)") {
    import spark.implicits._
    val root = s"$tmp/fusestats_${System.nanoTime()}"
    // 3-file batch: id unique (ndv = rows), k mod 50, s strings len 4-6
    GraftCatalog.commitSnapshot(
      spark.range(900).select(col("id"), (col("id") % 50).as("k"),
        concat(lit("s"), col("id") % 100).as("s")).repartition(3),
      root, append = false)
    val stats = GraftCatalog.readStats(spark, root,
      GraftCatalog.snapshotVersions(spark, root).last)
    assert(stats.size == 3, s"3 files expected, got ${stats.size}")
    val perFile = stats.values.toSeq
    // every file carries the SAME batch-level sketch and batch NDV —
    // the fusion signature (per-file sketches would differ): HLL merge
    // is idempotent, so the table union stays the batch union, and a
    // later CoW consuming SOME files can never drop the survivors'
    // distincts
    Seq("id", "k", "s").foreach { c =>
      val hlls = perFile.map(_.cols.find(_.col == c).get.hll).distinct
      assert(hlls.size == 1 && hlls.head.isDefined,
        s"$c: one shared batch sketch expected, got ${hlls.size} distinct")
      val ndvs = perFile.map(_.cols.find(_.col == c).get.ndv).distinct
      assert(ndvs.size == 1 && ndvs.head.isDefined)
    }
    val idNdv = perFile.head.cols.find(_.col == "id").get.ndv.get
    assert(idNdv >= 850 && idNdv <= 950, s"batch NDV(id) ~900: $idNdv")
    // per-file envelopes stay PER-FILE (footer-derived): min/max differ
    // across the three hash-partitioned files only for id ranges that
    // actually differ — but rows must sum exactly
    assert(perFile.map(_.rows).sum == 900L)
    assert(perFile.forall(f => f.cols.find(_.col == "id").get.nc == 0L))
    // string lengths fused batch-globally ("s0".."s99" → avg ~2.9, max 3)
    val sStat = perFile.head.cols.find(_.col == "s").get
    assert(sStat.ml.contains(3L), s"maxLen: ${sStat.ml}")
    assert(sStat.al.exists(a => a >= 2L && a <= 3L), s"avgLen: ${sStat.al}")
    // and the table-level union agrees with the truth
    val kNdv = GraftCatalog.snapshotCatalogStats(spark, root).get
      .colStats("k").distinctCount.get
    assert(kNdv >= BigInt(45) && kNdv <= BigInt(55), s"NDV(k) ~50: $kNdv")
  }

  test("snapshotColumnProfile: zero-I/O profile with exact min/max/nulls and NDV bounds") {
    import spark.implicits._
    val root = s"$tmp/snapprof_${System.nanoTime()}"
    // 1000 rows over 4 files; k has 100 distinct values, s has nulls
    val df = spark.range(1000).select(
      col("id"), (col("id") % 100).as("k"),
      when(col("id") % 10 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("v"), col("id") % 7)).as("s"))
    GraftCatalog.commitSnapshot(df.repartitionByRange(4, col("id")),
      root, append = false)
    val prof = GraftCatalog.snapshotColumnProfile(spark, root)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(prof("id").getString(2) == "0" && prof("id").getString(3) == "999")
    assert(prof("k").getString(2) == "0" && prof("k").getString(3) == "99")
    assert(prof("s").getLong(4) == 100, "exact null count for s")
    assert(prof.values.forall(_.getLong(7) == 1000L), "n_rows total")
    // NDV bounds bracket the truth: k has exactly 100 distinct values
    val (lo, hi) = (prof("k").getLong(5), prof("k").getLong(6))
    assert(lo <= 105 && hi >= 95 && lo <= hi,
      s"NDV bracket [$lo,$hi] must straddle ~100 (5% HLL rsd)")
    // id: every file holds ~250 distinct ids → lo ~250, hi ~1000
    assert(prof("id").getLong(5) < prof("id").getLong(6))
  }

  test("clone and branch inherit table configuration: checks, partition spec, sort, bloom") {
    import spark.implicits._
    val src = s"$tmp/snapcfg_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, src,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    GraftCatalog.setSnapshotBloomFilters(spark, src, Seq("v"))
    GraftCatalog.setSnapshotSortOrder(spark, src, Seq("v"))
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id"), (col("id") * 3).as("v")),
      root = src, append = false)
    GraftCatalog.addSnapshotCheck(spark, src, "v-nonneg", "v >= 0")
    val dst = s"$tmp/snapcfg_clone_${System.nanoTime()}"
    GraftCatalog.cloneSnapshot(spark, src, dst)
    assert(GraftCatalog.snapshotPartitionSpec(spark, dst) ==
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    assert(GraftCatalog.snapshotBloomFilters(spark, dst) == Map("v" -> 32768))
    assert(GraftCatalog.snapshotSortOrder(spark, dst) == Seq("v"))
    assert(GraftCatalog.listSnapshotChecks(spark, dst) ==
      Seq("v-nonneg" -> "v >= 0"))
    // the inherited CHECK actually gates the clone's writes
    intercept[graft.sources.SnapshotCheckViolation] {
      GraftCatalog.commitSnapshot(
        spark.range(5).select(col("id") + 1000, lit(-1L).as("v")),
        root = dst, append = true)
    }
    // an accepted append lands PARTITIONED on the clone
    GraftCatalog.commitSnapshot(
      spark.range(200, 250).select(col("id"), (col("id") * 3).as("v")),
      root = dst, append = true)
    val newFiles = GraftCatalog.snapshotScanFiles(spark, dst)._1
      .filterNot(_.contains(src.substring(src.lastIndexOf('/') + 1)))
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("__pt_0=")),
      s"clone's own batches must follow the inherited spec: $newFiles")
    // branches go through cloneSnapshot → same inheritance
    val br = GraftCatalog.createSnapshotBranch(spark, src, "cfg-exp")
    assert(GraftCatalog.listSnapshotChecks(spark, br) ==
      Seq("v-nonneg" -> "v >= 0"))
    assert(GraftCatalog.snapshotPartitionSpec(spark, br).nonEmpty)
    GraftCatalog.dropSnapshotBranch(spark, src, "cfg-exp")
  }

  test("declared sort order: every writer lands files sorted, through CoW too") {
    import spark.implicits._
    val root = s"$tmp/snapsort_${System.nanoTime()}"
    GraftCatalog.setSnapshotSortOrder(spark, root, Seq("v"))
    // deliberately UNSORTED input in 2 partitions
    val df = spark.range(1000).select(col("id"),
      expr("pmod(xxhash64(id), 100000L)").as("v"))
    GraftCatalog.commitSnapshot(df.repartition(2), root, append = false)
    def assertFilesSorted(): Unit =
      GraftCatalog.snapshotScanFiles(spark, root)._1.foreach { f =>
        val vs = spark.read.parquet(f).select("v").collect().map(_.getLong(0))
        assert(vs.sameElements(vs.sorted),
          s"$f not sorted by declared order (${vs.take(5).mkString(",")}…)")
      }
    assertFilesSorted()
    // a CoW rewrite re-sorts its batch through the same writer
    GraftCatalog.deleteSnapshotWhere(spark, root, col("id") % 7 === 0)
    assertFilesSorted()
    assert(GraftCatalog.snapshotSortOrder(spark, root) == Seq("v"))
    assert(GraftCatalog.readSnapshot(spark, root).count() ==
      1000 - spark.range(1000).where(col("id") % 7 === 0).count())
  }

  test("bloom sidecars prune point lookups that min/max envelopes cannot") {
    import spark.implicits._
    val root = s"$tmp/snapbloom_${System.nanoTime()}"
    GraftCatalog.setSnapshotBloomFilters(spark, root, Seq("v"), bits = 32768)
    // ids range-split into 4 files; v is hash-scattered, so every
    // file's v-envelope spans the domain and min/max can never prune a
    // point lookup on it
    val df = spark.range(1000).select(col("id"),
      expr("pmod(xxhash64(id), 1000000L)").as("v"))
    GraftCatalog.commitSnapshot(df.repartitionByRange(4, col("id")),
      root, append = false)
    val target = df.where(col("id") === 5L).head().getLong(1)
    val (all, total) = GraftCatalog.snapshotScanFiles(spark, root)
    assert(total == 4)
    // prove the envelopes are useless here: every file's v-range
    // contains the target
    val stats = GraftCatalog.readStats(spark, root, 1L)
    all.foreach { f =>
      val c = stats(f).cols.find(_.col == "v").get
      assert(c.mn.toLong <= target && target <= c.mx.toLong,
        s"fixture broke: $f envelope [${c.mn},${c.mx}] excludes $target")
      assert(c.bloom.isDefined, "bloom must be recorded at commit")
    }
    val (kept, _) = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("v") === target))
    assert(kept.size == 1, s"bloom must prune to the one true file: $kept")
    val pruned = GraftCatalog.readSnapshot(spark, root,
      predicate = Some(col("v") === target)).collect().toSet
    assert(pruned == GraftCatalog.readSnapshot(spark, root)
      .where(col("v") === target).collect().toSet && pruned.nonEmpty)
    // an absent value prunes everything and reads empty (not an error)
    val (keptNone, _) = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("v") === -1L))
    assert(keptNone.isEmpty)
    assert(GraftCatalog.readSnapshot(spark, root,
      predicate = Some(col("v") === -1L)).count() == 0)
    // an Int-typed literal must hash as the column's Long type
    if (target <= Int.MaxValue) {
      val (keptInt, _) = GraftCatalog.snapshotScanFiles(spark, root,
        predicate = Some(col("v") === target.toInt))
      assert(keptInt == kept, "Int literal against Long column must not mis-prune")
    }
    // the auto-skipping read probes blooms through its own filters too
    val auto = GraftCatalog.readSnapshotAuto(spark, root)
      .where(col("v") === target)
    assert(auto.collect().toSet == pruned)
    val scans = auto.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.nonEmpty && scans.head.metrics("numFiles").value == 1)
  }

  // ----- hidden partitioning -------------------------------------------

  test("ALTER COLUMN widen (int→bigint) is pure metadata; pre-widen files read; bucket pruning exact") {
    import spark.implicits._
    val root = s"$tmp/snapwiden_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    GraftCatalog.commitSnapshot(
      spark.range(1000).select(col("id"),
        col("id").cast("int").as("v")).repartition(1),
      root, append = false)
    val filesBefore = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    val v2 = GraftCatalog.widenSnapshotColumn(spark, root, "v",
      org.apache.spark.sql.types.LongType)
    assert(v2 == 2L)
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == filesBefore,
      "widening must publish ZERO new data files")
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(t.agg(sum("v")).head().getLong(0) == 499500L,
      "pre-widen int32 files must read directly into the bigint column")
    // a value beyond int range lands through the same append path
    GraftCatalog.commitSnapshot(
      Seq((5000L, 10_000_000_000L)).toDF("id", "v"), root, append = true)
    val t2 = GraftCatalog.readSnapshot(spark, root)
    assert(t2.where(col("v") > Int.MaxValue.toLong).count() == 1)
    assert(t2.count() == 1001)
    // bucket pruning on the (untouched) bucket column stays exact
    val (kept, total) = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("id") === 123L))
    assert(total == 5 && kept.size == 1,
      s"bucket prune must keep exactly 1 of 4 pre-widen files: $kept")
    assert(GraftCatalog.readSnapshot(spark, root,
      predicate = Some(col("id") === 123L)).count() == 1)
    // time travel serves the PRE-widen schema
    assert(GraftCatalog.readSnapshot(spark, root, Some(1L))
      .schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    // rejections: narrowing, and hash-layout columns (checked first —
    // a bucket tuple hashes differently under a wider type)
    val eNarrow = intercept[IllegalArgumentException](
      GraftCatalog.widenSnapshotColumn(
        spark, root, "v", org.apache.spark.sql.types.IntegerType))
    assert(eNarrow.getMessage.contains("not a safe"))
    val eLayout = intercept[IllegalArgumentException](
      GraftCatalog.widenSnapshotColumn(
        spark, root, "id", org.apache.spark.sql.types.DecimalType(38, 0)))
    assert(eLayout.getMessage.contains("partition spec"))
  }

  test("hidden partitioning: bucket tuple prunes what stats cannot, rows identical") {
    import spark.implicits._
    val root = s"$tmp/snappt_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    // one writer task → exactly one file per bucket, each file's id
    // RANGE spans nearly the whole domain (hash scatter), so the stats
    // envelope alone cannot prune a point lookup.
    GraftCatalog.commitSnapshot(
      spark.range(1000).select(col("id"), (col("id") % 97).as("v"))
        .repartition(1),
      root, append = false)
    val (all, total) = GraftCatalog.snapshotScanFiles(spark, root)
    assert(total == 4, s"expected 4 bucket files, got $total: $all")
    assert(all.forall(_.contains("__pt_0=")), "tuples must be in the paths")
    val (kept, _) = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("id") === 123L))
    assert(kept.size == 1, s"bucket prune must keep exactly 1 of 4: $kept")
    // row-level identity: pruned read == unpruned filter
    val pruned = GraftCatalog.readSnapshot(spark, root,
      predicate = Some(col("id") === 123L)).collect().toSet
    val plain = GraftCatalog.readSnapshot(spark, root)
      .where(col("id") === 123L).collect().toSet
    assert(pruned == plain && pruned.nonEmpty)
    // an Int-typed literal must hash as the column's Long type (or not
    // prune at all) — never prune the true bucket away
    val viaInt = GraftCatalog.readSnapshot(spark, root,
      predicate = Some(col("id") === 123)).collect().toSet
    assert(viaInt == plain, "Int literal against Long column must still match")
    // derived columns never surface
    assert(GraftCatalog.readSnapshot(spark, root).columns.toSeq == Seq("id", "v"))
    // the Catalyst-integrated auto read prunes from its own filters too
    val auto = GraftCatalog.readSnapshotAuto(spark, root)
      .where(col("id") === 123L)
    assert(auto.collect().toSet == plain)
    val scans = auto.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.head.metrics("numFiles").value == 1,
      "auto read must open exactly the one bucket file")
    // IN-lists prune to the union of member buckets
    val (keptIn, _) = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("id").isin(123L, 124L)))
    assert(keptIn.size <= 2, s"IN-list must keep at most 2 bucket files: $keptIn")
    val inRows = GraftCatalog.readSnapshot(spark, root,
      predicate = Some(col("id").isin(123L, 124L))).collect().toSet
    assert(inRows == GraftCatalog.readSnapshot(spark, root)
      .where(col("id").isin(123L, 124L)).collect().toSet)
  }

  test("hidden partitioning: an int batch into a bigint bucket column lands reader-agreeing tuples") {
    // xxhash64 is type-sensitive: the same value hashes differently as
    // Int vs Long. The writer must derive bucket tuples from the
    // COMMITTED schema's type (bigint), not the batch's own (int) —
    // otherwise a widenable int batch lands tuples the read-side
    // bucketOfLiteral (which casts literals to the committed type)
    // disagrees with: silent false prunes on reads AND skipped files in
    // CoW delete/update nomination.
    import spark.implicits._
    val root = s"$tmp/snapptwide_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id"), (col("id") % 7).as("v"))
        .repartition(1),
      root, append = false) // committed schema: id BIGINT
    // the widenable batch: id arrives as INT
    GraftCatalog.commitSnapshot(
      spark.range(1000, 1050)
        .select(col("id").cast("int").as("id"), (col("id") % 7).as("v"))
        .repartition(1),
      root, append = true)
    // every appended key must be findable through the pruned read path
    val missing = (1000L until 1050L).filter { k =>
      GraftCatalog.readSnapshot(spark, root,
        predicate = Some(col("id") === k)).count() != 1L
    }
    assert(missing.isEmpty,
      s"widened-batch keys falsely pruned: ${missing.take(5)}…")
    // and CoW delete must nominate the widened batch's files too
    GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 1013L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 149,
      "delete skipped the widened batch's file")
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("id") === 1013L).count() == 0)
  }

  test("graft_snapshot_files TVF: per-file layout with spec ids, tuples, DV counts from metadata") {
    import spark.implicits._
    val root = s"$tmp/snapfiles_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    GraftCatalog.commitSnapshot(
      spark.range(400).select(col("id"), (col("id") * 2).as("v")).repartition(1),
      root, append = false)
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id").isin(3L, 5L, 7L))
    val files = spark.sql(
      s"SELECT * FROM graft_snapshot_files('$root')").collect()
    assert(files.length == 4, "one file per bucket")
    assert(files.forall(_.getAs[Int]("spec_id") == 1))
    assert(files.forall(r => Option(r.getAs[String]("partition"))
      .exists(_.startsWith("__pt_0="))))
    assert(files.map(_.getAs[Long]("n_rows")).sum == 400L,
      "metadata row counts must sum to the table")
    assert(files.map(_.getAs[Long]("dv_deleted_rows")).sum == 3L,
      "the DV's positions attribute to their files")
    // version arg: v1 predates the DV
    val v1 = spark.sql(
      s"SELECT SUM(dv_deleted_rows) AS d FROM graft_snapshot_files('$root', 1)")
      .head().getLong(0)
    assert(v1 == 0L)
  }

  test("graft_snapshot_spj TVF: pure-SQL bucket-aligned join plans zero exchanges") {
    import spark.implicits._
    def mk(prefix: String, n: Int, vc: String): String = {
      val root = s"$tmp/snapspjtvf_${prefix}_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("k", "bucket", 8)))
      GraftCatalog.commitSnapshot(
        spark.range(n).select(col("id").as("k"), (col("id") * 5).as(vc))
          .repartition(1),
        root, append = false)
      root
    }
    val l = mk("l", 600, "lv")
    val r = mk("r", 400, "rv")
    val prior = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql(
        s"""SELECT a.k, a.lv, b.rv FROM graft_snapshot_spj('$l') a
           |JOIN graft_snapshot_spj('$r') b ON a.k = b.k""".stripMargin)
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "SQL SPJ must not shuffle")
      assert(j.count() == 400)
    } finally prior match {
      case Some(vv) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", vv)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("multi-field SPJ: bucket + identity spec joins shuffle-free on the composite key") {
    import spark.implicits._
    def mk(prefix: String, n: Int, vc: String): String = {
      val root = s"$tmp/snapspjmf_${prefix}_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, root, Seq(
        graft.sources.PartitionField("k", "bucket", 4),
        graft.sources.PartitionField("g", "identity")))
      GraftCatalog.commitSnapshot(
        spark.range(n).select(col("id").as("k"), (col("id") % 3).as("g"),
          (col("id") * 7).as(vc)).repartition(1),
        root, append = false)
      root
    }
    val left = mk("l", 600, "lv")
    val right = mk("r", 400, "rv")
    val prior = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val l = GraftCatalog.readSnapshotSpj(spark, left)
      val r = GraftCatalog.readSnapshotSpj(spark, right)
      val joined = l.join(r, Seq("k", "g"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"composite-key SPJ must not shuffle:\n${joined.queryExecution.executedPlan.treeString.take(2500)}")
      val expect = spark.range(600)
        .select(col("id").as("k"), (col("id") % 3).as("g"), (col("id") * 7).as("lv"))
        .join(spark.range(400).select(col("id").as("k"), (col("id") % 3).as("g"),
          (col("id") * 7).as("rv")), Seq("k", "g"))
        .collect().toSet
      assert(joined.collect().toSet == expect && expect.size == 400)
      // a RANGE-ish transform still rejects loudly
      val bad = s"$tmp/snapspjmf_bad_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, bad, Seq(
        graft.sources.PartitionField("k", "truncate", 10)))
      GraftCatalog.commitSnapshot(
        spark.range(10).select(col("id").as("k")), bad, append = false)
      val e = intercept[IllegalArgumentException](
        GraftCatalog.readSnapshotSpj(spark, bad))
      assert(e.getMessage.contains("bucket/identity"))
    } finally prior match {
      case Some(vv) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", vv)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("MoR sidecars read with their fixed schema: readSnapshot runs no DV or cover inference job") {
    import spark.implicits._
    val root = s"$tmp/sidecar_schema_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id"), (col("id") * 2).as("v")).repartition(2),
      root, append = false)
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id").isin(3L, 5L))
    GraftCatalog.deleteSnapshotKeysMor(spark, root, Seq(7L, 9L).toDF("id"), Seq("id"))
    val deletes = new java.io.File(s"$root/_deletes")
    assert(deletes.list().count(_.startsWith("dv-")) == 1)
    assert(deletes.list().count(_.startsWith("eq-")) == 1)
    // planning reads the DV positions, the eq-delete cover list and its
    // keys on the driver, with no Spark job (no count, no key
    // inference, no join); 6 jobs when the sidecars inferred, 4 when
    // the DV was counted and collected and the keys inferred
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsLaunched(spark) { df = GraftCatalog.readSnapshot(spark, root) }
    assert(jobs == 0)
    assert(df.count() == 96L)
    assert(df.where(col("id").isin(3L, 5L, 7L, 9L)).isEmpty)
    // an empty DV (every match already deleted) is still a no-op: the
    // freshly written sidecar is read back empty and removed
    val head = GraftCatalog.snapshotVersions(spark, root).last
    assert(GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 3L) == head)
    assert(deletes.list().count(_.startsWith("dv-")) == 1)
  }

  test("SPJ stays shuffle-free under merge-on-read deletion vectors") {
    import spark.implicits._
    def mk(prefix: String, n: Int, vc: String): String = {
      val root = s"$tmp/snapspjdv_${prefix}_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("k", "bucket", 8)))
      GraftCatalog.commitSnapshot(
        spark.range(n).select(col("id").as("k"), (col("id") * 3).as(vc))
          .repartition(1),
        root, append = false)
      root
    }
    val left = mk("l", 1000, "lv")
    val right = mk("r", 800, "rv")
    // MoR deletes on BOTH sides — the round-11 SPJ refused this table
    GraftCatalog.deleteSnapshotWhereMor(spark, left, col("k") % 5 === 0)
    GraftCatalog.deleteSnapshotWhereMor(spark, right, col("k") % 7 === 0)
    val priorConf = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val l = GraftCatalog.readSnapshotSpj(spark, left)
      val r = GraftCatalog.readSnapshotSpj(spark, right)
      val joined = l.join(r, "k")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "DV'd SPJ must keep the shuffle-free plan — per-file application")
      // row identity vs the relational replay of both deletes
      val expect = spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("lv"))
        .where(col("k") % 5 =!= 0)
        .join(spark.range(800).select(col("id").as("k"), (col("id") * 3).as("rv"))
          .where(col("k") % 7 =!= 0), "k")
        .collect().toSet
      val got = joined.collect().toSet
      assert(got == expect, s"got ${got.size} rows, expect ${expect.size}")
      // filters over the DV'd scan still evaluate exactly (they ride as
      // residuals above the unpushed per-file readers)
      assert(l.where(col("k") % 5 === 0).count() == 0)
      assert(l.where(col("k") > 500).count() ==
        (501L to 999L).count(_ % 5 != 0))
    } finally priorConf match {
      case Some(vv) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", vv)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("SPJ stays shuffle-free under equality deletes; coverage scopes per file") {
    import spark.implicits._
    def mk(prefix: String, n: Int, vc: String): String = {
      val root = s"$tmp/snapspjeq_${prefix}_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("k", "bucket", 8)))
      GraftCatalog.commitSnapshot(
        spark.range(n).select(col("id").as("k"), (col("id") * 3).as(vc))
          .repartition(1),
        root, append = false)
      root
    }
    val left = mk("l", 1000, "lv")
    val right = mk("r", 800, "rv")
    // EQUALITY deletes on both sides — pre-r14 SPJ refused these tables
    GraftCatalog.deleteSnapshotKeysMor(spark, left,
      (0L until 1000L by 5).toDF("k"), Seq("k"))
    GraftCatalog.deleteSnapshotKeysMor(spark, right,
      (0L until 800L by 7).toDF("k"), Seq("k"))
    val priorConf = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val l = GraftCatalog.readSnapshotSpj(spark, left)
      val r = GraftCatalog.readSnapshotSpj(spark, right)
      val joined = l.join(r, "k")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "eq-deleted SPJ must keep the shuffle-free plan — per-file application")
      // row identity vs the relational replay of both purges
      val expect = spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("lv"))
        .where(col("k") % 5 =!= 0)
        .join(spark.range(800).select(col("id").as("k"), (col("id") * 3).as("rv"))
          .where(col("k") % 7 =!= 0), "k")
        .collect().toSet
      val got = joined.collect().toSet
      assert(got == expect, s"got ${got.size} rows, expect ${expect.size}")
      // a projection that PRUNES the pk column still applies the purge
      // (the covered readers extend their schema internally)
      assert(l.select("lv").count() == 800)
      assert(l.select("lv").where(col("lv") === 15L).isEmpty,
        "k=5's row must stay deleted under a pk-pruned projection")
      // re-insert after the purge: the appended file is OUTSIDE the
      // sidecar's covered set, so the key survives through SPJ too
      GraftCatalog.commitSnapshot(
        Seq((5L, 999L)).toDF("k", "lv"), left, append = true)
      val l2 = GraftCatalog.readSnapshotSpj(spark, left)
      assert(l2.where(col("k") === 5L).count() == 1)
      assert(l2.where(col("k") === 10L).isEmpty,
        "other purged keys stay deleted after the append")
      // matches the folded (compacted) result exactly
      GraftCatalog.compactSnapshot(spark, right)
      assert(GraftCatalog.readSnapshotSpj(spark, right).collect().toSet ==
        spark.range(800).select(col("id").as("k"), (col("id") * 3).as("rv"))
          .where(col("k") % 7 =!= 0).collect().toSet)
      // composes with a positional MoR delete on the SAME table (the
      // dv+eq per-file reader)
      GraftCatalog.deleteSnapshotWhereMor(spark, left, col("k") === 3L)
      val l3 = GraftCatalog.readSnapshotSpj(spark, left)
      assert(l3.where(col("k").isin(3L, 10L)).isEmpty &&
        l3.where(col("k") === 5L).count() == 1)
      // a pathological key list beyond the planning bound refuses loudly
      spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
      try {
        val e = intercept[IllegalArgumentException](
          GraftCatalog.readSnapshotSpj(spark, left))
        assert(e.getMessage.contains("compact first"))
      } finally spark.conf.unset("spark.graft.dv.broadcastMaxPositions")
    } finally priorConf match {
      case Some(vv) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", vv)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("storage-partitioned join: bucket-aligned snapshot⋈snapshot plans zero exchanges") {
    import spark.implicits._
    def mkTable(prefix: String, nRows: Int, valCol: String): String = {
      val root = s"$tmp/snapspj_${prefix}_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("k", "bucket", 8)))
      GraftCatalog.commitSnapshot(
        spark.range(nRows).select(col("id").as("k"),
          (col("id") * 3).as(valCol)).repartition(1),
        root, append = false)
      root
    }
    val left = mkTable("l", 1000, "lv")
    val right = mkTable("r", 800, "rv")
    val priorConf = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val l = GraftCatalog.readSnapshotSpj(spark, left)
      val r = GraftCatalog.readSnapshotSpj(spark, right)
      val joined = l.join(r, "k")
      val plan = joined.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucket-aligned SPJ must not shuffle:\n${plan.treeString.take(3000)}")
      // row-level identity vs the plain (shuffling) join
      val expect = spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("lv"))
        .join(spark.range(800).select(col("id").as("k"), (col("id") * 3).as("rv")), "k")
        .collect().toSet
      assert(joined.collect().toSet == expect && expect.size == 800)
      // aggregation on the bucket key also avoids the exchange
      val agg = l.groupBy("k").agg(sum("lv").as("s"))
      // (grouping key == partition key → partial agg is already final
      // per partition; Spark still plans it through the key-grouped
      // layout. We only assert correctness here.)
      assert(agg.count() == 1000)
      // COLUMN PRUNING: a projection reads only its columns — the scan
      // output shrinks to the required schema, not the table schema
      val proj = GraftCatalog.readSnapshotSpj(spark, left).select("lv")
      val scans = proj.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty && scans.head.output.map(_.name) == Seq("lv"),
        s"projection must prune the scan to [lv]: ${scans.map(_.output)}")
      assert(proj.count() == 1000)
      // filtered read stays row-correct (filters reach parquet as
      // advisory row-group skips, Spark keeps exact evaluation)
      assert(GraftCatalog.readSnapshotSpj(spark, left)
        .where(col("k") < 10L).count() == 10)
      // DVs now apply per file INSIDE the readers (see the dedicated
      // MoR-SPJ spec); only a pathological DV beyond the planning
      // bound still refuses loudly
      GraftCatalog.deleteSnapshotWhereMor(spark, left, col("k") === 5L)
      assert(GraftCatalog.readSnapshotSpj(spark, left).count() == 999)
      spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
      try {
        val e = intercept[IllegalArgumentException] {
          GraftCatalog.readSnapshotSpj(spark, left)
        }
        assert(e.getMessage.contains("compact first"))
      } finally spark.conf.unset("spark.graft.dv.broadcastMaxPositions")
    } finally priorConf match {
      case Some(vv) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", vv)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("spec evolution v2: bucket-count change over LIVE equality-delete sidecars") {
    import spark.implicits._
    val root = s"$tmp/snapevoeq_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    GraftCatalog.commitSnapshot(
      spark.range(1000).select(col("id"), (col("id") % 97).as("v"))
        .repartition(1),
      root, append = false)
    // a LIVE eqdel sidecar covers the spec-1 layout...
    GraftCatalog.deleteSnapshotKeysMor(spark, root,
      Seq(5L, 6L, 7L).toDF("id"), Seq("id"))
    // ...then the bucket count changes under it, and a spec-2 append
    // RE-INSERTS one purged key (outside the sidecar's covered set)
    GraftCatalog.evolveSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 8)))
    GraftCatalog.commitSnapshot(
      spark.range(1000, 1500).select(col("id"), (col("id") % 97).as("v"))
        .unionAll(Seq((5L, 555L)).toDF("id", "v"))
        .repartition(1),
      root, append = true)
    def idsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.where(col("id").isin(5L, 6L, 7L)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = 1000 - 3 + 501
    assert(GraftCatalog.readSnapshot(spark, root).count() == expect)
    assert(idsOf(GraftCatalog.readSnapshot(spark, root)) == Map(5L -> 555L),
      "purged keys stay dead under the new spec; the spec-2 re-insert survives")
    // tuple pruning works for BOTH generations with the eqdel live
    val pruned = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("id") === 123L))._1
    assert(pruned.size < GraftCatalog.snapshotScanFiles(spark, root)._1.size,
      "point lookup must still prune under mixed specs + live eqdel")
    // folding the sidecar into a DV preserves everything
    GraftCatalog.rewriteEqDeletesToDv(spark, root)
    assert(GraftCatalog.readSnapshot(spark, root).count() == expect)
    assert(idsOf(GraftCatalog.readSnapshot(spark, root)) == Map(5L -> 555L))
    // and the partitioned compaction migrates spec-1 files into the
    // active 8-bucket layout without resurrecting a purged row
    GraftCatalog.compactSnapshotPartitioned(spark, root)
    val files = GraftCatalog.snapshotScanFiles(spark, root)._1
    assert(files.forall(_.contains("/s2-b")),
      s"migration left retired-spec files: ${files.filterNot(_.contains("/s2-b"))}")
    assert(GraftCatalog.readSnapshot(spark, root).count() == expect)
    assert(idsOf(GraftCatalog.readSnapshot(spark, root)) == Map(5L -> 555L))
  }

  test("partition-spec evolution: files under two specs both prune; compaction migrates") {
    import spark.implicits._
    val root = s"$tmp/snapptevo_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    // batch A: written under spec 1 (bucket 4), one file per bucket
    GraftCatalog.commitSnapshot(
      spark.range(500).select(col("id"), (col("id") % 97).as("v"))
        .repartition(1),
      root, append = false)
    GraftCatalog.evolveSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 8)))
    // batch B: written under spec 2 (bucket 8)
    GraftCatalog.commitSnapshot(
      spark.range(500, 1000).select(col("id"), (col("id") % 97).as("v"))
        .repartition(1),
      root, append = true)
    val (allFiles, total) = GraftCatalog.snapshotScanFiles(spark, root)
    assert(total == 12, s"4 spec-1 files + 8 spec-2 files, got $total")
    assert(allFiles.count(_.contains("/s2-b")) == 8,
      "spec-2 batches must encode their spec id in the path")
    // Point lookups prune BOTH generations by the spec that wrote
    // them, composing with the stats envelope: id=123 lives in batch A
    // (ids 0..499) — the 4-bucket tuple keeps 1 of the 4 spec-1 files
    // and the id-envelope prunes all 8 spec-2 files; id=777 is the
    // mirror case, where among batch B's hash-scattered files ONLY the
    // 8-bucket tuple can prune (every file's id envelope spans
    // 500..999).
    def prunedFor(k: Long): Seq[String] =
      GraftCatalog.snapshotScanFiles(spark, root,
        predicate = Some(col("id") === k))._1
    assert(prunedFor(123L).size == 1 && !prunedFor(123L).head.contains("/s2-b"),
      s"spec-1 tuple prune failed: ${prunedFor(123L)}")
    assert(prunedFor(777L).size == 1 && prunedFor(777L).head.contains("/s2-b"),
      s"spec-2 tuple prune failed: ${prunedFor(777L)}")
    // row-level identity across the mixed-spec table
    for (k <- Seq(123L, 777L)) {
      val pruned = GraftCatalog.readSnapshot(spark, root,
        predicate = Some(col("id") === k)).collect().toSet
      assert(pruned == GraftCatalog.readSnapshot(spark, root)
        .where(col("id") === k).collect().toSet && pruned.size == 1)
    }
    // DESCRIBE attributes retired-spec files as unpartitioned instead
    // of misreading their tuples through the active spec
    val desc = GraftCatalog.describeSnapshotPartitions(spark, root)
    assert(desc.where(col("id_bucket").isNull).head().getLong(2) == 500L,
      "spec-1 rows must report under the null tuple")
    // compaction migrates everything into the ACTIVE spec's layout
    GraftCatalog.compactSnapshotPartitioned(spark, root)
    val (migrated, totalAfter) = GraftCatalog.snapshotScanFiles(spark, root)
    assert(migrated.forall(_.contains("/s2-b")),
      s"migration left retired-spec files: ${migrated.filterNot(_.contains("/s2-b"))}")
    assert(totalAfter == 8, s"one file per active bucket, got $totalAfter")
    assert(prunedFor(123L).size == 1, "post-migration point lookup keeps 1 of 8")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 1000)
  }

  test("a stale pinned rewrite aborts instead of erasing a concurrent commit") {
    import spark.implicits._
    val root = s"$tmp/stalepin_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    // a concurrent writer lands v2 BETWEEN the rewrite's read and its
    // publish — simulated by committing before the pinned publish runs
    GraftCatalog.commitSnapshot(
      Seq((1000L, 1L)).toDF("k", "v"), root, append = true)
    // the rewrite pinned at v1 must ABORT (publishing v1's content at
    // the recomputed head would silently erase the append — the exact
    // lost-update a content-preserving rewrite can never serialize)
    val e = intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.commitSnapshot(
        GraftCatalog.readSnapshot(spark, root, Some(v1)).coalesce(1),
        root, append = false, expectedHead = Some(v1)))
    assert(e != null)
    // nothing was erased and no batch was orphaned
    assert(GraftCatalog.readSnapshot(spark, root).count() == 101)
    assert(GraftCatalog.snapshotVersions(spark, root).last == v1 + 1)
    // compactSnapshot at the CURRENT head still lands and preserves rows
    GraftCatalog.compactSnapshot(spark, root)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 101)
  }

  test("pinned rewrite racing a disjoint append RE-PUBLISHES: both commits land, data written once") {
    import spark.implicits._
    val root = s"$tmp/repin_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartition(3),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    val consumed = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    assert(consumed.size == 3)
    // the racer: a disjoint append lands v2 between the rewrite's read
    // and its pinned publish
    GraftCatalog.commitSnapshot(
      Seq((5000L, 1L), (5001L, 2L)).toDF("k", "v"), root, append = true)
    val appendOnly = GraftCatalog.snapshotScanFiles(spark, root)._1
      .filterNot(consumed).toSet
    // the rewrite pinned at v1 loses its slot — but the race is
    // provably harmless (every consumed file alive, no new delete
    // content, same schema), so it RE-PUBLISHES against the new head
    // instead of aborting: the liveness half of the r14 race fix
    val landed = GraftCatalog.commitSnapshot(
      GraftCatalog.readSnapshot(spark, root, Some(v1)).coalesce(1),
      root, append = false, expectedHead = Some(v1),
      rewriteOf = Some(consumed))
    assert(landed == v1 + 2, s"republish must land at the new head+1, got $landed")
    // BOTH commits' content is at the head
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 102)
    assert(head.where(col("k") === 5000L).count() == 1)
    // the consumed files are swapped out; the racer's files carry by path
    val after = GraftCatalog.snapshotScanFiles(spark, root)._1
    assert(after.toSet.intersect(consumed).isEmpty,
      "consumed files must leave the manifest")
    assert(appendOnly.subsetOf(after.toSet),
      "the racing append's files must carry bit-undisturbed")
    assert(after.size == appendOnly.size + 1,
      s"one compacted file + the append's, got $after")
    // history stays contiguous and every version still reads
    assert(GraftCatalog.snapshotVersions(spark, root) == (1L to landed))
    assert(GraftCatalog.readSnapshot(spark, root, Some(v1)).count() == 100)
  }

  test("pinned rewrite republish carries a racer's DV on non-consumed files") {
    val root = s"$tmp/repindv_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartition(1),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    val consumed = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    // racers: an append (file B), then a MoR delete whose DV touches
    // ONLY file B (stats envelopes keep file A out of the candidates)
    GraftCatalog.commitSnapshot(
      spark.range(1000, 1050).select(col("id").as("k"), lit(7L).as("v"))
        .repartition(1),
      root, append = true)
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") >= 1040L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 140)
    // the pinned rewrite revalidates: consumed file alive, the new DV
    // is disjoint from it — republish must land AND keep the DV
    val landed = GraftCatalog.commitSnapshot(
      GraftCatalog.readSnapshot(spark, root, Some(v1)).coalesce(1),
      root, append = false, expectedHead = Some(v1),
      rewriteOf = Some(consumed))
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 140, "the racer's MoR delete must stay applied")
    assert(head.where(col("k") === 1045L).isEmpty)
    assert(head.where(col("k") === 1000L).count() == 1)
    assert(GraftCatalog.snapshotVersions(spark, root) == (1L to landed))
  }

  test("pinned rewrite still aborts on genuine overlap: eqdel cover or CoW of a consumed file") {
    import spark.implicits._
    val root = s"$tmp/repinovl_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartition(1),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    val consumed = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    // racer 1: an equality delete — its cover is the FULL file list,
    // so it always overlaps the consumed set; the rewrite's output
    // would resurrect the purged keys → must abort and replan
    GraftCatalog.deleteSnapshotKeysMor(spark, root,
      Seq(5L, 6L, 7L).toDF("k"), Seq("k"))
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.commitSnapshot(
        GraftCatalog.readSnapshot(spark, root, Some(v1)).coalesce(1),
        root, append = false, expectedHead = Some(v1),
        rewriteOf = Some(consumed)))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 97)
    // racer 2: a CoW UPDATE rewrites the consumed file itself — the
    // strongest overlap; a fresh pin must also abort
    val v2 = GraftCatalog.snapshotVersions(spark, root).last
    val consumed2 = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    GraftCatalog.updateSnapshotWhere(spark, root,
      col("k") === 10L, Seq("v" -> lit(999L)))
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.commitSnapshot(
        GraftCatalog.readSnapshot(spark, root, Some(v2)).coalesce(1),
        root, append = false, expectedHead = Some(v2),
        rewriteOf = Some(consumed2)))
    // replan against the current head lands cleanly
    GraftCatalog.compactSnapshot(spark, root)
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 97)
    assert(head.where(col("k") === 10L).select("v").as[Long].head() == 999L)
  }

  // ---- validation-based serializable retry for the CoW VERBS --------
  // (the verb-level half of the rewrite race fix: a MERGE/DELETE that
  // loses its publish race to a PROVABLY scope-disjoint commit lands
  // its already-written batch metadata-only instead of aborting)

  private def dataBatchDirs(root: String): Set[String] = {
    val d = new java.io.File(s"$root/data")
    Option(d.listFiles()).map(_.filter(_.isDirectory).map(_.getName).toSet)
      .getOrElse(Set.empty)
  }

  test("MERGE racing a disjoint append RE-PUBLISHES: both land, merge batch written once") {
    import spark.implicits._
    val root = s"$tmp/verbrace_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(2, col("k")),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    // the racer fires BETWEEN the merge's read/pin and its publish:
    // a disjoint append (keys 5000+, far outside the merge's [10,20]
    // key envelope)
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = GraftCatalog.commitSnapshot(
        Seq((5000L, 1L), (5001L, 2L)).toDF("k", "v"), root, append = true)
    })
    val before = dataBatchDirs(root)
    val upd = spark.range(10, 21).select(col("id").as("k"), lit(-7L).as("v"))
    val landed = GraftCatalog.mergeSnapshot(spark, root, upd, "k")
    // the racer took v2; the merge must land at v3 WITHOUT redoing data
    assert(landed == v1 + 2, s"merge must re-publish at head+1, got $landed")
    val after = dataBatchDirs(root)
    assert((after -- before).size == 2,
      s"exactly the racer's batch + ONE merge batch may appear, got ${after -- before}")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 102)
    assert(head.where(col("k") === 15L).select("v").as[Long].head() == -7L,
      "the merge's update must be applied")
    assert(head.where(col("k") === 5000L).count() == 1,
      "the racing append must survive")
    assert(GraftCatalog.snapshotVersions(spark, root) == (1L to landed))
  }

  test("MERGE racing an append INSIDE its key scope keeps the strict abort") {
    import spark.implicits._
    val root = s"$tmp/verbraceovl_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(2, col("k")),
      root, append = false)
    // racer appends k=15 — INSIDE the merge's key envelope: the merge
    // would have treated it as MATCHED on the racer's head, so no
    // serial order matches the already-written batch → abort + replan
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = GraftCatalog.commitSnapshot(
        Seq((15L, 999L)).toDF("k", "v"), root, append = true)
    })
    val upd = spark.range(10, 21).select(col("id").as("k"), lit(-7L).as("v"))
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.mergeSnapshot(spark, root, upd, "k"))
    // nothing erased, no orphan batch: the racer's row is at the head
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("k") === 15L).count() == 2,
      "base k=15 plus the racer's duplicate — the merge must NOT have landed")
    // the documented contract: the replan lands and dedups
    GraftCatalog.mergeSnapshot(spark, root, upd, "k")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.where(col("k") === 15L).count() == 1)
    assert(head.where(col("k") === 15L).select("v").as[Long].head() == -7L)
  }

  test("DELETE/UPDATE WHERE racing disjoint commits re-publish; overlapping UPDATE aborts") {
    import spark.implicits._
    val root = s"$tmp/verbracedel_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(2, col("k")),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = GraftCatalog.commitSnapshot(
        Seq((7000L, 1L)).toDF("k", "v"), root, append = true)
    })
    val vDel = GraftCatalog.deleteSnapshotWhere(spark, root, col("k") < 10L)
    assert(vDel == v1 + 2, "delete must re-publish over the disjoint append")
    val head1 = GraftCatalog.readSnapshot(spark, root)
    assert(head1.count() == 91 && head1.where(col("k") === 7000L).count() == 1)
    // UPDATE racing a disjoint append re-publishes too
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = GraftCatalog.commitSnapshot(
        Seq((8000L, 1L)).toDF("k", "v"), root, append = true)
    })
    val vUpd = GraftCatalog.updateSnapshotWhere(spark, root,
      col("k").between(20L, 30L), Seq("v" -> lit(-1L)))
    assert(vUpd == vDel + 2, "update must re-publish over the disjoint append")
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("v") === -1L).count() == 11)
    // but an update racing an IN-SCOPE append must abort
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = GraftCatalog.commitSnapshot(
        Seq((55L, 0L)).toDF("k", "v"), root, append = true)
    })
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.updateSnapshotWhere(spark, root,
        col("k").between(50L, 60L), Seq("v" -> lit(-2L))))
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("v") === -2L).count() == 0, "the aborted update left no trace")
  }

  test("CDC apply racing a disjoint append re-publishes; racer's delete content over consumed files aborts") {
    import spark.implicits._
    val root = s"$tmp/verbracecdc_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(2, col("k")),
      root, append = false)
    val v1 = GraftCatalog.snapshotVersions(spark, root).last
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = GraftCatalog.commitSnapshot(
        Seq((9000L, 1L)).toDF("k", "v"), root, append = true)
    })
    val batch = Seq((10L, 111L, "U"), (11L, 0L, "D"), (200L, 222L, "I"))
      .toDF("k", "v", "_op")
    val vCdc = GraftCatalog.applyCdcSnapshot(spark, root, batch, "k")
    assert(vCdc == v1 + 2, "CDC apply must re-publish over the disjoint append")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 101) // 100 - 1 deleted + 1 inserted + 1 racer
    assert(head.where(col("k") === 11L).isEmpty)
    assert(head.where(col("k") === 10L).select("v").as[Long].head() == 111L)
    // a racer that lands a MoR DELETE over the verb's CONSUMED files
    // is a genuine overlap — strict abort survives
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit =
        { GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") === 40L); () }
    })
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.applyCdcSnapshot(spark, root,
        Seq((41L, 1L, "U")).toDF("k", "v", "_op"), "k"))
    assert(GraftCatalog.readSnapshot(spark, root).where(col("k") === 40L).isEmpty,
      "the racer's MoR delete stands")
  }

  test("partition-scoped compaction: OPTIMIZE WHERE rewrites only the hot partition") {
    import spark.implicits._
    val root = s"$tmp/snapptscope_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("g", "identity")))
    // 3 trickle appends fragment every partition into 3 files
    for (i <- 0 until 3) {
      GraftCatalog.commitSnapshot(
        spark.range(i * 100, (i + 1) * 100)
          .select(col("id"), element_at(typedlit(Seq("EU", "US", "AP")),
            (col("id") % 3 + 1).cast("int")).as("g")),
        root, append = i > 0)
    }
    val before = GraftCatalog.snapshotScanFiles(spark, root)._1
    assert(before.size == 9, s"3 partitions x 3 files, got ${before.size}")
    val beforeRows = GraftCatalog.readSnapshot(spark, root).collect().toSet
    // scoped: only EU compacts
    GraftCatalog.compactSnapshotPartitioned(spark, root,
      where = Some(col("g") === "EU"))
    val after = GraftCatalog.snapshotScanFiles(spark, root)._1
    val euBefore = before.filter(_.contains("__pt_0=EU"))
    val othersBefore = before.filterNot(_.contains("__pt_0=EU")).toSet
    val euAfter = after.filter(_.contains("__pt_0=EU"))
    val othersAfter = after.filterNot(_.contains("__pt_0=EU")).toSet
    assert(euAfter.size == 1 && euBefore.size == 3,
      s"EU must fold 3 -> 1, got ${euAfter.size}")
    assert(othersAfter == othersBefore,
      "untouched partitions must carry BY PATH, bit-undisturbed")
    assert(GraftCatalog.readSnapshot(spark, root).collect().toSet == beforeRows)
    // a second scoped run over an already-compact partition is a no-op
    val head = GraftCatalog.snapshotVersions(spark, root).last
    assert(GraftCatalog.compactSnapshotPartitioned(spark, root,
      where = Some(col("g") === "EU")) == head)
    // the CALL surface takes the predicate as SQL text — under a
    // DISTINCT catalog name: Spark caches catalog instances per
    // session, so binding the shared session's `graft` catalog to THIS
    // suite's warehouse would break later suites' graft.db tables
    spark.conf.set("spark.sql.catalog.graftsc", "graft.sources.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graftsc.warehouse", tmp)
    val tbl = root.stripPrefix(s"$tmp/")
    spark.sql(s"CALL graftsc.system.compact_partitioned('$tbl', " +
      s"${128L * 1024 * 1024}L, 'g = ''US''')")
    val after2 = GraftCatalog.snapshotScanFiles(spark, root)._1
    assert(after2.count(_.contains("__pt_0=US")) == 1,
      "CALL-scoped compaction must fold the US partition")
    assert(after2.count(_.contains("__pt_0=AP")) == 3,
      "AP stays fragmented until ITS scoped run")
    assert(GraftCatalog.readSnapshot(spark, root).collect().toSet == beforeRows)
  }

  test("hidden partitioning: CoW delete nominates only the predicate's bucket file") {
    import spark.implicits._
    val pred = col("id") === 123L
    // every CoW predicate verb plans through the same pruning rule
    val verbs: Seq[(String, String => Long, Long)] = Seq(
      ("delete", root => GraftCatalog.deleteSnapshotWhere(spark, root, pred), 999L),
      ("update", root => GraftCatalog.updateSnapshotWhere(spark, root, pred,
        Seq("v" -> lit(-1L))), 1000L),
      ("overwrite", root => GraftCatalog.overwriteSnapshotWhere(spark, root, pred,
        Seq((123L, -1L)).toDF("id", "v")), 1000L))
    verbs.foreach { case (verb, run, rows) =>
      val root = s"$tmp/snapptdel_${verb}_${System.nanoTime()}"
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("id", "bucket", 4)))
      GraftCatalog.commitSnapshot(
        spark.range(1000).select(col("id"), (col("id") % 97).as("v"))
          .repartition(1),
        root, append = false)
      val before = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
      assert(GraftCatalog.snapshotScanFiles(spark, root, predicate = Some(pred))._1.size == 1,
        s"$verb: the bucket tuple prunes to one file")
      run(root)
      val after = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
      assert((before -- after).size == 1 && (after -- before).size >= 1,
        s"$verb: exactly one bucket file rewrites; carried=${(before & after).size}")
      assert((before & after).size == 3, s"$verb: the other three buckets carry by path")
      val read = GraftCatalog.readSnapshot(spark, root)
      assert(read.count() == rows, verb)
      if (verb != "delete")
        assert(read.where(pred).select("v").as[Long].collect().toSeq == Seq(-1L), verb)
    }
  }

  test("describeSnapshotPartitions: pure-metadata counts equal data group-by") {
    import spark.implicits._
    val root = s"$tmp/snapptdesc_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("ts", "month")))
    val df = spark.range(500).select(
      col("id"),
      expr("timestampadd(HOUR, CAST(id * 7 AS INT), TIMESTAMP'2024-01-01 00:00:00')")
        .as("ts"))
    GraftCatalog.commitSnapshot(df.repartition(3), root, append = false)
    val desc = GraftCatalog.describeSnapshotPartitions(spark, root)
      .select("ts_month", "n_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val data = GraftCatalog.readSnapshot(spark, root)
      .groupBy(date_format(col("ts"), "yyyy-MM").as("m"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(desc == data, s"metadata $desc != data $data")
  }

  test("partition-aware compaction: merges within partitions, migrates pre-spec files") {
    import spark.implicits._
    val root = s"$tmp/snapptcomp_${System.nanoTime()}"
    // v1 lands BEFORE the spec exists — no tuples in its paths
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id"), (col("id") % 9).as("v")),
      root, append = false)
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    // two partitioned appends fragment each bucket into 2 files
    GraftCatalog.commitSnapshot(
      spark.range(100, 200).select(col("id"), (col("id") % 9).as("v"))
        .repartition(1), root, append = true)
    GraftCatalog.commitSnapshot(
      spark.range(200, 300).select(col("id"), (col("id") % 9).as("v"))
        .repartition(1), root, append = true)
    val beforeRows = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    GraftCatalog.compactSnapshotPartitioned(spark, root)
    val files = GraftCatalog.snapshotScanFiles(spark, root)._1
    assert(files.forall(_.contains("__pt_0=")),
      s"every head file must carry a tuple after compaction: $files")
    assert(files.size == 4, s"one file per bucket after compaction: $files")
    val afterRows = GraftCatalog.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterRows == beforeRows, "compaction must not change content")
    // point lookup now prunes to one file even over migrated history
    val (kept, total) = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("id") === 42L))
    assert(total == 4 && kept.size == 1)
    // idempotent: a second compaction finds nothing fragmented
    val head = GraftCatalog.snapshotVersions(spark, root).last
    assert(GraftCatalog.compactSnapshotPartitioned(spark, root) == head,
      "nothing to compact → head unchanged")
  }

  test("multi-statement transaction: N verbs land as ONE visible flip; abort leaves no trace; conflict replans") {
    import spark.implicits._
    val root = s"$tmp/txn_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(2, col("k")),
      root, append = false)
    val v0 = GraftCatalog.snapshotVersions(spark, root).last
    // three verbs, one flip — and mid-transaction the MAIN line is
    // bit-undisturbed (readers never see a partial state)
    val landed = GraftCatalog.transactSnapshot(spark, root) { br =>
      GraftCatalog.mergeSnapshot(spark, root = br,
        spark.range(10, 20).select(col("id").as("k"), lit(-1L).as("v")), "k")
      GraftCatalog.deleteSnapshotWhere(spark, br, col("k") >= 90L)
      GraftCatalog.commitSnapshot(
        Seq((500L, 5L)).toDF("k", "v"), br, append = true)
      assert(GraftCatalog.snapshotVersions(spark, root).last == v0,
        "main must not move mid-transaction")
      assert(GraftCatalog.readSnapshot(spark, root).count() == 100,
        "readers of main must see the pre-transaction state")
    }
    assert(landed == v0 + 1, "the whole transaction is ONE version flip")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 91) // 100 - 10 deleted + 1 inserted
    assert(head.where(col("k") === 15L).select("v").as[Long].head() == -1L)
    assert(head.where(col("k") === 500L).count() == 1)
    assert(head.where(col("k") === 95L).isEmpty)
    // ABORT: a body failure drops the fork — no version, no branch, no trace
    intercept[RuntimeException](
      GraftCatalog.transactSnapshot(spark, root) { br =>
        GraftCatalog.deleteSnapshotWhere(spark, br, col("k") < 50L)
        throw new RuntimeException("boom")
      })
    assert(GraftCatalog.snapshotVersions(spark, root).last == landed)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 91)
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty,
      "an aborted transaction must leave no branch behind")
    // CONFLICT: a commit to main between fork and commit aborts the
    // transaction; maxRetries re-runs the body on a fresh fork and lands
    var runs = 0
    val v2 = GraftCatalog.transactSnapshot(spark, root, maxRetries = 1) { br =>
      runs += 1
      if (runs == 1) // the racer, injected deterministically on round 1
        GraftCatalog.commitSnapshot(
          Seq((600L, 6L)).toDF("k", "v"), root, append = true)
      GraftCatalog.updateSnapshotWhere(spark, br,
        col("k") === 500L, Seq("v" -> lit(99L)))
    }
    assert(runs == 2, "the lost race must re-run the body on a fresh fork")
    val head2 = GraftCatalog.readSnapshot(spark, root)
    assert(head2.where(col("k") === 600L).count() == 1, "the racer survives")
    assert(head2.where(col("k") === 500L).select("v").as[Long].head() == 99L)
    assert(GraftCatalog.snapshotVersions(spark, root).last == v2)
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
  }

  test("scoped transaction surviving a disjoint racer re-publishes WITHOUT re-running the body") {
    import spark.implicits._
    val root = s"$tmp/txnscope_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(2, col("k")),
      root, append = false)
    val v0 = GraftCatalog.snapshotVersions(spark, root).last
    var runs = 0
    // the caller declares the tx scope (k < 50); the racer appends far
    // outside it — the lost fast-forward must re-publish the composed
    // result metadata-only, body run ONCE
    val landed = GraftCatalog.transactSnapshot(spark, root,
      scope = Some(col("k") < 50L)) { br =>
      runs += 1
      GraftCatalog.commitSnapshot(
        Seq((9000L, 1L)).toDF("k", "v"), root, append = true) // the racer
      GraftCatalog.updateSnapshotWhere(spark, br,
        col("k") < 10L, Seq("v" -> lit(-1L)))
      GraftCatalog.deleteSnapshotWhere(spark, br, col("k").between(40L, 45L))
      ()
    }
    assert(runs == 1, "a provably-disjoint race must NOT re-run the body")
    assert(landed == v0 + 2, s"racer v${v0 + 1}, revalidated tx v${v0 + 2}; got $landed")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.count() == 95) // 100 - 6 deleted + 1 racer
    assert(head.where(col("k") === 5L).select("v").as[Long].head() == -1L)
    assert(head.where(col("k") === 9000L).count() == 1, "the racer survives")
    assert(head.where(col("k") === 42L).isEmpty)
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
    // an IN-SCOPE racer still aborts (maxRetries 0 → throws)
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.transactSnapshot(spark, root,
        scope = Some(col("k") < 100000L)) { br =>
        GraftCatalog.commitSnapshot(
          Seq((9500L, 1L)).toDF("k", "v"), root, append = true)
        GraftCatalog.updateSnapshotWhere(spark, br,
          col("k") === 1L, Seq("v" -> lit(-2L)))
        ()
      })
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("v") === -2L).count() == 0)
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
    // a tx that ADDED MoR content now grafts over a disjoint racer
    // (r17): the DV sidecar path-migrates onto the racer's head and
    // the whole body lands metadata-only, one flip over the racer
    val vPre = GraftCatalog.snapshotVersions(spark, root).last
    val landedMor = GraftCatalog.transactSnapshot(spark, root,
      scope = Some(col("k") < 50L)) { br =>
      GraftCatalog.commitSnapshot(
        Seq((9600L, 1L)).toDF("k", "v"), root, append = true)
      GraftCatalog.deleteSnapshotWhereMor(spark, br, col("k") === 3L)
      ()
    }
    assert(landedMor == vPre + 2,
      s"racer v${vPre + 1}, MoR-grafted tx v${vPre + 2}; got $landedMor")
    val headMor = GraftCatalog.readSnapshot(spark, root)
    assert(headMor.where(col("k") === 3L).isEmpty,
      "the grafted DV must be honored on the parent head")
    assert(headMor.where(col("k") === 9600L).count() == 1, "the racer survives")
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty)
    // a tx whose body DROPPED sidecar lines from its fork copy (folded
    // MoR content mid-tx via compaction) keeps the strict abort
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") === 7L)
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.transactSnapshot(spark, root,
        scope = Some(col("k") < 50L)) { br =>
        GraftCatalog.commitSnapshot(
          Seq((9700L, 1L)).toDF("k", "v"), root, append = true)
        GraftCatalog.compactSnapshot(spark, br) // folds the fork DV away
        ()
      })
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("k") === 9700L).count() == 1, "the racer still lands")
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty,
      "the aborted tx must stay traceless")
    // r17 review fix: a racer that added IN-SCOPE DELETE CONTENT (a
    // DV line, zero data files) aborts the tx — the body may have
    // READ those rows from a file it never rewrote, so the composed
    // output matches neither serial order. Deletions are not
    // additions; the file-envelope proof must cover both.
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.transactSnapshot(spark, root,
        scope = Some(col("k") < 100L)) { br =>
        GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") === 11L)
        GraftCatalog.updateSnapshotWhere(spark, br,
          col("k") === 60L, Seq("v" -> lit(-77L)))
        ()
      })
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("v") === -77L).count() == 0, "the tx must not have landed")
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("k") === 11L).isEmpty, "the racer's own delete stands")
    // ...while a racer whose delete content is provably OUT of scope
    // (file envelope disjoint) is harmless — the tx grafts and lands
    val vOut = GraftCatalog.snapshotVersions(spark, root).last
    val landedOut = GraftCatalog.transactSnapshot(spark, root,
      scope = Some(col("k") < 100L)) { br =>
      GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") === 9600L)
      GraftCatalog.updateSnapshotWhere(spark, br,
        col("k") === 60L, Seq("v" -> lit(-88L)))
      ()
    }
    assert(landedOut == vOut + 2, s"racer then revalidated tx: $landedOut")
    val endHead = GraftCatalog.readSnapshot(spark, root)
    assert(endHead.where(col("k") === 60L).select("v").as[Long].head() == -88L)
    assert(endHead.where(col("k") === 9600L).isEmpty,
      "the out-of-scope racer delete is honored alongside the tx")
  }

  test("fold-in-tx CONTRACT: strict abort is permanent; bounded racers mean bounded retries, no live-lock") {
    // The contract decision (r18, verdict #4): a transaction that
    // FOLDED MoR sidecar content mid-body (compaction inside the
    // branch) has no safe graft onto a racer's head — re-deriving the
    // fold against a moved base would re-run the entire CoW proof for
    // a maintenance step that is cheap to just re-execute. The strict
    // abort is the PERMANENT contract; progress under steady ingest is
    // the caller's maxRetries, and this spec pins the bound: K racers
    // cost exactly K aborts, and the K+1-th attempt — racing nothing —
    // lands. No live-lock beyond the ingest actually raced.
    import spark.implicits._
    val root = s"$tmp/txfold_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 50).map(i => (i.toLong, i.toLong)).toDF("k", "v"),
      root, append = false)
    // the fork will carry this DV line — the branch compaction FOLDS
    // it away, which is exactly the shape the graft refuses
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") === 7L)
    val v0 = GraftCatalog.snapshotVersions(spark, root).last
    var runs = 0
    val landed = GraftCatalog.transactSnapshot(spark, root,
      maxRetries = 2, scope = Some(col("k") < 60L)) { br =>
      runs += 1
      if (runs <= 2) GraftCatalog.commitSnapshot( // steady ingest: one
        Seq((1000L + runs, 1L)).toDF("k", "v"), root, append = true)
      GraftCatalog.compactSnapshot(spark, br) // the fold
      GraftCatalog.updateSnapshotWhere(spark, br,
        col("k") === 9L, Seq("v" -> lit(-9L)))
      ()
    }
    assert(runs == 3, s"exactly one retry per racer, then land: $runs runs")
    assert(landed == v0 + 3, s"2 racers + 1 flip over v$v0: got $landed")
    val head = GraftCatalog.readSnapshot(spark, root)
    assert(head.where(col("k") === 7L).isEmpty, "the folded DV is honored")
    assert(head.where(col("k") === 9L).select("v").as[Long].head() == -9L)
    assert(head.where(col("k") >= 1000L).count() == 2, "both racers survive")
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty,
      "aborted attempts stay traceless")
  }

  test("cross-table transaction: N tables flip atomically behind ONE marker create") {
    import spark.implicits._
    val a = s"$tmp/mtxa_${System.nanoTime()}"
    val b = s"$tmp/mtxb_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 10).map(i => (i.toLong, i.toLong)).toDF("k", "v"), a, append = false)
    GraftCatalog.commitSnapshot(
      Seq((0L, 0L)).toDF("k", "total"), b, append = false)
    // THE atomicity probe: the fault point fires when every flip is
    // PUBLISHED but none confirmed — a reader in that window must see
    // both OLD heads (versions and content), or the "one marker
    // create" claim is hollow
    var window: Option[(Long, Long, Long, Long)] = None
    GraftCatalog.mtxConfirmFault.put(Seq(a, b).min, new Runnable {
      def run(): Unit = window = Some((
        GraftCatalog.snapshotVersions(spark, a).last,
        GraftCatalog.readSnapshot(spark, a).count(),
        GraftCatalog.snapshotVersions(spark, b).last,
        GraftCatalog.readSnapshot(spark, b).count()))
    })
    val landed = GraftCatalog.transactSnapshotMulti(spark, Seq(a, b)) {
      case Seq(ba, bb) =>
        GraftCatalog.deleteSnapshotWhere(spark, ba, col("k") <= 3L)
        GraftCatalog.commitSnapshot(
          Seq((1L, 7L)).toDF("k", "total"), bb, append = true)
        ()
      case _ => fail("two branch roots expected")
    }
    assert(window.contains((1L, 10L, 1L, 1L)),
      s"mid-window reader must see both OLD heads, saw $window")
    assert(landed == Map(a -> 2L, b -> 2L), s"one flip each: $landed")
    assert(GraftCatalog.readSnapshot(spark, a).count() == 7)
    assert(GraftCatalog.readSnapshot(spark, b).count() == 2)
    assert(GraftCatalog.listSnapshotBranches(spark, a).isEmpty)
    assert(GraftCatalog.listSnapshotBranches(spark, b).isEmpty)
    // abort: a body failure leaves BOTH tables bit-untouched
    intercept[RuntimeException](
      GraftCatalog.transactSnapshotMulti(spark, Seq(a, b)) { brs =>
        GraftCatalog.deleteSnapshotWhere(spark, brs.head, col("k") === 5L)
        throw new RuntimeException("boom")
      })
    assert(GraftCatalog.snapshotVersions(spark, a).last == 2L)
    assert(GraftCatalog.snapshotVersions(spark, b).last == 2L)
    assert(GraftCatalog.readSnapshot(spark, a).count() == 7)
    // lost race: a commit to EITHER table between fork and publish
    // aborts the whole tx with both untouched; maxRetries reruns the
    // body on fresh forks and lands
    var bodyRuns = 0
    val landed2 = GraftCatalog.transactSnapshotMulti(spark, Seq(a, b),
      maxRetries = 1) { case Seq(ba, bb) =>
      bodyRuns += 1
      if (bodyRuns == 1) {
        GraftCatalog.commitSnapshot( // racer on the PARENT b
          Seq((99L, 99L)).toDF("k", "total"), b, append = true)
        ()
      }
      GraftCatalog.deleteSnapshotWhere(spark, ba, col("k") === 10L)
      GraftCatalog.commitSnapshot(
        Seq((2L, 8L)).toDF("k", "total"), bb, append = true)
      ()
    }
    assert(bodyRuns == 2, "lost race must re-run the body on fresh forks")
    assert(landed2(a) == 3L && landed2(b) == 4L, s"$landed2")
    assert(GraftCatalog.readSnapshot(spark, a).count() == 6)
  }

  test("cross-table confirmation survives the coordinator root being dropped (echo markers)") {
    import spark.implicits._
    val a = s"$tmp/mtxe_a_${System.nanoTime()}"
    val b = s"$tmp/mtxe_b_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 5).map(i => (i.toLong, i.toLong)).toDF("k", "v"), a, append = false)
    GraftCatalog.commitSnapshot(
      (1 to 3).map(i => (i.toLong, i.toLong)).toDF("k", "v"), b, append = false)
    val landed = GraftCatalog.transactSnapshotMulti(spark, Seq(a, b)) {
      case Seq(ba, bb) =>
        GraftCatalog.commitSnapshot(Seq((10L, 10L)).toDF("k", "v"), ba, append = true)
        GraftCatalog.commitSnapshot(Seq((20L, 20L)).toDF("k", "v"), bb, append = true)
        ()
      case _ => fail("two branch roots expected")
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // the commit ECHOED its confirmation under BOTH participants
    val bEcho = new org.apache.hadoop.fs.Path(b, "_refs/tx")
    assert(fs.exists(bEcho) && fs.listStatus(bEcho).nonEmpty,
      "the non-coordinator root must carry a confirmation echo")
    // repair-on-read: delete b's echo while the coordinator is alive —
    // the next cold-path consultation (vacuum plans without the
    // visibility cache) restores it from the coordinator marker
    fs.listStatus(bEcho).foreach(st => fs.delete(st.getPath, false))
    GraftCatalog.vacuumSnapshotsDryRun(spark, b, keepFrom = 1L).collect()
    assert(fs.listStatus(bEcho).nonEmpty, "a missing echo repairs on read")
    // DROP the coordinator table entirely: b's committed head must
    // stay visible and vacuum-proof on a completely cold path
    fs.delete(new org.apache.hadoop.fs.Path(a), true)
    assert(GraftCatalog.readSnapshot(spark, b).count() == 4)
    val headMan = new org.apache.hadoop.fs.Path(b,
      s"_manifests/v${landed(b)}.manifest")
    fs.setTimes(headMan, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1)
    GraftCatalog.vacuumSnapshots(spark, b, keepFrom = 1L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(GraftCatalog.snapshotVersions(spark, b).last == landed(b),
      "a CONFIRMED head must never reap because its coordinator vanished")
    assert(GraftCatalog.readSnapshot(spark, b).count() == 4)
  }

  test("cross-table tx crash recovery: unconfirmed pending manifest blocks writers, hides from readers, vacuums clean") {
    import spark.implicits._
    val root = s"$tmp/mtxcrash_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 5).map(i => (i.toLong, i.toLong)).toDF("k", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      Seq((6L, 6L)).toDF("k", "v"), root, append = true)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // a coordinator that died between publish and confirm: a COMPLETE
    // pending manifest (has #eof) whose marker was never created
    val pend = new org.apache.hadoop.fs.Path(root, "_manifests/v3.manifest")
    val out = fs.create(pend, false)
    try out.write(
      s"#txmarker:1x00x1:$root/_refs/tx/never-created\n#mtx:1x00x1\n#eof\n"
        .getBytes("UTF-8"))
    finally out.close()
    // readers: the pending head is INVISIBLE end to end
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L, 2L))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 6)
    // writers: the claimed slot makes them lose cleanly, not corrupt
    intercept[graft.sources.SnapshotConflictException](
      GraftCatalog.commitSnapshot(
        Seq((7L, 7L)).toDF("k", "v"), root, append = true))
    // vacuum: aged past the grace window, the orphan pending manifest
    // reaps like a torn one, freeing the slot
    fs.setTimes(pend, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1)
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 1L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(!fs.exists(pend), "aged unconfirmed pending manifest is reaped")
    val v = GraftCatalog.commitSnapshot(
      Seq((7L, 7L)).toDF("k", "v"), root, append = true)
    assert(v == 3L && GraftCatalog.readSnapshot(spark, root).count() == 7)
  }

  test("vacuum-vs-confirm race: the marker claim is ATOMIC — a stalled coordinator aborts instead of half-flipping") {
    import spark.implicits._
    val a = s"$tmp/mtxclaim_a_${System.nanoTime()}"
    val b = s"$tmp/mtxclaim_b_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 6).map(i => (i.toLong, i.toLong)).toDF("k", "v"), a, append = false)
    GraftCatalog.commitSnapshot(
      (1 to 3).map(i => (i.toLong, i.toLong)).toDF("k", "v"), b, append = false)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // The r17 residual (ADVICE): between the coordinator's pre-confirm
    // manifest re-verify and its marker create, a vacuum could reap an
    // aged pending — the tx then confirmed a PROPER SUBSET and
    // reported success. r18 closes it with the claim protocol: the
    // fault below plays the vacuum's exact claim primitive (intent
    // sidecar, then tombstone at the marker path) in that window,
    // WITHOUT touching the manifests — the narrowest interleaving.
    var claimed: Option[org.apache.hadoop.fs.Path] = None
    var bodyRuns = 0
    GraftCatalog.mtxConfirmFault.put(Seq(a, b).min, new Runnable {
      def run(): Unit = {
        val mdir = new org.apache.hadoop.fs.Path(Seq(a, b).min, "_manifests")
        val pendV = fs.listStatus(mdir).map(_.getPath.getName).collect {
          case s if s.matches("v\\d+\\.manifest") =>
            s.stripPrefix("v").stripSuffix(".manifest").toLong
        }.max
        val in = fs.open(new org.apache.hadoop.fs.Path(mdir, s"v$pendV.manifest"))
        val ml = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().find(_.startsWith("#txmarker:")).get finally in.close()
        val rest = ml.stripPrefix("#txmarker:")
        val marker = new org.apache.hadoop.fs.Path(
          rest.substring(rest.indexOf(':') + 1))
        fs.mkdirs(marker.getParent)
        val io = fs.create(GraftCatalog.txReapIntentPath(marker), false)
        try io.write("reaping\n".getBytes("UTF-8")) finally io.close()
        val mo = fs.create(marker, false)
        try mo.write(GraftCatalog.txReapedContent.getBytes("UTF-8"))
        finally mo.close()
        claimed = Some(marker)
      }
    })
    val landed = GraftCatalog.transactSnapshotMulti(spark, Seq(a, b),
      maxRetries = 1) { case Seq(ba, bb) =>
      bodyRuns += 1
      GraftCatalog.deleteSnapshotWhere(spark, ba, col("k") <= 2L)
      GraftCatalog.commitSnapshot(
        Seq((9L, 9L)).toDF("k", "v"), bb, append = true)
      ()
    }
    assert(bodyRuns == 2, "a claimed marker must abort attempt 1 and replan")
    assert(landed == Map(a -> 2L, b -> 2L),
      s"both tables flip EXACTLY once after the replan: $landed")
    assert(GraftCatalog.readSnapshot(spark, a).count() == 4)
    assert(GraftCatalog.readSnapshot(spark, b).count() == 4)
    // the reaped txid can never confirm: the tombstone stands
    assert(GraftCatalog.txMarkerStateOf(fs, claimed.get) ==
      GraftCatalog.TxMarkerReaped)
  }

  test("tx marker state: tombstone=reaped, participants=confirmed, EMPTY resolves through the reap intent") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val d = new org.apache.hadoop.fs.Path(s"$tmp/mtxstate_${System.nanoTime()}")
    fs.mkdirs(d)
    def mk(name: String, content: Option[String]): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(d, name)
      val o = fs.create(p, false)
      try content.foreach(c => o.write(c.getBytes("UTF-8"))) finally o.close()
      p
    }
    assert(GraftCatalog.txMarkerStateOf(fs,
      mk("t1", Some(GraftCatalog.txReapedContent))) ==
      GraftCatalog.TxMarkerReaped, "a vacuum tombstone reads reaped")
    assert(GraftCatalog.txMarkerStateOf(fs,
      mk("t2", Some("/tables/x@v3\n/tables/y@v5\n"))) ==
      GraftCatalog.TxMarkerConfirmed, "participant content reads confirmed")
    // empty marker: either winner crashed between create and content —
    // the vacuum's intent sidecar (written BEFORE its create attempt)
    // is the disambiguator
    val t3 = mk("t3", None)
    mk("t3.reaping", Some("reaping\n"))
    assert(GraftCatalog.txMarkerStateOf(fs, t3) == GraftCatalog.TxMarkerReaped,
      "empty + intent = a vacuum claim: reaped, stably")
    val t4 = mk("t4", None)
    assert(GraftCatalog.txMarkerStateOf(fs, t4) ==
      GraftCatalog.TxMarkerConfirmed,
      "empty + no intent = a confirm whose diagnostic content write " +
        "failed: the create was the commit point")
    assert(GraftCatalog.txMarkerStateOf(fs,
      new org.apache.hadoop.fs.Path(d, "t5")) == GraftCatalog.TxMarkerAbsent)
  }

  test("vacuum reaps aged cross-table tx refs; a dying MARKER re-echoes to its participants first") {
    import spark.implicits._
    val a = s"$tmp/mtxreap_a_${System.nanoTime()}"
    val b = s"$tmp/mtxreap_b_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 3).map(i => (i.toLong, i.toLong)).toDF("k", "v"), a, append = false)
    GraftCatalog.commitSnapshot(
      (1 to 3).map(i => (i.toLong, i.toLong)).toDF("k", "v"), b, append = false)
    val landed = GraftCatalog.transactSnapshotMulti(spark, Seq(a, b)) {
      case Seq(ba, bb) =>
        GraftCatalog.commitSnapshot(Seq((10L, 10L)).toDF("k", "v"), ba, append = true)
        GraftCatalog.commitSnapshot(Seq((20L, 20L)).toDF("k", "v"), bb, append = true)
        ()
      case _ => fail("two branch roots expected")
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val coord = Seq(a, b).min
    val other = Seq(a, b).max
    val coordTx = new org.apache.hadoop.fs.Path(coord, "_refs/tx")
    val otherTx = new org.apache.hadoop.fs.Path(other, "_refs/tx")
    def age(dir: org.apache.hadoop.fs.Path): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach(st =>
        fs.setTimes(st.getPath, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1))
    // 1. refs of a KEPT tx version never reap, however aged
    age(coordTx)
    GraftCatalog.vacuumSnapshots(spark, coord, keepFrom = 1L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(fs.listStatus(coordTx).nonEmpty,
      "aged refs survive while their tx version is kept")
    // 2. the participant lost its echo (the commit's best-effort write
    // "failed") and NOBODY read it since — the marker is its last
    // confirmation witness
    fs.listStatus(otherTx).foreach(st => fs.delete(st.getPath, false))
    // 3. advance the coordinator and vacuum its tx version away: the
    // same sweep must push the echo to the participant BEFORE reaping
    // the marker
    GraftCatalog.commitSnapshot(Seq((30L, 30L)).toDF("k", "v"), coord,
      append = true)
    val dry = GraftCatalog.vacuumSnapshotsDryRun(spark, coord,
      keepFrom = 3L, orphanGraceMs = 60 * 60 * 1000L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(dry.exists(_._1 == "tx_marker"),
      s"dry run must list the tx_marker kind: ${dry.toSeq}")
    GraftCatalog.vacuumSnapshots(spark, coord, keepFrom = 3L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(!fs.exists(coordTx) || fs.listStatus(coordTx).isEmpty,
      "the coordinator's aged unreferenced marker reaps")
    assert(fs.exists(otherTx) && fs.listStatus(otherTx).nonEmpty,
      "the dying marker re-echoed to its participant")
    // 4. the participant's confirmed TRAILING head stays visible on a
    // cold path (cache busted via a fresh mtime)
    fs.setTimes(new org.apache.hadoop.fs.Path(other,
      s"_manifests/v${landed(other)}.manifest"),
      System.currentTimeMillis() - 1000L, -1)
    assert(GraftCatalog.snapshotVersions(spark, other).last == landed(other))
    assert(GraftCatalog.readSnapshot(spark, other).count() == 4)
    // 5. the participant's echo reaps once ITS tx version leaves
    // retention — and steady-state `_refs/tx` is bounded, not a leak
    GraftCatalog.commitSnapshot(Seq((40L, 40L)).toDF("k", "v"), other,
      append = true)
    age(otherTx)
    GraftCatalog.vacuumSnapshots(spark, other, keepFrom = 3L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(!fs.exists(otherTx) || fs.listStatus(otherTx).isEmpty,
      "the participant echo reaps with its vacuumed tx version")
    assert(GraftCatalog.readSnapshot(spark, other).count() == 5)
  }

  test("a confirmed version with successors stays visible when its tx refs are GONE (trailing-only reclassification)") {
    import spark.implicits._
    val a = s"$tmp/mtxtrail_a_${System.nanoTime()}"
    val b = s"$tmp/mtxtrail_b_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 3).map(i => (i.toLong, i.toLong)).toDF("k", "v"), a, append = false)
    GraftCatalog.commitSnapshot(
      (1 to 3).map(i => (i.toLong, i.toLong)).toDF("k", "v"), b, append = false)
    GraftCatalog.transactSnapshotMulti(spark, Seq(a, b)) {
      case Seq(ba, bb) =>
        GraftCatalog.commitSnapshot(Seq((10L, 10L)).toDF("k", "v"), ba, append = true)
        GraftCatalog.commitSnapshot(Seq((20L, 20L)).toDF("k", "v"), bb, append = true)
        ()
      case _ => fail("two branch roots expected")
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // every confirmation witness of b's v2 disappears: coordinator
    // dropped, echo lost
    fs.delete(new org.apache.hadoop.fs.Path(a), true)
    val bTx = new org.apache.hadoop.fs.Path(b, "_refs/tx")
    fs.listStatus(bTx).foreach(st => fs.delete(st.getPath, false))
    // a SECOND coordinator crash leaves an unconfirmed pending v3 on
    // top — the visibility filter must pop it and then TRUST v2 (it
    // has a raw successor ⇒ it was necessarily confirmed), not re-run
    // the marker check against refs that no longer exist
    val pend = new org.apache.hadoop.fs.Path(b, "_manifests/v3.manifest")
    val out = fs.create(pend, false)
    try out.write(
      s"#txmarker:2x00x2:$b/_refs/tx/never-created\n#mtx:2x00x2\n#eof\n"
        .getBytes("UTF-8"))
    finally out.close()
    // cold path: bust the (path, version, mtime) visibility cache
    fs.setTimes(new org.apache.hadoop.fs.Path(b, "_manifests/v2.manifest"),
      System.currentTimeMillis() - 1000L, -1)
    assert(GraftCatalog.snapshotVersions(spark, b) == Seq(1L, 2L),
      "pop the pending head, trust its confirmed predecessor")
    assert(GraftCatalog.readSnapshot(spark, b).count() == 4,
      "b's committed flip must stay visible")
  }

  test("VACUUM DRY RUN lists exactly what the real vacuum reaps, deleting nothing") {
    import spark.implicits._
    val root = s"$tmp/vacdry_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      (11 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = true)
    GraftCatalog.commitSnapshot(
      (20 to 24).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    Thread.sleep(30)
    val plan = GraftCatalog.vacuumSnapshotsDryRun(spark, root, keepFrom = 3L,
      orphanGraceMs = 0L).collect().map(r => (r.getString(0), r.getString(1)))
    assert(plan.count(_._1 == "version") == 2, s"v1+v2 reapable: ${plan.toSeq}")
    assert(plan.count(_._1 == "data_file") > 0)
    // the dry run DELETED nothing
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(1L, 2L, 3L))
    assert(GraftCatalog.readSnapshot(spark, root, Some(1L)).count() == 10)
    // the TVF spelling serves the same plan (registered by the
    // session extensions)
    val viaTvf = spark.sql(
      s"SELECT kind, count(*) n FROM graft_vacuum_dry_run('$root', 3, 0) GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaTvf.get("version").contains(2L), s"TVF plan: $viaTvf")
    // the REAL vacuum then reaps exactly the planned data files
    val deleted = GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 3L,
      orphanGraceMs = 0L)
    assert(deleted == plan.count(_._1 == "data_file"),
      "executed sweep must match the dry-run plan")
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(3L))
  }

  test("vacuum tolerates a FRESH torn manifest (racing publish) and reaps it once aged") {
    import spark.implicits._
    val root = s"$tmp/vactorn_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.commitSnapshot(
      (11 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = true)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    // a racing publish: v3's manifest claimed and mid-write (no #eof),
    // mtime = now, i.e. NOT yet aged into the torn set
    val tornP = new org.apache.hadoop.fs.Path(mdir, "v3.manifest")
    val out = fs.create(tornP, false)
    try out.write("#schema:{}\n".getBytes("UTF-8")) finally out.close()
    // r17 (ADVICE): this must neither abort the vacuum (strict kept-set
    // resolution) nor reap the in-flight manifest
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 2L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(fs.exists(tornP), "a fresh torn manifest must survive the sweep")
    // the last COMPLETE version stays fully readable (strict readers
    // refuse the torn head itself by design)
    assert(GraftCatalog.readSnapshot(spark, root, Some(2L)).count() == 12)
    // aged past the grace window, the same torn manifest is reapable
    fs.setTimes(tornP, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1)
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 2L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(!fs.exists(tornP), "an aged torn manifest is swept")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 12)
  }

  test("vacuum reaps aged orphan cursor .tmp files, never the live cursor") {
    import spark.implicits._
    val root = s"$tmp/vaccur_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      (1 to 5).map(i => (i.toLong, s"r$i")).toDF("id", "v"), root, append = false)
    GraftCatalog.setStreamCursor(spark, root, "s1", 1L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val cdir = new org.apache.hadoop.fs.Path(root, "_refs/cursors")
    // a crash between create and rename left this behind (ADVICE r17)
    val orphan = new org.apache.hadoop.fs.Path(cdir, ".s1.123x00x1.tmp")
    val out = fs.create(orphan, false)
    try out.write("9\n".getBytes("UTF-8")) finally out.close()
    fs.setTimes(orphan, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1)
    val plan = GraftCatalog.vacuumSnapshotsDryRun(spark, root, keepFrom = 1L,
      orphanGraceMs = 60 * 60 * 1000L).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(plan.contains(("cursor_tmp", ".s1.123x00x1.tmp")), s"plan: ${plan.toSeq}")
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 1L,
      orphanGraceMs = 60 * 60 * 1000L)
    assert(!fs.exists(orphan), "aged orphan tmp is reaped")
    assert(GraftCatalog.listStreamCursors(spark, root) == Map("s1" -> 1L),
      "the live cursor file must survive")
  }

  test("writerToken: <nano>x<nonce8>x<seq> format, unique under a thread burst, nonce process-stable") {
    // Cross-process uniqueness contract: two DRIVERS sharing a table
    // must never name the same batch dir. In-process the atomic seq
    // guarantees it; across JVMs the per-process random nonce does —
    // nanoTime alone is NOT unique across barrier-aligned processes.
    val shape = raw"\d+x[0-9a-f]{8}x\d+".r
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val burst =
      try (1 to 64).map(_ => pool.submit(
          new java.util.concurrent.Callable[String] {
            def call(): String = GraftCatalog.writerToken()
          })).map(_.get()).toList
      finally pool.shutdown()
    assert(burst.forall(t => shape.pattern.matcher(t).matches()),
      s"token shape drifted: ${burst.take(3)}")
    assert(burst.distinct.size == burst.size, "tokens must be unique under concurrency")
    val nonces = burst.map(_.split("x")(1)).distinct
    assert(nonces.size == 1, "the nonce is per-process, stable across tokens")
  }
}

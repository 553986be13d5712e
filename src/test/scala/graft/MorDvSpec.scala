package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.GraftCatalog

/** SURVEY §2.A: merge-on-read deletion vectors — scattered deletes as
  * positional sidecars with ZERO rewritten data files, DV-aware reads
  * and CoW rewrites, compaction fold-in, CDC/vacuum/time-travel/clone
  * integration. */
class MorDvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tmp = "/tmp/graft-mordv"

  private def freshTable(prefix: String, n: Int = 1000): String = {
    val root = s"$tmp/${prefix}_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      spark.range(n).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10).as("amount"))
        .repartitionByRange(4, col("id")),
      root, append = false)
    root
  }

  private def dataFiles(root: String): Seq[String] =
    GraftCatalog.snapshotScanFiles(spark, root)._1

  /** Runs `body` under the default delete-sidecar regime (the broadcast
    * probes) and again with `spark.graft.dv.broadcastMaxPositions=0`,
    * which forces the joins, and returns (probe result, join result). */
  private def bothRegimes[T](body: => T): (T, T) = {
    val probe = body
    spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
    try (probe, body) finally spark.conf.unset("spark.graft.dv.broadcastMaxPositions")
  }

  /** Physical plan nodes of `df` before adaptive execution. */
  private def planNodes(df: org.apache.spark.sql.DataFrame) =
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }).collect { case n => n }

  test("rewrite_eqdels folds equality-delete sidecars into one DV, zero data rewrite") {
    import spark.implicits._
    val root = freshTable("eqfold")
    val beforeRows = GraftCatalog.readSnapshot(spark, root).collect().toSet
    // two sidecars pile up, then a re-insert of a purged key (which
    // must survive the fold exactly as it survives the sidecar), then
    // a third sidecar whose keys match nothing
    GraftCatalog.deleteSnapshotKeysMor(spark, root, Seq(2L, 3L).toDF("id"), Seq("id"))
    GraftCatalog.deleteSnapshotKeysMor(spark, root, Seq(10L).toDF("id"), Seq("id"))
    GraftCatalog.commitSnapshot(
      Seq((2L, 2L % 7, 999L)).toDF("id", "grp", "amount"), root, append = true)
    GraftCatalog.deleteSnapshotKeysMor(spark, root,
      Seq(999999L).toDF("id"), Seq("id"))
    val filesPreFold = dataFiles(root).toSet
    val preFold = GraftCatalog.readSnapshot(spark, root).collect().toSet
    assert(preFold.size == 998) // 1000 - {2,3,10} + re-inserted 2
    val v = GraftCatalog.rewriteEqDeletesToDv(spark, root)
    // content preserved EXACTLY; same data files; no #eqdel survives
    assert(GraftCatalog.readSnapshot(spark, root).collect().toSet == preFold)
    assert(dataFiles(root).toSet == filesPreFold,
      "fold must not add/remove/rewrite any data file")
    val hist = GraftCatalog.describeSnapshotHistory(spark, root)
      .where(col("version") === v).select("meta").head().getString(0)
    assert(hist.contains("#rewrite:eqdels"))
    val (eqAfter, dvAfter) = {
      val ls = spark.read.textFile(s"$root/_manifests/v$v.manifest").collect().toSeq
      (ls.count(_.startsWith("#eqdel:")), ls.count(_.startsWith("#dv:")))
    }
    assert(eqAfter == 0, "every #eqdel line must drop")
    assert(dvAfter == 1, s"exactly one folded DV expected, got $dvAfter")
    // re-inserted key 2 is alive; originals 3 and 10 stay dead
    val ids = GraftCatalog.readSnapshot(spark, root)
      .where(col("id").isin(2L, 3L, 10L)).select("id", "amount").collect()
    assert(ids.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 999L)))
    // idempotent: nothing left to fold
    assert(GraftCatalog.rewriteEqDeletesToDv(spark, root) == v)
    // time travel to the pre-fold version still serves the sidecars
    assert(GraftCatalog.readSnapshot(spark, root, Some(v - 1)).collect().toSet == preFold)
    assert(GraftCatalog.readSnapshot(spark, root, Some(1L)).collect().toSet == beforeRows)
    // CDC: the fold is dataChange = FALSE — its version emits ZERO
    // rows (no second retraction of already-dead keys, and a tailing
    // stream steps over it instead of dying on an empty range)...
    val foldCdc = GraftCatalog.readChanges(spark, root, v - 1, v)
    assert(foldCdc.count() == 0, "eqdel→DV fold must emit no CDC rows")
    assert(foldCdc.columns.contains("_change") && foldCdc.columns.contains("_version"))
    // ...while the eqdel version itself still emits its deletes ONCE
    val eqCdc = GraftCatalog.readChanges(spark, root, 1L, 2L)
      .where(col("_change") === "delete").select("id").collect()
      .map(_.getLong(0)).toSet
    assert(eqCdc == Set(2L, 3L), s"the eqdel's own CDC stays intact: $eqCdc")
  }

  test("MoR delete of scattered keys publishes zero rewritten data files") {
    val root = freshTable("scatter")
    val before = dataFiles(root).toSet
    // 10 single rows scattered across all 4 files — CoW would rewrite
    // every file; MoR writes one tiny sidecar
    val v = GraftCatalog.deleteSnapshotWhereMor(spark, root,
      col("id") % 100 === 37)
    assert(v == 2L)
    assert(dataFiles(root).toSet == before,
      "MoR delete must not add/remove/rewrite any data file")
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 990)
    assert(t.where(col("id") % 100 === 37).count() == 0)
    // hash-equivalence with the CoW result: same rows as a plain filter
    val expect = spark.range(1000).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10).as("amount"))
      .where(!(col("id") % 100 === 37)).collect().toSet
    assert(t.collect().toSet == expect)
    // time travel to the pre-delete version is untouched
    assert(GraftCatalog.readSnapshot(spark, root, Some(1L)).count() == 1000)
    // the catalyst-integrated auto read honors the DV too
    assert(GraftCatalog.readSnapshotAuto(spark, root).count() == 990)
    assert(GraftCatalog.readSnapshotAuto(spark, root)
      .where(col("grp") === 2).collect().toSet ==
      spark.range(1000).select(col("id"), (col("id") % 7).as("grp"),
          (col("id") * 10).as("amount"))
        .where(!(col("id") % 100 === 37) && col("id") % 7 === 2)
        .collect().toSet)
  }

  test("DV read is shuffle-free above the broadcast-join threshold; fallback anti-join stays correct") {
    val root = freshTable("noshuf", n = 20000)
    // DV ~6.7k scattered positions — disable the broadcast-JOIN path
    // entirely so the old anti-join formulation would HAVE to shuffle
    // the scan, then prove the broadcast-index read plans no exchange
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") % 3 === 0)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
      val top = df.queryExecution.executedPlan
      val p = top match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case other => other
      }
      p.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.size
    }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val scan = GraftCatalog.readSnapshot(spark, root)
      assert(shuffles(scan) == 0,
        s"DV scan must carry ZERO exchanges:\n${scan.queryExecution.executedPlan}")
      assert(scan.count() == 20000 - 6667)
      assert(scan.where(col("id") % 3 === 0).count() == 0)
      // the codegen'd probe path and the anti-join fallback agree
      spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
      val fallback = GraftCatalog.readSnapshot(spark, root)
      assert(shuffles(fallback) > 0,
        "positions cap 0 must force the anti-join (test hook)")
      assert(fallback.count() == 20000 - 6667)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.unset("spark.graft.dv.broadcastMaxPositions")
    }
  }

  test("DVs accumulate across deletes; no-op MoR delete publishes nothing") {
    val root = freshTable("accum")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 5L)
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 700L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 998)
    // deleting an already-DV'd row is a no-op: head unchanged
    val head = GraftCatalog.snapshotVersions(spark, root).last
    assert(GraftCatalog.deleteSnapshotWhereMor(spark, root,
      col("id") === 5L) == head)
    assert(GraftCatalog.snapshotVersions(spark, root).last == head)
    // and a miss outside every envelope is a no-op too
    assert(GraftCatalog.deleteSnapshotWhereMor(spark, root,
      col("id") === 99999L) == head)
  }

  test("MoR delete of an equality-deleted row is a no-op and CDC deletes it once") {
    import spark.implicits._
    def dvSidecars(root: String): Set[String] =
      Option(new java.io.File(s"$root/_deletes").list()).toSeq.flatten
        .filter(_.startsWith("dv-")).toSet
    def run(): Seq[Long] = {
      val root = freshTable("eqthendv")
      val head = GraftCatalog.deleteSnapshotKeysMor(spark, root,
        Seq(42L).toDF("id"), Seq("id"))
      // the row is already dead: no live hit, so no DV and no version
      assert(GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 42L) == head)
      assert(GraftCatalog.snapshotVersions(spark, root).last == head)
      assert(dvSidecars(root).isEmpty, "no dv- sidecar for an already-deleted row")
      GraftCatalog.readChanges(spark, root, 0L,
          GraftCatalog.snapshotVersions(spark, root).last)
        .where(col("_change") === "delete" && col("id") === 42L)
        .select("_version").as[Long].collect().toSeq
    }
    val (probe, join) = bothRegimes(run())
    assert(probe == Seq(2L) && join == Seq(2L),
      s"the key's delete streams once, at the eqdel version: $probe / $join")
  }

  test("compaction folds deletion vectors into clean files") {
    val root = freshTable("fold")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") % 250 === 3)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 996)
    GraftCatalog.compactSnapshot(spark, root)
    val head = GraftCatalog.snapshotVersions(spark, root).last
    assert(GraftCatalog.readSnapshot(spark, root).count() == 996)
    // a fresh append on the compacted head must NOT carry stale #dv
    // lines: the folded files are gone, and rows at the same positions
    // of NEW files must not be shadowed
    GraftCatalog.commitSnapshot(
      spark.range(2000, 2010).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10).as("amount")),
      root, append = true)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 1006)
    assert(GraftCatalog.readSnapshot(spark, root, Some(head)).count() == 996)
  }

  test("CoW verbs after a MoR delete never resurrect DV'd rows") {
    val root = freshTable("resurrect")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 10L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 999)
    // id=11 lives in the same file as the DV'd id=10 — the CoW update
    // rewrites that file; the rewrite must exclude id=10
    GraftCatalog.updateSnapshotWhere(spark, root, col("id") === 11L,
      Seq("amount" -> lit(0L)))
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 999, "CoW rewrite resurrected a DV-deleted row")
    assert(t.where(col("id") === 10L).count() == 0)
    assert(t.where(col("id") === 11L).head().getLong(2) == 0L)
    // CoW delete in another file: both delete kinds compose
    GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 900L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 998)
    assert(GraftCatalog.readSnapshot(spark, root)
      .where(col("id").isin(10L, 900L)).count() == 0)
  }

  test("readChanges emits the DV'd rows as deletes at their version") {
    val root = freshTable("cdc")
    GraftCatalog.deleteSnapshotWhereMor(spark, root,
      col("id").isin(3L, 500L, 997L))
    val ch = GraftCatalog.readChanges(spark, root, 1L, 2L)
    val dels = ch.where(col("_change") === "delete")
    assert(dels.select("id").collect().map(_.getLong(0)).toSet ==
      Set(3L, 500L, 997L))
    assert(dels.select("_version").distinct().head().getLong(0) == 2L)
    assert(ch.where(col("_change") === "insert").count() == 0,
      "a MoR delete adds no files, so no insert rows")
  }

  test("vacuum keeps referenced DV sidecars and reaps orphaned ones") {
    val root = freshTable("vac")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 1L) // v2
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 2L) // v3
    // CoW-compact to v4: folds DVs, head no longer references them
    GraftCatalog.compactSnapshot(spark, root)
    Thread.sleep(30)
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 4L, orphanGraceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dd = new org.apache.hadoop.fs.Path(s"$root/_deletes")
    val left = if (fs.exists(dd)) fs.listStatus(dd).length else 0
    assert(left == 0, s"orphaned DV sidecars survived vacuum: $left")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 998)
  }

  test("vacuum never reaps a DV a kept version still references") {
    val root = freshTable("vackeep")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 1L) // v2
    GraftCatalog.commitSnapshot(
      spark.range(5000, 5010).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10).as("amount")),
      root, append = true) // v3 carries the #dv line
    Thread.sleep(30)
    GraftCatalog.vacuumSnapshots(spark, root, keepFrom = 3L, orphanGraceMs = 0L)
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 1009)
    assert(t.where(col("id") === 1L).count() == 0,
      "vacuum reaped a DV the head still needs")
  }

  test("clone copies deletion vectors into its own root") {
    val root = freshTable("clonesrc")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 42L)
    val dst = s"$tmp/clonedst_${System.nanoTime()}"
    GraftCatalog.cloneSnapshot(spark, root, dst)
    assert(GraftCatalog.readSnapshot(spark, dst).count() == 999)
    assert(GraftCatalog.readSnapshot(spark, dst)
      .where(col("id") === 42L).count() == 0)
    // the clone survives the source's vacuum reaping everything
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_deletes"), true)
    assert(GraftCatalog.readSnapshot(spark, dst)
      .where(col("id") === 42L).count() == 0,
      "clone must not depend on the source's _deletes dir")
  }

  test("MoR UPDATE: DV over old positions + one appended batch, zero rewrites") {
    val root = freshTable("morupd")
    val before = dataFiles(root).toSet
    GraftCatalog.updateSnapshotWhereMor(spark, root,
      col("id") % 100 === 7, Seq("amount" -> (col("amount") + 1)))
    val after = dataFiles(root).toSet
    assert(before.subsetOf(after), "MoR update must carry every old file")
    assert((after -- before).nonEmpty, "updated rows land as a new batch")
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 1000, "update must not change the row count")
    assert(t.where(col("id") === 107).head().getLong(2) == 1071L)
    assert(t.where(col("id") === 108).head().getLong(2) == 1080L)
    // equals the CoW result row-for-row
    val expect = spark.range(1000).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10 + when(col("id") % 100 === 7, 1L).otherwise(0L)).as("amount"))
      .collect().toSet
    assert(t.collect().toSet == expect)
    // a second MoR update composes (touches rows updated by the first)
    GraftCatalog.updateSnapshotWhereMor(spark, root,
      col("id") === 107L, Seq("amount" -> lit(0L)))
    val t2 = GraftCatalog.readSnapshot(spark, root)
    assert(t2.count() == 1000)
    assert(t2.where(col("id") === 107).head().getLong(2) == 0L)
    // no-op update publishes nothing
    val head = GraftCatalog.snapshotVersions(spark, root).last
    assert(GraftCatalog.updateSnapshotWhereMor(spark, root,
      col("id") === 99999L, Seq("amount" -> lit(1L))) == head)
  }

  test("MoR MERGE: matched keys DV'd + full batch appended; CDC shows delete+insert") {
    import spark.implicits._
    val root = freshTable("mormrg")
    val before = dataFiles(root).toSet
    val updates = Seq((5L, 0L, 999L), (2000L, 1L, 111L))
      .toDF("id", "grp", "amount")
    GraftCatalog.mergeSnapshotMor(spark, root, updates, "id")
    assert(before.subsetOf(dataFiles(root).toSet))
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 1001)
    assert(t.where(col("id") === 5).head().getLong(2) == 999L)
    assert(t.where(col("id") === 2000).head().getLong(2) == 111L)
    // CDC: the matched key is a delete+insert pair, the new key insert-only
    val ch = GraftCatalog.readChanges(spark, root, 1L, 2L)
    val byChange = ch.groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange.getOrElse("delete", 0L) == 1L, s"one DV'd old row: $byChange")
    assert(byChange.getOrElse("insert", 0L) == 2L, s"two appended rows: $byChange")
  }

  test("EQUALITY delete: zero-read key purge; re-insert survives; rewrites/compaction fold") {
    import spark.implicits._
    def run(): (Seq[Set[org.apache.spark.sql.Row]], Seq[Int]) = {
      val root = freshTable("eqdel")
      val before = dataFiles(root).toSet
      // purge 3 scattered keys by KEY LIST — no positional scan ever runs
      val v = GraftCatalog.deleteSnapshotKeysMor(spark, root,
        Seq(5L, 250L, 999L).toDF("id"), Seq("id"))
      assert(v == 2L)
      assert(dataFiles(root).toSet == before,
        "equality delete must not add/remove/rewrite any data file")
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.count() == 997 &&
        t.where(col("id").isin(5L, 250L, 999L)).isEmpty)
      val nodes = planNodes(t)
      val shape = Seq(
        nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
        nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]))
      assert(GraftCatalog.readSnapshotAuto(spark, root).count() == 997,
        "the auto FileIndex read path must apply equality deletes too")
      assert(GraftCatalog.readSnapshot(spark, root, Some(1L)).count() == 1000,
        "time travel to the pre-delete version stays intact")
      // CDC: the eq version emits exactly the 3 covered live rows as deletes
      val ch = GraftCatalog.readChanges(spark, root, 1L, 2L)
      assert(ch.where(col("_change") === "delete").count() == 3)
      // RE-INSERT of a purged key survives: the new batch is outside the
      // sidecar's covered set (the Iceberg sequence-number scoping)
      GraftCatalog.commitSnapshot(
        Seq((5L, 5L, 50L)).toDF("id", "grp", "amount"), root, append = true)
      val t2 = GraftCatalog.readSnapshot(spark, root)
      assert(t2.count() == 998)
      assert(t2.where(col("id") === 5L).head().getLong(2) == 50L)
      // composes with a positional MoR delete
      GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 7L)
      assert(GraftCatalog.readSnapshot(spark, root).count() == 997)
      // a CoW rewrite of a covered file never resurrects the purged row
      GraftCatalog.updateSnapshotWhere(spark, root, col("id") === 251L,
        Seq("amount" -> lit(1L)))
      val t3 = GraftCatalog.readSnapshot(spark, root)
      assert(t3.where(col("id") === 250L).isEmpty,
        "the rewrite of 250's file must not resurrect the eq-deleted row")
      assert(t3.count() == 997)
      // compaction folds: clean head, no #eqdel/#dv lines, content identical
      val vc = GraftCatalog.compactSnapshot(spark, root)
      val headMeta = GraftCatalog.snapshotMeta(spark, root, vc)
      assert(!headMeta.exists(l => l.startsWith("#eqdel:") || l.startsWith("#dv:")),
        s"compaction must fold all delete sidecars: $headMeta")
      val t4 = GraftCatalog.readSnapshot(spark, root)
      assert(t4.count() == 997)
      (Seq(t, ch.drop("_version"), t2, t3, t4).map(_.collect().toSet), shape)
    }
    val ((probeRows, probeShape), (joinRows, joinShape)) = bothRegimes(run())
    assert(probeRows == joinRows, "both delete regimes must serve the same rows")
    // under the default bound the sidecar applies through the broadcast
    // probe: no join and no broadcast exchange in the read plan
    assert(probeShape == Seq(0, 0), s"probe read plan: $probeShape")
    assert(joinShape(1) > 0, s"bound 0 must force the joins: $joinShape")
  }

  test("equality-delete batch wrapper lands exactly once under replay") {
    import spark.implicits._
    val root = freshTable("eqbatch", n = 100)
    val v1 = GraftCatalog.deleteSnapshotKeysBatch(spark, root,
      Seq(10L, 20L).toDF("id"), Seq("id"), batchId = 7L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 98)
    // crash-replay of the same micro-batch: no new version, same head
    val v2 = GraftCatalog.deleteSnapshotKeysBatch(spark, root,
      Seq(10L, 20L).toDF("id"), Seq("id"), batchId = 7L)
    assert(v2 == v1 && GraftCatalog.snapshotVersions(spark, root).last == v1)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 98)
    // the next batch id applies
    GraftCatalog.deleteSnapshotKeysBatch(spark, root,
      Seq(30L).toDF("id"), Seq("id"), batchId = 8L)
    assert(GraftCatalog.readSnapshot(spark, root).count() == 97)
  }

  test("equality deletes block dropping their key column until folded") {
    import spark.implicits._
    val root = freshTable("eqdrop", n = 100)
    GraftCatalog.deleteSnapshotKeysMor(spark, root,
      Seq(3L).toDF("grp"), Seq("grp"))
    val e = intercept[IllegalArgumentException](
      GraftCatalog.evolveSnapshotSchema(spark, root, drop = Seq("grp")))
    assert(e.getMessage.contains("equality delete"))
    GraftCatalog.compactSnapshot(spark, root)
    GraftCatalog.evolveSnapshotSchema(spark, root, drop = Seq("grp"))
    assert(!GraftCatalog.readSnapshot(spark, root).columns.contains("grp"))
  }

  test("equality deletes survive metadata-only DDL and rollback") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshTable("eqddl", n = 100)
    GraftCatalog.deleteSnapshotKeysMor(spark, root,
      Seq(10L, 20L).toDF("id"), Seq("id"))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 98)
    // ADD COLUMN must carry the #eqdel sidecar — an unrelated ALTER
    // must never undo a key purge
    GraftCatalog.evolveSnapshotSchema(spark, root,
      add = StructType(Seq(StructField("note", StringType))))
    val t1 = GraftCatalog.readSnapshot(spark, root)
    assert(t1.count() == 98 && t1.where(col("id").isin(10L, 20L)).isEmpty,
      "ADD COLUMN dropped the equality-delete sidecar")
    // DROP of a NON-key column carries too
    GraftCatalog.evolveSnapshotSchema(spark, root, drop = Seq("note"))
    assert(GraftCatalog.readSnapshot(spark, root).count() == 98)
    // RENAME of the KEY column: the sidecar keys on the immutable
    // PHYSICAL name, so the purge survives the rename
    GraftCatalog.renameSnapshotColumn(spark, root, "id", "doc_id")
    val t2 = GraftCatalog.readSnapshot(spark, root)
    assert(t2.count() == 98 && t2.where(col("doc_id").isin(10L, 20L)).isEmpty,
      "RENAME dropped or mis-keyed the equality-delete sidecar")
    // a NEW eq delete through the renamed, differently-CASED pk must
    // resolve to the committed field and its physical storage name
    GraftCatalog.deleteSnapshotKeysMor(spark, root,
      Seq(30L).toDF("DOC_ID"), Seq("DOC_ID"))
    val t2b = GraftCatalog.readSnapshot(spark, root)
    assert(t2b.count() == 97 && t2b.where(col("doc_id") === 30L).isEmpty,
      "differently-cased pk on a renamed column must key physically")
    GraftCatalog.renameSnapshotColumn(spark, root, "doc_id", "id")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 97)
    // ROLLBACK to the first post-delete version keeps ITS purge
    GraftCatalog.rollbackSnapshot(spark, root, 2L)
    val t3 = GraftCatalog.readSnapshot(spark, root)
    assert(t3.count() == 98 && t3.where(col("id").isin(10L, 20L)).isEmpty,
      "rollback dropped the equality-delete sidecar")
  }

  test("equality deletes survive type widening") {
    import spark.implicits._
    def run(): Seq[Set[org.apache.spark.sql.Row]] = {
      val root = s"$tmp/eqwide_${System.nanoTime()}"
      // f holds 0.0 on ids ≡ 0 (mod 10), and -0.0 on id 50
      GraftCatalog.commitSnapshot(
        spark.range(100).select(col("id"),
          col("id").cast("int").as("score"),
          when(col("id") === 50, lit(-0.0f))
            .otherwise((col("id") % 10).cast("float")).as("f")),
        root, append = false)
      GraftCatalog.deleteSnapshotKeysMor(spark, root,
        Seq(1L, 2L).toDF("id"), Seq("id"))
      assert(GraftCatalog.readSnapshot(spark, root).count() == 98)
      // keys of the narrower types: score int, f float; a float key
      // matches -0.0 and 0.0 alike, as the join's normalization does
      GraftCatalog.deleteSnapshotKeysMor(spark, root,
        Seq(3, 4).toDF("score"), Seq("score"))
      GraftCatalog.deleteSnapshotKeysMor(spark, root,
        Seq(0.0f).toDF("f"), Seq("f"))
      val narrow = GraftCatalog.readSnapshot(spark, root)
      assert(narrow.count() == 86 && narrow.where(col("id") === 50L).isEmpty)
      GraftCatalog.widenSnapshotColumn(spark, root, "score",
        org.apache.spark.sql.types.LongType)
      GraftCatalog.widenSnapshotColumn(spark, root, "f",
        org.apache.spark.sql.types.DoubleType)
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.schema("score").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(t.count() == 86 &&
        t.where(col("id").isin(1L, 2L, 3L, 4L, 10L, 50L)).isEmpty,
        "widening dropped an equality-delete sidecar")
      Seq(narrow, t).map(_.collect().toSet)
    }
    val (probe, join) = bothRegimes(run())
    assert(probe == join, "both delete regimes must serve the same rows")
  }

  test("MoR MERGE schema evolution: evolved feed appends, old files read NULL, CDC intact") {
    import spark.implicits._
    val root = freshTable("morevo")
    val before = dataFiles(root).toSet
    // the feed carries a NEW column (score) — evolution admits it
    val updates = Seq((5L, 0L, 999L, 0.9), (2000L, 1L, 111L, 0.4))
      .toDF("id", "grp", "amount", "score")
    GraftCatalog.mergeSnapshotMor(spark, root, updates, "id",
      allowSchemaEvolution = true)
    assert(before.subsetOf(dataFiles(root).toSet),
      "MoR evolution must rewrite zero carried files")
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.columns.toSeq == Seq("id", "grp", "amount", "score"),
      "the committed schema must union the evolved column")
    assert(t.count() == 1001)
    // evolved rows carry the value; pre-evolution files read NULL
    assert(t.where(col("id") === 5).head().getDouble(3) == 0.9)
    assert(t.where(col("id") === 7).head().isNullAt(3),
      "old files must serve NULL for the evolved column")
    // CDC pairs intact: matched key = delete+insert, new key = insert
    val ch = GraftCatalog.readChanges(spark, root, 1L, 2L)
    val byChange = ch.groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange.getOrElse("delete", 0L) == 1L, s"$byChange")
    assert(byChange.getOrElse("insert", 0L) == 2L, s"$byChange")
    // STRICT mode still clips: a feed with a column beyond the (now
    // evolved) table schema drops it rather than widening further
    GraftCatalog.mergeSnapshotMor(spark, root, Seq(
      (6L, 6L, 777L, 0.5, "junk")).toDF("id", "grp", "amount", "score", "extra"),
      "id")
    val t2 = GraftCatalog.readSnapshot(spark, root)
    assert(t2.columns.toSeq == Seq("id", "grp", "amount", "score"),
      "strict MoR merge must clip columns beyond the table schema")
    assert(t2.where(col("id") === 6).head().getDouble(3) == 0.5)
  }

  test("write mode 'mor' routes SQL DML onto the MoR verbs") {
    val root = freshTable("mode")
    GraftCatalog.setSnapshotWriteMode(spark, root, "mor")
    assert(GraftCatalog.snapshotWriteMode(spark, root) == "mor")
    val before = dataFiles(root).toSet
    graft.sources.GraftDml.sql(spark, s"DELETE FROM `$root` WHERE id % 100 = 3")
    assert(dataFiles(root).toSet == before,
      "mor-mode SQL DELETE must not rewrite data files")
    graft.sources.GraftDml.sql(spark,
      s"UPDATE `$root` SET amount = 0 WHERE id = 500")
    assert(before.subsetOf(dataFiles(root).toSet))
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 990)
    assert(t.where(col("id") === 500).head().getLong(2) == 0L)
    GraftCatalog.setSnapshotWriteMode(spark, root, "cow")
    assert(GraftCatalog.snapshotWriteMode(spark, root) == "cow")
  }

  test("DESCRIBE PARTITIONS reports LIVE rows under deletion vectors") {
    val root = s"$tmp/morpt_${System.nanoTime()}"
    GraftCatalog.setSnapshotPartitionSpec(spark, root,
      Seq(graft.sources.PartitionField("id", "bucket", 4)))
    GraftCatalog.commitSnapshot(
      spark.range(1000).select(col("id"), (col("id") % 7).as("grp"))
        .repartition(1),
      root, append = false)
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") % 100 === 0)
    val meta = GraftCatalog.describeSnapshotPartitions(spark, root)
      .agg(sum("n_rows")).head().getLong(0)
    assert(meta == 990L,
      s"partition metadata must subtract DV'd rows, got $meta")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 990L)
  }

  test("SQL DELETE can choose the MoR path per-table default") {
    // the DML surface composes: MoR via the Scala verb, then SQL DML
    // (CoW) on the same table — both see the same logical content
    val root = freshTable("sqlmix")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 77L)
    graft.sources.GraftDml.sql(spark, s"DELETE FROM `$root` WHERE grp = 6")
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.where(col("id") === 77L).count() == 0)
    assert(t.where(col("grp") === 6).count() == 0)
    // ids ≡ 6 (mod 7) in 0..999: 142; id=77 is grp 0 → 1000-142-1
    assert(t.count() == 1000 - 142 - 1)
  }

  test("CoW verbs pin through live rows: a match already DV-deleted rewrites nothing") {
    import spark.implicits._
    def run(): Seq[String] = {
      val root = freshTable("livepin")
      val head = GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 42L)
      val files = dataFiles(root)
      assert(files.size == 4)
      // the only matching row is dead: no file pins, no version publishes
      assert(GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 42L) == head)
      assert(GraftCatalog.updateSnapshotWhere(spark, root, col("id") === 42L,
        Seq("amount" -> lit(0L))) == head)
      assert(GraftCatalog.snapshotVersions(spark, root).last == head)
      assert(dataFiles(root) == files, "a verb matching only a dead row rewrote a file")
      // the key is absent, so MERGE carries every file and inserts the row
      assert(GraftCatalog.mergeSnapshotKeys(spark, root,
        Seq((42L, 0L, 7L)).toDF("id", "grp", "amount"), Seq("id")) == head + 1)
      val after = dataFiles(root)
      assert(files.toSet.subsetOf(after.toSet) && after.size == files.size + 1,
        "MERGE of a dead key must carry every file by path")
      GraftCatalog.readSnapshot(spark, root).collect().map(_.toString).sorted.toSeq
    }
    val (probe, join) = bothRegimes(run())
    assert(probe == join)
    assert(probe.size == 1000 && probe.contains("[42,0,7]"))
  }

  test("eqdel fold and CDC select the same rows through the key probe and the semi-join") {
    import spark.implicits._
    def run(): (Set[(Int, Long)], Seq[String]) = {
      val root = freshTable("eqprobe")
      val files = dataFiles(root).map(p => new java.io.File(new java.net.URI(p).getPath).getName)
      GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 4L)
      GraftCatalog.deleteSnapshotKeysMor(spark, root,
        Seq(2L, 3L, 4L, 500L, 999999L).toDF("id"), Seq("id"))
      val v = GraftCatalog.rewriteEqDeletesToDv(spark, root)
      def dvs(at: Long) = spark.read.textFile(s"$root/_manifests/v$at.manifest")
        .collect().filter(_.startsWith("#dv:")).map(_.stripPrefix("#dv:")).toSet
      val fresh = (dvs(v) -- dvs(v - 1)).toSeq
      assert(fresh.size == 1, s"the fold writes one DV: $fresh")
      val positions = spark.read.parquet(s"$root/_deletes/${fresh.head}").collect()
        .map(r => (files.indexOf(new java.io.File(r.getString(0)).getName), r.getLong(1)))
        .toSet
      val cdc = GraftCatalog.readChanges(spark, root, 0L, v - 1)
        .where(col("_change") === "delete")
        .select("id", "_version").collect().map(_.toString).sorted.toSeq
      (positions, cdc)
    }
    val (probe, join) = bothRegimes(run())
    assert(probe == join)
    // id 4 was positionally dead already: the fold positions 2, 3, 500
    assert(probe._1.size == 3 && probe._1.forall(_._1 >= 0))
    assert(probe._2 == Seq("[2,3]", "[3,3]", "[4,2]", "[500,3]"))
  }

  test("key verbs return the same rows and CDC whether the key feed is probed or joined") {
    import org.apache.spark.sql.Row
    def frame(ddl: String, rows: Row*) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val schema = "id bigint, grp bigint, d double, amount bigint"
    def run(): (Seq[String], Seq[String]) = {
      val root = s"$tmp/keyreg_${System.nanoTime()}"
      GraftCatalog.commitSnapshot(spark.range(400).select(col("id"),
          (col("id") % 3).as("grp"),
          when(col("id") === 0L, lit(-0.0)).when(col("id") === 1L, lit(Double.NaN))
            .otherwise(col("id") * 0.5).as("d"),
          (col("id") * 10).as("amount")).repartitionByRange(4, col("id")),
        root, append = false)
      val pks = Seq("id", "grp")
      // composite keys: (5,2) matches; (6,1) and a NULL-component key
      // match nothing and insert; the duplicate (7,1) replaces 7 twice
      GraftCatalog.mergeSnapshotKeys(spark, root, frame(schema,
        Row(5L, 2L, 900.5, 1L), Row(6L, 1L, 900.25, 2L), Row(null, 1L, 901.5, 3L),
        Row(7L, 1L, 902.5, 4L), Row(7L, 1L, 903.5, 5L)), pks)
      val cdc = s"$schema, _op string"
      GraftCatalog.applyCdcSnapshotKeys(spark, root, frame(cdc,
        Row(10L, 1L, 910.5, 6L, "U"), Row(11L, 2L, 0.0, 0L, "D"),
        Row(1000L, 1L, 911.5, 7L, "I"), Row(null, 1L, 0.0, 0L, "D")), pks)
      val dup = intercept[IllegalArgumentException](
        GraftCatalog.applyCdcSnapshotKeys(spark, root, frame(cdc,
          Row(12L, 0L, 0.0, 0L, "U"), Row(12L, 0L, 0.0, 0L, "D")), pks))
      assert(dup.getMessage.contains("multiple events"))
      // a double key: 0.0 matches the stored -0.0, NaN matches NaN
      GraftCatalog.mergeSnapshotMorKeys(spark, root, frame(schema,
        Row(900L, 0L, 0.0, 8L), Row(901L, 0L, Double.NaN, 9L)), Seq("d"))
      // an int feed on the bigint key takes the join regime and matches
      GraftCatalog.mergeSnapshotKeys(spark, root,
        spark.range(30, 32).select(col("id").cast("int").as("id"),
          (col("id") % 3).as("grp"), lit(0.25).as("d"), lit(11L).as("amount")),
        pks)
      GraftCatalog.deleteSnapshotKeysMor(spark, root, frame("id bigint, grp bigint",
        Row(20L, 2L), Row(21L, null), Row(22L, 1L), Row(22L, 1L)), pks)
      // a NaN key is a value, not a NULL: it purges the NaN row (901)
      GraftCatalog.deleteSnapshotKeysMor(spark, root,
        frame("d double", Row(Double.NaN), Row(null)), Seq("d"))
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.where(col("id").isin(0L, 1L, 11L, 20L, 22L, 901L)).count() == 0)
      assert(t.where(col("id").isin(5L, 7L, 10L, 21L, 30L, 31L, 900L, 1000L))
        .groupBy("id").count().where(col("count") =!= 1L).select("id")
        .collect().map(_.getLong(0)).toSeq == Seq(7L))
      val head = GraftCatalog.snapshotVersions(spark, root).last
      (t.collect().map(_.toString).sorted.toSeq,
        GraftCatalog.readChanges(spark, root, 1L, head).collect().map(_.toString).sorted.toSeq)
    }
    val (probe, join) = bothRegimes(run())
    assert(probe._1 == join._1, "head rows differ between the regimes")
    assert(probe._2 == join._2, "CDC rows differ between the regimes")
    // 400, +3 from the MERGE, -1 +1 from the CDC apply, -2 -1 from the purges
    assert(probe._1.size == 400)
  }

  test("a MERGE of a cached feed into a small table runs at most 3 jobs, none joining the keys") {
    import spark.implicits._
    val root = freshTable("mergejobs")
    val feed = Seq((5L, 5L, 1L), (700L, 0L, 2L), (2000L, 1L, 3L))
      .toDF("id", "grp", "amount").cache()
    feed.count()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try TestSpark.jobsLaunched(spark)(
        GraftCatalog.mergeSnapshotKeys(spark, root, feed, Seq("id")))
      finally feed.unpersist()
    // the pin's collect and the write each report their plan
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    spark.listenerManager.unregister(listener)
    assert(jobs <= 3, s"MERGE launched $jobs jobs: load, pin and write expected")
    val all = plans.toArray.mkString("\n")
    assert(all.contains("graft_eq_delete_hit"), s"the key feed is probed:\n$all")
    assert(!all.contains("LeftAnti") && !all.contains("LeftSemi") &&
      !all.contains("BroadcastExchange"), s"no key join or key broadcast:\n$all")
    val t = GraftCatalog.readSnapshot(spark, root)
    assert(t.count() == 1001)
    assert(t.where(col("id").isin(5L, 700L)).select("amount").as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  /** Runs `body` with a fresh table directory under a session whose
    * default filesystem is a `viewfs://<mount>/` view with one link,
    * `/t`, to a local temp dir: every scanned path then carries an
    * authority (viewfs://<mount>/t/...) that the manifest's paths
    * (/t/...) drop. */
  private def onViewFs[T](body: String => T): T = {
    val mount = s"graftpin${System.nanoTime()}"
    val local = java.nio.file.Files.createTempDirectory("graft-viewfs").toUri.toString
    val confs = Seq("fs.defaultFS" -> s"viewfs://$mount/",
      s"fs.viewfs.mounttable.$mount.link./t" -> local)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("/t") finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def commitIds(root: String): Unit =
    GraftCatalog.commitSnapshot(
      spark.range(1000).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10).as("amount")).repartitionByRange(4, col("id")),
      root, append = false)

  test("CoW pins map a scan path with an authority back to the manifest path") {
    import spark.implicits._
    onViewFs { base =>
      val root = s"$base/authpin"
      commitIds(root)
      val files = dataFiles(root)
      assert(files.size == 4)
      def carried() = dataFiles(root).count(files.contains)
      GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 42L)
      assert(carried() == 3, "DELETE rewrites exactly the file holding id 42")
      GraftCatalog.updateSnapshotWhere(spark, root, col("id") === 43L,
        Seq("amount" -> lit(0L)))
      GraftCatalog.mergeSnapshotKeys(spark, root,
        Seq((44L, 2L, 7L)).toDF("id", "grp", "amount"), Seq("id"))
      assert(carried() == 3, "UPDATE and MERGE rewrite only that file again")
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.count() == 999)
      assert(t.where(col("id").isin(42L, 43L, 44L)).orderBy("id")
        .select("amount").as[Long].collect().toSeq == Seq(0L, 7L))
    }
  }

  test("MoR deletes, CDC, DESCRIBE FILES and the SPJ read map a scan path with an authority back to the manifest path") {
    import spark.implicits._
    def cdcIds(root: String, v: Long): Seq[Long] =
      GraftCatalog.readChanges(spark, root, v - 1, v).select("id").as[Long]
        .collect().toSeq
    def run(): (Seq[String], Seq[Long], Seq[Long], Long) = onViewFs { base =>
      val root = s"$base/authmor"
      commitIds(root)
      val eqV = GraftCatalog.deleteSnapshotKeysMor(spark, root, Seq(42L).toDF("id"), Seq("id"))
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.count() == 999 && t.where(col("id") === 42L).isEmpty,
        "the equality delete removes id 42")
      val dvV = GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 43L)
      val dvRows = GraftCatalog.describeSnapshotFiles(spark, root)
        .agg(sum("dv_deleted_rows")).as[Long].head()
      (GraftCatalog.readSnapshot(spark, root).collect().map(_.toString).sorted.toSeq,
        cdcIds(root, eqV), cdcIds(root, dvV), dvRows)
    }
    val (probe, join) = bothRegimes(run())
    assert(probe == join)
    assert(probe._1.size == 998)
    assert(probe._2 == Seq(42L), "CDC of the equality delete streams id 42")
    assert(probe._3 == Seq(43L), "CDC of the DV streams id 43")
    assert(probe._4 == 1L, "DESCRIBE FILES counts the DV-deleted row")
    // the SPJ read applies DVs only in the probe regime (past the bound
    // it asks for a compaction)
    onViewFs { base =>
      val root = s"$base/authspj"
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("id", "bucket", 4)))
      commitIds(root)
      GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 42L)
      val spj = GraftCatalog.readSnapshotSpj(spark, root)
      assert(spj.count() == 999 && spj.where(col("id") === 42L).isEmpty)
      // a MoR delete racing a CoW verb over a file it consumed aborts the
      // verb, so the deleted row cannot come back with the rewrite
      val raced = s"$base/authrace"
      commitIds(raced)
      GraftCatalog.cowPublishFault.put(raced, new Runnable {
        def run(): Unit =
          { GraftCatalog.deleteSnapshotWhereMor(spark, raced, col("id") === 40L); () }
      })
      intercept[graft.sources.SnapshotConflictException](
        GraftCatalog.mergeSnapshotKeys(spark, raced,
          Seq((41L, 0L, 1L)).toDF("id", "grp", "amount"), Seq("id")))
      assert(GraftCatalog.readSnapshot(spark, raced).where(col("id") === 40L).isEmpty,
        "the racer's MoR delete stands")
    }
  }

  test("CDC of a MoR delete returns the same rows probed or joined, and plans with no job when probed") {
    def run(): (Seq[String], Int) = {
      val root = freshTable("dvcdc")
      val v = GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id").isin(7L, 300L, 999L))
      var cdc: org.apache.spark.sql.DataFrame = null
      val jobs = TestSpark.jobsLaunched(spark) {
        cdc = GraftCatalog.readChanges(spark, root, v - 1, v)
      }
      (cdc.collect().map(_.toString).sorted.toSeq, jobs)
    }
    val ((probe, probeJobs), (join, _)) = bothRegimes(run())
    assert(probe == join)
    assert(probe == Seq("[300,6,3000,delete,2]", "[7,0,70,delete,2]", "[999,5,9990,delete,2]"))
    assert(probeJobs == 0, s"building the probed CDC frame launched $probeJobs jobs")
  }

  test("an equality delete below the bound runs only its load job and writes each sidecar part as one driver-written file") {
    import spark.implicits._
    def listing(dir: String) = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    def run() = {
      val root = freshTable("eqdriver")
      var v = 0L
      val jobs = TestSpark.jobsLaunched(spark) {
        v = GraftCatalog.deleteSnapshotKeysMor(spark, root,
          Seq(3L, 5L, 5L, 700L, 5000L).toDF("id"), Seq("id"))
      }
      val sidecars = listing(s"$root/_deletes")
      assert(sidecars.size == 1 && sidecars.head.startsWith("eq-"), sidecars)
      val dir = s"$root/_deletes/${sidecars.head}"
      (jobs, listing(s"$dir/keys"), listing(s"$dir/cover"),
        GraftCatalog.readSnapshot(spark, root).collect().map(_.toString).sorted.toSeq,
        GraftCatalog.readChanges(spark, root, v - 1, v).collect().map(_.toString).sorted.toSeq)
    }
    val ((pJobs, pKeys, pCover, pRows, pCdc), (jJobs, jKeys, jCover, jRows, jCdc)) =
      bothRegimes(run())
    assert(pJobs == 1, s"below the bound the delete launched $pJobs jobs, the load expected")
    def oneFile(names: Seq[String]) =
      names.size == 1 && names.head.endsWith(".parquet")
    assert(oneFile(pKeys), s"keys: $pKeys")
    assert(oneFile(pCover) && oneFile(jCover), s"cover: $pCover / $jCover")
    // past the bound the keys are the feed's distinct, a Spark write
    assert(jKeys.contains("_SUCCESS") && jKeys.exists(_.endsWith(".parquet")), s"keys: $jKeys")
    assert(!(pKeys ++ pCover ++ jKeys ++ jCover).exists(_.startsWith("_temporary")))
    assert(jJobs > pJobs)
    assert(pRows == jRows && pCdc == jCdc)
    assert(pRows.size == 997)
    assert(pCdc == Seq("[3,3,30,delete,2]", "[5,5,50,delete,2]", "[700,0,7000,delete,2]"))
  }

  test("sidecar loads broadcast nothing: a read over a DV and an equality delete adds only the two probe indexes") {
    import spark.implicits._
    val root = freshTable("bcast")
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 7L)
    GraftCatalog.deleteSnapshotKeysMor(spark, root, Seq(300L).toDF("id"), Seq("id"))
    val before = org.apache.spark.GraftBroadcasts.ids().maxOption.getOrElse(-1L)
    val t = GraftCatalog.readSnapshot(spark, root)
    val added = org.apache.spark.GraftBroadcasts.ids().filter(_ > before)
    assert(added.size == 2, s"${added.size} broadcasts: the DV and key probes expected")
    assert(t.count() == 998 && t.where(col("id").isin(7L, 300L)).isEmpty)
  }

  /** Runs `body` under a session whose `file:` paths go through
    * [[org.apache.spark.GraftManifestOpens]], which counts the driver's
    * manifest opens. */
  private def countingManifestOpens[T](body: => T): T = {
    val confs = org.apache.spark.GraftManifestOpens.confs
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a verb opens its head's manifest once, and vacuum each listed manifest at most once") {
    import spark.implicits._
    val opens = org.apache.spark.GraftManifestOpens
    countingManifestOpens {
      val root = freshTable("opens")
      // the listing first records the head's visibility, so what a verb
      // adds is its own resolve
      def headOpens(verb: => Any): Int = {
        val head = GraftCatalog.snapshotVersions(spark, root).last
        val before = opens.of(root, head)
        verb
        opens.of(root, head) - before
      }
      def row(id: Long) = Seq((id, id % 7, id * 10)).toDF("id", "grp", "amount")
      val counts = Seq(
        "commitSnapshot" -> headOpens(
          GraftCatalog.commitSnapshot(row(1000L), root, append = true)),
        "mergeSnapshotKeys" -> headOpens(
          GraftCatalog.mergeSnapshotKeys(spark, root, row(5L), Seq("id"))),
        "mergeSnapshotMorKeys" -> headOpens(
          GraftCatalog.mergeSnapshotMorKeys(spark, root, row(6L), Seq("id"))),
        "deleteSnapshotKeysMor" -> headOpens(
          GraftCatalog.deleteSnapshotKeysMor(spark, root, Seq(7L).toDF("id"), Seq("id"))),
        "deleteSnapshotWhereMor" -> headOpens(
          GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 8L)),
        "updateSnapshotWhereMor" -> headOpens(GraftCatalog.updateSnapshotWhereMor(
          spark, root, col("id") === 9L, Seq("amount" -> lit(0L)))),
        "deleteSnapshotWhere" -> headOpens(
          GraftCatalog.deleteSnapshotWhere(spark, root, col("id") === 10L)),
        "updateSnapshotWhere" -> headOpens(GraftCatalog.updateSnapshotWhere(
          spark, root, col("id") === 11L, Seq("amount" -> lit(0L)))),
        "readSnapshot" -> headOpens(GraftCatalog.readSnapshot(
          spark, root, predicate = Some(col("id") < 100L)).collect()))
      assert(counts.forall(_._2 == 1), counts.mkString(", "))
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.count() == 998 && t.where(col("id").isin(7L, 8L, 10L)).isEmpty)
      assert(t.where(col("id").isin(9L, 11L)).select("amount").as[Long].collect().toSeq ==
        Seq(0L, 0L))
      // a fresh torn manifest (a publish in flight) is read once more by
      // the vacuum's settle beat, and neither kept nor reaped
      val vs = GraftCatalog.snapshotVersions(spark, root)
      val torn = vs.last + 1
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_manifests/v$torn.manifest"),
        "#stats:none\n".getBytes("UTF-8"))
      val all = vs :+ torn
      val before = all.map(v => v -> opens.of(root, v)).toMap
      GraftCatalog.vacuumSnapshots(spark, root, vs.last)
      val read = all.map(v => v -> (opens.of(root, v) - before(v))).toMap
      assert(vs.forall(read(_) <= 1) && read(torn) == 2, read.toSeq.sorted.mkString(", "))
      assert(new java.io.File(s"$root/_manifests/v$torn.manifest").exists())
      assert(GraftCatalog.readSnapshot(spark, root, Some(vs.last)).count() == 998)
    }
  }

  test("a verb lists _refs/ once, opens each config file at most once, and its head's manifest once") {
    import spark.implicits._
    val opens = org.apache.spark.GraftManifestOpens
    countingManifestOpens {
      def row(id: Long) = Seq((id, id % 7, id * 10)).toDF("id", "grp", "amount")
      // the table's configuration calls: `_refs` itself ("") and its
      // config files; `tx/` and `cursors/` are protocol state
      def config(root: String) = opens.refs(root).filter { case ((_, p), _) =>
        !(p == "tx" || p.startsWith("tx/") || p == "cursors" || p.startsWith("cursors/")) }
      // (verb, head-manifest opens, its configuration calls) per verb
      def measured(root: String): Seq[(String, Int, Map[(String, String), Int])] = Seq[(String, () => Any)](
        "commitSnapshot" -> (() => GraftCatalog.commitSnapshot(row(1000L), root, append = true)),
        "mergeSnapshotKeys" -> (() =>
          GraftCatalog.mergeSnapshotKeys(spark, root, row(5L), Seq("id"))),
        "updateSnapshotWhere" -> (() => GraftCatalog.updateSnapshotWhere(
          spark, root, col("id") === 11L, Seq("amount" -> lit(0L)))),
        "deleteSnapshotWhereMor" -> (() =>
          GraftCatalog.deleteSnapshotWhereMor(spark, root, col("id") === 8L)),
        "readSnapshot" -> (() => GraftCatalog.readSnapshot(
          spark, root, predicate = Some(col("id") < 100L)).collect()),
        // rejects on a table without a partition spec, after its one read
        "compactSnapshotPartitioned" -> (() => scala.util.Try(
          GraftCatalog.compactSnapshotPartitioned(spark, root))),
        "vacuumSnapshots" -> (() => GraftCatalog.vacuumSnapshots(
          spark, root, GraftCatalog.snapshotVersions(spark, root).last))
      ).map { case (name, verb) =>
        val head = GraftCatalog.snapshotVersions(spark, root).last
        val (headBefore, before) = (opens.of(root, head), config(root))
        verb()
        (name, opens.of(root, head) - headBefore, config(root).map { case (k, n) =>
          k -> (n - before.getOrElse(k, 0)) }.filter(_._2 > 0))
      }
      val root = freshTable("refs")
      GraftCatalog.setSnapshotPartitionSpec(spark, root,
        Seq(graft.sources.PartitionField("grp", "identity")))
      GraftCatalog.setSnapshotBloomFilters(spark, root, Seq("amount"))
      GraftCatalog.setSnapshotSortOrder(spark, root, Seq("id"))
      GraftCatalog.setSnapshotManifestConf(spark, root, inlineMax = Some(100000))
      GraftCatalog.addSnapshotCheck(spark, root, "amount_nonneg", "amount >= 0")
      GraftCatalog.addSnapshotCheck(spark, root, "grp_range", "grp < 7")
      GraftCatalog.tagSnapshot(spark, root, "first", 1L)
      val configured = measured(root)
      val report = configured.mkString("\n")
      configured.foreach { case (verb, headOpens, calls) =>
        assert(calls.get(("listStatus", "")).contains(1), s"$verb: one listing\n$report")
        assert(!calls.keys.exists(_._1 == "getFileStatus"), s"$verb: no status\n$report")
        assert(calls.forall { case ((call, _), n) => call != "open" || n <= 1 },
          s"$verb: one open per config file\n$report")
        assert(headOpens == 1, s"$verb: one head open\n$report")
      }
      val t = GraftCatalog.readSnapshot(spark, root)
      assert(t.count() == 1000 && t.where(col("id") === 8L).isEmpty)
      assert(t.where(col("id") === 11L).select("amount").as[Long].collect().toSeq == Seq(0L))
      val bare = measured(freshTable("refs0"))
      assert(bare.forall(_._3.values.sum <= 1), bare.mkString("\n"))
    }
  }
}

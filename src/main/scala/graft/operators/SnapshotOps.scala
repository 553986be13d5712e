package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.GraftCatalog

/** Snapshot-table operators surfaced as driver queries: the manifest
  * format's row-level MERGE and DELETE reconciled against a plain
  * relational recompute in DuckDB — the end-to-end proof that the
  * copy-on-write composition (stats-pruned candidates → semi-join /
  * input_file_name pinning → single rewritten batch → manifest flip)
  * produces exactly the table a full-recompute upsert / anti-filter
  * would.
  *
  * Reference anchor: the reference's versioned-table ambitions live in
  * its docs (docs/9 roadmap items); the concrete semantics here are
  * the standard MERGE contract every lakehouse format implements.
  */
object SnapshotOps {

  private def ordersDf(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("double").as("price"),
      col("o_orderpriority").as("pr"))

  private def wipe(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(p, true)
  }

  private val basePool = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (String, Long)]()

  /** The 4-file range-partitioned orders base snapshot + its max key,
    * built ONCE per (session, sf dir) per JVM (root wiped at first
    * touch so a stale /tmp table from a previous data generation can
    * never leak in). Every verb query CLONES it — [[GraftCatalog
    * .cloneSnapshot]] is a zero-copy manifest flip — so the per-query
    * cost is verb + read, not a 15 k-row table rebuild per query: the
    * bench then measures the FORMAT (CoW planning, pinning, manifest,
    * stats), which is the number that matters at 100 TB where nobody
    * rebuilds the base per mutation. Correctness is untouched: each
    * clone is an independent table line whose v1 content IS the base,
    * and every oracle recomputes from the raw parquet. */
  private def baseOrders(s: SparkSession, d: String): (String, Long) =
    basePool.computeIfAbsent((s, d), { _ =>
      val orders = ordersDf(s, d)
      val root = s"/tmp/graft-index/snapbase_${math.abs(d.hashCode.toLong)}"
      wipe(s, root)
      val mk = orders.agg(max("o_orderkey")).head().getLong(0)
      GraftCatalog.commitSnapshot(
        orders.repartitionByRange(4, col("o_orderkey")), root, append = false)
      (root, mk)
    })

  /** A fresh zero-copy clone of the base snapshot for one verb query:
    * v1 = base content (4 files carried by path), fully independent
    * evolution, wiped per run so the query stays deterministic. */
  private def cloneBase(s: SparkSession, d: String, tag: String): (String, Long) = {
    val (base, mk) = baseOrders(s, d)
    val root = s"/tmp/graft-index/${tag}_${math.abs(d.hashCode.toLong)}"
    wipe(s, root)
    GraftCatalog.cloneSnapshot(s, base, root)
    (root, mk)
  }

  private val tablePool = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (String, Long)]()

  /** Build-once pool for READ-ONLY fixture tables (no verb ever
    * mutates them — q133/q134/q136/q137 only read): built per
    * (session, sf dir) per JVM with the root wiped at first touch,
    * same staleness contract as [[baseOrders]]. `build` publishes the
    * table under the given root and returns whatever scalar the query
    * needs (a lookup key); reruns serve both from the pool, so the
    * bench measures the READ path, not a table rebuild per rep. */
  private def pooledTable(s: SparkSession, d: String, tag: String)(
      build: String => Long): (String, Long) =
    tablePool.computeIfAbsent((s, d, tag), { _ =>
      val root = s"/tmp/graft-index/${tag}_${math.abs(d.hashCode.toLong)}"
      wipe(s, root)
      (root, build(root))
    })

  /** q117 — copy-on-write MERGE, oracle-reconciled: orders lands as a
    * range-partitioned 4-file snapshot (ONE commit — each file gets a
    * tight orderkey envelope in the manifest stats); an update feed
    * RUSH-re-prices every 10th key in the first key quarter (so only
    * the file(s) covering that range are rewritten — the rest carry by
    * path) and appends brand-new synthetic keys; the merged head is
    * then aggregated per priority class. The DuckDB oracle never sees
    * the table format: it recomputes the post-merge state relationally
    * (base minus touched keys, union updates, union new rows), so a
    * hash match proves merge == full recompute row-for-row. Money sums
    * follow the SURVEY §5 decimal discipline. The table is a zero-copy
    * clone of the shared base fixture ([[cloneBase]]), so the measured
    * cost is the merge itself: metadata + one-batch I/O — the 100 TB
    * shape. */
  private def q117(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snapmerge")
    val updates = orders
      .where(col("o_orderkey") % 10 === 0 && col("o_orderkey") <= mk / 4)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price") + lit(100.0)).as("price"), lit("0-RUSH").as("pr"))
      .unionByName(orders.where(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), col("price"), lit("9-NEW").as("pr")))
    GraftCatalog.mergeSnapshot(s, root, updates, "o_orderkey")
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q117Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |upd AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) + 100.0 AS price, '0-RUSH' AS pr
      |  FROM orders, mk WHERE o_orderkey % 10 = 0 AND o_orderkey <= mk // 4),
      |newr AS (
      |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '9-NEW' AS pr
      |  FROM orders WHERE o_orderkey % 1000 = 0),
      |base AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
      |fin AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM newr)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q119 — copy-on-write DELETE, oracle-reconciled: the same 4-file
    * range-partitioned orders snapshot as q117, then
    * `DELETE WHERE o_orderkey ≤ max/4 AND o_custkey % 7 = 0` — the
    * orderkey envelope in the manifest stats prunes planning to the
    * FIRST file, `input_file_name` pinning confirms it truly holds
    * matching rows, and only that file rewrites (survivor rows minus
    * the deleted set); the other three carry by path. The head is then
    * aggregated per priority class and hash-matched against DuckDB's
    * relational `WHERE NOT(pred)` recompute — delete == anti-filter
    * row-for-row. Deterministic: a fresh [[cloneBase]] clone per run. */
  private def q119(s: SparkSession, d: String): DataFrame = {
    val (root, mk) = cloneBase(s, d, "snapdel")
    GraftCatalog.deleteSnapshotWhere(s, root,
      col("o_orderkey") <= mk / 4 && col("o_custkey") % 7 === 0)
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q119Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |fin AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders, mk
      |  WHERE NOT (o_orderkey <= mk // 4 AND o_custkey % 7 = 0))
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q122 — copy-on-write UPDATE, oracle-reconciled: the q117 4-file
    * range-partitioned orders snapshot, then `UPDATE SET price =
    * price + 50, pr = '0-RUSH' WHERE o_orderkey ≤ max/4 AND
    * pr = '1-URGENT'` — the orderkey envelope prunes planning to the
    * first file, pinning confirms it, only it rewrites (non-matching
    * rows of that file land byte-equal, matching rows with both
    * assignments applied against the PRE-update row); the other three
    * files carry by path. The head's per-priority aggregate
    * hash-matches DuckDB's relational CASE-WHEN recompute — update ==
    * full recompute row-for-row. Deterministic: fresh clone per run. */
  private def q122(s: SparkSession, d: String): DataFrame = {
    val (root, mk) = cloneBase(s, d, "snapupd")
    GraftCatalog.updateSnapshotWhere(s, root,
      col("o_orderkey") <= mk / 4 && col("pr") === "1-URGENT",
      Seq("price" -> (col("price") + lit(50.0)), "pr" -> lit("0-RUSH")))
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q122Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |fin AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey <= mk // 4 AND o_orderpriority = '1-URGENT'
      |      THEN CAST(o_totalprice AS DOUBLE) + 50.0
      |      ELSE CAST(o_totalprice AS DOUBLE) END AS price,
      |    CASE WHEN o_orderkey <= mk // 4 AND o_orderpriority = '1-URGENT'
      |      THEN '0-RUSH' ELSE o_orderpriority END AS pr
      |  FROM orders, mk)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q123 — INCREMENTAL MV maintenance from snapshot CDC: three
    * commits (base, append of new keys, copy-on-write delete), an
    * aggregate MV materialized at v1, then brought to the head by
    * folding `readChanges(v1, head)` — counts and decimal sums are
    * self-maintainable (insert adds, delete subtracts; a CoW rewrite's
    * unchanged rows appear as delete+insert pairs and cancel EXACTLY
    * because the fold stays in DECIMAL(18,2), never touching a float
    * accumulator). The MV update cost is ∝ the touched files, never
    * the table — at 100 TB the MV keeps pace with a CDC feed without
    * a single base rescan. The DuckDB oracle recomputes the final
    * state relationally and aggregates from scratch: a hash match
    * proves fold(MV@v1, CDC) == full recompute. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snapmv")
    val v1 = 1L // the clone's v1 IS the base content
    GraftCatalog.commitSnapshot(
      orders.where(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + lit(200000000L)).as("o_orderkey"),
          col("o_custkey"), col("price"), lit("9-NEW").as("pr")),
      root, append = true)
    val head = GraftCatalog.deleteSnapshotWhere(s, root,
      col("o_orderkey") <= mk / 4 && col("o_custkey") % 13 === 0)
    val dec = expr("CAST(price AS DECIMAL(18,2))")
    val mv1 = GraftCatalog.readSnapshot(s, root, version = Some(v1))
      .groupBy("pr")
      .agg(count(lit(1)).as("n"), sum(dec).as("total"))
    val sign = when(col("_change") === "insert", lit(1)).otherwise(lit(-1))
    val delta = GraftCatalog.readChanges(s, root, v1, head)
      .groupBy("pr")
      .agg(sum(sign).as("dn"), sum(sign * dec).as("dtotal"))
    mv1.join(delta, Seq("pr"), "full_outer")
      .select(col("pr"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0).cast("decimal(18,2)"))
          + coalesce(col("dtotal"), lit(0).cast("decimal(18,2)"))).as("t"))
      .where(col("n") > 0)
      .select(col("pr"), col("n"), col("t").cast("double").as("total"))
      .orderBy("pr")
  }

  private val q123Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |newr AS (
      |  SELECT o_orderkey + 200000000 AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '9-NEW' AS pr
      |  FROM orders WHERE o_orderkey % 1000 = 0),
      |uni AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders
      |  UNION ALL SELECT * FROM newr),
      |fin AS (
      |  SELECT * FROM uni, mk
      |  WHERE NOT (o_orderkey <= mk // 4 AND o_custkey % 13 = 0))
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q124 — atomic slice OVERWRITE (replaceWhere), oracle-reconciled:
    * the q117 snapshot, then the first key quarter is REPLACED in one
    * commit by its recomputed backfill — only every-3rd-custkey rows
    * survive the recompute and their price is re-derived (+25.0), so
    * the overwrite both shrinks and rewrites the slice. Planning
    * touches only the file(s) whose key envelope overlaps the slice
    * (any fully-covered file drops with zero rewrite I/O) and lands
    * the backfill in the same single batch — the delete and the
    * insert are ONE version flip, so no reader ever sees the slice
    * absent.
    * Hash-matched against DuckDB's relational splice (outside-slice ∪
    * recomputed slice). */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snaprw")
    val slice = col("o_orderkey") <= mk / 4
    val backfill = orders.where(slice && col("o_custkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price") + lit(25.0)).as("price"), col("pr"))
    GraftCatalog.overwriteSnapshotWhere(s, root, slice, backfill)
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q124Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |outside AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders, mk WHERE o_orderkey > mk // 4),
      |backfill AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) + 25.0 AS price, o_orderpriority AS pr
      |  FROM orders, mk
      |  WHERE o_orderkey <= mk // 4 AND o_custkey % 3 = 0),
      |fin AS (SELECT * FROM outside UNION ALL SELECT * FROM backfill)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q126 — full CDC apply (I/U/D in ONE commit), oracle-reconciled:
    * the q117 4-file snapshot, then one mixed batch — deletes
    * (first-quarter keys with custkey%11=0), re-pricing updates
    * (first-quarter %10 keys, disjoint from the deletes so per-key op
    * is unambiguous), and inserts (new synthetic keys). One manifest
    * flip applies all three; the head's per-priority aggregate
    * hash-matches DuckDB's relational recompute (base minus deleted
    * minus updated-originals ∪ updates ∪ inserts) — apply == full
    * recompute row-for-row, and no reader could ever observe the
    * deleted-but-not-yet-upserted intermediate that a two-commit
    * delete+merge would expose. */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snapcdc")
    val dels = orders
      .where(col("o_orderkey") <= mk / 4 && col("o_custkey") % 11 === 0)
      .withColumn("_op", lit("D"))
    val upds = orders
      .where(col("o_orderkey") <= mk / 4 && col("o_orderkey") % 10 === 0 &&
        col("o_custkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price") + lit(100.0)).as("price"), lit("0-RUSH").as("pr"),
        lit("U").as("_op"))
    val ins = orders.where(col("o_orderkey") % 1000 === 0)
      .select((col("o_orderkey") + lit(300000000L)).as("o_orderkey"),
        col("o_custkey"), col("price"), lit("9-NEW").as("pr"),
        lit("I").as("_op"))
    GraftCatalog.applyCdcSnapshot(s, root,
      dels.unionByName(upds).unionByName(ins), "o_orderkey")
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q126Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |del AS (
      |  SELECT o_orderkey FROM orders, mk
      |  WHERE o_orderkey <= mk // 4 AND o_custkey % 11 = 0),
      |upd AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) + 100.0 AS price, '0-RUSH' AS pr
      |  FROM orders, mk
      |  WHERE o_orderkey <= mk // 4 AND o_orderkey % 10 = 0
      |    AND o_custkey % 11 <> 0),
      |ins AS (
      |  SELECT o_orderkey + 300000000 AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '9-NEW' AS pr
      |  FROM orders WHERE o_orderkey % 1000 = 0),
      |base AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
      |    AND o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
      |fin AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q129 — the Catalyst-integrated snapshot read on the driver
    * surface: orders lands as the 4-file range snapshot, then the
    * aggregate runs over `readSnapshotAuto` with a PLAIN `.where` — no
    * predicate parameter anywhere — and the custom FileIndex prunes
    * the manifest to the first-quarter file(s) at scan planning
    * (pruning itself is metric-proven in SourcesCatalogSpec; this
    * query proves the auto path's ROW-LEVEL semantics against the
    * relational oracle at both SFs). */
  private def q129(s: SparkSession, d: String): DataFrame = {
    val (root, mk) = cloneBase(s, d, "snapauto")
    GraftCatalog.readSnapshotAuto(s, root)
      .where(col("o_orderkey") <= mk / 4)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q129Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |fin AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders, mk WHERE o_orderkey <= mk // 4)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q130 — the snapshot table through PURE SQL: the aggregate is one
    * SQL text over the `graft_snapshot` table-valued function — no
    * DataFrame call site between the text and the versioned table —
    * with a WHERE that data-skips via the TVF's Catalyst-integrated
    * relation (metric-proven in SourcesCatalogSpec; here the
    * row-level semantics hash-match the relational oracle at both
    * SFs). The SQL a Thrift/notebook user would actually type. */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val (root, mk) = cloneBase(s, d, "snaptvf")
    s.sql(
      s"""SELECT pr, COUNT(*) AS n,
         |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  COUNT(DISTINCT o_custkey) AS nc
         |FROM graft_snapshot('$root')
         |WHERE o_orderkey <= ${mk / 4}
         |GROUP BY pr ORDER BY pr""".stripMargin)
  }

  private val q130Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |fin AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders, mk WHERE o_orderkey <= mk // 4)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q131 — the CDC changelog through PURE SQL: a 4-commit history
    * (base overwrite, two appends, a rollback) read back as one SQL
    * text over the `graft_snapshot_changes` TVF. The history is built
    * so every change set is RELATIONALLY identifiable (appends add
    * whole batches; the rollback's delete side is exactly the batch it
    * undoes), so DuckDB — which never sees the table format — recomputes
    * the per-(version, change) row counts and money sums from the
    * `orders` predicates alone. A hash match proves the file-level
    * changelog surfaces exactly the rows each commit added/removed. */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, _) = cloneBase(s, d, "snapchanges")
    val batchA = orders.where(col("o_orderkey") % 7 === 0)
    val batchB = orders.where(col("o_orderkey") % 7 =!= 0 &&
      col("o_orderkey") % 13 === 0)
    GraftCatalog.commitSnapshot(batchA.repartition(1), root, append = true) // v2
    GraftCatalog.commitSnapshot(batchB.repartition(1), root, append = true) // v3
    GraftCatalog.rollbackSnapshot(s, root, 2L)                              // v4 undoes v3
    s.sql(
      s"""SELECT _version, _change, COUNT(*) AS n,
         |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_snapshot_changes('$root', 1, 4)
         |GROUP BY _version, _change ORDER BY _version, _change""".stripMargin)
  }

  private val q131Oracle: String =
    """WITH a AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS price FROM orders
      |  WHERE o_orderkey % 7 = 0),
      |b AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS price FROM orders
      |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 = 0)
      |SELECT CAST(2 AS BIGINT) AS _version, 'insert' AS _change,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total FROM a
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'insert', COUNT(*),
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) FROM b
      |UNION ALL
      |SELECT CAST(4 AS BIGINT), 'delete', COUNT(*),
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) FROM b
      |ORDER BY _version, _change""".stripMargin

  /** q132 — LAST-WINS CDC apply with multi-event keys, oracle-
    * reconciled: the 4-file orders snapshot takes ONE Debezium-shaped
    * batch in which some keys carry TWO events (a re-pricing U at
    * seq 1, then for every 20th key a D at seq 2) plus fresh inserts —
    * the shape a real replication feed delivers and the shape a naive
    * apply corrupts (landing both rows, or losing the delete).
    * `seqCol` reduces the batch to each key's final event before the
    * copy-on-write plan; the head's per-priority aggregate hash-matches
    * DuckDB's recompute of "delete the %20 keys, update the other %10
    * keys, insert the new ones" — i.e. last-wins apply == the feed's
    * sequential effect. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snapseq")
    val touched = orders.where(col("o_orderkey") % 10 === 0 &&
      col("o_orderkey") <= mk / 4)
    val upds = touched.select(col("o_orderkey"), col("o_custkey"),
      (col("price") + lit(50.0)).as("price"), lit("0-RUSH").as("pr"),
      lit("U").as("_op"), lit(1L).as("seq"))
    val lateDels = touched.where(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("price"), col("pr"),
        lit("D").as("_op"), lit(2L).as("seq"))
    val ins = orders.where(col("o_orderkey") % 1000 === 0)
      .select((col("o_orderkey") + lit(500000000L)).as("o_orderkey"),
        col("o_custkey"), col("price"), lit("9-NEW").as("pr"),
        lit("I").as("_op"), lit(1L).as("seq"))
    GraftCatalog.applyCdcSnapshot(s, root,
      upds.unionByName(lateDels).unionByName(ins), "o_orderkey",
      seqCol = Some("seq"))
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q132Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |del AS (
      |  SELECT o_orderkey FROM orders, mk
      |  WHERE o_orderkey % 20 = 0 AND o_orderkey <= mk // 4),
      |upd AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) + 50.0 AS price, '0-RUSH' AS pr
      |  FROM orders, mk
      |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0
      |    AND o_orderkey <= mk // 4),
      |ins AS (
      |  SELECT o_orderkey + 500000000 AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '9-NEW' AS pr
      |  FROM orders WHERE o_orderkey % 1000 = 0),
      |base AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
      |    AND o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
      |fin AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q133 — HIDDEN PARTITIONING, the hash-bucket prune stats cannot
    * make: orders lands under a `bucket(8, o_custkey)` partition spec
    * (the table derives the tuple; the writer never sees a partition
    * column), then a point lookup `WHERE o_custkey = min(custkey)`
    * reads via the predicate path — planning drops every file whose
    * PATH tuple pins a different bucket (a hash bucket has no min/max
    * correlation, so the stats envelope keeps everything; the
    * file-count proof is in SourcesCatalogSpec). The DuckDB oracle
    * recomputes the lookup from raw parquet: a hash match proves the
    * tuple prune is an inclusive projection, row-for-row. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val (root, ck) = pooledTable(s, d, "snappt") { root =>
      val orders = ordersDf(s, d)
      GraftCatalog.setSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_custkey", "bucket", 8)))
      GraftCatalog.commitSnapshot(orders.repartition(2), root, append = false)
      orders.agg(min("o_custkey")).head().getLong(0)
    }
    GraftCatalog.readSnapshot(s, root,
        predicate = Some(col("o_custkey") === ck))
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
      .orderBy("pr")
  }

  private val q133Oracle: String =
    """WITH ck AS (SELECT MIN(o_custkey) AS ck FROM orders)
      |SELECT o_orderpriority AS pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
      |    AS DOUBLE) AS total
      |FROM orders, ck WHERE o_custkey = ck
      |GROUP BY pr ORDER BY pr""".stripMargin

  /** q134 — DESCRIBE PARTITIONS as an ORACLE query: orders lands under
    * a `month(o_orderdate)` hidden spec, and the per-month row counts
    * come from PURE METADATA (path tuples × the stats sidecar — zero
    * parquet opens), while DuckDB aggregates the raw data. A hash
    * match proves the metadata layer's bookkeeping equals the data —
    * the property that makes "which months are skewed" a free
    * planning-time question on a 100 TB table. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val (root, _) = pooledTable(s, d, "snapptm") { root =>
      GraftCatalog.setSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_orderdate", "month")))
      GraftCatalog.commitSnapshot(ordersDf2(s, d).repartition(2),
        root, append = false)
      0L
    }
    GraftCatalog.describeSnapshotPartitions(s, root)
      .select(col("o_orderdate_month").as("om"), col("n_rows"))
      .orderBy("om")
  }

  /** orders with the date column kept — q134 partitions on it. */
  private def ordersDf2(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      col("o_totalprice").cast("double").as("price"),
      col("o_orderpriority").as("pr"))

  private val q134Oracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS om, COUNT(*) AS n_rows
      |FROM orders GROUP BY om ORDER BY om""".stripMargin

  /** q135 — pure-SQL time travel BY TAG: v1 is tagged `baseline`, the
    * head then moves past it (a CoW delete), and the aggregate runs as
    * ONE SQL text over `graft_snapshot(root, 'baseline')` — the
    * release-pinning loop closed end-to-end: a training run records a
    * NAME, and anyone can reproduce its exact corpus from a notebook
    * with no Scala and no version number. The DuckDB oracle aggregates
    * the raw orders (v1 == full base by construction): a hash match
    * proves the tag still serves the pinned version byte-for-byte
    * after the table moved on. */
  private def q135(s: SparkSession, d: String): DataFrame = {
    val (root, _) = cloneBase(s, d, "snaptag")
    GraftCatalog.tagSnapshot(s, root, "baseline", 1L)
    GraftCatalog.deleteSnapshotWhere(s, root, col("o_orderkey") % 3 === 0)
    s.sql(
      s"""SELECT pr, COUNT(*) AS n,
         |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  COUNT(DISTINCT o_custkey) AS nc
         |FROM graft_snapshot('$root', 'baseline')
         |GROUP BY pr ORDER BY pr""".stripMargin)
  }

  private val q135Oracle: String =
    """SELECT o_orderpriority AS pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
      |    AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM orders GROUP BY pr ORDER BY pr""".stripMargin

  /** q136 — BLOOM-sidecar point lookup on the driver surface: orders
    * lands range-partitioned by ORDERKEY with `o_custkey` bloom-
    * enrolled — every file's custkey envelope spans the customer
    * domain (the classic foreign-key shape min/max can never prune and
    * nobody partitions by), so `WHERE o_custkey = K` keeps only the
    * files whose bloom admits K. The DuckDB oracle recomputes from raw
    * parquet: a hash match proves the bloom is an inclusive projection
    * — false positives cost a wasted open, misses are impossible. The
    * file-count proof is in SourcesCatalogSpec; at 100 TB this is a
    * point lookup as a handful of file opens instead of a scan. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    val (root, ck) = pooledTable(s, d, "snapbloom") { root =>
      val orders = ordersDf(s, d)
      GraftCatalog.setSnapshotBloomFilters(s, root, Seq("o_custkey"))
      GraftCatalog.commitSnapshot(
        orders.repartitionByRange(8, col("o_orderkey")), root, append = false)
      orders.agg(min("o_custkey")).head().getLong(0)
    }
    GraftCatalog.readSnapshot(s, root,
        predicate = Some(col("o_custkey") === ck))
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
      .orderBy("pr")
  }

  /** q137 — DESCRIBE PARTITIONS through PURE SQL: q134's
    * metadata-equals-data property, but the consumer is one SQL text
    * over the `graft_snapshot_partitions` TVF — the skew dashboard a
    * Thrift/notebook user actually types, hash-matched against
    * DuckDB's aggregation of the raw data. */
  private def q137(s: SparkSession, d: String): DataFrame = {
    val (root, _) = pooledTable(s, d, "snapptsql") { root =>
      GraftCatalog.setSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_orderdate", "month")))
      GraftCatalog.commitSnapshot(ordersDf2(s, d).repartition(2),
        root, append = false)
      0L
    }
    s.sql(
      s"""SELECT o_orderdate_month AS om, n_rows
         |FROM graft_snapshot_partitions('$root')
         |ORDER BY om""".stripMargin)
  }

  /** q138 — the ENTIRE mutation surface through SQL TEXT: DELETE,
    * UPDATE and upsert-form MERGE statements (Spark's own parser →
    * [[graft.sources.GraftDml]] lowering → the CoW verbs) run against
    * a backticked root path — zero Scala verb call sites — and the
    * resulting head is aggregated. The MERGE feed derives from the RAW
    * orders (not the mutated table), so DuckDB replays the exact
    * delete → update → upsert pipeline relationally: a hash match
    * proves the SQL surface and the Scala verbs are the same engine.
    * Note the deliberate overlap: keys ≡ 0 (mod 485) are deleted by
    * statement 1 and RE-inserted by the merge's NOT MATCHED arm. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val (root, _) = cloneBase(s, d, "snapsqldml")
    val orders = ordersDf(s, d)
    orders.where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit(1.0).as("price"), lit("0-SQL").as("pr"))
      .unionByName(orders.where(col("o_orderkey") % 997 === 0)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          col("o_custkey"), col("price"), lit("9-SQLNEW").as("pr")))
      .createOrReplaceTempView("q138_feed")
    graft.sources.GraftDml.sql(s,
      s"DELETE FROM `$root` WHERE o_orderkey % 5 = 0")
    graft.sources.GraftDml.sql(s,
      s"UPDATE `$root` SET price = price + 50 WHERE pr = '1-URGENT'")
    graft.sources.GraftDml.sql(s,
      s"""MERGE INTO `$root` AS t USING q138_feed AS f
         |ON t.o_orderkey = f.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q138Oracle: String =
    """WITH base AS (SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, o_orderpriority AS pr
      |  FROM orders),
      |feed AS (
      |  SELECT o_orderkey, o_custkey, 1.0 AS price, '0-SQL' AS pr
      |  FROM base WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 200000000, o_custkey, price, '9-SQLNEW'
      |  FROM base WHERE o_orderkey % 997 = 0),
      |d1 AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0),
      |u1 AS (SELECT o_orderkey, o_custkey,
      |    CASE WHEN pr = '1-URGENT' THEN price + 50 ELSE price END AS price, pr
      |  FROM d1),
      |m AS (
      |  SELECT * FROM u1
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM feed)
      |  UNION ALL SELECT * FROM feed)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM m GROUP BY pr ORDER BY pr""".stripMargin

  /** q139 — time travel BY TIMESTAMP through pure SQL: the head moves
    * past v1 (a CoW delete), and the aggregate reads
    * `graft_snapshot(root, TIMESTAMP '…')` with an instant captured
    * between the two commits — [[GraftCatalog.snapshotVersionAsOf]]
    * resolves it to v1 from ONE manifest-directory listing. The DuckDB
    * oracle aggregates the raw orders (v1 == full base): a hash match
    * proves "what did the table look like when last night's job ran"
    * is answerable from a notebook with no version number and no
    * Scala. The 15 ms pause pins the two manifests to distinct mtimes
    * (local-FS mtime granularity). */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val (root, _) = cloneBase(s, d, "snaptstvl")
    Thread.sleep(15)
    val ts = System.currentTimeMillis()
    Thread.sleep(15)
    GraftCatalog.deleteSnapshotWhere(s, root, col("o_orderkey") % 3 === 0)
    val tsLit = java.time.Instant.ofEpochMilli(ts)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    s.sql(
      s"""SELECT pr, COUNT(*) AS n,
         |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  COUNT(DISTINCT o_custkey) AS nc
         |FROM graft_snapshot('$root', TIMESTAMP '$tsLit')
         |GROUP BY pr ORDER BY pr""".stripMargin)
  }

  /** q140 — MERGE-ON-READ deletion vectors, oracle-reconciled: a
    * scattered delete (every 50th key — rows in EVERY file, the shape
    * where CoW's file rewrite is pure write amplification) publishes
    * one (path, pos) sidecar and ZERO rewritten data files, then a
    * second MoR delete accumulates on top, and the head aggregate runs
    * through the DV anti-join read path. The DuckDB oracle recomputes
    * both filters relationally from raw parquet: a hash match proves
    * merge-on-read == copy-on-write row-for-row, at 1/1000th the write
    * cost. The zero-rewrite property itself is spec-proven
    * (MorDvSpec); here the driver hashes the read semantics. */
  private def q140(s: SparkSession, d: String): DataFrame = {
    val (root, mk) = cloneBase(s, d, "snapmor")
    GraftCatalog.deleteSnapshotWhereMor(s, root, col("o_orderkey") % 50 === 7)
    GraftCatalog.deleteSnapshotWhereMor(s, root,
      col("o_orderkey") > mk / 2 && col("o_orderkey") % 10 === 3)
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q140Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |kept AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, o_orderpriority AS pr
      |  FROM orders, mk
      |  WHERE o_orderkey % 50 <> 7
      |    AND NOT (o_orderkey > mk // 2 AND o_orderkey % 10 = 3))
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM kept GROUP BY pr ORDER BY pr""".stripMargin

  /** q141 — PARTITION-SPEC EVOLUTION, oracle-reconciled: half of
    * orders commits under `bucket(4, o_custkey)`, the spec evolves to
    * `bucket(8, o_custkey)`, the other half commits under it, and a
    * point lookup runs through the predicate path over the MIXED-SPEC
    * table — each file pruned by the spec that wrote it (the file-count
    * proof is in SourcesCatalogSpec; here the driver hashes the read
    * semantics against DuckDB's raw recompute). The first-birthday
    * problem every real table hits: the launch layout stops fitting,
    * and re-partitioning 100 TB on the spot is not an option. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val (root, ck) = pooledTable(s, d, "snapevo") { root =>
      val orders = ordersDf(s, d)
      GraftCatalog.setSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_custkey", "bucket", 4)))
      GraftCatalog.commitSnapshot(
        orders.where(col("o_orderkey") % 2 === 0).repartition(1),
        root, append = false)
      GraftCatalog.evolveSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_custkey", "bucket", 8)))
      GraftCatalog.commitSnapshot(
        orders.where(col("o_orderkey") % 2 =!= 0).repartition(1),
        root, append = true)
      orders.agg(min("o_custkey")).head().getLong(0)
    }
    GraftCatalog.readSnapshot(s, root,
        predicate = Some(col("o_custkey") === ck))
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
      .orderBy("pr")
  }

  /** q142 — STORAGE-PARTITIONED JOIN, oracle-reconciled: orders and a
    * per-customer dimension land as two snapshot tables bucketed by
    * the SAME `bucket(8, o_custkey)` hidden spec, then join on the
    * bucket column through the DSv2 KeyGroupedPartitioning scans —
    * planned with ZERO shuffle exchanges (plan-asserted in
    * SourcesCatalogSpec; the conf is scoped to the DSv2 scans, so
    * setting it session-wide is inert for every other query). DuckDB
    * recomputes the join relationally: a hash match proves the
    * co-located join is the same join. At 100 TB this is a fact⋈fact
    * join that moves zero bytes over the network. */
  /** The two same-spec bucketed fixture tables q142/q144 join —
    * built once per JVM; also flips the session's v2-bucketing conf on
    * (scoped to DSv2 KeyGrouped scans, inert for every other query). */
  private def spjFixtures(s: SparkSession, d: String): (String, String) = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val (lroot, _) = pooledTable(s, d, "snapspjl") { root =>
      GraftCatalog.setSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_custkey", "bucket", 8)))
      GraftCatalog.commitSnapshot(ordersDf(s, d).repartition(1),
        root, append = false)
      0L
    }
    val (rroot, _) = pooledTable(s, d, "snapspjr") { root =>
      GraftCatalog.setSnapshotPartitionSpec(s, root,
        Seq(graft.sources.PartitionField("o_custkey", "bucket", 8)))
      GraftCatalog.commitSnapshot(
        ordersDf(s, d).groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("cust_total"))
          .repartition(1),
        root, append = false)
      0L
    }
    (lroot, rroot)
  }

  private def q142(s: SparkSession, d: String): DataFrame = {
    val (lroot, rroot) = spjFixtures(s, d)
    GraftCatalog.readSnapshotSpj(s, lroot)
      .join(GraftCatalog.readSnapshotSpj(s, rroot), "o_custkey")
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(cust_total AS DECIMAL(18,2))) AS DOUBLE)").as("joined_total"))
      .orderBy("pr")
  }

  private val q141Oracle: String =
    """WITH ck AS (SELECT MIN(o_custkey) AS ck FROM orders)
      |SELECT o_orderpriority AS pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
      |    AS DOUBLE) AS total
      |FROM orders, ck WHERE o_custkey = ck
      |GROUP BY pr ORDER BY pr""".stripMargin

  private val q142Oracle: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
      |      AS DOUBLE) AS cust_total
      |  FROM orders GROUP BY o_custkey)
      |SELECT o.o_orderpriority AS pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(c.cust_total AS DECIMAL(18,2))) AS DOUBLE) AS joined_total
      |FROM orders o JOIN cust c ON o.o_custkey = c.o_custkey
      |GROUP BY pr ORDER BY pr""".stripMargin

  /** q143 — MERGE-ON-READ update + upsert, oracle-reconciled: a MoR
    * UPDATE re-prices one priority class (DV over the old positions +
    * one appended batch, zero rewrites), then a MoR MERGE upserts a
    * feed derived from the RAW orders (matched keys DV'd, full batch
    * appended). DuckDB replays update-then-upsert relationally: a hash
    * match proves the delete-vector+append physics equals the
    * copy-on-write rewrite row-for-row — the full DML surface now runs
    * under BOTH write modes with identical logical results. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val (root, _) = cloneBase(s, d, "snapmorup")
    val orders = ordersDf(s, d)
    GraftCatalog.updateSnapshotWhereMor(s, root,
      col("pr") === "1-URGENT", Seq("price" -> (col("price") + 25.0)))
    val feed = orders.where(col("o_orderkey") % 53 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit(2.0).as("price"), lit("0-MOR").as("pr"))
      .unionByName(orders.where(col("o_orderkey") % 811 === 0)
        .select((col("o_orderkey") + 300000000L).as("o_orderkey"),
          col("o_custkey"), col("price"), lit("9-MORNEW").as("pr")))
    GraftCatalog.mergeSnapshotMor(s, root, feed, "o_orderkey")
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q143Oracle: String =
    """WITH base AS (SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, o_orderpriority AS pr
      |  FROM orders),
      |u1 AS (SELECT o_orderkey, o_custkey,
      |    CASE WHEN pr = '1-URGENT' THEN price + 25 ELSE price END AS price, pr
      |  FROM base),
      |feed AS (
      |  SELECT o_orderkey, o_custkey, 2.0 AS price, '0-MOR' AS pr
      |  FROM base WHERE o_orderkey % 53 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 300000000, o_custkey, price, '9-MORNEW'
      |  FROM base WHERE o_orderkey % 811 = 0),
      |m AS (
      |  SELECT * FROM u1
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM feed)
      |  UNION ALL SELECT * FROM feed)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM m GROUP BY pr ORDER BY pr""".stripMargin

  /** q153 — EQUALITY DELETE (Iceberg v2 equality-delete files),
    * oracle-reconciled: the orders clone takes a KEY-LIST purge
    * (`deleteSnapshotKeysMor` — one sidecar of key tuples + the
    * covered file list, ZERO data files read or written: the GDPR
    * spelling positional DVs can't give), then an APPEND re-inserts
    * two purged keys at a new price — the covered-set scoping must
    * let them survive (sequence-number semantics, manifest-side). The
    * head aggregate through the eq-aware read hash-matches DuckDB's
    * anti-join-then-union replay. */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val (root, _) = cloneBase(s, d, "snapeqdel")
    val orders = ordersDf(s, d)
    GraftCatalog.deleteSnapshotKeysMor(s, root,
      orders.where(col("o_orderkey") % 577 === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    val reinsert = orders.where(col("o_orderkey") % 1731 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit(1.0).as("price"), lit("0-EQBACK").as("pr"))
    GraftCatalog.commitSnapshot(reinsert, root, append = true)
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q153Oracle: String =
    """WITH base AS (SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, o_orderpriority AS pr
      |  FROM orders),
      |kept AS (SELECT * FROM base WHERE o_orderkey % 577 <> 0),
      |back AS (
      |  SELECT o_orderkey, o_custkey, 1.0 AS price, '0-EQBACK' AS pr
      |  FROM base WHERE o_orderkey % 1731 = 0),
      |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM back)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q144 — the storage-partitioned join through PURE SQL: q142's
    * co-located fact⋈dim, but the consumer is one SQL text over the
    * `graft_snapshot_spj` TVF — the shuffle-free join a Thrift user
    * actually types. Same fixtures, same DuckDB oracle. */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val (l, r) = spjFixtures(s, d)
    s.sql(
      s"""SELECT o.pr, COUNT(*) AS n,
         |  CAST(SUM(CAST(c.cust_total AS DECIMAL(18,2))) AS DOUBLE) AS joined_total
         |FROM graft_snapshot_spj('$l') o
         |JOIN graft_snapshot_spj('$r') c ON o.o_custkey = c.o_custkey
         |GROUP BY o.pr ORDER BY o.pr""".stripMargin)
  }

  /** q151 — MULTI-FIELD storage-partitioned join, oracle-reconciled:
    * both sides land under the COMPOSITE spec `(bucket(8, o_custkey),
    * identity(pr))` and join on BOTH columns through the composite
    * KeyGroupedPartitioning — zero shuffle exchanges on a two-column
    * join key (plan-asserted for the same shape in
    * SourcesCatalogSpec); DuckDB recomputes the join relationally, so
    * the hash match proves the tuple-aligned join is the same join. */
  private def spjMfFixtures(s: SparkSession, d: String): (String, String) = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val spec = Seq(graft.sources.PartitionField("o_custkey", "bucket", 8),
      graft.sources.PartitionField("pr", "identity"))
    val (lroot, _) = pooledTable(s, d, "snapspjmfl") { root =>
      GraftCatalog.setSnapshotPartitionSpec(s, root, spec)
      GraftCatalog.commitSnapshot(ordersDf(s, d).repartition(1),
        root, append = false)
      0L
    }
    val (rroot, _) = pooledTable(s, d, "snapspjmfr") { root =>
      GraftCatalog.setSnapshotPartitionSpec(s, root, spec)
      GraftCatalog.commitSnapshot(
        ordersDf(s, d).groupBy("o_custkey", "pr")
          .agg(count(lit(1)).as("n_orders"),
            expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)")
              .as("grp_total"))
          .repartition(1),
        root, append = false)
      0L
    }
    (lroot, rroot)
  }

  private def q151(s: SparkSession, d: String): DataFrame = {
    val (lroot, rroot) = spjMfFixtures(s, d)
    GraftCatalog.readSnapshotSpj(s, lroot)
      .join(GraftCatalog.readSnapshotSpj(s, rroot), Seq("o_custkey", "pr"))
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(grp_total AS DECIMAL(18,2))) AS DOUBLE)")
          .as("joined_total"))
      .orderBy("pr")
  }

  private val q151Oracle: String =
    """WITH g AS (
      |  SELECT o_custkey, o_orderpriority AS pr,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
      |      AS DOUBLE) AS grp_total
      |  FROM orders GROUP BY 1, 2)
      |SELECT g.pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(g.grp_total AS DECIMAL(18,2))) AS DOUBLE) AS joined_total
      |FROM orders o
      |JOIN g ON o.o_custkey = g.o_custkey AND o.o_orderpriority = g.pr
      |GROUP BY g.pr ORDER BY g.pr""".stripMargin

  /** q155 — the manifest-SEGMENT lifecycle on the driver gate: with
    * spec-sized thresholds (inline seal at 2 lines, include coalesce at
    * 3 pointers, stats chain depth 2 — set per-table via
    * `manifest.conf`, never the engine globals), orders
    * lands as a sealed 4-file overwrite, three O(delta) appends chain
    * segment pointers and stats deltas through a forced coalesce and a
    * forced chain flatten, a CoW delete re-inlines only the touched
    * segments' survivors, and `rewriteManifests` coalesces the lot back
    * to one segment + depth-0 stats. The DuckDB oracle recomputes the
    * end state straight from the raw parquet (union of all four modulo
    * slices minus the deleted rows), so a hash match proves the ENTIRE
    * segment machinery — carry, reseal, coalesce, chain, flatten,
    * filter-down, manual rewrite — is content-exact end-to-end. */
  private def q155(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val root = s"/tmp/graft-index/segments_${math.abs(d.hashCode.toLong)}"
    wipe(s, root)
    // Spec-sized thresholds via the per-TABLE manifest.conf surface —
    // scoped to this root only, so a commit to any other table running
    // concurrently in the same driver (bench, parallel specs) never
    // picks up segment-churning thresholds mid-flight. The engine
    // globals stay reserved for single-threaded specs.
    GraftCatalog.setSnapshotManifestConf(s, root,
      inlineMax = Some(2), maxIncludes = Some(3), statsDepthMax = Some(2))
    locally {
      GraftCatalog.commitSnapshot(
        orders.where(col("o_orderkey") % 4 === 0)
          .repartitionByRange(4, col("o_orderkey")), root, append = false)
      (1 to 3).foreach { k =>
        GraftCatalog.commitSnapshot(
          orders.where(col("o_orderkey") % 4 === k)
            .repartitionByRange(2, col("o_orderkey")), root, append = true)
      }
      // key-range delete: orderkey envelopes are TIGHT under the
      // range-partitioned writes, so only the files covering the first
      // percentile rewrite — the untouched segments carry as pointers
      // (the path the oracle then proves content-exact)
      val mk = orders.agg(max("o_orderkey")).head().getLong(0)
      GraftCatalog.deleteSnapshotWhere(s, root,
        col("o_orderkey") <= lit(mk / 100L))
      GraftCatalog.rewriteManifests(s, root)
      GraftCatalog.readSnapshot(s, root)
        .groupBy("pr")
        .agg(count(lit(1)).as("n"),
          expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
        .orderBy("pr")
    }
  }

  private val q155Oracle: String =
    """SELECT o_orderpriority AS pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE NOT (o_orderkey <= (SELECT MAX(o_orderkey) // 100 FROM orders))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q156 — validation-based serializable retry on the driver gate: a
    * MERGE loses its publish race to a PROVABLY key-disjoint append
    * (injected deterministically between the merge's pin and its
    * publish via the one-shot fault point) and, instead of aborting,
    * re-validates — consumed files alive, schema unchanged, no new
    * delete content, the racer's file outside the merge's key envelope
    * by stats — and re-publishes its already-written batch
    * metadata-only. The in-query `require` pins that the race really
    * fired and the merge landed OVER it (one version later than its
    * pin), and the DuckDB oracle recomputes the sequential
    * (append ∥ merge) end state from raw parquet: a hash match proves
    * the retried history is serializable, row-for-row. */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snaprace")
    val v0 = GraftCatalog.snapshotVersions(s, root).last
    GraftCatalog.cowPublishFault.put(root, new Runnable {
      def run(): Unit = {
        GraftCatalog.commitSnapshot(
          orders.where(col("o_orderkey") % 500 === 0)
            .select((col("o_orderkey") + lit(200000000L)).as("o_orderkey"),
              col("o_custkey"), col("price"), lit("8-RACE").as("pr")),
          root, append = true)
        ()
      }
    })
    val updates = orders
      .where(col("o_orderkey") % 10 === 0 && col("o_orderkey") <= mk / 4)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price") + lit(100.0)).as("price"), lit("0-RUSH").as("pr"))
    val landed = GraftCatalog.mergeSnapshot(s, root, updates, "o_orderkey")
    require(landed == v0 + 2,
      s"the merge must have lost the race AND re-published (expected v${v0 + 2}, " +
        s"landed v$landed) — a plain success means the fault never fired")
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q156Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |upd AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) + 100.0 AS price, '0-RUSH' AS pr
      |  FROM orders, mk WHERE o_orderkey % 10 = 0 AND o_orderkey <= mk // 4),
      |race AS (
      |  SELECT o_orderkey + 200000000 AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '8-RACE' AS pr
      |  FROM orders WHERE o_orderkey % 500 = 0),
      |base AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
      |fin AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM race)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q157 — multi-statement TRANSACTION on the driver gate: a MERGE
    * (price bump on every 10th key in the first quartile), a DELETE
    * (drop keys in the last percentile) and an INSERT (shifted-key
    * block) run as ONE [[GraftCatalog.transactSnapshot]] body and land
    * as ONE reader-visible version flip — the in-query `require` pins
    * the single-flip contract (head == fork + 1). The DuckDB oracle
    * recomputes the composed end state relationally from raw parquet,
    * so a hash match proves BEGIN…COMMIT over three verbs equals the
    * sequential application, row-for-row. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snaptxn")
    val v0 = GraftCatalog.snapshotVersions(s, root).last
    val landed = GraftCatalog.transactSnapshot(s, root) { br =>
      GraftCatalog.mergeSnapshot(s, br,
        orders.where(col("o_orderkey") % 10 === 0 && col("o_orderkey") <= mk / 4)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("price") + lit(100.0)).as("price"), lit("0-RUSH").as("pr")),
        "o_orderkey")
      GraftCatalog.deleteSnapshotWhere(s, br,
        col("o_orderkey") > lit(mk - mk / 100L))
      GraftCatalog.commitSnapshot(
        orders.where(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + lit(300000000L)).as("o_orderkey"),
            col("o_custkey"), col("price"), lit("9-TXN").as("pr")),
        br, append = true)
      ()
    }
    require(landed == v0 + 1,
      s"three verbs must land as ONE flip (expected v${v0 + 1}, got v$landed)")
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q157Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |upd AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) + 100.0 AS price, '0-RUSH' AS pr
      |  FROM orders, mk WHERE o_orderkey % 10 = 0 AND o_orderkey <= mk // 4),
      |ins AS (
      |  SELECT o_orderkey + 300000000 AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '9-TXN' AS pr
      |  FROM orders WHERE o_orderkey % 1000 = 0),
      |base AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
      |merged AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM upd),
      |afterdel AS (
      |  SELECT m.* FROM merged m, mk
      |  WHERE NOT (m.o_orderkey > mk - mk // 100)),
      |fin AS (
      |  SELECT * FROM afterdel UNION ALL SELECT * FROM ins)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q158 — transaction carrying MERGE-ON-READ content across a race
    * (r17): the body MoR-deletes a key band (deletion vector, no
    * rewrite) and appends a block on its private fork while a
    * deterministic disjoint racer commits to the parent mid-body. The
    * fast-forward necessarily fails; the scope-proved revalidated
    * commit GRAFTS the branch's DV sidecar onto the racer's head and
    * lands the whole body as ONE flip over it — the in-query `require`
    * pins exactly that shape (racer v+1, tx v+2). The DuckDB oracle
    * recomputes the composed end state relationally: a hash match
    * proves the grafted deletion vector is honored row-for-row in the
    * serial (racer, tx) order. */
  private def q158(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (root, mk) = cloneBase(s, d, "snaptxnmor")
    val v0 = GraftCatalog.snapshotVersions(s, root).last
    // mk-RELATIVE bands: the insert block lands in [4(mk+1), 5(mk+1)),
    // the racer in [8(mk+1), 9(mk+1)) — disjoint from the scope and
    // from each other at ANY scale factor, so the declared scope
    // covers exactly what the body touches whatever the data size
    // (an absolute offset would under-scope the claim at large SFs).
    val insOff = 4L * (mk + 1)
    val raceOff = 8L * (mk + 1)
    val landed = GraftCatalog.transactSnapshot(s, root,
      scope = Some(col("o_orderkey") <= lit(mk / 2) ||
        (col("o_orderkey") >= lit(insOff) &&
          col("o_orderkey") < lit(insOff + mk + 1)))) { br =>
      // deterministic disjoint racer: lands on the PARENT mid-body,
      // strictly outside the transaction's declared scope
      GraftCatalog.commitSnapshot(
        orders.where(col("o_orderkey") % 500 === 0)
          .select((col("o_orderkey") + lit(raceOff)).as("o_orderkey"),
            col("o_custkey"), col("price"), lit("8-RACE").as("pr")),
        root, append = true)
      GraftCatalog.deleteSnapshotWhereMor(s, br,
        col("o_orderkey") % 7 === 0 && col("o_orderkey") <= lit(mk / 2))
      GraftCatalog.commitSnapshot(
        orders.where(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + lit(insOff)).as("o_orderkey"),
            col("o_custkey"), col("price"), lit("9-TXM").as("pr")),
        br, append = true)
      ()
    }
    require(landed == v0 + 2,
      s"racer v${v0 + 1} then ONE grafted tx flip v${v0 + 2}, got v$landed " +
        "— a plain fast-forward means the race never fired")
    GraftCatalog.readSnapshot(s, root)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .orderBy("pr")
  }

  private val q158Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |ins AS (
      |  SELECT o_orderkey + 4 * (mk + 1) AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '9-TXM' AS pr
      |  FROM orders, mk WHERE o_orderkey % 1000 = 0),
      |race AS (
      |  SELECT o_orderkey + 8 * (mk + 1) AS o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price, '8-RACE' AS pr
      |  FROM orders, mk WHERE o_orderkey % 500 = 0),
      |base AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
      |    o_orderpriority AS pr
      |  FROM orders, mk
      |  WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey <= mk // 2)),
      |fin AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM ins
      |  UNION ALL SELECT * FROM race)
      |SELECT pr, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT o_custkey) AS nc
      |FROM fin GROUP BY pr ORDER BY pr""".stripMargin

  /** q159 — CROSS-TABLE transaction on the driver gate: a CoW DELETE
    * of a key band on table A and the band's audit summary appended to
    * table B run as ONE [[GraftCatalog.transactSnapshotMulti]] body;
    * both tables flip behind one marker create, each exactly one
    * version (`require`d). The result unions both tables' end states;
    * the DuckDB oracle recomputes the pair relationally from raw
    * parquet, so a hash match proves the two flips carry exactly the
    * composed (delete, audit) effect. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val orders = ordersDf(s, d)
    val (rootA, mk) = cloneBase(s, d, "snapmtxa")
    val rootB = s"/tmp/graft-index/snapmtxb_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(
      s.range(1).select(lit("A-SEED").as("pr"), lit(0L).as("n"),
        lit(0.0).as("total"), lit(0L).as("nc")),
      rootB, append = false)
    val vA = GraftCatalog.snapshotVersions(s, rootA).last
    val band = col("o_orderkey") % 9 === 0 && col("o_orderkey") <= lit(mk / 3)
    val landed = GraftCatalog.transactSnapshotMulti(s, Seq(rootA, rootB)) {
      case Seq(ba, bb) =>
        GraftCatalog.deleteSnapshotWhere(s, ba, band)
        GraftCatalog.commitSnapshot(
          orders.where(band).agg(
            count(lit(1)).as("n"),
            expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
            countDistinct(col("o_custkey")).as("nc"))
            .select(lit("Z-AUDIT").as("pr"), col("n"), col("total"), col("nc")),
          bb, append = true)
        ()
      case _ => throw new IllegalStateException("two branches expected")
    }
    require(landed(rootA) == vA + 1 && landed(rootB) == 2L,
      s"both tables must flip exactly once, atomically: $landed")
    GraftCatalog.readSnapshot(s, rootA)
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        countDistinct(col("o_custkey")).as("nc"))
      .unionByName(GraftCatalog.readSnapshot(s, rootB)
        .where(col("pr") =!= "A-SEED")
        .select(col("pr"), col("n"), col("total"), col("nc")))
      .orderBy("pr")
  }

  private val q159Oracle: String =
    """WITH mk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |band AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
      |  FROM orders, mk WHERE o_orderkey % 9 = 0 AND o_orderkey <= mk // 3),
      |rest AS (
      |  SELECT o_orderpriority AS pr, o_custkey,
      |    CAST(o_totalprice AS DOUBLE) AS price
      |  FROM orders, mk
      |  WHERE NOT (o_orderkey % 9 = 0 AND o_orderkey <= mk // 3)),
      |agg_a AS (
      |  SELECT pr, COUNT(*) AS n,
      |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |    COUNT(DISTINCT o_custkey) AS nc
      |  FROM rest GROUP BY pr),
      |audit AS (
      |  SELECT 'Z-AUDIT' AS pr, COUNT(*) AS n,
      |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |    COUNT(DISTINCT o_custkey) AS nc
      |  FROM band)
      |SELECT * FROM agg_a UNION ALL SELECT * FROM audit ORDER BY pr"""
      .stripMargin

  val all: Seq[Q] = Seq(
    Q("q159_txn_multi", Some(q159Oracle), q159),
    Q("q158_txn_mor", Some(q158Oracle), q158),
    Q("q157_transaction", Some(q157Oracle), q157),
    Q("q156_merge_race_serializable", Some(q156Oracle), q156),
    Q("q155_segmented_commits", Some(q155Oracle), q155),
    Q("q151_spj_multifield", Some(q151Oracle), q151),
    Q("q117_merge_cow", Some(q117Oracle), q117),
    Q("q119_delete_cow", Some(q119Oracle), q119),
    Q("q122_update_cow", Some(q122Oracle), q122),
    Q("q123_incr_mv", Some(q123Oracle), q123),
    Q("q124_replace_where", Some(q124Oracle), q124),
    Q("q126_cdc_apply", Some(q126Oracle), q126),
    Q("q129_auto_skip", Some(q129Oracle), q129),
    Q("q130_tvf_sql", Some(q130Oracle), q130),
    Q("q131_changes_tvf", Some(q131Oracle), q131),
    Q("q132_cdc_lastwins", Some(q132Oracle), q132),
    Q("q133_hidden_partition", Some(q133Oracle), q133),
    Q("q134_partition_describe", Some(q134Oracle), q134),
    Q("q135_tag_tvf", Some(q135Oracle), q135),
    Q("q136_bloom_prune", Some(q133Oracle), q136),
    Q("q137_partitions_tvf", Some(q134Oracle), q137),
    Q("q138_sql_dml", Some(q138Oracle), q138),
    Q("q139_timestamp_travel", Some(q135Oracle), q139),
    Q("q140_mor_delete", Some(q140Oracle), q140),
    Q("q141_spec_evolution", Some(q141Oracle), q141),
    Q("q142_spj_join", Some(q142Oracle), q142),
    Q("q143_mor_upsert", Some(q143Oracle), q143),
    Q("q153_eq_delete", Some(q153Oracle), q153),
    Q("q144_spj_sql", Some(q142Oracle), q144))
}

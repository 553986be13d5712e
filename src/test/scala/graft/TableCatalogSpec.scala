package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** The SQL-catalog surface: a [[graft.sources.GraftTableCatalog]]
  * session where the FULL table lifecycle — CREATE/CTAS, INSERT,
  * SELECT (with the engine's file/tuple/bloom pruning and DV
  * anti-joins), time travel, UPDATE/DELETE/MERGE, ALTER, RENAME,
  * DROP — is plain SQL against `graft.ns.tbl` identifiers, no Scala
  * call sites. One session is built per suite (catalog + extensions
  * are session-construction options) and reused across tests. */
class TableCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  override def afterAll(): Unit = {
    // later suites rely on the shared session being active/default
    SparkSession.setActiveSession(TestSpark.spark)
    SparkSession.setDefaultSession(TestSpark.spark)
  }

  private val warehouse = s"/tmp/graft-cat-wh-${System.nanoTime()}"

  private lazy val spark: SparkSession = {
    TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-catalog")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.catalog.graft", "graft.sources.GraftTableCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sql("CREATE NAMESPACE graft.db")
    s
  }

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum

  test("CREATE TABLE / INSERT INTO / SELECT round trip with casts") {
    spark.sql(
      "CREATE TABLE graft.db.orders (id BIGINT, grp BIGINT, amt DOUBLE)")
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("orders"))
    // a freshly created table reads as EMPTY with the declared schema
    val empty = spark.sql("SELECT * FROM graft.db.orders")
    assert(empty.columns.toSeq == Seq("id", "grp", "amt") && empty.count() == 0)
    // INSERT takes the native v2 path: positional alignment + implicit
    // casts (int literals into BIGINT, int into DOUBLE)
    spark.sql("INSERT INTO graft.db.orders VALUES (1, 10, 5.0), (2, 10, 7)")
    spark.sql(
      "INSERT INTO graft.db.orders SELECT id, 20, CAST(id AS DOUBLE) " +
        "FROM range(3, 5)")
    val rows = spark.sql(
      "SELECT id, grp, amt FROM graft.db.orders ORDER BY id").collect()
    assert(rows.toSeq == Seq(Row(1L, 10L, 5.0), Row(2L, 10L, 7.0),
      Row(3L, 20L, 3.0), Row(4L, 20L, 4.0)))
    // aggregate through the catalog read
    assert(spark.sql(
      "SELECT sum(amt) FROM graft.db.orders WHERE grp = 10")
      .head().getDouble(0) == 12.0)
  }

  test("INSERT OVERWRITE replaces; VERSION/TIMESTAMP AS OF time travel") {
    spark.sql("CREATE TABLE graft.db.tt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.tt VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT OVERWRITE graft.db.tt VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM graft.db.tt").collect().toSeq ==
      Seq(Row(9L, "z")))
    // v1 = empty create, v2 = first insert, v3 = overwrite
    assert(spark.sql("SELECT * FROM graft.db.tt VERSION AS OF 1").count() == 0)
    assert(spark.sql(
      "SELECT k FROM graft.db.tt VERSION AS OF 2 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a TAG resolves through VERSION AS OF too
    val root = s"$warehouse/db/tt"
    GraftCatalog.tagSnapshot(spark, root, "first_load", 2L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.tt VERSION AS OF 'first_load'")
      .head().getLong(0) == 2L)
    // TIMESTAMP AS OF: anything >= v3's commit time reads the head
    assert(spark.sql(
      "SELECT * FROM graft.db.tt TIMESTAMP AS OF '2262-01-01 00:00:00'")
      .collect().toSeq == Seq(Row(9L, "z")))
  }

  test("hidden partitioning via PARTITIONED BY prunes catalog reads") {
    spark.sql(
      """CREATE TABLE graft.db.pt (id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.range(1000).select(col("id"), (col("id") % 97).as("v"))
      .repartition(1).createOrReplaceTempView("pt_feed")
    spark.sql("INSERT INTO graft.db.pt SELECT * FROM pt_feed")
    val q = spark.sql("SELECT * FROM graft.db.pt WHERE id = 123")
    assert(q.collect().toSeq == Seq(Row(123L, 123L % 97)))
    assert(scanFiles(q) == 1,
      "bucket tuple pruning must reach the catalog read: 1 of 4 files")
    // SHOW CREATE-adjacent surfaces: partitioning is reported back
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.db.pt")
      .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("bucket(4, id)"))
  }

  test("UPDATE / DELETE / MERGE as SQL against catalog identifiers") {
    spark.sql("CREATE TABLE graft.db.dml (id BIGINT, grp BIGINT, amt BIGINT)")
    spark.sql("INSERT INTO graft.db.dml SELECT id, id % 2, id " +
      "FROM range(0, 100)")
    spark.sql("DELETE FROM graft.db.dml WHERE grp = 0")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.dml WHERE grp = 0").head().getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM graft.db.dml").head().getLong(0) == 50)
    spark.sql("UPDATE graft.db.dml SET amt = amt * 10 WHERE id < 10")
    assert(spark.sql(
      "SELECT sum(amt) FROM graft.db.dml WHERE id < 10").head().getLong(0) ==
      (1L + 3 + 5 + 7 + 9) * 10)
    // MERGE with a differently-named source key resolves by exprId side
    spark.sql("SELECT 1L AS src_id, 7L AS grp, 999L AS amt " +
      "UNION ALL SELECT 200L, 7L, 1L").createOrReplaceTempView("dml_feed")
    spark.sql(
      """MERGE INTO graft.db.dml AS t USING dml_feed AS s
        |ON t.id = s.src_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT grp, amt FROM graft.db.dml WHERE id = 1")
      .head() == Row(7L, 999L))
    assert(spark.sql("SELECT count(*) FROM graft.db.dml WHERE id = 200")
      .head().getLong(0) == 1L)
  }

  test("general MERGE through the catalog resolves same-named columns by side") {
    // the round-11 ambiguity bug: on the catalog-resolved path the
    // condition/assignments arrive as resolved AttributeReferences;
    // re-opening them to BARE names made `t.amt < s.amt` ambiguous at
    // run time. unresolveSided re-qualifies by owning side instead.
    spark.sql("CREATE TABLE graft.db.gm (id BIGINT, amt BIGINT)")
    spark.sql("INSERT INTO graft.db.gm SELECT id, id FROM range(0, 10)")
    spark.sql("SELECT 3L AS id, 100L AS amt UNION ALL SELECT 50L, 7L")
      .createOrReplaceTempView("gm_feed")
    spark.sql(
      """MERGE INTO graft.db.gm AS t USING gm_feed AS s
        |ON t.id = s.id
        |WHEN MATCHED AND t.amt < s.amt THEN UPDATE SET amt = t.amt + s.amt
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT amt FROM graft.db.gm WHERE id = 3")
      .head().getLong(0) == 103L, "conditional cross-side assignment applies")
    assert(spark.sql("SELECT amt FROM graft.db.gm WHERE id = 50")
      .head().getLong(0) == 7L, "unmatched source row inserts")
    assert(spark.sql("SELECT count(*) FROM graft.db.gm").head().getLong(0) == 11L)
  }

  test("ALTER to merge-on-read: SQL DELETE publishes a DV, no rewrite") {
    spark.sql("CREATE TABLE graft.db.mor (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.mor SELECT id, id AS v FROM range(0, 1000)")
    spark.sql(
      "ALTER TABLE graft.db.mor SET TBLPROPERTIES ('write.mode' = 'mor')")
    val root = s"$warehouse/db/mor"
    assert(GraftCatalog.snapshotWriteMode(spark, root) == "mor")
    val dataFilesBefore = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    spark.sql("DELETE FROM graft.db.mor WHERE id IN (3, 500, 997)")
    val dataFilesAfter = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    assert(dataFilesAfter == dataFilesBefore,
      "MoR delete must publish zero rewritten data files")
    assert(spark.sql("SELECT count(*) FROM graft.db.mor").head().getLong(0) ==
      997L, "catalog read must apply the deletion vector")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.mor WHERE id IN (3, 500, 997)")
      .head().getLong(0) == 0L)
  }

  test("ALTER TABLE ALTER COLUMN TYPE widens int→bigint as pure metadata") {
    spark.sql("CREATE TABLE graft.db.widen (id BIGINT, v INT)")
    spark.sql("INSERT INTO graft.db.widen SELECT id, CAST(id AS INT) FROM range(0, 100)")
    val root = s"$warehouse/db/widen"
    val filesBefore = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    spark.sql("ALTER TABLE graft.db.widen ALTER COLUMN v TYPE BIGINT")
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == filesBefore,
      "widening through the catalog must publish zero data files")
    assert(spark.table("graft.db.widen").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // a beyond-int value now inserts through the ordinary SQL path
    spark.sql("INSERT INTO graft.db.widen VALUES (500, 10000000000)")
    assert(spark.sql("SELECT sum(v) FROM graft.db.widen").head().getLong(0) ==
      4950L + 10000000000L)
    // narrowing rejects — Spark's own analysis refuses it before the
    // catalog is even consulted
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.widen ALTER COLUMN v TYPE INT"))
    assert(e.getMessage.toUpperCase.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("not a safe"))
  }

  test("ALTER TABLE RENAME COLUMN: pure metadata, verbs + travel + pruning") {
    spark.sql("CREATE TABLE graft.db.rc (id BIGINT, amt DOUBLE, note STRING)")
    spark.sql(
      "INSERT INTO graft.db.rc SELECT id, CAST(id AS DOUBLE), concat('n', id) " +
        "FROM range(0, 100)")
    val root = s"$warehouse/db/rc"
    val filesBefore = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    spark.sql("ALTER TABLE graft.db.rc RENAME COLUMN amt TO amount")
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == filesBefore,
      "column rename must publish zero data files")
    // old files serve the NEW name; schema shows it
    assert(spark.table("graft.db.rc").columns.toSeq ==
      Seq("id", "amount", "note"))
    assert(spark.sql("SELECT sum(amount) FROM graft.db.rc").head().getDouble(0)
      == 4950.0)
    // time travel serves each version's OWN names
    val v2 = spark.sql("SELECT * FROM graft.db.rc VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("id", "amt", "note"),
      "pre-rename versions keep the old name")
    assert(v2.agg(sum("amt")).head().getDouble(0) == 4950.0)
    // inserts after the rename land under the logical name and the
    // physical storage name stays consistent (old + new files serve one
    // logical column)
    spark.sql("INSERT INTO graft.db.rc VALUES (100, 1000.0, 'x')")
    assert(spark.sql("SELECT sum(amount) FROM graft.db.rc").head().getDouble(0)
      == 5950.0)
    // stats pruning binds through the mapping: an equality far outside
    // one file's envelope must not open it (two files now: b0 0..99,
    // b1 the single row 100)
    // The equality at 1000 must drop every part of the 100-row batch
    // (envelopes within [0,99]) — a strict subset proves the stat
    // consult binds through the mapping (unmapped, the logical name
    // matches no recorded column and NOTHING would prune).
    val allFiles = GraftCatalog.snapshotScanFiles(spark, root)._1
    val pruned = GraftCatalog.snapshotScanFiles(spark, root,
      predicate = Some(col("amount") === 1000.0))._1
    assert(pruned.size < allFiles.size,
      "stat envelopes must prune on the renamed column")
    // row-level verbs key on the renamed column
    spark.sql("UPDATE graft.db.rc SET amount = amount + 0.5 WHERE id = 100")
    assert(spark.sql("SELECT amount FROM graft.db.rc WHERE id = 100")
      .head().getDouble(0) == 1000.5)
    spark.sql("DELETE FROM graft.db.rc WHERE amount > 999.0")
    assert(spark.sql("SELECT count(*) FROM graft.db.rc").head().getLong(0)
      == 100L)
    spark.sql(
      "MERGE INTO graft.db.rc t USING (SELECT 5L AS id, 55.0 AS amount, " +
        "'m' AS note) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET t.amount = s.amount " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT amount FROM graft.db.rc WHERE id = 5")
      .head().getDouble(0) == 55.0)
    // CDC serves the LATEST logical names
    val head = GraftCatalog.snapshotVersions(spark, root).last
    val ch = GraftCatalog.readChanges(spark, root, head - 1, head)
    assert(ch.columns.contains("amount") && !ch.columns.contains("amt"))
    // adding a column that reuses the pre-rename storage name rejects
    val collide = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.rc ADD COLUMN amt DOUBLE"))
    assert(collide.getMessage.contains("collision"))
    // renaming BACK drops the mapping and keeps values
    spark.sql("ALTER TABLE graft.db.rc RENAME COLUMN amount TO amt")
    assert(spark.sql("SELECT sum(amt) FROM graft.db.rc").head().getDouble(0)
      == 5000.0)
    assert(GraftCatalog.snapshotSchema(spark, root).get("amt")
      .metadata.contains("graft.physical") == false,
      "rename back to the storage name must drop the mapping")
  }

  test("chained renames (x->z then y->x) translate atomically on read and write") {
    // physicalMap becomes {z->x, x->y}: logical x sits on physical y
    // while ANOTHER logical column (z) owns physical x. A sequential
    // withColumnRenamed fold can rename onto a still-present name and
    // corrupt both; the atomic select projection cannot.
    spark.sql("CREATE TABLE graft.db.chain (x BIGINT, y BIGINT)")
    spark.sql("INSERT INTO graft.db.chain SELECT id, id * 100 FROM range(0, 10)")
    spark.sql("ALTER TABLE graft.db.chain RENAME COLUMN x TO z")
    spark.sql("ALTER TABLE graft.db.chain RENAME COLUMN y TO x")
    assert(spark.table("graft.db.chain").columns.toSeq == Seq("z", "x"))
    assert(spark.sql("SELECT sum(z) FROM graft.db.chain").head().getLong(0) == 45L)
    assert(spark.sql("SELECT sum(x) FROM graft.db.chain").head().getLong(0) == 4500L)
    // writes route each logical column to ITS physical storage name
    spark.sql("INSERT INTO graft.db.chain VALUES (1000, 2000)")
    assert(spark.sql("SELECT x FROM graft.db.chain WHERE z = 1000")
      .head().getLong(0) == 2000L)
    // row-level verbs bind through the crossed mapping too
    spark.sql("UPDATE graft.db.chain SET x = x + 1 WHERE z = 0")
    assert(spark.sql("SELECT x FROM graft.db.chain WHERE z = 0")
      .head().getLong(0) == 1L)
    assert(spark.sql("SELECT sum(z) FROM graft.db.chain").head().getLong(0)
      == 1045L)
  }

  test("nested-field RENAME + type widening: pure metadata, verbs + travel") {
    spark.sql("CREATE TABLE graft.db.nrw (id BIGINT, props STRUCT<a: INT, b: STRING>)")
    spark.sql("INSERT INTO graft.db.nrw SELECT id, " +
      "named_struct('a', CAST(id AS INT), 'b', concat('s', id)) FROM range(0, 50)")
    val root = s"$warehouse/db/nrw"
    val before = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    // nested RENAME: props.a -> props.score, zero data files
    spark.sql("ALTER TABLE graft.db.nrw RENAME COLUMN props.a TO score")
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == before,
      "nested rename must publish zero data files")
    assert(spark.table("graft.db.nrw").schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("score", "b"))
    assert(spark.sql("SELECT sum(props.score) FROM graft.db.nrw")
      .head().getLong(0) == 1225L,
      "old files must serve the renamed subfield")
    // nested WIDEN: score INT -> BIGINT, still zero data files
    spark.sql("ALTER TABLE graft.db.nrw ALTER COLUMN props.score TYPE BIGINT")
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == before)
    assert(spark.table("graft.db.nrw").schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("score")
      .dataType == org.apache.spark.sql.types.LongType)
    // a write after both: logical subfield name in, physical name stored,
    // value beyond int range proves the widened read path end-to-end
    spark.sql("INSERT INTO graft.db.nrw VALUES " +
      "(100, named_struct('score', CAST(3000000000 AS BIGINT), 'b', 'x'))")
    assert(spark.sql("SELECT sum(props.score) FROM graft.db.nrw")
      .head().getLong(0) == 3000001225L)
    // predicates and row-level verbs bind through the nested mapping
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.nrw WHERE props.score > 40").head()
      .getLong(0) == 10L)
    spark.sql("UPDATE graft.db.nrw SET id = id + 1000 WHERE props.score = 3000000000")
    assert(spark.sql("SELECT id FROM graft.db.nrw WHERE props.score = 3000000000")
      .head().getLong(0) == 1100L)
    // time travel serves each version's OWN nested shape and type
    val v2 = spark.sql("SELECT * FROM graft.db.nrw VERSION AS OF 2")
    assert(v2.schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("a", "b"),
      "pre-rename versions keep the old subfield name")
    assert(v2.selectExpr("sum(props.a)").head().getLong(0) == 1225L)
    // adding a subfield that reuses the pre-rename storage name rejects
    val collide = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.nrw ADD COLUMN props.a DOUBLE"))
    assert(collide.getMessage.contains("collision"))
    // renaming BACK drops the mapping
    spark.sql("ALTER TABLE graft.db.nrw RENAME COLUMN props.score TO a")
    assert(spark.sql("SELECT sum(props.a) FROM graft.db.nrw")
      .head().getLong(0) == 3000001225L)
    assert(!GraftCatalog.snapshotSchema(spark, root).get("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a")
      .metadata.contains("graft.physical"),
      "rename back to the storage name must drop the mapping")
  }

  test("nested-field ALTER: ADD/DROP struct subfields as pure metadata + time travel") {
    spark.sql("CREATE TABLE graft.db.nst " +
      "(id BIGINT, props STRUCT<a: BIGINT, b: STRING>)")
    spark.sql("INSERT INTO graft.db.nst SELECT id, " +
      "named_struct('a', id * 2, 'b', concat('s', id)) FROM range(0, 50)")
    val root = s"$warehouse/db/nst"
    val filesBefore = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    // ADD a nested subfield: old files read NULL for it
    spark.sql("ALTER TABLE graft.db.nst ADD COLUMN props.score DOUBLE")
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == filesBefore,
      "nested ADD must publish zero data files")
    assert(spark.table("graft.db.nst").schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("a", "b", "score"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.nst WHERE props.score IS NULL")
      .head().getLong(0) == 50L,
      "pre-evolution files must serve NULL for the new subfield")
    // writes may now carry it
    spark.sql("INSERT INTO graft.db.nst VALUES " +
      "(100, named_struct('a', 200L, 'b', 'x', 'score', 0.75))")
    assert(spark.sql(
      "SELECT sum(props.score) FROM graft.db.nst").head().getDouble(0) == 0.75)
    assert(spark.sql("SELECT sum(props.a) FROM graft.db.nst")
      .head().getLong(0) == 2450L + 200L)
    // DROP a nested subfield: projection narrows, bytes stay
    spark.sql("ALTER TABLE graft.db.nst DROP COLUMN props.b")
    assert(spark.table("graft.db.nst").schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("a", "score"))
    // time travel serves each version's own nested shape
    val v2 = spark.sql("SELECT * FROM graft.db.nst VERSION AS OF 2")
    assert(v2.schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("a", "b"),
      "the pre-evolution version keeps its own shape")
    assert(v2.selectExpr("sum(length(props.b))").head().getLong(0) > 0)
    // a CHECK on a nested field blocks dropping it
    GraftCatalog.addSnapshotCheck(spark, root, "a_pos", "props.a >= 0")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.nst DROP COLUMN props.a"))
    assert(e.getMessage.contains("CHECK"))
    GraftCatalog.dropSnapshotCheck(spark, root, "a_pos")
    // descending through a non-struct rejects loudly
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.nst ADD COLUMN id.sub INT"))
    assert(e2.getMessage.contains("not a struct"))
  }

  test("RENAME COLUMN rejects layout and CHECK-referenced columns") {
    spark.sql("CREATE TABLE graft.db.rcl (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.db.rcl VALUES (1, 1.0)")
    val layoutErr = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.rcl RENAME COLUMN k TO kk"))
    assert(layoutErr.getMessage.contains("partition spec"))
    val root = s"$warehouse/db/rcl"
    GraftCatalog.addSnapshotCheck(spark, root, "v_pos", "v >= 0")
    val checkErr = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.rcl RENAME COLUMN v TO w"))
    assert(checkErr.getMessage.contains("CHECK"))
    GraftCatalog.dropSnapshotCheck(spark, root, "v_pos")
    spark.sql("ALTER TABLE graft.db.rcl RENAME COLUMN v TO w")
    assert(spark.sql("SELECT sum(w) FROM graft.db.rcl").head().getDouble(0)
      == 1.0)
  }

  test("CTAS, RENAME with metadata migration, DROP") {
    spark.sql(
      "CREATE TABLE graft.db.ctas AS SELECT id, id * 2 AS dbl FROM range(0, 10)")
    assert(spark.sql("SELECT sum(dbl) FROM graft.db.ctas").head().getLong(0) == 90)
    // build rename-hostile state: a second version, a tag pinning v1,
    // and a merge-on-read DV (its sidecar keys absolute paths too)
    spark.sql("INSERT INTO graft.db.ctas SELECT id, id * 2 FROM range(10, 20)")
    spark.sql("CALL graft.system.tag('db.ctas', 'pre_rename', 2)")
    spark.sql("ALTER TABLE graft.db.ctas SET TBLPROPERTIES ('write.mode' = 'mor')")
    spark.sql("DELETE FROM graft.db.ctas WHERE id IN (3, 15)")
    spark.sql("ALTER TABLE graft.db.ctas RENAME TO db.ctas2")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("ctas"), "old name must vanish")
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas2").head().getLong(0)
      == 18L, "head read under the new name must apply the migrated DV")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.ctas2 WHERE id IN (3, 15)")
      .head().getLong(0) == 0L)
    // time travel + tags survive the move
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas2 VERSION AS OF 1")
      .head().getLong(0) == 0L, "v1 is the empty CREATE commit")
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas2 VERSION AS OF 2")
      .head().getLong(0) == 10L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.ctas2 VERSION AS OF 'pre_rename'")
      .head().getLong(0) == 10L)
    // writes land under the new root
    spark.sql("INSERT INTO graft.db.ctas2 VALUES (100, 200)")
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas2").head().getLong(0)
      == 19L)
    // renaming onto an existing table rejects
    spark.sql("CREATE TABLE graft.db.ctas3 (id BIGINT)")
    intercept[Exception](
      spark.sql("ALTER TABLE graft.db.ctas2 RENAME TO db.ctas3"))
    // the CALL spelling (path-addressed tables get the same verb)
    val nr = spark.sql("CALL graft.system.rename('db.ctas2', 'db.ctas4')")
    assert(nr.columns.toSeq == Seq("new_root") &&
      nr.head().getString(0).endsWith("/db/ctas4"))
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas4").head().getLong(0)
      == 19L)
    spark.sql("DROP TABLE graft.db.ctas4")
    spark.sql("DROP TABLE graft.db.ctas3")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("ctas2"))
  }

  test("CALL graft.system: compact, rollback, tag, vacuum") {
    spark.sql("CREATE TABLE graft.db.mnt (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.mnt SELECT id, id AS v FROM range(0, 100)")
    spark.sql("INSERT INTO graft.db.mnt SELECT id, id AS v FROM range(100, 200)")
    val root = s"$warehouse/db/mnt"
    // two appended batches → ≥2 files; compact folds them to one
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.size >= 2)
    val cv = spark.sql("CALL graft.system.compact('db.mnt')")
    assert(cv.columns.toSeq == Seq("version") && cv.head().getLong(0) == 4L)
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.size == 1)
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.db.mnt").head() ==
      Row(200L, (0L until 200L).sum))
    // rollback to the first insert, tag it, read through the tag
    assert(spark.sql("CALL graft.system.rollback('db.mnt', 2)")
      .head().getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM graft.db.mnt").head().getLong(0) == 100L)
    spark.sql("CALL graft.system.tag('db.mnt', 'after_rb', 5)")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.mnt VERSION AS OF 'after_rb'")
      .head().getLong(0) == 100L)
    // vacuum keep_last=1 with zero grace: tagged v5 survives, v1..v3 go
    val removed = spark.sql(
      "CALL graft.system.vacuum(table => 'db.mnt', keep_last => 1)")
      .head().getInt(0)
    assert(removed >= 1, s"vacuum should remove old versions, got $removed")
    assert(spark.sql("SELECT count(*) FROM graft.db.mnt").head().getLong(0) == 100L)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.db.mnt VERSION AS OF 1").collect())
    assert(e.getMessage.contains("1"))
    // metadata-only manifest rewrite: a new version, identical rows
    val rw = spark.sql("CALL graft.system.rewrite_manifests('db.mnt')")
      .head().getLong(0)
    assert(rw == 6L)
    assert(spark.sql("SELECT count(*) FROM graft.db.mnt").head().getLong(0) == 100L)
  }

  test("CALL graft.system: set_cursor clamps vacuum, cursors TVF lists, drop_cursor reclaims") {
    spark.sql("CREATE TABLE graft.db.cur (id BIGINT)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO graft.db.cur SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val root = s"$warehouse/db/cur"
    // pin v2 as an external consumer's cursor via SQL
    assert(spark.sql("CALL graft.system.set_cursor('db.cur', 'etl_feed', 2)")
      .head().getLong(0) == 2L)
    val listed = spark.sql(s"SELECT * FROM graft_snapshot_cursors('$root')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(listed == Seq(("etl_feed", 2L)), s"cursors TVF: $listed")
    // an aggressive vacuum is clamped at the cursor's floor
    spark.sql("CALL graft.system.vacuum(table => 'db.cur', keep_last => 1)")
    assert(GraftCatalog.snapshotVersions(spark, root).head == 2L,
      "vacuum must keep every version >= the cursor pin")
    // the dry run agrees nothing below the pin is replanned for reaping
    assert(spark.sql(s"SELECT * FROM graft_vacuum_dry_run('$root', 99, 0)")
      .where(org.apache.spark.sql.functions.col("kind") === "version")
      .count() == 0L, "dry run must honor the cursor floor")
    // the explicit override reclaims; the next vacuum proceeds
    assert(spark.sql("CALL graft.system.drop_cursor('db.cur', 'etl_feed')")
      .head().getBoolean(0))
    spark.sql("CALL graft.system.vacuum(table => 'db.cur', keep_last => 1)")
    assert(GraftCatalog.snapshotVersions(spark, root) == Seq(5L))
    assert(spark.sql("SELECT count(*) FROM graft.db.cur").head().getLong(0) == 40L)
  }

  test("TBLPROPERTIES manifest.* set the table's segment conf and govern sealing") {
    spark.sql("CREATE TABLE graft.db.segt (id BIGINT) TBLPROPERTIES(" +
      "'manifest.inline.max'='2', 'manifest.include.max'='3')")
    spark.sql("INSERT INTO graft.db.segt SELECT id FROM range(0, 50)")
    val root = s"$warehouse/db/segt"
    val segs = Option(new java.io.File(s"$root/_manifests").list())
      .map(_.count(_.endsWith(".segment"))).getOrElse(0)
    assert(segs >= 1,
      "the table-property thresholds must govern sealing with default globals")
    val props = spark.sql("SHOW TBLPROPERTIES graft.db.segt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("manifest.inline.max").contains("2"))
    assert(props.get("manifest.include.max").contains("3"))
    assert(spark.sql("SELECT count(*) FROM graft.db.segt").head().getLong(0) == 50L)
    spark.sql("DROP TABLE graft.db.segt")
  }

  test("CALL graft.system: branch and fast-forward merge") {
    spark.sql("CREATE TABLE graft.db.br (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.br SELECT id, id AS v FROM range(0, 50)")
    val brRoot = spark.sql("CALL graft.system.create_branch('db.br', 'dev')")
      .head().getString(0)
    // work lands on the branch root (backtick-path DML), parent untouched
    spark.sql(s"INSERT INTO `$brRoot` SELECT id, id AS v FROM range(50, 80)")
    assert(spark.sql("SELECT count(*) FROM graft.db.br").head().getLong(0) == 50L)
    assert(spark.sql("CALL graft.system.merge_branch('db.br', 'dev')")
      .head().getLong(0) >= 3L)
    assert(spark.sql("SELECT count(*) FROM graft.db.br").head().getLong(0) == 80L)
    // unknown procedures reject with the available list
    val e = intercept[Exception](spark.sql("CALL graft.system.nope('x')"))
    assert(e.getMessage.contains("nope") &&
      (e.getMessage + Option(e.getCause).fold("")(_.getMessage))
        .contains("unknown procedure"))
  }

  test("ALTER TABLE ADD/DROP COLUMN is a pure-metadata commit; TRUNCATE keeps history") {
    spark.sql("CREATE TABLE graft.db.evo (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.evo SELECT id, id AS v FROM range(0, 10)")
    val root = s"$warehouse/db/evo"
    val filesBefore = GraftCatalog.snapshotScanFiles(spark, root)._1.toSet
    spark.sql("ALTER TABLE graft.db.evo ADD COLUMN score DOUBLE")
    // zero data I/O: the file set is untouched, old rows read NULL
    assert(GraftCatalog.snapshotScanFiles(spark, root)._1.toSet == filesBefore)
    assert(spark.sql("SELECT * FROM graft.db.evo").columns.toSeq ==
      Seq("id", "v", "score"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.evo WHERE score IS NULL")
      .head().getLong(0) == 10L)
    // new inserts carry the column; old files still serve NULLs
    spark.sql("INSERT INTO graft.db.evo VALUES (100, 1, 0.5)")
    assert(spark.sql(
      "SELECT score FROM graft.db.evo WHERE id = 100").head().getDouble(0) == 0.5)
    // time travel reads the OLD schema at the old version
    assert(spark.sql("SELECT * FROM graft.db.evo VERSION AS OF 2")
      .columns.toSeq == Seq("id", "v"))
    // DROP: column leaves the head schema, history unaffected
    spark.sql("ALTER TABLE graft.db.evo DROP COLUMN v")
    assert(spark.sql("SELECT * FROM graft.db.evo").columns.toSeq ==
      Seq("id", "score"))
    assert(spark.sql("SELECT * FROM graft.db.evo VERSION AS OF 3")
      .columns.toSeq == Seq("id", "v", "score"))
    // dropping a layout column rejects loudly
    spark.sql(
      """CREATE TABLE graft.db.evop (id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.evop DROP COLUMN id"))
    assert(e.getMessage.contains("layout column"))
    // TRUNCATE publishes an empty head; prior versions stay readable
    spark.sql("TRUNCATE TABLE graft.db.evo")
    assert(spark.sql("SELECT count(*) FROM graft.db.evo").head().getLong(0) == 0L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.evo VERSION AS OF 4").head().getLong(0) == 11L)
  }

  test("readStream.table streams appends from a catalog identifier") {
    spark.sql("CREATE TABLE graft.db.str (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.str VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.str VALUES (3, 'c')")
    // a CoW delete removes id=1; table-stream semantics are APPEND
    // rows only, so the delete's CDC rows must NOT surface (and this
    // delete fully empties its file, so per-file nomination drops the
    // file with zero rewrites — nothing re-appends either)
    spark.sql("DELETE FROM graft.db.str WHERE id = 1")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val ckpt = s"/tmp/graft-cat-ckpt-${System.nanoTime()}"
    val q = spark.readStream.table("graft.db.str").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // schema is the TABLE schema (no _change/_version tags)
    assert(out.nonEmpty && out.forall(_._2.nonEmpty))
    // v2 inserts 1,2; v3 inserts 3; the delete appends NOTHING
    assert(out.sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"unexpected appends: $out")
  }

  test("readStream.table with readChangeFeed serves the delete-carrying CDC rows") {
    spark.sql("CREATE TABLE graft.db.strcdc (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.strcdc VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.strcdc VALUES (3, 'c')")
    spark.sql("DELETE FROM graft.db.strcdc WHERE id = 1")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val ckpt = s"/tmp/graft-cat-ckpt-${System.nanoTime()}"
    val q = spark.readStream.option("readChangeFeed", "true")
      .table("graft.db.strcdc")
      .selectExpr("id", "v", "_change", "_version")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= b.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // v2 inserts 1,2; v3 inserts 3; v4 DELETES id=1 — the delete rows
    // surface through the table identifier now
    assert(out.sorted.toSeq == Seq(
      (1L, "a", "delete", 4L), (1L, "a", "insert", 2L),
      (2L, "b", "insert", 2L), (3L, "c", "insert", 3L)),
      s"unexpected CDC rows: ${out.sorted}")
  }

  test("CALL clone/set_check/drop_check; TVFs take catalog identifiers") {
    spark.sql("CREATE TABLE graft.db.src (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.src SELECT id, id AS v FROM range(0, 40)")
    // zero-copy clone into a catalog identifier
    val cloneRoot = spark.sql(
      "CALL graft.system.clone('db.src', 'db.dst')").head().getString(0)
    assert(cloneRoot == s"$warehouse/db/dst")
    assert(spark.sql("SELECT count(*) FROM graft.db.dst").head().getLong(0) == 40)
    // CHECK lands through CALL; a violating INSERT aborts; drop lifts it
    spark.sql("CALL graft.system.set_check('db.src', 'v_pos', 'v >= 0')")
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.db.src VALUES (99, -1)"))
    assert(e.getMessage.contains("v_pos"))
    assert(spark.sql("SELECT count(*) FROM graft.db.src WHERE id = 99")
      .head().getLong(0) == 0, "violating batch must not land")
    spark.sql("CALL graft.system.drop_check('db.src', 'v_pos')")
    spark.sql("INSERT INTO graft.db.src VALUES (99, -1)")
    assert(spark.sql("SELECT count(*) FROM graft.db.src WHERE id = 99")
      .head().getLong(0) == 1)
    // a live CHECK surfaces through SHOW TBLPROPERTIES
    spark.sql("CALL graft.system.set_check('db.src', 'id_pos', 'id >= 0')")
    val props = spark.sql("SHOW TBLPROPERTIES graft.db.src").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("check.id_pos").contains("id >= 0"))
    spark.sql("CALL graft.system.drop_check('db.src', 'id_pos')")
    // the TVF surface accepts catalog identifiers, not just paths
    assert(spark.sql(
      "SELECT count(*) FROM graft_snapshot('graft.db.dst')")
      .head().getLong(0) == 40)
    assert(spark.sql(
      "SELECT count(*) FROM graft_snapshot_history('graft.db.src')")
      .head().getLong(0) >= 3)
  }

  test("CREATE OR REPLACE TABLE swaps data and schema") {
    spark.sql("CREATE TABLE graft.db.cor AS SELECT id FROM range(0, 5)")
    spark.sql(
      "CREATE OR REPLACE TABLE graft.db.cor AS " +
        "SELECT id, id * 3 AS t FROM range(0, 7)")
    assert(spark.sql("SELECT count(*), sum(t) FROM graft.db.cor").head() ==
      Row(7L, 63L))
    assert(spark.sql("SELECT * FROM graft.db.cor").columns.toSeq ==
      Seq("id", "t"))
  }

  test("DataFrameWriterV2: writeTo create / append / overwrite") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .writeTo("graft.db.w2").create()
    assert(spark.sql("SELECT count(*) FROM graft.db.w2").head().getLong(0) == 2)
    Seq((3L, "c")).toDF("id", "v").writeTo("graft.db.w2").append()
    assert(spark.sql("SELECT count(*) FROM graft.db.w2").head().getLong(0) == 3)
    // full-table overwrite via the truncate path
    Seq((9L, "z")).toDF("id", "v").writeTo("graft.db.w2")
      .overwrite(lit(true))
    assert(spark.sql("SELECT * FROM graft.db.w2").collect().toSeq ==
      Seq(Row(9L, "z")))
  }

  test("concurrent SQL INSERTs serialize under bounded retry, no lost batch") {
    spark.sql("CREATE TABLE graft.db.conc (id BIGINT, w BIGINT)")
    val writers = 4
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val fails = new java.util.concurrent.atomic.AtomicInteger(0)
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          barrier.await()
          try spark.sql(
            s"INSERT INTO graft.db.conc SELECT id, $w AS w " +
              s"FROM range(${w * 100}, ${w * 100 + 100})")
          catch { case _: Throwable => fails.incrementAndGet(); () }
          ()
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(fails.get == 0, s"${fails.get} writers aborted despite retries")
    // every batch landed exactly once; versions are contiguous
    assert(spark.sql("SELECT count(*) FROM graft.db.conc").head().getLong(0) ==
      writers * 100L)
    assert(spark.sql(
      "SELECT count(DISTINCT w) FROM graft.db.conc").head().getLong(0) ==
      writers.toLong)
    val root = s"$warehouse/db/conc"
    assert(GraftCatalog.snapshotVersions(spark, root) ==
      (1L to (writers + 1L)))
  }

  test("catalog reads and Scala reads are the same table") {
    spark.sql("CREATE TABLE graft.db.par (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.par SELECT id, id % 7 FROM range(0, 500)")
    val root = s"$warehouse/db/par"
    val viaSql = spark.sql("SELECT * FROM graft.db.par").collect().toSet
    val viaScala = GraftCatalog.readSnapshotAuto(spark, root).collect().toSet
    assert(viaSql == viaScala && viaSql.size == 500)
    // Scala-side mutation is immediately visible to SQL (no cache)
    GraftCatalog.deleteSnapshotWhere(spark, root, col("v") === 0L)
    assert(spark.sql("SELECT count(*) FROM graft.db.par WHERE v = 0")
      .head().getLong(0) == 0L)
  }
}

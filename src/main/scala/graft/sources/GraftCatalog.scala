package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-column stats of one snapshot data file: min/max rendered through
  * `CAST(x AS STRING)` (round-trips through the inverse cast at prune
  * time), plus the null count. A null `mn`/`mx` with the column PRESENT
  * means the file's column is entirely NULL — a pruneable fact, distinct
  * from "no stats recorded" (column absent from `cols`). `bloom` is an
  * optional base64 bit-set over the file's values (two probes derived
  * from one xxhash64 — the Iceberg-puffin/Delta idea): point lookups on
  * columns whose per-file RANGE spans the domain (ids, hashes, UUIDs —
  * the case envelopes can never prune) skip files whose bloom provably
  * lacks the value. Absent on sidecars written before the column was
  * bloom-enrolled — consumers keep the file.
  *
  * `ndv` is the file-LOCAL approximate distinct count; `hll` is the
  * base64 Datasketches HLL sketch it came from (r16). The sketch is
  * what makes table-level NDV honest: per-file COUNTS can only be
  * summed, so a column with the same 100 values in each of 1,000 files
  * reported NDV ≈ 100,000 — the union of the sketches reports ~100.
  * Join-order and broadcast decisions at scale hinge on that number.
  * Absent on pre-r16 sidecars and on the footer fast path (footers
  * carry no sketch) — the merge falls back to the sum-clamp bracket. */
final case class ColStat(col: String, typ: String, mn: String, mx: String, nc: Long,
    bloom: Option[String] = None, ndv: Option[Long] = None,
    hll: Option[String] = None,
    al: Option[Long] = None, ml: Option[Long] = None)

/** Manifest-level stats of one data file — the Iceberg/Delta idea that
  * makes a selective read of a 100 TB snapshot a METADATA operation:
  * planning prunes the file list against these before any footer I/O.
  * `len`/`mtime` (bytes, epoch millis) are captured from the writer's
  * own directory listing at commit, so scan PLANNING (file splits,
  * sizeInBytes costing) never issues a per-file status RPC — at
  * 10^5-10^6 files per version that RPC storm is exactly what a
  * metadata layer exists to avoid. `None` on sidecars written before
  * the fields existed; every consumer falls back to the filesystem. */
final case class FileStat(path: String, rows: Long, cols: Seq[ColStat],
    len: Option[Long] = None, mtime: Option[Long] = None)

/** One field of a snapshot table's HIDDEN partition spec: a named
  * TRANSFORM of a source column (Iceberg's partitioning model — the
  * user writes and queries raw columns; the table derives the
  * partition tuple itself, so nobody can forget the derived column or
  * write it inconsistently). Transforms: `identity`, `bucket` (xxhash64
  * mod `n`), `truncate` (numeric width / string prefix `n`), `year`,
  * `month`, `day`, `hour` (UTC-rendered from a timestamp/date). */
final case class PartitionField(col: String, transform: String, n: Int = 0)

/** Thrown when a snapshot commit loses the optimistic-concurrency race
  * for its version slot. Extends IllegalStateException so pre-existing
  * callers catching that still work. */
final class SnapshotConflictException(msg: String) extends IllegalStateException(msg)

/** Thrown when an incoming batch violates a table CHECK constraint —
  * the write aborts before any data or manifest lands. */
final class SnapshotCheckViolation(msg: String) extends IllegalArgumentException(msg)

/** Source/catalog surface — the Spark analog of the reference's external
  * tables + information schema (reference: docs/1_cli_information_schema.md,
  * docs/2_cli_create_tables.md, tests/setup_tables.rs:26).
  *
  * The reference registers CSV/Parquet files (single or directory) with
  * an optional declared sort order; in Spark the scan-order contract is
  * carried by bucketed+sorted tables (`writeBucketedSorted`), which let
  * the planner skip the shuffle/sort for joins and aggregations on the
  * bucket key — the same optimization `WITH ORDER` + prefer_existing_sort
  * buys DataFusion.
  */
object GraftCatalog {

  /** CREATE EXTERNAL TABLE ... STORED AS PARQUET LOCATION <dir>:
    * single file or whole directory (docs/2 "Create tables for many
    * files in a folder"). */
  def registerParquet(spark: SparkSession, name: String, location: String): DataFrame = {
    val df = spark.read.parquet(location)
    df.createOrReplaceTempView(name)
    df
  }

  /** CREATE EXTERNAL TABLE ... STORED AS CSV with header + schema
    * inference (docs/2 "From CSV file"). */
  def registerCsv(spark: SparkSession, name: String, location: String,
      header: Boolean = true, inferSchema: Boolean = true): DataFrame = {
    val df = spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(location)
    df.createOrReplaceTempView(name)
    df
  }

  /** CREATE EXTERNAL TABLE ... STORED AS JSON analog (line-delimited,
    * schema inferred or supplied). */
  def registerJson(spark: SparkSession, name: String, location: String): DataFrame = {
    val df = spark.read.json(location)
    df.createOrReplaceTempView(name)
    df
  }

  /** CREATE EXTERNAL TABLE ... STORED AS ORC analog — the other columnar
    * format a warehouse migration meets in practice; same pushdown/
    * pruning machinery as parquet (Spark's OrcScan reports PushedFilters
    * the same way). */
  def registerOrc(spark: SparkSession, name: String, location: String): DataFrame = {
    val df = spark.read.orc(location)
    df.createOrReplaceTempView(name)
    df
  }

  /** Schema-evolution read: one table over parquet files written at
    * different schema versions (columns added over time). mergeSchema
    * unions the per-file schemas at planning time; files missing a
    * column surface NULLs for it — how a long-lived 100 TB table
    * actually looks after a year of producers. (Reconciliation is
    * footer-metadata work at planning; the data path still prunes and
    * pushes down per file.) */
  def registerParquetMerged(spark: SparkSession, name: String, location: String): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(location)
    df.createOrReplaceTempView(name)
    df
  }

  /** In-memory table + INSERT analog (docs/2 "Create tables & Insert
    * data"): a local DataFrame registered as a view; "insert" = union +
    * re-register. */
  def registerValues(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    df.createOrReplaceTempView(name)
    df
  }

  def insertInto(spark: SparkSession, name: String, rows: DataFrame): DataFrame = {
    val merged = spark.table(name).unionByName(rows)
    merged.createOrReplaceTempView(name)
    merged
  }

  /** The `WITH ORDER (...)` analog: persist as a bucketed + sorted
    * managed table. Scans of this table expose the bucketing to the
    * planner, so joins/aggs keyed on `bucketCol` skip their shuffle —
    * DataFusion's prefer_existing_sort, Spark-first. */
  def writeBucketedSorted(df: DataFrame, table: String, bucketCol: String,
      sortCols: Seq[String], buckets: Int = 32): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  // -------------------------------------------------------------------
  // Information schema (docs/1): SHOW TABLES / columns / df_settings.
  // -------------------------------------------------------------------

  /** information_schema.tables analog. */
  def tables(spark: SparkSession): DataFrame =
    spark.sql("SHOW TABLES")

  /** information_schema.columns / DESCRIBE analog. */
  def columns(spark: SparkSession, table: String): DataFrame =
    spark.sql(s"DESCRIBE TABLE $table")

  /** information_schema.df_settings analog: session SQL configs as a
    * (name, value) relation, optionally substring-filtered. */
  def settings(spark: SparkSession, contains: String = ""): DataFrame = {
    import spark.implicits._
    spark.conf.getAll.toSeq.toDF("name", "value")
      .where(col("name").contains(contains))
      .orderBy("name")
  }

  // -------------------------------------------------------------------
  // Sinks.
  // -------------------------------------------------------------------

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Z-order (Morton) interleave of per-column buckets into one 64-bit
    * cluster key: bit i of bucket j lands at position i·k + j, so rows
    * close in EVERY dimension land close in the key order. Pure
    * codegen'd shift/or arithmetic — bits·k terms, no UDF. */
  private def interleaveBits(buckets: Seq[Column], bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (b, j)) =>
        a.bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
          i * buckets.size + j))
      }
    }

  /** Multi-dimensional layout: write `df` parquet clustered by the
    * Z-order of two columns. A linear sort gives row-group min/max
    * stats that prune scans on ONE leading column; Z-order clustering
    * gives every row group a tight min/max envelope on BOTH columns,
    * so 2-D selective filters skip most row groups at read time — the
    * lakehouse layout move (Delta OPTIMIZE ZORDER / Iceberg sort-order)
    * for the "filter by user AND time" scan this engine's events
    * pipeline lives on. At 100 TB the same code holds: column min/max
    * come from one partial-aggregated scan, the range partitioner
    * spreads by z-key, and each task sorts only its own partition.
    * `rowGroupBytes` caps parquet row-group size so pruning granularity
    * is finer than file granularity (essential at small SFs; at
    * production SFs the 128 MB default is the right call). */
  def zOrderWrite(df: DataFrame, colA: String, colB: String, path: String,
      nFiles: Int, rowGroupBytes: Long = 128L * 1024 * 1024): Unit =
    zOrderWriteN(df, Seq(colA, colB), path, nFiles, rowGroupBytes)

  /** One-pass equi-depth boundary sketch for [[zOrderWriteN]]: a
    * single row with one 255-element ascending array per cluster
    * column (`bnd0..bndK`), from `percentile_approx`. Factored so the
    * streaming z-sink can compute it once and reuse it across
    * micro-batches. */
  private[graft] def zBoundaries(df: DataFrame, cols: Seq[String]): DataFrame = {
    val qs = (1 until 256).map(_.toDouble / 256).toArray
    val bndAggs = cols.zipWithIndex.map { case (c, i) =>
      percentile_approx(col(c).cast("double"),
        lit(qs), lit(10000)).as(s"bnd$i")
    }
    df.agg(bndAggs.head, bndAggs.tail: _*)
  }

  /** `df` plus the interleaved `_z` cluster key against a broadcast
    * boundaries row ([[zBoundaries]]). The per-column bucket is the
    * native `bucket_of` binary search (~8 comparisons inside
    * whole-stage codegen) — the first cut was an interpreted
    * `size(filter(bnd, x -> x <= v))` HOF scanning all 255 boundaries
    * through a lambda dispatch per row per column (the round-1
    * interpreted-HOF-on-hot-path lesson, SURVEY §4); NULL values keep
    * that formulation's bucket 0. */
  private[graft] def zKeyed(df: DataFrame, cols: Seq[String], bnds: DataFrame): DataFrame = {
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      expr(s"coalesce(bucket_of(CAST($c AS DOUBLE), bnd$i), 0)").cast("long")
    }
    df.crossJoin(broadcast(bnds))
      .withColumn("_z", interleaveBits(buckets, 8))
      .drop(cols.indices.map(i => s"bnd$i"): _*)
  }

  /** [[zOrderWrite]] for 2–4 cluster columns, with EQUI-DEPTH
    * (rank-space) bucketing: each column's 8-bit bucket is its
    * position among 255 approx-quantile boundaries from ONE sketch
    * pass — linear min/max scaling collapses on skewed data (a
    * log-normal column puts most mass in the lowest buckets and the
    * key stops discriminating it; Delta's OPTIMIZE ZORDER hits the
    * same wall), while rank space spreads every distribution evenly.
    * Boundaries broadcast back; the bucket is the codegen'd
    * `bucket_of` binary search; then the interleaved key, a range
    * partition and an in-partition sort — every row group ends with a
    * tight min/max envelope on EVERY cluster dimension. */
  def zOrderWriteN(df: DataFrame, cols: Seq[String], path: String,
      nFiles: Int, rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    zKeyed(df, cols, zBoundaries(df, cols))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", rowGroupBytes)
      .parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) files (≥ 1) and atomically swap it in.
    * The small-files problem is a first-order 100 TB failure mode — a
    * streaming sink or over-parallel writer leaves thousands of KB-
    * sized files, and every later scan pays a task per file plus a
    * footer read per task. Compaction is one narrow re-write:
    * coalesce (no shuffle) down to the target count, write beside the
    * source, swap directories. Returns (files_before, files_after).
    *
    * Sizing and the swap go through the Hadoop FileSystem API, so the
    * same code runs on local FS and HDFS (where each rename is atomic).
    * The two-rename swap still has a window where the directory is
    * absent to a concurrent lister, and on S3A a "rename" is a
    * non-atomic copy+delete — object-store deployments flip a
    * manifest/metastore pointer instead (Iceberg/Delta-style), which
    * replaces this whole method, not just the rename. If the swap-in
    * rename fails the original directory is renamed back before the
    * error propagates — data is never stranded in the trash dir. */
  def compactParquet(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    def parquetParts(p: Path) = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val parts = parquetParts(d)
    val before = parts.length
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new Path(d.getParent, d.getName + ".compact" + System.nanoTime())
    spark.read.parquet(dir).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swapDirs(fs, d, tmp)
    (before, parquetParts(d).length)
  }

  // ------------------------------------------------------------------
  // Manifest-pointer snapshots: versioned tables + time travel
  // ------------------------------------------------------------------
  //
  // compactParquet's scope note says it outright: at object-store scale
  // you don't swap directories, you flip a MANIFEST POINTER. This is
  // that contract in its minimal, dependency-free form (the
  // Iceberg/Delta core idea re-expressed over the Hadoop FS API):
  //
  //   <root>/data/b<nano>/part-*.parquet   immutable, write-once batches
  //   <root>/_manifests/v<N>.manifest      one data-file path per line
  //
  // A snapshot IS a manifest file; commit = one CREATE-EXCLUSIVE rename
  // of the manifest (atomic on HDFS, and the rename-to-existing-path
  // failure doubles as optimistic-concurrency conflict detection —
  // two racing writers cannot both publish v7). Published data files
  // are NEVER mutated, so a reader holding v3's file list is undisturbed
  // by later commits, compactions, or rollbacks — the snapshot-isolation
  // property the two-rename directory swap fundamentally cannot give.
  // Old versions stay readable (time travel) until an explicit
  // destructive `vacuumSnapshots`.

  private def manifestDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_manifests")

  /** Writer-unique token for batch dirs and sidecar names.
    * `System.nanoTime()` ALONE is not unique across threads: two
    * barrier-aligned writers can observe the same value, name the same
    * batch directory, and one job's commit then deletes the other's
    * `_temporary` mid-task — a lost-batch race the 20-round barrier
    * spec eventually caught in the wild. nanoTime keeps names humanly
    * time-sortable; the process-wide counter makes them unique by
    * construction. Cross-PROCESS uniqueness (two DRIVERS sharing a
    * table — the multi-writer contract every lakehouse format signs)
    * comes from a per-process random nonce: nanoTime is NOT unique
    * across JVMs (two drivers can draw the same nanosecond under
    * barrier-aligned streaming triggers), and a collision there is the
    * same lost-batch race the counter fixed in-process. Token shape:
    * `<nanoTime>x<nonce8>x<seq>` — leading digits keep the
    * `b\d`-prefixed path matchers (specIdOfPath) working unchanged. */
  private val writerSeq = new java.util.concurrent.atomic.AtomicLong()
  private val processNonce =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)
  private[graft] def writerToken(): String =
    s"${System.nanoTime()}x${processNonce}x${writerSeq.incrementAndGet()}"

  private val ManifestName = raw"v(\d+)\.manifest".r

  private def fsOf(spark: SparkSession, root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** All published versions of a snapshot table, ascending. */
  def snapshotVersions(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, r) = fsOf(spark, root)
    versionsAt(fs, r)
  }

  private def versionsAt(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path): Seq[Long] = {
    val md = manifestDir(r)
    if (!fs.exists(md)) return Seq.empty
    val listed = fs.listStatus(md).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestName(n) => Some(n.toLong -> st.getModificationTime)
      case _ => None
    }).sortBy(_._1)
    // CROSS-TABLE TX visibility (r17): a trailing manifest carrying a
    // `#txmarker:` line whose marker file does not (yet) exist is a
    // PENDING multi-table flip — invisible to readers (so no reader
    // ever sees table A flipped and table B not), while its claimed
    // version slot keeps blocking concurrent writers until the marker
    // lands or vacuum reaps the aged orphan. Only trailing versions
    // can be pending (the claimed slot blocks successors), and a
    // verdict of "visible" is PERMANENT for a given manifest file
    // (markers are never deleted) — cached by (path, version, mtime)
    // so steady-state heads pay the raw read once, not per listing.
    // A MID-WRITE head (no #eof yet) is NEVER decided or cached from
    // the partial read — a marker line landing one write() after the
    // peek must not be missed: re-read once after a short beat, and a
    // still-torn head keeps the pre-r17 torn contract (visible, the
    // strict reader's loud error is the handler) without polluting
    // the cache.
    visibleOf(fs, r, md, listed).map(_._1)
  }

  /** The trailing-pending visibility filter over a listed
    * (version, mtime) sequence — shared by [[versionsAt]] and
    * [[snapshotVersionAsOf]] so the timestamp path pays ONE directory
    * listing, not two. */
  private def visibleOf(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, md: org.apache.hadoop.fs.Path,
      listed: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    // The pending reclassification applies ONLY to the RAW TRAILING
    // version (r18 — mirrors the vacuum-side rule): a pending manifest
    // claims its slot and blocks all successors, so any version WITH
    // raw successors was necessarily confirmed. Re-running the check
    // below the popped head would consult a marker/echo that may be
    // long gone (coordinator table dropped, tx refs reaped) and
    // wrongly hide committed history from every reader.
    if (listed.isEmpty) return listed
    val (v, mtime) = listed.last
    val key = s"$md#v$v@$mtime"
    val pending = txVisibilityCache.get(key) match {
      case java.lang.Boolean.TRUE => false
      case _ =>
        var lines = scala.util.Try(
          readManifestRawLines(fs, r, v, strict = false)).getOrElse(Seq.empty)
        // settle-beat only for a YOUNG torn head (a live publish
        // finishes in ms); an aged one is a crashed writer that will
        // never seal — sleeping 25 ms on every listing until the
        // next vacuum would throttle the whole table's traffic.
        // ONE-SHOT per (manifest, mtime) (r18): the first lister pays
        // the beat; repeat listers of the same torn shape skip straight
        // to the torn contract instead of each paying 25 ms of
        // metadata-call latency. A write that later seals the head
        // bumps its mtime, which keys a fresh evaluation.
        if (!lines.lastOption.contains("#eof") &&
            mtime > System.currentTimeMillis() - 60000L &&
            tornSettleSeen.put(key, java.lang.Boolean.TRUE) == null) {
          Thread.sleep(25)
          lines = scala.util.Try(
            readManifestRawLines(fs, r, v, strict = false)).getOrElse(Seq.empty)
        }
        val sealed0 = lines.lastOption.contains("#eof")
        val p = sealed0 && txPendingFromLines(fs, r, lines)
        if (!p && sealed0) txVisibilityCache.put(key, java.lang.Boolean.TRUE)
        p
    }
    if (pending) listed.init else listed
  }

  /** Access-ordered LRU with a hard entry bound (r18 — was a full
    * clear() at the bound, a momentary re-read burst across every hot
    * table at once on a catalog with many heads). Entries are ~100
    * bytes; 65,536 of them bound the map at a few MB. */
  private def boundedLru(maxEntries: Int)
      : java.util.Map[String, java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size() > maxEntries
      })

  private val txVisibilityCache = boundedLru(65536)
  private val tornSettleSeen = boundedLru(8192)

  /** Do these manifest lines carry an UNCONFIRMED cross-table tx
    * marker? Marker paths must live on the same FileSystem as the
    * table — [[transactSnapshotMulti]] enforces that all roots share
    * one.
    *
    * Confirmation is answered ROOT-LOCALLY when possible (r17 review
    * fix): the commit writes an ECHO of the marker under every
    * participant's own `_refs/tx/`, and a missing echo repairs itself
    * here on the first read that still finds the coordinator's
    * marker. Without the echo, a table whose head committed via a
    * cross-table tx would depend FOREVER on the coordinator root's
    * marker file — dropping that table later would silently revert
    * the surviving table's confirmed head to pending-invisible (and,
    * aged, vacuum-reapable). With it, the dependency ends at the
    * first post-commit read of each participant. */
  private def txPendingFromLines(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, lines: Seq[String]): Boolean =
    lines.find(_.startsWith("#txmarker:")).exists { l =>
      val txid = l.stripPrefix("#txmarker:").takeWhile(_ != ':')
      val marker = txMarkerPathOf(l)
      val echo = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(refsDir(r), "tx"), txid)
      // on the COORDINATOR root the echo path IS the marker path — an
      // existence shortcut there would read a vacuum's reap tombstone
      // as a confirmation; route it through the content-aware state
      val sameFile = org.apache.hadoop.fs.Path
        .getPathWithoutSchemeAndAuthority(fs.makeQualified(echo)) ==
        org.apache.hadoop.fs.Path
          .getPathWithoutSchemeAndAuthority(fs.makeQualified(marker))
      if (!sameFile && fs.exists(echo)) false
      else txMarkerStateOf(fs, marker) match {
        case TxMarkerConfirmed =>
          // confirmed at the coordinator but not yet echoed here —
          // repair on read so this root stops depending on the
          // coordinator's continued existence
          if (!sameFile) scala.util.Try {
            fs.mkdirs(echo.getParent)
            val out = fs.create(echo, false)
            try out.write("confirmed\n".getBytes("UTF-8")) finally out.close()
          }
          false
        case _ => true // absent (still pending) or reaped (never flips)
      }
    }

  /** The vacuum's reap-tombstone content: claimed at the MARKER path
    * with the same exclusive-create primitive the coordinator's
    * confirm uses, so exactly one of {confirm, reap} ever wins a given
    * txid. Participant roots in marker content start with a path
    * character, never '#'. */
  private[graft] val txReapedContent = "#reaped by vacuum\n"

  /** The vacuum's reap-INTENT sidecar for a marker path: written
    * BEFORE the vacuum's exclusive-create attempt, it disambiguates
    * the one ambiguous marker shape — an EMPTY file, left by either
    * winner crashing between create and content write. Empty + intent
    * ⇒ a vacuum claim (reaped); empty + no intent ⇒ a confirm whose
    * diagnostic content write failed (confirmed — the create was the
    * commit point, content never load-bearing). */
  private[graft] def txReapIntentPath(marker: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(marker.getParent, marker.getName + ".reaping")

  private[graft] sealed trait TxMarkerState
  private[graft] case object TxMarkerConfirmed extends TxMarkerState
  private[graft] case object TxMarkerReaped extends TxMarkerState
  private[graft] case object TxMarkerAbsent extends TxMarkerState

  /** Adjudicate a cross-table tx marker path (r18, ADVICE): the marker
    * file is the single atomic arbiter between a confirming
    * coordinator and a vacuum reaping an aged pending flip — whoever
    * CREATES it wins, and the content says who. A young empty marker
    * gets one settle beat: the winner's content write trails its
    * create by milliseconds. */
  private[graft] def txMarkerStateOf(fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): TxMarkerState = {
    def read(): Option[String] = scala.util.Try {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }.toOption
    if (!scala.util.Try(fs.exists(marker)).getOrElse(false))
      return TxMarkerAbsent
    var c = read().getOrElse(return TxMarkerAbsent)
    if (c.isEmpty && scala.util.Try(fs.getFileStatus(marker)).toOption
        .exists(_.getModificationTime > System.currentTimeMillis() - 60000L)) {
      Thread.sleep(25)
      c = read().getOrElse(return TxMarkerAbsent)
    }
    if (c.startsWith("#reaped")) TxMarkerReaped
    else if (c.nonEmpty) TxMarkerConfirmed
    else if (scala.util.Try(fs.exists(txReapIntentPath(marker)))
        .getOrElse(false)) TxMarkerReaped
    else TxMarkerConfirmed
  }

  /** `#txmarker:<txid>:<absolute marker path>` → the marker path
    * (txids are [[writerToken]]s — never contain a colon). */
  private def txMarkerPathOf(line: String): org.apache.hadoop.fs.Path = {
    val rest = line.stripPrefix("#txmarker:")
    new org.apache.hadoop.fs.Path(rest.substring(rest.indexOf(':') + 1))
  }

  /** TIME TRAVEL BY TIMESTAMP (Delta's `timestampAsOf`): the latest
    * version whose commit time — the manifest file's own mtime, i.e.
    * the moment the create-exclusive publish completed — is ≤
    * `tsMillis`. One directory listing resolves it ("what did the
    * table look like when last night's job ran" without anyone
    * remembering a version number); feed the result to
    * [[readSnapshot]]/[[readSnapshotAuto]]. Throws when the table is
    * younger than the asked instant — serving the oldest version
    * instead would silently answer a different question. */
  def snapshotVersionAsOf(spark: SparkSession, root: String,
      tsMillis: Long): Long = {
    val (fs, r) = fsOf(spark, root)
    // ONE listStatus of the manifest dir yields every version's mtime
    // in the returned FileStatus array — not one getFileStatus RPC per
    // version, which on an object store is O(versions) round trips
    val md = manifestDir(r)
    val listed: Seq[(Long, Long)] =
      if (!fs.exists(md)) Seq.empty
      else fs.listStatus(md).toSeq.flatMap(st => st.getPath.getName match {
        case ManifestName(n) => Some(n.toLong -> st.getModificationTime)
        case _ => None
      }).sortBy(_._1)
    // a pending cross-table flip must be as invisible to timestamp
    // travel as to head reads (r17) — same filter, SAME single listing
    val at = visibleOf(fs, r, md, listed)
      .collect { case (v, mt) if mt <= tsMillis => v }
    require(at.nonEmpty, s"no snapshot of $root existed at or before $tsMillis")
    at.last
  }

  /** Manifest lines of a version. `strict = true` additionally demands
    * the `#eof` terminator publishManifest writes last — its absence
    * means the manifest is MID-WRITE (the create-exclusive commit
    * protocol claims the final path first and streams content after;
    * see [[publishManifest]]). A live writer finishes in milliseconds,
    * so strict readers retry briefly before declaring the version torn
    * — after the budget the writer is dead and the version must not be
    * served (vacuumSnapshots reaps it). Tolerant readers (batch-tag
    * scans, vacuum's own bookkeeping) pass `strict = false`. */
  private def readManifestRawLines(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long, strict: Boolean = true): Seq[String] = {
    def once(): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(manifestDir(root), s"v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
      finally in.close()
    }
    if (!strict) once()
    else {
      var attempt = 0
      var lines = once()
      while (!lines.lastOption.contains("#eof") && attempt < 20) {
        attempt += 1
        Thread.sleep(25)
        lines = once()
      }
      if (!lines.lastOption.contains("#eof"))
        throw new IllegalStateException(
          s"torn manifest v$v under $root (no #eof terminator — writer crashed mid-publish)")
      lines
    }
  }

  /** Version `v` of the table at `r` as ONE read of its manifest file
    * ([[readManifestRawLines]]) and everything derived from those lines:
    * the only parser of the manifest line format on the read side. A
    * manifest is immutable once `#eof`-terminated, so a verb resolves
    * its head once and hands this value down; it lives for one verb
    * attempt (a conflict retry resolves the head afresh). `strict`
    * governs segment resolution the way it governs the raw read. */
  private final class Manifest(val fs: org.apache.hadoop.fs.FileSystem,
      val r: org.apache.hadoop.fs.Path, val v: Long, val raw: Seq[String],
      strict: Boolean = true) {
    private def tagged(prefix: String): Seq[String] =
      raw.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))

    /** Data-file list, `#include:` SEGMENT pointers resolved in place
      * (see the segment-reuse notes on [[publishManifest]]). */
    lazy val files: Seq[String] =
      resolveIncludes(fs, r, raw, strict).filterNot(_.startsWith("#"))
    /** The committed schema (`#schema:` line), if the version records one. */
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      tagged("#schema:").headOption.map(s => org.apache.spark.sql.types.DataType
        .fromJson(s).asInstanceOf[org.apache.spark.sql.types.StructType])
    /** The stats sidecar's name (`#stats:` line). */
    def statsName: Option[String] = tagged("#stats:").headOption
    /** DV sidecar names, accumulating across MoR deletes until a
      * compaction folds them. */
    def dvNames: Seq[String] = tagged("#dv:")
    /** `#eqdel:` suffixes, `<name>:<physPk1,…>` ([[parseEqDel]]). */
    def eqDels: Seq[String] = tagged("#eqdel:")
    /** The `#dv:` and `#eqdel:` lines as written. */
    def deleteLines: Seq[String] =
      raw.filter(l => l.startsWith("#dv:") || l.startsWith("#eqdel:"))
    /** Every meta line (`#batch:`/`#stats:`/… tags and `#eof`) — segment
      * pointers excluded: meta lines never live inside segments. */
    def metaLines: Seq[String] =
      raw.filter(l => l.startsWith("#") && !l.startsWith("#include:"))
    /** The commit's own tags: meta lines bar the stats pointer and `#eof`. */
    def tags: Seq[String] = metaLines.filter(l => !l.startsWith("#stats:") && l != "#eof")
    /** What a commit that keeps this version's files carries from it:
      * the stats pointer, the committed schema and the delete sidecars —
      * less what the commit replaces. */
    def carriedMeta(stats: Boolean = true, schema: Boolean = true,
        eqDels: Boolean = true): Seq[String] =
      raw.filter(l => (stats && l.startsWith("#stats:")) ||
        (schema && l.startsWith("#schema:")) || l.startsWith("#dv:") ||
        (eqDels && l.startsWith("#eqdel:")))
    /** The UNRESOLVED data section — `#include:` pointers as written plus
      * inline data lines, in manifest order. Delta-shaped commits
      * republish THIS instead of [[files]], making their manifest write
      * O(delta). Only ever republished to the same root. */
    def dataRaw: Seq[String] =
      raw.filter(l => l.startsWith("#include:") || !l.startsWith("#"))
    /** [[dataRaw]] minus `excluded` — Iceberg's manifest-level
      * filtering: a segment containing NO excluded file carries as its
      * pointer (zero bytes rewritten); a segment a CoW rewrite touched
      * re-inlines only its survivors (resealed downstream if the run is
      * still oversized). This is what keeps a 2-file MERGE on a 1M-file
      * table from rewriting ~100 MB of unchanged manifest text. */
    def dataRawExcluding(excluded: Set[String]): Seq[String] =
      if (excluded.isEmpty) dataRaw
      else dataRaw.flatMap {
        case l if l.startsWith("#include:") =>
          val seg = readSegmentLines(fs, r, l.stripPrefix("#include:"), strict = true)
          if (seg.exists(excluded)) seg.filterNot(excluded) else Seq(l)
        case l => if (excluded(l)) Seq.empty else Seq(l)
      }
    /** Stats of this version, keyed by data-file path. Empty when the
      * version predates stats or the sidecar is gone — every consumer
      * treats a missing entry as "cannot prune", never as an error.
      * Scoped to [[files]]: version-scoped consumers may ITERATE this
      * map (CBO fold, branch merge), and a delta-chained sidecar
      * ([[writeStatsDelta]]) is exact along pure-append chains only. */
    lazy val stats: Map[String, FileStat] = {
      val m = readStatsNamed(fs, r, statsName)
      val live = files.toSet
      if (m.keysIterator.forall(live)) m else m.filter { case (p, _) => live(p) }
    }
  }

  /** Version `v`'s [[Manifest]], read once. */
  private def manifestAt(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, v: Long): Manifest =
    new Manifest(fs, r, v, readManifestRawLines(fs, r, v))

  /** The resolve step every verb opens with: the head's [[Manifest]]
    * (one listing, one manifest read). */
  private def headOf(spark: SparkSession, root: String): Manifest =
    manifestOf(spark, root, None)

  /** `version`'s [[Manifest]], else the head's; throws on an empty table. */
  private def manifestOf(spark: SparkSession, root: String,
      version: Option[Long]): Manifest = {
    val (fs, r) = fsOf(spark, root)
    manifestAt(fs, r, version.getOrElse {
      val vs = versionsAt(fs, r)
      require(vs.nonEmpty, s"no snapshots published under $root")
      vs.last
    })
  }

  // ------------------------------------------------------------------
  // Manifest SEGMENTS: O(delta) commit metadata at 100 TB
  // ------------------------------------------------------------------
  //
  // A manifest that inlines every live data-file path is O(live files)
  // WRITE amplification per commit: on a 1M-file table a steady
  // minute-cadence append feed rewrites ~100 MB of unchanged paths per
  // commit. Iceberg's answer is manifest REUSE (a snapshot's manifest
  // list points at unchanged manifest files from prior snapshots);
  // this is that idea expressed in the text format:
  //
  //   #include:seg-<nano>-<n>.segment
  //
  // is a manifest META line splicing in, at that position, the
  // data-file lines of an IMMUTABLE side file under `_manifests/`
  // (data lines + `#eof`, nothing else). Delta-shaped commits —
  // appends, MoR DV / equality-delete sidecar commits, the eqdel
  // fold, metadata-only schema DDL, rollback — republish the previous
  // version's UNRESOLVED data section ([[Manifest.dataRaw]]), so their
  // manifest write is O(delta). Remove-shaped commits (CoW verbs,
  // compaction) inherently resolve to a survivor list and publish
  // flat; [[publishManifest]] seals any inline run over
  // `manifestInlineMax` into a fresh segment, so even those write the
  // bulk once and every append after them is O(delta) again.
  //
  // Invariants: segment names are writer-unique (nanoTime) and their
  // content immutable once a published manifest references them — the
  // same forever-key argument as the stats sidecars, so reads cache
  // them (rename/clone rewrite the bytes in place, but under a NEW
  // qualified root path, and are documented quiesced operations).
  // Segments never cross table roots: carried includes are only ever
  // republished to the root that owns them (branch merge and clone
  // resolve to flat lists before publishing into a different root).
  // A segment is fully written BEFORE the manifest claiming it is
  // published, so a referenced segment is complete by construction;
  // `#eof` is still verified as defense in depth. Orphan segments
  // (writer died between segment write and claim, or their manifests
  // were vacuumed) are reaped by [[vacuumSnapshots]] after the
  // in-flight grace window.

  /** Inline-run threshold: a contiguous run of data lines longer than
    * this is sealed into a segment at publish. Package-visible so
    * specs can drive the segmented shape on small tables; at the
    * default every gate-scale table stays in the plain inline form. */
  @volatile private[graft] var manifestInlineMax: Int = 4096

  /** Include-chain cap: a manifest carrying more than this many
    * `#include:` pointers is coalesced (resolved and resealed as one
    * segment) at publish — amortized O(1) per file, and it bounds the
    * per-read segment fan-in. */
  @volatile private[graft] var manifestMaxIncludes: Int = 64

  /** Segment cache, bounded by TOTAL CACHED LINES (entries are whole
    * file lists — a count-bounded LRU could pin gigabytes). 2M lines
    * ≈ 300–400 MB of path strings worst case: two full manifests of a
    * 1M-file table stay hot, and an ordinary driver heap never
    * notices. */
  private val segCacheMaxLines = 2000000L
  private val segCache =
    new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true)
  private var segCacheLines = 0L

  private def readSegmentLines(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, name: String,
      strict: Boolean): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(root), name)
    val key = fs.makeQualified(p).toString
    segCache.synchronized {
      val hit = segCache.get(key)
      if (hit != null) return hit
    }
    val lines =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList.filter(_.nonEmpty)
        finally in.close()
      } catch {
        // Tolerant readers (vacuum's own bookkeeping over already
        // half-reaped versions) treat a missing segment as an empty
        // file list; strict readers must not serve a partial version.
        case e: java.io.FileNotFoundException =>
          if (strict) throw e else return Seq.empty
      }
    if (!lines.lastOption.contains("#eof")) {
      if (strict) throw new IllegalStateException(
        s"torn manifest segment $name under $root (no #eof terminator)")
      else return lines
    }
    val data = lines.dropRight(1)
    segCache.synchronized {
      if (!segCache.containsKey(key)) {
        segCache.put(key, data)
        segCacheLines += data.size
        val it = segCache.entrySet().iterator()
        while (segCacheLines > segCacheMaxLines && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) {
            segCacheLines -= e.getValue.size
            it.remove()
          }
        }
      }
    }
    data
  }

  private def resolveIncludes(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, lines: Seq[String],
      strict: Boolean): Seq[String] =
    if (!lines.exists(_.startsWith("#include:"))) lines
    else lines.flatMap {
      case l if l.startsWith("#include:") =>
        readSegmentLines(fs, root, l.stripPrefix("#include:"), strict)
      case l => Seq(l)
    }

  /** Stat-able top-level column types: everything with a total order
    * both engines and the pruning evaluator agree on. Binary and
    * nested types carry no useful file-level range. */
  private def statable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _ => false
    }
  }

  /** FileStat via parquet FOOTER metrics — Iceberg's write-time stats
    * collection: rows + per-column min/max/null counts scrape from the
    * footers of the files a verb JUST wrote, driver-side, zero Spark
    * jobs and zero data re-reads (the fixed distributed-job cost of the
    * scanning agg is the dominant per-statement cost of a small CoW
    * rewrite). Min/max strings render through Catalyst's own
    * Cast-on-a-Literal, so the sidecar is byte-identical to what the
    * scanning path's `min(col).cast("string")` records. Conservative by
    * construction — returns None (caller falls back to the scanning
    * agg) whenever any statable column carries footer stats this path
    * cannot prove faithful: dropped/unset stats, INT96 timestamps,
    * decimals, NaN float envelopes, and zero float envelopes on columns
    * outside `zeroSafe`. Parquet reads a zero minimum back as `-0.0`
    * whatever the data held; for a column the write's observation
    * proved free of `-0.0` ([[batchObserveAggs]]), a `±0.0` bound can
    * only be `0.0` and renders as the scanning path's "0.0". NDV is not
    * recorded (footers carry none); [[snapshotColumnProfile]]
    * NULL-guards files without it — the documented pre-NDV-sidecar
    * contract. */
  private[graft] def footerFileStats(spark: SparkSession, files: Seq[String],
      fsMeta: Map[String, (Long, Long)],
      zeroSafe: Set[String] = Set.empty): Option[Seq[FileStat]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sessionState.newHadoopConf()
    val tzId = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // parquet primitive (+ annotation) → the Spark type the scanning
    // path would see; None = this path cannot serve the column
    def sparkTypeOf(pt: PrimitiveType): Option[DataType] = {
      val ann = pt.getLogicalTypeAnnotation
      (pt.getPrimitiveTypeName, ann) match {
        case (PrimitiveTypeName.BOOLEAN, null) => Some(BooleanType)
        case (PrimitiveTypeName.INT32, null) => Some(IntegerType)
        case (PrimitiveTypeName.INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if i.isSigned =>
          i.getBitWidth match {
            case 8 => Some(ByteType)
            case 16 => Some(ShortType)
            case 32 => Some(IntegerType)
            case _ => None
          }
        case (PrimitiveTypeName.INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          Some(DateType)
        case (PrimitiveTypeName.INT64, null) => Some(LongType)
        case (PrimitiveTypeName.INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if i.isSigned && i.getBitWidth == 64 => Some(LongType)
        case (PrimitiveTypeName.INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
          Some(if (t.isAdjustedToUTC) TimestampType else TimestampNTZType)
        case (PrimitiveTypeName.FLOAT, null) => Some(FloatType)
        case (PrimitiveTypeName.DOUBLE, null) => Some(DoubleType)
        case (PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          Some(StringType)
        case _ => None // INT96, decimals, plain binary, nested → fallback
      }
    }
    def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
      case (b: org.apache.parquet.io.api.Binary, StringType) =>
        org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes)
      case (i: java.lang.Integer, ByteType) => i.byteValue()
      case (i: java.lang.Integer, ShortType) => i.shortValue()
      case (x, _) => x
    }
    // a float bound that is NaN, or ±0.0 on a column that may hold
    // -0.0, falls back (None): parquet stats order NaN unreliably, and
    // -0.0 vs 0.0 would render differently from whichever value the
    // scanning min/max happened to return. A zero-safe zero is 0.0.
    def floatBound(v: Any, zeroOk: Boolean): Option[Any] = v match {
      case d: java.lang.Double if d.isNaN => None
      case d: java.lang.Double if d.doubleValue() == 0.0d =>
        if (zeroOk) Some(java.lang.Double.valueOf(0.0d)) else None
      case f: java.lang.Float if f.isNaN => None
      case f: java.lang.Float if f.floatValue() == 0.0f =>
        if (zeroOk) Some(java.lang.Float.valueOf(0.0f)) else None
      case x => Some(x)
    }
    try {
      val out = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        // options from `conf`: parquet's defaults build a fresh Hadoop
        // conf (and re-parse its default resources) for every file
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
          org.apache.parquet.HadoopReadOptions.builder(conf, p).build())
        try {
          val footer = reader.getFooter
          val blocks = scala.jdk.CollectionConverters
            .ListHasAsScala(footer.getBlocks).asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val msg = footer.getFileMetaData.getSchema
          val fields = scala.jdk.CollectionConverters
            .ListHasAsScala(msg.getFields).asScala.toSeq
          val cols = fields.flatMap { fld =>
            if (!fld.isPrimitive ||
                fld.getRepetition == org.apache.parquet.schema.Type.Repetition.REPEATED)
              None // non-statable shapes: the scanning path skips them too
            else sparkTypeOf(fld.asPrimitiveType()) match {
              case None =>
                // statable Spark type with an unservable parquet repr
                // (INT96 timestamp, decimal) → whole-batch fallback
                return None
              case Some(dt) =>
                val name = fld.getName
                var nulls = 0L
                var mn: Any = null
                var mx: Any = null
                val cmp = fld.asPrimitiveType().comparator()
                  .asInstanceOf[java.util.Comparator[Any]]
                blocks.foreach { b =>
                  val ccmd = scala.jdk.CollectionConverters
                    .ListHasAsScala(b.getColumns).asScala
                    .find(_.getPath.toDotString == name)
                    .getOrElse(return None)
                  val st = ccmd.getStatistics
                  if (st == null || st.isEmpty || !st.isNumNullsSet) return None
                  nulls += st.getNumNulls
                  if (st.hasNonNullValue) {
                    val zeroOk = zeroSafe(name)
                    val bmn = floatBound(st.genericGetMin, zeroOk).getOrElse(return None)
                    val bmx = floatBound(st.genericGetMax, zeroOk).getOrElse(return None)
                    if (mn == null || cmp.compare(bmn, mn) < 0) mn = bmn
                    if (mx == null || cmp.compare(bmx, mx) > 0) mx = bmx
                  } else if (st.getNumNulls != b.getRowCount) {
                    return None // stats dropped (oversized values), not all-null
                  }
                }
                def str(v: Any): String =
                  if (v == null) null
                  else Cast(Literal(toCatalyst(v, dt), dt), StringType, tzId)
                    .eval(null).toString
                Some(ColStat(name, dt.catalogString, str(mn), str(mx), nulls))
            }
          }
          val norm = org.apache.hadoop.fs.Path
            .getPathWithoutSchemeAndAuthority(p).toString
          FileStat(norm, rows, cols,
            fsMeta.get(norm).map(_._1), fsMeta.get(norm).map(_._2))
        } finally reader.close()
      }
      Some(out)
    } catch {
      case scala.util.control.NonFatal(_) => None // any surprise → scanning path
    }
  }

  /** The write job's own stats observation (r18, verdict #3): the
    * per-column aggregates that used to require RE-READING the batch a
    * commit just wrote — one fixed-cost Spark job per verb, the
    * measured q149 price — ride the write plan itself as a
    * `CollectMetrics` observation: NDV sketch per column (the one
    * thing parquet footers cannot provide) plus string avg/max
    * lengths, computed while the rows stream to parquet. Per-file
    * min/max/null/row envelopes then come from the footers
    * ([[footerFileStats]], zero jobs), and [[batchFileStats]] fuses
    * the two. The OBSERVED sketch is batch-level, so it is stamped on
    * EVERY file of the batch: HLL register merge is idempotent
    * (union(S..S) = S), the table-level union stays exactly the batch
    * union, and a later CoW that consumes SOME of the batch's files
    * can never silently drop the survivors' distincts — each survivor
    * still carries the full batch sketch (a bounded over-count, upper
    * tier, clamped by rowCount — the protective direction). */
  private[graft] final case class BatchObs(
      fields: Seq[org.apache.spark.sql.types.StructField],
      obs: org.apache.spark.sql.Observation)

  /** Per column: the NDV sketch `h`; for strings the avg/max lengths
    * `al`/`ml`; for floats and doubles the count `nz` of `-0.0` values,
    * which tells [[footerFileStats]] whether a zero footer bound is
    * `0.0` (the string render runs only on zero-valued rows). */
  private def batchObserveAggs(
      fields: Seq[org.apache.spark.sql.types.StructField]): Seq[Column] =
    fields.zipWithIndex.flatMap { case (f, i) =>
      import org.apache.spark.sql.types._
      val c = col(f.name)
      Seq(hll_sketch_agg(
        if (integralSketch(f.dataType)) c.cast("long")
        else c.cast("string"), 10).as(s"h$i")) ++
        (f.dataType match {
          case StringType =>
            Seq(avg(length(c)).as(s"al$i"), max(length(c)).cast("long").as(s"ml$i"))
          case FloatType | DoubleType =>
            Seq(count(when(c === 0 && c.cast("string").startsWith("-"), 1)).as(s"nz$i"))
          case _ => Nil
        })
    }

  /** Float/double columns the observation proved free of `-0.0`. */
  private def zeroSafeColumns(m: Map[String, Any],
      fields: Seq[org.apache.spark.sql.types.StructField]): Set[String] =
    fields.zipWithIndex.collect {
      case (f, i) if m.get(s"nz$i").contains(0L) => f.name
    }.toSet

  /** Stamp the write-time observation onto footer-derived per-file
    * stats: batch sketch + batch NDV on every file (see [[BatchObs]]
    * for why every file), batch-global string lengths (the row-weighted
    * table mean is exact when every file of a batch reports the batch
    * mean). */
  private def fuseObservedStats(perFile: Seq[FileStat],
      m: Map[String, Any],
      fields: Seq[org.apache.spark.sql.types.StructField]): Seq[FileStat] = {
    val byName = fields.zipWithIndex.map { case (f, i) =>
      val skBytes = m.get(s"h$i").collect { case b: Array[Byte] => b }
      val tag = if (integralSketch(f.dataType)) "l:" else ""
      val hs = skBytes
        .map(b => tag + java.util.Base64.getEncoder.encodeToString(b))
        .getOrElse(emptyHllB64)
      val ndv = skBytes.map(b => math.round(
        org.apache.datasketches.hll.HllSketch.heapify(b).getEstimate))
        .getOrElse(0L)
      val al = m.get(s"al$i").flatMap(Option(_)).map(v =>
        math.round(v.asInstanceOf[java.lang.Number].doubleValue()))
      val ml = m.get(s"ml$i").flatMap(Option(_))
        .map(_.asInstanceOf[java.lang.Number].longValue())
      f.name -> ((hs, ndv, al, ml))
    }.toMap
    perFile.map { fst =>
      fst.copy(cols = fst.cols.map { c =>
        byName.get(c.col).fold(c) { case (hs, ndv, al, ml) =>
          c.copy(hll = Some(hs), ndv = Some(ndv), al = al, ml = ml)
        }
      })
    }
  }

  /** Stats for a just-written batch. The FUSED path is the default
    * (r18): per-file envelopes from the parquet footers + NDV sketches
    * and string lengths from the write job's own observation — ZERO
    * post-write Spark jobs, sketches after every verb (the r17
    * scanning default bought the sketches at one fixed-cost job per
    * commit; this keeps them for free). The SCANNING agg remains for
    * everything the fusion cannot serve: bloom-enrolled tables
    * (bit-position collect_sets need a real aggregation), batches past
    * `spark.graft.stats.footerMaxFiles` (default 64 — the driver-side
    * footer loop loses to the agg's parallelism), footer shapes the
    * fast path cannot prove faithful (INT96, decimals, NaN bounds, and
    * zero float bounds in a batch holding any `-0.0`), and callers
    * without an observation (z-order compaction, analyze).
    * `spark.graft.stats.verbScanMaxBytes` keeps its r17 contract:
    * above it (or at 0, the opt-out) the batch takes the zero-job
    * footer path WITHOUT sketches and leaves the gap to
    * `CALL graft.system.analyze` ([[analyzeSnapshot]]) — at 0 the
    * write attaches no observation at all. */
  private[graft] def batchFileStats(spark: SparkSession, files: Seq[String],
      fsMeta: Map[String, (Long, Long)],
      bloomConf: Map[String, Int],
      observed: Option[BatchObs] = None): Seq[FileStat] = {
    val maxFiles = spark.conf.getOption("spark.graft.stats.footerMaxFiles")
      .map(_.toInt).getOrElse(64)
    val scanMax = spark.conf.getOption("spark.graft.stats.verbScanMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val batchBytes = files.map(f => org.apache.hadoop.fs.Path
        .getPathWithoutSchemeAndAuthority(
          new org.apache.hadoop.fs.Path(f)).toString)
      .flatMap(fsMeta.get).map(_._1).sum
    val fused =
      if (bloomConf.nonEmpty || files.size > maxFiles) None
      else observed.flatMap { bo =>
        // the write action already completed, so the metrics row is
        // either set or arriving on the listener bus — the bounded
        // await only guards the theoretical never-registered plan
        // (fall back to the scanning agg rather than hang a commit)
        scala.util.Try(scala.concurrent.Await.result(bo.obs.future,
          scala.concurrent.duration.Duration(60, "s"))).toOption
          .map(row => row.schema.fieldNames.zip(row.toSeq).toMap)
          .filter(_.nonEmpty)
          .flatMap(m => footerFileStats(spark, files, fsMeta,
            zeroSafeColumns(m, bo.fields)).map(fuseObservedStats(_, m, bo.fields)))
      }
    fused
      .orElse(
        if (bloomConf.isEmpty && files.size <= maxFiles && batchBytes > scanMax)
          footerFileStats(spark, files, fsMeta)
        else None)
      .getOrElse(computeFileStats(spark, files, fsMeta, bloomConf))
  }

  /** Per-file column min/max + null counts for a just-written batch:
    * ONE Spark aggregation over the batch grouped by `input_file_name`
    * — cost proportional to the new batch, never the table. (The
    * zero-read alternative is parquet footer scraping — see
    * [[footerFileStats]], which the CoW verbs use; this full pass also
    * computes NDV sketches and bloom bit-sets, which footers cannot.) */
  private[graft] def computeFileStats(spark: SparkSession, files: Seq[String],
      fsMeta: Map[String, (Long, Long)] = Map.empty,
      bloomConf: Map[String, Int] = Map.empty): Seq[FileStat] = {
    if (files.isEmpty) return Seq.empty
    val df = spark.read.parquet(files: _*)
    val fields = df.schema.fields.filter(f => statable(f.dataType)).toSeq
    // Per-column NDV: ONE mergeable Datasketches HLL sketch (lgK=10,
    // ~3% rse, ~0.7 KB base64) per column rides the one-pass agg; the
    // per-file `ndv` COUNT is derived driver-side from that same
    // sketch (r17 — the separate approx_count_distinct aggregation
    // was a second HLL per column per row computing a strictly worse
    // estimate of the same number; since every CoW verb now runs this
    // agg, the redundant per-row work is a per-commit tax). The sketch
    // is what makes table-level NDV honest: counts alone can only be
    // summed across files, overstating by up to the file count.
    //
    // Sketch INPUT FORM is pinned per declared type (r17): integral
    // columns feed their widened long natively — the r16 string render
    // materialized a per-row string per column on EVERY commit, a
    // measurable tax on commit-heavy workloads for zero information —
    // while every other statable type keeps the injective string cast
    // (the sketch agg accepts int/long/string/binary only; float/
    // double/decimal/date/timestamp have no native form there). The
    // form rides the sidecar as an `l:` prefix on the base64, because
    // a long-fed 5 and a string-fed "5" hash apart: the table-NDV
    // merge must never union sketches of different forms — it falls
    // off-form files back to their count tier instead (see
    // [[unionNdvEstimate]]). Legacy bare-base64 sidecars read as
    // string-form; empty sketches are form-agnostic by construction.
    val aggs = count(lit(1)).as("__rows") +: fields.flatMap { f => Seq(
      min(col(f.name)).cast("string"),
      max(col(f.name)).cast("string"),
      sum(when(col(f.name).isNull, 1L).otherwise(0L)),
      hll_sketch_agg(
        if (integralSketch(f.dataType)) col(f.name).cast("long")
        else col(f.name).cast("string"), 10))
    }
    // Bloom-enrolled columns add two bounded collect_sets per file (the
    // distinct BIT POSITIONS, capped at the filter width — never the
    // values): both probes derive from ONE xxhash64, low bits and high
    // bits, the standard double-hashing split. Same one-pass batch agg.
    val bloomFields = fields.filter(f => bloomConf.contains(f.name))
    val bloomAggs = bloomFields.flatMap { f =>
      val m = bloomConf(f.name)
      Seq(collect_set(expr(s"pmod(xxhash64(`${f.name}`), ${m}L)")),
        collect_set(expr(
          s"pmod(shiftrightunsigned(xxhash64(`${f.name}`), 32), ${m}L)")))
    }
    // STRING columns also record avg/max length (r16): CBO's row-width
    // and size estimation for string-heavy tables is garbage without
    // them, and the same one-pass agg computes both for free.
    val lenFields = fields.filter(_.dataType ==
      org.apache.spark.sql.types.StringType)
    val lenAggs = lenFields.flatMap(f =>
      Seq(avg(length(col(f.name))), max(length(col(f.name)))))
    val allAggs = aggs ++ bloomAggs ++ lenAggs
    df.groupBy(input_file_name().as("__path"))
      .agg(allAggs.head, allAggs.tail: _*).collect().toSeq.map { row =>
        val p = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
          new org.apache.hadoop.fs.Path(new java.net.URI(row.getString(0)))).toString
        val bloomBase = 2 + fields.size * 4
        val cols = fields.zipWithIndex.map { case (f, i) =>
          val bl = bloomConf.get(f.name).map { m =>
            val bi = bloomFields.indexWhere(_.name == f.name)
            val bits = new java.util.BitSet(m)
            Seq(bloomBase + bi * 2, bloomBase + bi * 2 + 1).foreach { idx =>
              row.getAs[scala.collection.Seq[Long]](idx)
                .foreach(pos => bits.set(pos.toInt))
            }
            s"$m:" + java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
          }
          // an all-NULL column yields a null sketch — record the empty
          // sketch so the table-level union stays exact (None means
          // "no sketch recorded", which forces the sum-clamp fallback).
          // The per-file ndv COUNT derives from the very same sketch,
          // driver-side (r17) — one HLL per column instead of two.
          val tag = if (integralSketch(f.dataType)) "l:" else ""
          val skBytes = Option(row.getAs[Array[Byte]](5 + i * 4))
          val hs = skBytes
            .map(b => tag + java.util.Base64.getEncoder.encodeToString(b))
            .orElse(Some(emptyHllB64))
          val ndvEst = skBytes.map(b => math.round(
            org.apache.datasketches.hll.HllSketch.heapify(b).getEstimate))
            .getOrElse(0L)
          val lenBase = bloomBase + bloomFields.size * 2
          val li = lenFields.indexWhere(_.name == f.name)
          val (al, ml) =
            if (li < 0) (None, None)
            else (Option(row.get(lenBase + li * 2))
                .map(v => math.round(v.asInstanceOf[java.lang.Number].doubleValue())),
              Option(row.get(lenBase + li * 2 + 1))
                .map(_.asInstanceOf[java.lang.Number].longValue()))
          ColStat(f.name, f.dataType.catalogString,
            row.getString(2 + i * 4), row.getString(3 + i * 4),
            row.getLong(4 + i * 4), bl, Some(ndvEst), hs,
            al, ml)
        }
        FileStat(p, row.getLong(1), cols,
          fsMeta.get(p).map(_._1), fsMeta.get(p).map(_._2))
      } match {
        // a ZERO-ROW file produces no group in the agg (the schema-
        // bearing file a CREATE TABLE commits, a fully-filtered write
        // task) — synthesize its entry rather than publish a sidecar
        // that silently under-covers the manifest: every consumer
        // (estimates, profiles, CBO stats) keys completeness on
        // "every manifest file has a stat line".
        case got =>
          val have = got.map(_.path).toSet
          got ++ files.map(f => org.apache.hadoop.fs.Path
              .getPathWithoutSchemeAndAuthority(
                new org.apache.hadoop.fs.Path(f)).toString)
            .filterNot(have).map { p =>
              FileStat(p, 0L, fields.map(f =>
                ColStat(f.name, f.dataType.catalogString, null, null, 0L,
                  None, Some(0L), Some(emptyHllB64))),
                fsMeta.get(p).map(_._1), fsMeta.get(p).map(_._2))
            }
      }
  }

  /** The empty Datasketches HLL sketch (lgK=10), base64 — stamped on
    * zero-row and all-NULL file-columns so the table-level NDV union
    * never loses the sketch path to a file that simply had nothing to
    * enroll. */
  private lazy val emptyHllB64: String =
    java.util.Base64.getEncoder.encodeToString(
      new org.apache.datasketches.hll.HllSketch(10).toCompactByteArray)

  /** Columns whose NDV sketch is fed the NATIVE long (r17) instead of
    * a per-row string render. Widening byte/short/int to long is a
    * primitive cast inside codegen — allocation-free — and keeps one
    * consistent sketch form across files whatever the declared width. */
  private def integralSketch(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** Table-level NDV from per-file sidecar entries, FORM-AWARE (r17):
    * sketches are unioned only within one input form (`l:`-tagged
    * long-fed vs legacy/string-fed bare base64 — a long-fed 5 and a
    * string-fed "5" hash apart, so a cross-form union double-counts
    * every shared value). The form covering the most non-empty
    * sketches wins; empty sketches union under any form; every
    * off-form or sketchless file contributes its count tier (recorded
    * NDV, else non-null rows) — each tier a valid upper bound, the
    * rowCount clamp holding the lot. None only when the union path
    * itself fails (corrupt sketch bytes). */
  private[graft] def unionNdvEstimate(entries: Seq[(Long, ColStat)],
      rowCount: Long): Option[BigInt] =
    scala.util.Try {
      val decoded = entries.map { case (rows, e) =>
        (rows, e, e.hll.map { h =>
          val (form, b64) =
            if (h.startsWith("l:")) ("l", h.drop(2)) else ("s", h)
          (form, org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(b64)))
        })
      }
      val forms = decoded.flatMap(_._3).filter(_._2.getEstimate >= 0.5)
        .map(_._1)
      val chosen =
        if (forms.isEmpty) "s"
        else forms.groupBy(identity).toSeq.map { case (f, g) => (g.size, f) }
          .max._2 // deterministic: count first, lexicographic tie-break
      val u = new org.apache.datasketches.hll.Union(12)
      var extra = 0L
      decoded.foreach {
        case (_, _, Some((form, sk)))
            if form == chosen || sk.getEstimate < 0.5 => u.update(sk)
        case (rows, e, _) =>
          extra += e.ndv.getOrElse(math.max(0L, rows - e.nc))
      }
      BigInt(math.min(math.round(u.getEstimate) + extra,
        math.max(rowCount, 1L)))
    }.toOption

  /** (path → (len, mtime)) of a just-listed batch — the writer already
    * holds these `FileStatus`es; recording them in the sidecar is what
    * lets every later read plan with zero per-file status RPCs. */
  private def fsMetaOf(statuses: Seq[org.apache.hadoop.fs.FileStatus]): Map[String, (Long, Long)] =
    statuses.map(st => org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(st.getPath).toString ->
      (st.getLen, st.getModificationTime)).toMap

  /** Write one batch directory for a commit, honoring the table's
    * HIDDEN partition spec when one is set: the transform columns are
    * derived on the fly and the batch lands `partitionBy(tuple)` —
    * the tuple is encoded in the file PATH only (Hive dirs under the
    * batch dir), the data files keep exactly the user's columns, and
    * the derived columns never reach the committed schema or any read
    * (explicit leaf-file reads infer no partition columns). Returns
    * (batch dir, sorted data-file paths, their statuses). */
  private def writeBatch(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: org.apache.hadoop.fs.Path,
      df0: DataFrame, headSchema: Option[org.apache.spark.sql.types.StructType],
      refs: Refs)
      : (org.apache.hadoop.fs.Path, Seq[String],
        Seq[org.apache.hadoop.fs.FileStatus], Option[BatchObs]) = {
    // Column mapping: data files ALWAYS store physical names, so a
    // logically-named batch translates here — the single choke point
    // every data write (append, CoW rewrite, MoR batch, compaction)
    // funnels through, under the committed schema of the head the
    // caller resolved. No-op on never-renamed tables, and on an
    // unreadable head (torn/alien manifest): there is no committed
    // mapping to honor, and an overwrite over it must still proceed.
    val df1 = toPhysicalDf(df0, headSchema)
    // Write-time stats observation (r18, verdict #3): NDV sketches and
    // string lengths ride the write job itself (see [[BatchObs]]) —
    // skipped for bloom-enrolled tables (their bit-set collect needs
    // the scanning agg anyway; observing here would pay the sketch CPU
    // twice) and when `verbScanMaxBytes = 0` (the declared opt-out of
    // ALL write-time stats cost).
    val statFields = df1.schema.fields.filter(f => statable(f.dataType)).toSeq
    val scanMax0 = spark.conf.getOption("spark.graft.stats.verbScanMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val batchObs =
      if (statFields.isEmpty || scanMax0 <= 0 || refs.bloom.nonEmpty) None
      else Some(BatchObs(statFields,
        org.apache.spark.sql.Observation(s"graft_stats_${writerToken()}")))
    val df = batchObs.fold(df1) { bo =>
      val aggs = batchObserveAggs(bo.fields)
      df1.observe(bo.obs, aggs.head, aggs.tail: _*)
    }
    val (specId, spec) = (refs.activeSpecId, refs.spec)
    // spec-1 batches keep the legacy `data/b…` name; evolved-spec
    // batches encode their spec id so per-file pruning knows which
    // spec's fields a path tuple means (specIdOfPath)
    val batch = new org.apache.hadoop.fs.Path(r,
      if (specId <= 1) s"data/b${writerToken()}"
      else s"data/s$specId-b${writerToken()}")
    // Declared sort order: applied within write tasks (after the
    // partition-tuple shuffle when one exists) so every file's row
    // groups carry tight sort-key envelopes.
    val sortCols = refs.sortOrder
    def sorted(d: DataFrame, prefix: Seq[Column]): DataFrame =
      if (sortCols.isEmpty) d
      else d.sortWithinPartitions(prefix ++ sortCols.map(col): _*)
    if (spec.isEmpty)
      sorted(df, Seq.empty).write.mode(SaveMode.ErrorIfExists)
        .parquet(batch.toString)
    else {
      // the committed schema's types govern tuple derivation (see
      // partitionColumn); first commit falls back to the batch schema,
      // which then BECOMES the committed schema
      val committed = headSchema
      def declaredType(c: String) = committed
        .flatMap(cs => cs.fields.find(_.name == c)).map(_.dataType)
        .getOrElse(df.schema(c).dataType)
      val withPt = spec.zipWithIndex.foldLeft(df) { case (d, (f, i)) =>
        d.withColumn(s"__pt_$i", partitionColumn(f, declaredType(f.col)))
      }
      // Hash-distribute by the tuple before partitionBy (Iceberg's
      // default write distribution): without it every writer task
      // holding k tuples emits k files — a 32-task batch over 80
      // months is 2 560 small files; with it each tuple lands in one
      // task → |tuples| right-sized files per commit.
      val ptCols = spec.indices.map(i => col(s"__pt_$i"))
      sorted(withPt.repartition(ptCols: _*), ptCols)
        .write.mode(SaveMode.ErrorIfExists)
        .partitionBy(spec.indices.map(i => s"__pt_$i"): _*)
        .parquet(batch.toString)
    }
    // listStatus, walked into the partition directories: `listFiles`
    // returns located statuses, which load each file's owner and
    // permission (a child process per file on the local filesystem
    // without native Hadoop); only length and mtime are used
    def leaves(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap(st =>
        if (st.isDirectory) leaves(st.getPath) else Seq(st))
    val newStatuses = leaves(batch).filter(_.getPath.getName.endsWith(".parquet"))
    val newFiles = newStatuses.map(st => org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(st.getPath).toString).sorted
    (batch, newFiles, newStatuses, batchObs)
  }

  /** Write a stats sidecar (JSON lines, one [[FileStat]] per data file)
    * under a UNIQUE name and return that name. The manifest references
    * it via a `#stats:<name>` meta line — names are writer-unique, so
    * racing committers can never clobber each other's sidecars the way
    * version-named sidecars would. */
  /** Quoted JSON string literal for the stats sidecar and the bench
    * record — the standard escape set plus all control chars, matching
    * what Jackson (and the old Dataset.toJSON path) emits for the same
    * input. */
  private[graft] def jsonEsc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  /** One FileStat as a JSON line — the exact shape `Dataset.toJSON`
    * over `Encoders.product[FileStat]` produced (field order, null and
    * None fields omitted), emitted DRIVER-SIDE: serializing a
    * metadata-sized sidecar must never cost a distributed job. */
  private[graft] def statJsonLine(f: FileStat): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"path\":").append(jsonEsc(f.path))
      .append(",\"rows\":").append(f.rows)
      .append(",\"cols\":[")
    var first = true
    f.cols.foreach { c =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"col\":").append(jsonEsc(c.col))
        .append(",\"typ\":").append(jsonEsc(c.typ))
      if (c.mn != null) sb.append(",\"mn\":").append(jsonEsc(c.mn))
      if (c.mx != null) sb.append(",\"mx\":").append(jsonEsc(c.mx))
      sb.append(",\"nc\":").append(c.nc)
      c.bloom.foreach(b => sb.append(",\"bloom\":").append(jsonEsc(b)))
      c.ndv.foreach(n => sb.append(",\"ndv\":").append(n))
      c.hll.foreach(h => sb.append(",\"hll\":").append(jsonEsc(h)))
      c.al.foreach(v => sb.append(",\"al\":").append(v))
      c.ml.foreach(v => sb.append(",\"ml\":").append(v))
      sb.append('}')
    }
    sb.append(']')
    f.len.foreach(l => sb.append(",\"len\":").append(l))
    f.mtime.foreach(m => sb.append(",\"mtime\":").append(m))
    sb.append('}')
    sb.toString
  }

  /** Parse one stats-sidecar JSON line (both this writer's output and
    * lines written by the pre-r14 Dataset.toJSON path — same shape). */
  private[graft] def parseStatLine(line: String): FileStat = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(line)
    def str(v: JValue): String = v match {
      case JString(s) => s
      case _ => null
    }
    def lng(v: JValue): Option[Long] = v match {
      case JInt(i) => Some(i.toLong)
      case JLong(l) => Some(l)
      case _ => None
    }
    val cols = j \ "cols" match {
      case JArray(cs) => cs.map { c =>
        ColStat(str(c \ "col"), str(c \ "typ"), str(c \ "mn"), str(c \ "mx"),
          lng(c \ "nc").getOrElse(0L),
          Option(str(c \ "bloom")), lng(c \ "ndv"), Option(str(c \ "hll")),
          lng(c \ "al"), lng(c \ "ml"))
      }
      case _ => Nil
    }
    FileStat(str(j \ "path"), lng(j \ "rows").getOrElse(0L), cols,
      lng(j \ "len"), lng(j \ "mtime"))
  }

  private def writeStatsFile(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      stats: Seq[FileStat]): String = {
    val name = s"s-${writerToken()}.stats"
    val lines = stats.map(statJsonLine)
    val out = fs.create(new org.apache.hadoop.fs.Path(manifestDir(root), name), false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** [[Manifest.stats]] of version `v`. */
  private[graft] def readStats(spark: SparkSession, root: String, v: Long): Map[String, FileStat] = {
    val (fs, r) = fsOf(spark, root)
    manifestAt(fs, r, v).stats
  }

  /** Parsed-sidecar memo. Sidecar NAMES are writer-unique and their
    * content immutable once published ([[writeStatsFile]]), so the
    * qualified path is a sound forever-key — no invalidation problem.
    * Payoff: one statement consults stats 2–3× (nomination, pin,
    * carry) and every read plan consults them again; on a big table
    * each consult re-parsed the whole JSON sidecar driver-side. The
    * memo is size-bounded (LRU, access-order) so a long-lived session
    * over many tables can't grow without bound. */
  private val statsCacheMax = 32
  private val statsCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Map[String, FileStat]](
        statsCacheMax, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Map[String, FileStat]]): Boolean =
          size() > statsCacheMax
      })

  private def readStatsNamed(
      fs: org.apache.hadoop.fs.FileSystem, r: org.apache.hadoop.fs.Path,
      statsName: Option[String]): Map[String, FileStat] = statsName match {
    case None => Map.empty
    case Some(name) =>
      val p = new org.apache.hadoop.fs.Path(manifestDir(r), name)
      val key = fs.makeQualified(p).toString
      val hit = statsCache.get(key)
      if (hit != null) hit
      else if (!fs.exists(p)) Map.empty // absence is NOT cached: a racer may still be writing
      else {
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
          finally in.close()
        // A DELTA-CHAINED sidecar ([[writeStatsDelta]]) leads with
        // `#depth:`/`#include:` meta lines; includes resolve
        // recursively (depth-capped at write time) with local entries
        // overriding included ones by path. The memo stores the
        // RESOLVED map, so a chain's shared prefix is parsed once per
        // session no matter how many heads reference it.
        val (metaL, dataL) = lines.partition(_.startsWith("#"))
        val base = metaL.filter(_.startsWith("#include:"))
          .map(_.stripPrefix("#include:"))
          .foldLeft(Map.empty[String, FileStat]) { (m, inc) =>
            m ++ readStatsNamed(fs, r, Some(inc))
          }
        // driver-side parse ([[parseStatLine]]): a stats consult runs
        // before EVERY verb and read plan — it must never cost a
        // distributed json job
        val parsed = base ++ dataL.map(parseStatLine).map(fstat => fstat.path -> fstat)
        statsCache.put(key, parsed)
        parsed
      }
  }

  /** Chain-depth cap for delta stats sidecars: a deeper chain is
    * FLATTENED at write time, bounding the per-consult GET fan-in.
    * Package-visible so specs can drive the flatten on short chains. */
  @volatile private[graft] var statsMaxDepth: Int = 32

  /** Chain depth of a stats sidecar — its leading `#depth:` meta line
    * (0 for a flat sidecar). Reads ONE line, never the body. */
  private def statsChainDepth(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, name: String): Int = {
    val in = fs.open(new org.apache.hadoop.fs.Path(manifestDir(r), name))
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      val l = br.readLine()
      if (l != null && l.startsWith("#depth:")) l.stripPrefix("#depth:").trim.toInt
      else 0
    } finally in.close()
  }

  /** Leading `#include:` pointers of a stats sidecar (empty for flat
    * ones) — vacuum walks these to keep a kept version's whole chain. */
  private def statsIncludesOf(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, name: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(r), name)
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var l = br.readLine()
      while (l != null && l.startsWith("#")) {
        if (l.startsWith("#include:")) out += l.stripPrefix("#include:")
        l = br.readLine()
      }
      out.toSeq
    } finally in.close()
  }

  /** O(delta) stats commit: write ONLY the new batch's stat lines plus
    * an `#include:` pointer at the base version's sidecar — the
    * stats-side twin of the manifest segment carry. Along a pure
    * append chain resolution is exact; a CoW link leaves its consumed
    * files' entries behind as stale extras, which is safe because
    * every map-iterating consumer goes through [[readStats]]'s
    * version-file filter and the pruning path looks up per manifest
    * file. Depth past [[statsMaxDepth]] FLATTENS, filtered to
    * `liveAtFlatten` so stale extras never outlive a chain (amortized
    * O(files/depth) per commit); a vanished base sidecar degrades to a
    * flat write of the delta — consumers treat a missing entry as
    * "cannot prune", never as an error. */
  private def writeStatsDelta(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: org.apache.hadoop.fs.Path,
      prevName: Option[String], newStats: Seq[FileStat],
      liveAtFlatten: => Set[String], refs: Refs): String =
    prevName match {
      case None => writeStatsFile(spark, fs, r, newStats.sortBy(_.path))
      case Some(prev) =>
        val depthMax = refs.manifestConf._3
        val d =
          try statsChainDepth(fs, r, prev)
          catch { case _: java.io.FileNotFoundException => -1 }
        if (d < 0) writeStatsFile(spark, fs, r, newStats.sortBy(_.path))
        else if (d + 1 > depthMax) {
          val live = liveAtFlatten
          val all = readStatsNamed(fs, r, Some(prev))
            .filter { case (p, _) => live(p) } ++
            newStats.map(f => f.path -> f)
          writeStatsFile(spark, fs, r, all.values.toSeq.sortBy(_.path))
        } else {
          val name = s"s-${writerToken()}.stats"
          val lines = Seq(s"#depth:${d + 1}", s"#include:$prev") ++
            newStats.sortBy(_.path).map(statJsonLine)
          val out = fs.create(
            new org.apache.hadoop.fs.Path(manifestDir(r), name), false)
          try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
          finally out.close()
          name
        }
    }

  /** The table schema of a version (head by default) as COMMITTED in
    * the manifest — the authoritative answer on a schema-evolved table,
    * independent of which file the manifest happens to list first.
    * None for versions written before schema recording existed (readers
    * fall back to file-footer sniffing). */
  def snapshotSchema(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] = {
    val (fs, r) = fsOf(spark, root)
    val vs = versionsAt(fs, r)
    if (vs.isEmpty) None else manifestAt(fs, r, version.getOrElse(vs.last)).schema
  }

  /** Recursively nullable-normalized: the committed schema is a READ
    * contract over many files, and a file written before a column
    * existed serves NULLs for it — Spark's vectorized reader enforces
    * exactly this (a missing column that the requested schema marks
    * required is an error; nullable reads as nulls), and Spark itself
    * applies the same normalization to user-specified read schemas. */
  private def nullify(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = nullify(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = nullify(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def schemaLineOf(s: org.apache.spark.sql.types.StructType): String = {
    // Physical-name collision guard (every committed schema funnels
    // through here): after RENAME a→b, adding a NEW column named `a`
    // would collide with b's physical storage name — two logical
    // columns, one parquet column. Reject at commit, loudly.
    val phys = s.fields.map(physicalNameOf)
    require(phys.distinct.length == phys.length,
      "physical column-name collision: a column reuses the pre-rename " +
        s"storage name of an existing column (${phys.diff(phys.distinct).mkString(", ")}) " +
        "— choose a different name")
    s"#schema:${nullify(s).json}"
  }

  /** Monotone schema union for append/CoW commits: prior columns keep
    * their position and declared type; batch-only columns append in
    * batch order. The committed-schema analog of mergeSchema, computed
    * once at commit instead of from N footers at every read. */
  private def unionSchema(prior: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      prior.fields ++ batch.fields.filterNot(f => prior.fieldNames.contains(f.name)))

  // ---------------------------------------------------------------------
  // COLUMN MAPPING (rename support): parquet keys columns by NAME, so a
  // metadata-only RENAME records the column's immutable PHYSICAL name
  // (its name at creation) in the committed schema's field metadata —
  // Delta's column-mapping 'name' mode, the name-keyed equivalent of
  // Iceberg's field IDs. Data files ALWAYS store physical names (writes
  // translate logical→physical, reads translate back), so every file of
  // every era serves every logical name, and time travel serves each
  // version under the names ITS schema committed. A table that never
  // renamed has an empty map and every translation below is a no-op.
  // ---------------------------------------------------------------------

  private[graft] val PhysicalKey = "graft.physical"

  private def physicalNameOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical → physical name map of a committed schema (differing
    * entries only — empty on never-renamed tables). */
  private[graft] def physicalMap(
      s: org.apache.spark.sql.types.StructType): Map[String, String] =
    s.fields.flatMap { f =>
      val p = physicalNameOf(f)
      if (p != f.name) Some(f.name -> p) else None
    }.toMap

  /** The committed schema as the DATA FILES store it: physical field
    * names — recursively through plain struct nesting, so nested
    * renames read correctly — with mapping metadata stripped (a
    * parquet read schema). */
  private def physicalType(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case st: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          org.apache.spark.sql.types.StructField(
            physicalNameOf(f), physicalType(f.dataType), f.nullable)))
      case other => other
    }
  private[graft] def physicalSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physicalNameOf(f), physicalType(f.dataType), f.nullable)))

  /** Rewrite a FRAME-side type to logical names, guided by the
    * committed field it serves: physical subfield names map back to
    * their committed logical names recursively through plain struct
    * nesting (nested DDL's domain); fields the committed type does not
    * know pass through. Pure renaming — the frame's own child TYPES are
    * kept verbatim, so the companion cast can never coerce values. */
  private def logicalRename(bt: org.apache.spark.sql.types.DataType,
      committed: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    (bt, committed) match {
      case (b: org.apache.spark.sql.types.StructType,
            c: org.apache.spark.sql.types.StructType) =>
        org.apache.spark.sql.types.StructType(b.fields.map { bf =>
          c.fields.find(f => physicalNameOf(f).equalsIgnoreCase(bf.name)) match {
            case Some(cf) => org.apache.spark.sql.types.StructField(
              cf.name, logicalRename(bf.dataType, cf.dataType), bf.nullable)
            case None => bf
          }
        })
      case _ => bt
    }

  /** The write-side mirror of [[logicalRename]]: logical subfield names
    * map to their immutable physical storage names. */
  private def physicalRename(bt: org.apache.spark.sql.types.DataType,
      committed: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    (bt, committed) match {
      case (b: org.apache.spark.sql.types.StructType,
            c: org.apache.spark.sql.types.StructType) =>
        org.apache.spark.sql.types.StructType(b.fields.map { bf =>
          c.fields.find(_.name.equalsIgnoreCase(bf.name)) match {
            case Some(cf) => org.apache.spark.sql.types.StructField(
              physicalNameOf(cf), physicalRename(bf.dataType, cf.dataType),
              bf.nullable)
            case None => bf
          }
        })
      case _ => bt
    }

  private def quotedCol(c: String) =
    col("`" + c.replace("`", "``") + "`")

  /** Rename a physically-named frame to its logical names — top-level
    * columns by projection, NESTED struct subfields by a positional
    * struct cast (name-only: [[logicalRename]] keeps the frame's child
    * types, so the cast coerces nothing) — in ONE atomic select:
    * sequential withColumnRenamed folds are order-sensitive under
    * chained renames (x→z then y→x can rename onto a still-present
    * name and corrupt both columns). No-op without renames. Apply
    * ABOVE any `_metadata`-consuming op: metadata columns do not
    * propagate through this projection. */
  private def toLogicalDf(df: DataFrame,
      s: org.apache.spark.sql.types.StructType): DataFrame = {
    val byPhys = s.fields.map(f =>
      physicalNameOf(f).toLowerCase(java.util.Locale.ROOT) -> f).toMap
    def plan(bf: org.apache.spark.sql.types.StructField):
        Option[(String, org.apache.spark.sql.types.DataType)] =
      byPhys.get(bf.name.toLowerCase(java.util.Locale.ROOT)).flatMap { cf =>
        val tgt = logicalRename(bf.dataType, cf.dataType)
        if (cf.name == bf.name && tgt == bf.dataType) None
        else Some((cf.name, tgt))
      }
    if (df.schema.fields.forall(bf => plan(bf).isEmpty)) df
    else df.select(df.schema.fields.map { bf =>
      plan(bf) match {
        case Some((name, tgt)) =>
          val base = quotedCol(bf.name)
          (if (tgt == bf.dataType) base else base.cast(tgt)).as(name)
        case None => quotedCol(bf.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Translate a logically-named batch to physical names for a
    * data-file write — same atomic shape as [[toLogicalDf]], reversed
    * (no-op without renames; columns already physical — e.g. a
    * compaction rewrite — pass through). */
  private def toPhysicalDf(df: DataFrame,
      s: Option[org.apache.spark.sql.types.StructType]): DataFrame = s match {
    case None => df
    case Some(sch) =>
      val byName = sch.fields.map(f =>
        f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
      def plan(bf: org.apache.spark.sql.types.StructField):
          Option[(String, org.apache.spark.sql.types.DataType)] =
        byName.get(bf.name.toLowerCase(java.util.Locale.ROOT)).flatMap { cf =>
          val ph = physicalNameOf(cf)
          val tgt = physicalRename(bf.dataType, cf.dataType)
          if (ph == bf.name && tgt == bf.dataType) None
          else Some((ph, tgt))
        }
      if (df.schema.fields.forall(bf => plan(bf).isEmpty)) df
      else df.select(df.schema.fields.map { bf =>
        plan(bf) match {
          case Some((name, tgt)) =>
            val base = quotedCol(bf.name)
            (if (tgt == bf.dataType) base else base.cast(tgt)).as(name)
          case None => quotedCol(bf.name)
        }
      }.toIndexedSeq: _*)
  }

  /** Stats sidecars record PHYSICAL column names (they are computed
    * from written files); remap a copy to logical names for pruning
    * consults against logical-name predicates/keys. Never persist the
    * remapped view — carried stats must stay physical. */
  private def statsLogical(stats: Map[String, FileStat],
      cs: Option[org.apache.spark.sql.types.StructType]): Map[String, FileStat] = {
    val inv = cs.map(s => physicalMap(s).map(_.swap)).getOrElse(Map.empty)
    if (inv.isEmpty) stats
    else stats.map { case (p, st) => p -> st.copy(cols = st.cols.map(c =>
      inv.get(c.col).fold(c)(lg => c.copy(col = lg)))) }
  }

  /** Read specific data files under a committed schema's PHYSICAL
    * names (footer inference without one) — the raw scan the verbs'
    * delete chains ([[liveRows]]) start from. */
  private def scanPhysical(spark: SparkSession, files: Seq[String],
      cs: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    cs.fold(spark.read.parquet(files: _*))(s =>
      spark.read.schema(physicalSchema(s)).parquet(files: _*))

  /** Publish `df` as the next snapshot version. `append = true` carries
    * the previous version's files forward (ingest batch); `false`
    * replaces the table contents (the manifest flips, no data file is
    * touched). Per-file column stats are computed for the new batch
    * (one agg over the batch) and published with the manifest so
    * selective reads can data-skip ([[readSnapshot]]'s predicate).
    * Returns the committed version.
    *
    * Concurrency: on a version conflict the commit retries up to
    * `maxRetries` times against the re-read head — the data batch is
    * written ONCE and only the manifest attempt repeats, so append
    * retries are conflict-free merges (each writer's batch lands as its
    * own serialized version). With retries exhausted (or the default 0)
    * the batch directory is deleted before the
    * [[SnapshotConflictException]] propagates — no orphaned data. */
  def commitSnapshot(df: DataFrame, root: String, append: Boolean,
      meta: Seq[String] = Seq.empty, maxRetries: Int = 0,
      expectedHead: Option[Long] = None,
      rewriteOf: Option[Set[String]] = None): Long = {
    val (fs, r) = fsOf(df.sparkSession, root)
    commitOver(df, root, fs, r, append, meta, maxRetries, expectedHead, None, rewriteOf)
  }

  /** [[commitSnapshot]], given the [[Manifest]] of the base a caller
    * already resolved (`known`, used while it is the base). */
  private def commitOver(df: DataFrame, root: String,
      fs: org.apache.hadoop.fs.FileSystem, r: org.apache.hadoop.fs.Path,
      append: Boolean, meta: Seq[String], maxRetries: Int,
      expectedHead: Option[Long], known: Option[Manifest],
      rewriteOf: Option[Set[String]]): Long = {
    val spark = df.sparkSession
    // `expectedHead` PINS the commit's base (a REWRITE's contract —
    // compaction preserves content, so publishing a stale version's
    // rewrite over a concurrent commit's head would ERASE that
    // commit: no serial order produces that outcome; the pinned
    // publish aborts instead and the caller replans). A plain
    // overwrite keeps the recomputed head: "replace the contents"
    // after a racing merge IS the serial (merge, overwrite) order.
    // ONE read of the base manifest per base version serves the batch's
    // physical names, the stats pointer, committed schema, delete-
    // sidecar carry AND the unresolved data section below — the
    // commit's metadata cost is O(meta+includes), never O(live files).
    // Appending to a torn base must fail (strict); an overwrite over
    // one proceeds with a clean slate.
    var baseV: Option[Long] = None
    var base: Option[Manifest] = None
    def resolveBase(): Unit = {
      val v = expectedHead.orElse(versionsAt(fs, r).lastOption)
      if (v != baseV) {
        baseV = v
        base = v.flatMap(v => known.filter(_.v == v).orElse(
          if (append) Some(manifestAt(fs, r, v))
          else scala.util.Try(manifestAt(fs, r, v)).toOption))
      }
    }
    resolveBase()
    val refs = refsOf(fs, r)
    validateChecks(spark, root, refs, base, df)
    val (batch, newFiles, newStatuses, batchObs) =
      writeBatch(spark, fs, r, df, base.flatMap(_.schema), refs)
    val newStats = batchFileStats(spark, newFiles, fsMetaOf(newStatuses),
      refs.bloom, batchObs)
    var attempt = 0
    while (true) {
      resolveBase() // a racer that landed during the batch write is the base
      val next = baseV.getOrElse(0L) + 1
      val carry = if (append) base else None
      // Appends chain a DELTA stats sidecar at the base's (O(delta)
      // write, and no full sidecar parse per commit); overwrites and
      // first commits write flat.
      val statsName = carry match {
        case Some(b) => writeStatsDelta(spark, fs, r, b.statsName, newStats,
          liveAtFlatten = b.files.toSet ++ newFiles, refs)
        case None => writeStatsFile(spark, fs, r, newStats.sortBy(_.path))
      }
      // Committed schema: an overwrite IS the batch's schema; an append
      // unions the prior committed schema (falling back to one carried
      // footer on pre-schema-line tables — only THAT legacy path pays
      // the full manifest resolve) with the batch's.
      val priorSchema = carry.flatMap(b => b.schema
        .orElse(b.files.headOption.map(f => spark.read.parquet(f).schema)))
      val merged = priorSchema.fold(df.schema)(p => unionSchema(p, df.schema))
      // Physical names are STICKY across overwrites (the Delta
      // column-mapping contract): an overwrite's schema is the batch's,
      // but any surviving logical name keeps its storage name — the
      // files writeBatch just landed used exactly that translation.
      val headMap = base.flatMap(_.schema).map(physicalMap).getOrElse(Map.empty)
      val stamped =
        if (headMap.isEmpty) merged
        else org.apache.spark.sql.types.StructType(merged.fields.map { f =>
          headMap.get(f.name).filterNot(_ => f.metadata.contains(PhysicalKey))
            .fold(f)(ph => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).putString(PhysicalKey, ph).build()))
        })
      val schemaLine = schemaLineOf(stamped)
      // appends carry the head's deletion vectors AND equality deletes
      // (same files, same dead rows; the new batch is outside every
      // eqdel's covered set, so re-inserts survive) and its UNRESOLVED
      // data section — the O(delta) commit path; an overwrite starts a
      // clean file list
      try {
        publishManifest(fs, r, next,
          Seq(s"#stats:$statsName", schemaLine) ++ carry.toSeq.flatMap(_.deleteLines) ++
            meta ++ carry.toSeq.flatMap(_.dataRaw) ++ newFiles, refs)
        return next
      } catch {
        case e: SnapshotConflictException =>
          fs.delete(new org.apache.hadoop.fs.Path(manifestDir(r), statsName), false)
          attempt += 1
          // A PINNED commit never retries AT ITS PINNED VERSION: the
          // number is fixed, so that slot is permanently lost. But a
          // pinned CONTENT-PRESERVING rewrite (`rewriteOf` = the files
          // it consumed) gets Iceberg's RewriteFiles validation first:
          // if the concurrent commit left every consumed file alive and
          // added no delete content over them, the already-written
          // batch RE-PUBLISHES against the new head at metadata price —
          // the difference between compaction that lands under steady
          // ingest and compaction that starves. Only a genuine overlap
          // (a CoW rewrite of a consumed file, a new DV/eqdel covering
          // one, a schema flip) falls through to the abort+replan path.
          if (expectedHead.isDefined && rewriteOf.isDefined) {
            try return republishPinnedRewrite(spark,
              base.getOrElse(manifestAt(fs, r, expectedHead.get)), refs, rewriteOf.get,
              newFiles, newStats, schemaLine, meta, carriesLines = append, e)
            catch {
              case e2: SnapshotConflictException =>
                fs.delete(batch, true)
                throw e2
            }
          }
          if (expectedHead.isDefined || attempt > maxRetries) {
            fs.delete(batch, true) // don't orphan the unpublished batch
            throw e
          }
          // Jittered linear backoff before replanning against the new
          // head: an immediate retry puts N racing appenders straight
          // back into the same claim window — under real contention
          // (many streaming sinks on one table) that is quadratic
          // wasted work. Capped so a lone retry never stalls a commit.
          Thread.sleep(math.min(200L, attempt * 20L) +
            scala.util.Random.nextInt(20).toLong)
      }
    }
    -1L // unreachable
  }

  /** Metadata-priced conflict RE-VALIDATION for pinned content-
    * preserving rewrites — Iceberg's `RewriteFiles` validation,
    * expressed manifest-side. A compaction/Z-order pinned at base `b`
    * that loses its publish race used to abort unconditionally; under
    * continuous ingest (the default state of a 100 TB table) that
    * starves maintenance forever. Instead, diff the NEW head against
    * the pin base and re-publish the already-written batch when the
    * race was provably harmless:
    *
    *  - every file the rewrite CONSUMED still lives in the new head
    *    (the racer was an append / a CoW of other files — not a
    *    rewrite of ours);
    *  - the racer added no `#dv:`/`#eqdel:` content touching a
    *    consumed file (our output materialized those rows un-deleted —
    *    carrying the line would not protect the new paths), checked by
    *    reading only the NEW sidecars' path/cover sets, never data;
    *  - the committed `#schema:` line is unchanged (a concurrent
    *    rename/widen invalidates the batch's stamped physical layout
    *    assumptions — rare, so it replans).
    *
    * On success the new manifest is the NEW head's file list with
    * consumed files swapped for the rewrite's output — both commits
    * land, the data written ONCE. `carriesLines = true` keeps the new
    * head's delete sidecars (a partial rewrite: lines referencing
    * rewritten paths self-invalidate, the rest stay load-bearing);
    * `false` (a whole-table rewrite that folded everything it read)
    * carries only lines the RACER added over non-consumed files.
    * Fresh conflicts during the re-publish revalidate against the
    * newer head, bounded; validation failure rethrows the ORIGINAL
    * conflict so callers' replan contract is unchanged.
    *
    * `scopeDisjoint` extends the validation to NON-content-preserving
    * verbs (MERGE/DELETE/UPDATE/replaceWhere/CDC apply — Iceberg's
    * validation-based serializable retry): the verb's output is only
    * serializable as (racer, verb) if the verb would have read and
    * pinned EXACTLY the same inputs on the racer's head. Consumed
    * files alive + no new delete content over them covers the pinned
    * side; the predicate proves the racer's NEW data files hold no row
    * in the verb's key/predicate scope — via the head's stats
    * envelopes ([[mayContain]], bloom-backed for point sets) and
    * hidden-partition tuples ([[tupleMayMatch]]), both conservative. A
    * racer file with no stats entry, or whose envelope intersects the
    * scope, is unprovable → the strict abort stands. Without this, a
    * long-running backfill MERGE under steady ingest loses every race
    * FOREVER and re-pays its full read+write each attempt — the verb-
    * level starvation the r15 rewrite fix left one level down. */
  /** `mustStayLive` (r17): files that must still be in the head's
    * list for the re-publish to stand WITHOUT being swapped out —
    * the targets of grafted MoR delete lines (`extraDvLines`), whose
    * deletes would silently strand if a racer rewrote the file they
    * cover. `extraDvLines` publish alongside the carried head lines;
    * union application is idempotent, so overlap with racer sidecars
    * is harmless. */
  private def republishPinnedRewrite(spark: SparkSession,
      base: Manifest, refs: Refs, consumed: Set[String], newFiles: Seq[String],
      newStats: Seq[FileStat], schemaLine: String, meta: Seq[String],
      carriesLines: Boolean, original: SnapshotConflictException,
      scopeDisjoint: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
      mustStayLive: Set[String] = Set.empty,
      extraDvLines: Seq[String] = Seq.empty,
      racerDeletesOutOfScope: Boolean = false): Long = {
    val (fs, r) = (base.fs, base.r)
    val baseFiles = base.files.toSet
    val baseDvEq = base.deleteLines.toSet
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = manifestAt(fs, r, versionsAt(fs, r).last)
      val headFiles = head.files
      val headDvEq = head.deleteLines.toSet
      val safe =
        (consumed ++ mustStayLive).subsetOf(headFiles.toSet) &&
          head.schema == base.schema &&
          baseDvEq.subsetOf(headDvEq) &&
          !deleteLinesTouch(spark, r, (headDvEq -- baseDvEq).toSeq, consumed)
      if (!safe) throw original
      // Verb scope proof: every file the racer(s) ADDED since the pin
      // base must be provably outside the verb's scope. Metadata-only:
      // one stats-sidecar read + per-file envelope/tuple evaluation.
      scopeDisjoint.foreach { scope =>
        val racerNew = headFiles.filterNot(baseFiles).filterNot(newFiles.toSet)
        // TRANSACTION bodies additionally demand the racer's new
        // DELETE content be provably out of scope (r17): a verb's
        // read-set is exactly its consumed files (a candidate holding
        // a matching row would have been consumed, so a racer DV on a
        // non-consumed file provably touches no row the verb cared
        // about), but a tx body can READ in-scope rows from files it
        // never rewrote (an audit aggregate) — a racer MoR delete on
        // such a row makes the body's output match neither serial
        // order. Proof obligation: every file a racer-added
        // #dv:/#eqdel: line covers has a stats envelope provably
        // DISJOINT from the scope (then the deleted rows are out of
        // scope too). Unprovable → the strict abort stands.
        lazy val mayMatch =
          filePruner(spark, refs, statsLogical(head.stats, head.schema), head.schema)
        val racerDvNew = (headDvEq -- baseDvEq).toSeq
        if (racerDeletesOutOfScope && racerDvNew.nonEmpty &&
            deleteLineTargets(spark, r, racerDvNew, headFiles).exists(mayMatch(_, scope)))
          throw original
        if (racerNew.exists(mayMatch(_, scope))) throw original
      }
      val carriedFiles = headFiles.filterNot(consumed)
      // structural carry + chained stats, like commitCow: the
      // re-publish only rewrites manifest text for segments the
      // rewrite actually consumed files from
      val statsName = writeStatsDelta(spark, fs, r, head.statsName,
        newStats, liveAtFlatten = carriedFiles.toSet ++ newFiles, refs)
      val dvLines =
        ((if (carriesLines) headDvEq else headDvEq -- baseDvEq)
          ++ extraDvLines).toSeq.distinct.sorted
      try {
        publishManifest(fs, r, head.v + 1,
          Seq(s"#stats:$statsName", schemaLine) ++ dvLines ++ meta ++
            head.dataRawExcluding(consumed) ++ newFiles, refs)
        return head.v + 1
      } catch {
        case _: SnapshotConflictException =>
          fs.delete(new org.apache.hadoop.fs.Path(manifestDir(r), statsName), false)
      }
    }
    throw original
  }

  /** Does any of these `#dv:`/`#eqdel:` manifest lines reference a
    * file in `consumed`? One sidecar-layout reader ([[deleteLineTargets]])
    * serves this and the tx-graft checks — two parsers of the same
    * layout would drift. Per-line so the common single-line conflict
    * still short-circuits; only ever on the conflict path. */
  private def deleteLinesTouch(spark: SparkSession,
      r: org.apache.hadoop.fs.Path, lines: Seq[String],
      consumed: Set[String]): Boolean =
    lines.exists(l =>
      deleteLineTargets(spark, r, Seq(l), consumed).exists(consumed.contains))

  /** EXACTLY-ONCE streaming commit: append `df` as the next version
    * tagged with its micro-batch id — and refuse to commit a batch id
    * any existing version already carries, so a foreachBatch replay
    * after a crash is a no-op instead of a duplicate append. This is
    * the manifest-format answer to the `batch_id=` directory-overwrite
    * contract: the TABLE stays one logical snapshot line, and the
    * reader needs no dedup logic. Returns the committed (or already-
    * present) version. Wire as
    * `.foreachBatch((b, id) => commitSnapshotBatch(b, root, id))`. */
  /** A version's manifest META lines (`#batch:`/`#stats:`/… tags) —
    * the replay-detection hook for exactly-once sinks. */
  private[graft] def snapshotMeta(spark: SparkSession, root: String,
      v: Long): Seq[String] = {
    val (fs, r) = fsOf(spark, root)
    manifestAt(fs, r, v).metaLines
  }

  /** BOUNDED replay probe for the exactly-once batch wrappers: scan
    * versions NEWEST→OLDEST for `<prefix><batchId>` and STOP at the
    * first version carrying a SMALLER id under the same prefix — a
    * streaming query's batches commit strictly in order, so once an
    * older batch id of this sink namespace appears below us, `batchId`
    * cannot have committed earlier. Per-micro-batch cost becomes
    * O(versions since this sink's previous commit) instead of O(table
    * history) — on a long-lived table fed by a long-lived stream, the
    * difference between a constant and a linearly growing commit
    * latency. Tags of OTHER namespaces (different sinkId, other verbs)
    * never terminate the scan: their suffix fails the numeric parse. */
  private[graft] def findBatchReplay(spark: SparkSession, root: String,
      prefix: String, batchId: Long): Option[Long] = {
    val (fs, r) = fsOf(spark, root)
    val tag = s"$prefix$batchId"
    val it = snapshotVersions(spark, root).reverseIterator
    while (it.hasNext) {
      val v = it.next()
      // batch tags are meta lines — raw read, no segment resolution
      val lines = readManifestRawLines(fs, r, v)
      if (lines.contains(tag)) return Some(v)
      if (lines.exists(l => l.startsWith(prefix) &&
          scala.util.Try(l.stripPrefix(prefix).toLong).toOption
            .exists(_ < batchId)))
        return None
    }
    None
  }

  def commitSnapshotBatch(df: DataFrame, root: String, batchId: Long,
      sinkId: String = ""): Long = {
    val spark = df.sparkSession
    val prefix = if (sinkId.isEmpty) "#batch:" else s"#batch:$sinkId:"
    findBatchReplay(spark, root, prefix, batchId) match {
      case Some(v) => v // replay — already committed
      case None =>
        commitSnapshot(df, root, append = true, meta = Seq(s"$prefix$batchId"))
    }
  }

  /** CDC between two snapshot versions: per primary key, `added` /
    * `removed` / `changed` / `unchanged` — q81's full-outer
    * reconciliation applied to the table's OWN history, which is the
    * point of keeping that history: "what did last night's ingest do"
    * becomes a query instead of an archaeology project. Comparison is
    * by the non-key columns' values (struct equality, null-safe). */
  def snapshotDiff(spark: SparkSession, root: String,
      fromV: Long, toV: Long, pk: String): DataFrame = {
    // Both sides read with mergeSchema and the diff runs over the UNION
    // of non-key columns: a column added in toV makes every pre-existing
    // row that sets it 'changed' (it was implicitly NULL before), and a
    // column dropped from toV's files reads NULL there instead of
    // throwing — schema-evolving histories diff like any other.
    val a0 = readSnapshot(spark, root, Some(fromV), mergeSchema = true)
    val b0 = readSnapshot(spark, root, Some(toV), mergeSchema = true)
    val rest = (a0.columns ++ b0.columns).distinct.filterNot(_ == pk).sorted
    def aligned(df: DataFrame, other: DataFrame): DataFrame =
      rest.foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(other.schema(c).dataType))
      }
    val a = aligned(a0, b0)
    val b = aligned(b0, a0)
    def packed(df: DataFrame, side: String) = df.select(
      col(pk), struct(rest.map(col): _*).as(s"v_$side"))
    packed(a, "a").join(packed(b, "b"), Seq(pk), "full_outer")
      .select(col(pk),
        when(col("v_a").isNull, lit("added"))
          .when(col("v_b").isNull, lit("removed"))
          .when(col("v_a") <=> col("v_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("change"))
  }

  /** Incremental snapshot SOURCE: the rows that changed between
    * `fromV` (exclusive; 0 = from the beginning) and `toV` (inclusive)
    * as a DataFrame tagged `_change` ('insert' rows live in files a
    * version ADDED, 'delete' rows in files it REMOVED) and `_version`
    * (the version that introduced the change). A downstream pipeline
    * subscribes to the table by remembering its last-seen version and
    * draining this — cost ∝ the changed files, never the table.
    *
    * File-level CDC semantics, stated plainly: an append surfaces
    * exactly its new rows as inserts; an overwrite/rollback surfaces
    * the full before/after file sets; a copy-on-write MERGE surfaces
    * the rewritten files' rows on both sides (delete of the old
    * image, insert of the new — a consumer upserting by pk converges
    * to the table; [[snapshotDiff]] is the row-exact reconciliation
    * when you need net changes only). */
  def readChanges(spark: SparkSession, root: String,
      fromV: Long, toV: Long): DataFrame = {
    val (fs, r) = fsOf(spark, root)
    val versions = versionsAt(fs, r).filter(v => v > fromV && v <= toV)
    require(versions.nonEmpty, s"no versions in ($fromV, $toV] under $root")
    val from = if (fromV <= 0) None else Some(manifestAt(fs, r, fromV))
    var prev: Set[String] = from.fold(Set.empty[String])(_.files.toSet)
    var prevDv: Set[String] = from.fold(Set.empty[String])(_.dvNames.toSet)
    var prevEq: Set[String] = from.fold(Set.empty[String])(_.eqDels.toSet)
    var prevSchema: Option[org.apache.spark.sql.types.StructType] = from.flatMap(_.schema)
    var last: Option[Manifest] = None
    // Every part reads its files under the committed schema they were
    // live in (`v`'s, or the previous version's for the files `v`
    // removed), so none plans a Spark job; a version without a schema
    // line merges the files' footers, one job per read. The parts then
    // serve their versions' committed columns.
    def readUnder(files: Seq[String],
        cs: Option[org.apache.spark.sql.types.StructType]): DataFrame =
      if (cs.isEmpty) spark.read.option("mergeSchema", "true").parquet(files: _*)
      else scanPhysical(spark, files, cs)
    val parts = versions.flatMap { v =>
      val m = manifestAt(fs, r, v)
      last = Some(m)
      val vSchema = m.schema
      val removedSchema = prevSchema
      prevSchema = vSchema
      val cur = m.files.toSet
      // A content-preserving eqdel→DV fold (rewriteEqDeletesToDv) is
      // dataChange = FALSE: its fresh DV only materializes rows the
      // eqdel sidecars ALREADY retracted in their own versions — a CDC
      // subscriber must not see a second retraction of a dead row.
      val isFold = m.metaLines.contains("#rewrite:eqdels")
      val added = (cur -- prev).toSeq.sorted
      val removed = (prev -- cur).toSeq.sorted
      prev = cur
      // A merge-on-read delete changes NO files — its delta is the new
      // `#dv:` sidecars. The deleted ROWS are the ones the fresh DVs'
      // set keeps ([[DvSet]]) of the (still present) data files they
      // reference ([[DvSet.deletedRows]], off the same load), matched on
      // the scan's own metadata columns; the read opens only those
      // files, so cost ∝ touched files, like the file-level stream
      // everywhere else.
      val curDv = m.dvNames.toSet
      val freshDv = (curDv -- prevDv).toSeq.sorted
      val priorDv = prevDv.toSeq.sorted
      prevDv = curDv
      val dvDel =
        if (freshDv.isEmpty || isFold) None
        else {
          val dv = new DvSet(spark, r, freshDv)
          val touched = dv.deletedRows(cur).keys.toSeq.sorted
          if (touched.isEmpty) None
          else Some(dv.keep(readUnder(touched, vSchema))
            .withColumn("_change", lit("delete")).withColumn("_version", lit(v)))
        }
      // An EQUALITY delete also changes no files: emit the covered
      // files' rows matching the fresh key sets — LIVE at the previous
      // version (prior positional DVs and prior eq sidecars filtered),
      // so an already-dead row never re-emits. Cost ∝ covered files.
      val curEq = m.eqDels.toSet
      val freshEq = (curEq -- prevEq).toSeq.sorted
      val priorEq = prevEq.toSeq.sorted
      prevEq = curEq
      val eqDel = freshEq.flatMap { l =>
        val (name, physPks) = parseEqDel(l)
        val covered = eqCoverPaths(spark, r, name).filter(cur).sorted
        if (covered.isEmpty) None
        else {
          val live = liveRows(spark, r, readUnder(covered, vSchema),
            covered, priorDv, priorEq, None, withPos = true)
          Some(eqDeleteSet(spark, r, name, physPks, covered, live, "__path").keep(live)
            .drop("__path", "__pos")
            .withColumn("_change", lit("delete")).withColumn("_version", lit(v)))
        }
      }
      val ins =
        if (added.isEmpty) None
        else Some(readUnder(added, vSchema)
          .withColumn("_change", lit("insert")).withColumn("_version", lit(v)))
      val del =
        if (removed.isEmpty) None
        else Some(readUnder(removed, removedSchema)
          .withColumn("_change", lit("delete")).withColumn("_version", lit(v)))
      ins.toSeq ++ del.toSeq ++ dvDel.toSeq ++ eqDel
    }
    if (parts.isEmpty)
      // every version in the range was data-change-free (an eqdel→DV
      // fold, a metadata-only schema publish): the CDC contract is an
      // EMPTY batch, not an error — a tailing stream must step over
      // such versions without dying
      return readSnapshot(spark, root, Some(toV), mergeSchema = true)
        .where(lit(false))
        .withColumn("_change", lit("insert")).withColumn("_version", lit(toV))
    // BALANCED union, not reduceLeft: a left-deep chain over a long
    // drain (a consumer a day behind a minute-cadence feed unions
    // 1000+ versions) is quadratic to analyze and eventually blows the
    // tree-walk stack; the balanced shape is depth log₂(n). Column
    // order is then pinned to exactly what the left-deep fold produced
    // (first-appearance order across parts) so the surface is
    // byte-identical either way.
    def treeUnion(ps: Seq[DataFrame]): DataFrame =
      if (ps.size == 1) ps.head
      else treeUnion(ps.grouped(2).map {
        case scala.collection.Seq(a, b) =>
          a.unionByName(b, allowMissingColumns = true)
        case scala.collection.Seq(a) => a
      }.toSeq)
    val orderedCols = parts.foldLeft(Vector.empty[String])((acc, df) =>
      acc ++ df.columns.filterNot(acc.contains))
    val all = treeUnion(parts).select(orderedCols.map(col): _*)
    // the stream's raw file reads carry PHYSICAL names; serve the
    // consumer `toV`'s logical names (Delta-CDF's latest-schema contract)
    last.filter(_.v == toV).getOrElse(manifestAt(fs, r, toV)).schema
      .fold(all)(s => toLogicalDf(all, s))
  }

  /** ROW-LEVEL CDC between two versions: [[readChanges]]' file-level
    * stream is the cheap subscription path (cost ∝ changed files, CoW
    * rewrites surface carried rows as delete+insert pairs); this is
    * the NET view a consumer wants when replaying into a keyed store —
    * each key appears at most once, tagged `upsert` (with the toV row)
    * or `delete` (with the fromV image), rewrite-carried rows absent
    * entirely. Built on [[snapshotDiff]]'s key reconciliation joined
    * back to the version snapshots for values; schema-evolving
    * histories work (mergeSchema both sides). Cost ∝ the two version
    * reads — use the file-level stream for per-commit tailing and
    * this for checkpoint-to-checkpoint reconciliation. */
  def readRowChanges(spark: SparkSession, root: String,
      fromV: Long, toV: Long, pk: String): DataFrame = {
    val diff = snapshotDiff(spark, root, fromV, toV, pk)
      .where(col("change") =!= "unchanged")
    val to = readSnapshot(spark, root, Some(toV), mergeSchema = true)
    val from = readSnapshot(spark, root, Some(fromV), mergeSchema = true)
    val ups = to.join(
        diff.where(col("change").isin("added", "changed")).select(pk),
        Seq(pk), "left_semi")
      .withColumn("_change", lit("upsert"))
    val dels = from.join(
        diff.where(col("change") === "removed").select(pk),
        Seq(pk), "left_semi")
      .withColumn("_change", lit("delete"))
    ups.unionByName(dels, allowMissingColumns = true)
  }

  /** Copy-on-write row-level MERGE (upsert by `pk`): rows of `updates`
    * replace same-key rows; new keys append. The composition every
    * warehouse user hits within a week, done the way a table format
    * must at 100 TB:
    *
    *  1. PLAN on metadata — candidate files are the manifest entries
    *     whose OWN [min, max] envelope on `pk` contains at least one
    *     actual update key ([[nominateFilesByKey]] — per-file, so a
    *     scattered-key CDC feed touching 2 of 1000 files nominates 2,
    *     not the whole table); with stats present, files whose
    *     envelope holds no key are never opened.
    *  2. PIN exactly — the candidates' live rows are probed against
    *     the update keys, loaded once on the driver ([[feedSet]]),
    *     so only files that TRULY contain a live matched key are
    *     rewritten; range-overlapping but unmatched candidates are
    *     carried untouched.
    *  3. REWRITE only those — matched files' rows outside the update
    *     keys, union the updates, land as ONE new batch.
    *  4. FLIP the manifest — untouched files carry by path (their
    *     bytes are never read or written), stats carry for carried
    *     files and compute for the new batch, and the commit point is
    *     the same create-exclusive publish as any append.
    *
    * Readers of every prior version are undisturbed (time travel to
    * pre-merge intact). `updates` must be pk-unique — standard MERGE
    * precondition. Returns the committed version (head version if
    * `updates` is empty). A lost commit race aborts (batch deleted,
    * [[SnapshotConflictException]]) rather than retrying: unlike an
    * append, a merge's carried file list is only valid against the
    * head it planned on — the caller replans against the new head,
    * exactly Iceberg/Delta's serializable-merge contract. */
  def mergeSnapshot(spark: SparkSession, root: String,
      updates: DataFrame, pk: String, meta: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false): Long =
    mergeSnapshotKeys(spark, root, updates, Seq(pk), meta, allowSchemaEvolution)

  /** Composite-key [[mergeSnapshot]]: the upsert identity is the key
    * TUPLE `pks` (`ON t.a = s.a AND t.b = s.b` — the most common real
    * MERGE shape after single-key). Planning conjuncts the per-column
    * stat envelopes ([[nominateFilesByKeys]]); everything else is the
    * same single-join CoW discipline. */
  def mergeSnapshotKeys(spark: SparkSession, root: String,
      updates: DataFrame, pks: Seq[String], meta: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false): Long = {
    val head = headOf(spark, root)
    // The distinct key tuples drive nomination, the pin, the survivors
    // and the empty-feed early-out. One job loads them onto the driver
    // and the pin and survivors probe them ([[feedSet]]); a feed past
    // the bound persists them as a frame those steps join instead.
    val keys = feedSet(spark, updates, pks, probeableKeys(updates, pks, head.schema))
    try {
      if (keys.isEmpty) return head.v
      val refs = refsOf(head.fs, head.r)
      validateChecks(spark, root, refs, Some(head), updates)
      val (_, carried, survivors) = pinFilesByKeys(spark, head, keys, pks)
      // Schema evolution (opt-in, Delta's mergeSchema-on-MERGE): columns
      // new in `updates` land in the rewritten batch; carried files stay
      // as-is and read NULL for them under readSnapshot(mergeSchema).
      // Without it, extra update columns are dropped (the strict
      // contract) and the rewritten batch keeps the table schema.
      val newData =
        if (allowSchemaEvolution)
          survivors.unionByName(updates, allowMissingColumns = true)
        else {
          val tableCols = survivors.columns.toSeq
          survivors.unionByName(updates.select(tableCols.map(col): _*))
        }
      // Publish: new batch + carried files, via the standard commit path
      // but carrying OUR file list rather than blind-appending the head.
      // A lost race re-validates against the merge's key envelope —
      // disjoint concurrent ingest no longer starves a backfill MERGE.
      commitCow(spark, head, refs, carried, newData, meta,
        scopePred = Some(() => keyScopeEnvelope(keys.frame, pks)))
    } finally keys.release()
  }

  /** EXACTLY-ONCE streaming MERGE: apply a micro-batch of upserts to
    * the snapshot table, tagged with the batch id — a foreachBatch
    * replay after a crash finds its tag on an existing version and
    * becomes a no-op instead of a double-apply. This is the streaming
    * CDC sink every lakehouse format ships (Delta's
    * `foreachBatch + MERGE` recipe): the TABLE stays one logical
    * snapshot line whose head always equals "base upserted by every
    * batch exactly once", and a downstream [[readChanges]] consumer
    * sees one CDC version per micro-batch. A lost commit race
    * propagates ([[SnapshotConflictException]]) and the streaming
    * query retries the batch — the tag makes the retry safe even if
    * the race was lost AFTER publish. Wire as
    * `.foreachBatch((b, id) => mergeSnapshotBatch(spark, root, b, pk, id))`. */
  def mergeSnapshotBatch(spark: SparkSession, root: String,
      updates: DataFrame, pk: String, batchId: Long,
      sinkId: String = ""): Long = {
    val prefix = if (sinkId.isEmpty) "#batch:" else s"#batch:$sinkId:"
    findBatchReplay(spark, root, prefix, batchId) match {
      case Some(v) => v // replay — already applied
      case None =>
        mergeSnapshot(spark, root, updates, pk, meta = Seq(s"$prefix$batchId"))
    }
  }

  /** Apply one full CDC batch — inserts, updates, AND deletes — in ONE
    * manifest flip: the Debezium-feed apply every replication pipeline
    * needs, which [[mergeSnapshot]] (upsert-only) cannot express
    * without a second commit (and therefore a reader-visible
    * intermediate state). `opCol` tags each row `I`/`U`/`D`; I and U
    * are both upserts (an update to an absent key inserts — standard
    * apply semantics), D removes the key, and a D for an absent key is
    * a no-op. Planning is the merge discipline over the UNION of
    * touched keys (deletes pin files too): stats-nominated candidates,
    * pinning by the touched keys, survivors = matched files' rows
    * outside ALL touched keys, upserts unioned back,
    * deletes simply never return. CHECK constraints validate the
    * upsert side only (a delete cannot violate a row predicate).
    *
    * MULTI-EVENT KEYS: a real Debezium feed can carry several events
    * for one key in a single batch (U then D, two Us). The apply
    * contract is per-key LAST-WINS, and the batch must make "last"
    * well-defined: pass `seqCol` (a source LSN / sequence / event-time
    * column that totally orders each key's events) and the batch is
    * reduced to each key's highest-sequence event before planning — a
    * U followed by a D deletes, a D followed by a U re-inserts.
    * Without `seqCol` the batch MUST be key-unique (the common
    * pre-compacted case); a duplicate key then aborts the apply with
    * `IllegalArgumentException` rather than silently landing both rows
    * (which would violate pk uniqueness) or losing a delete. */
  def applyCdcSnapshot(spark: SparkSession, root: String,
      batch: DataFrame, pk: String, opCol: String = "_op",
      meta: Seq[String] = Seq.empty, seqCol: Option[String] = None): Long =
    applyCdcSnapshotKeys(spark, root, batch, Seq(pk), opCol, meta, seqCol)

  /** Composite-key [[applyCdcSnapshot]]: the apply identity is the key
    * TUPLE `pks` — last-wins resolution, uniqueness, file nomination,
    * pinning and the survivors all key on the tuple. */
  def applyCdcSnapshotKeys(spark: SparkSession, root: String,
      batch: DataFrame, pks: Seq[String], opCol: String = "_op",
      meta: Seq[String] = Seq.empty, seqCol: Option[String] = None): Long = {
    val head = headOf(spark, root)
    val batchCols = batch.columns.toSet
    val resolved = seqCol match {
      case Some(sc) =>
        require(batchCols.contains(sc), s"CDC seqCol $sc absent from the batch")
        val rn = Iterator.from(0).map(i => s"__seq$i").find(!batchCols(_)).get
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pks.map(col): _*).orderBy(col(sc).desc)
        batch.withColumn(rn, row_number().over(w))
          .where(col(rn) === 1).drop(rn)
      case None => batch
    }
    // The resolved batch (post last-wins reduction) persists, and its
    // (key tuple, op tag) pairs feed every planning consumer: the
    // distinct key tuples (nomination, pinning, the survivors), the
    // per-key cardinality rule and the op-tag validation, all read off
    // one feed set ([[feedSet]]) and its tally — loaded on the driver
    // up to the bound, else one grouped key frame and one tiny combined
    // job (never a per-key collect).
    val pinned = resolved
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = feedSet(spark, pinned, pks, probeableKeys(pinned, pks, head.schema),
        tag = Some(coalesce(col(opCol), lit("NULL"))))
      try {
        if (keys.isEmpty) return head.v
        val (most, ops) = keys.tally
        if (seqCol.isEmpty) require(most <= 1,
          s"CDC batch carries multiple events for one ${pks.mkString(",")} — " +
            "pass seqCol for last-wins resolution or pre-compact the batch")
        require(ops.subsetOf(Set("I", "U", "D")),
          s"CDC ops must be I/U/D, got ${ops.mkString(", ")}")
        // Only the op tag drops here: a seqCol that is also a table column
        // must survive; a metadata-only seqCol is clipped by the
        // table-schema select below like any other extra column.
        val upserts = pinned.where(col(opCol) =!= "D").drop(opCol)
        val refs = refsOf(head.fs, head.r)
        validateChecks(spark, root, refs, Some(head), upserts)
        val (matchedFiles, carried, survivors) = pinFilesByKeys(spark, head, keys, pks)
        // every op is I, U or D by now: the upserts are empty iff all are D
        if (matchedFiles.isEmpty && ops == Set("D")) return head.v
        val newData = survivors.unionByName(
          upserts.select(survivors.columns.toSeq.map(col): _*))
        commitCow(spark, head, refs, carried, newData, meta,
          scopePred = Some(() => keyScopeEnvelope(keys.frame, pks)))
      } finally keys.release()
    } finally pinned.unpersist()
  }

  /** EXACTLY-ONCE streaming CDC apply — [[applyCdcSnapshot]] under the
    * batch-id replay guard of [[mergeSnapshotBatch]]: wire as
    * `.foreachBatch((b, id) => applyCdcSnapshotBatch(spark, root, b, pk, id))`
    * and a crash-replayed micro-batch (including deletes) is a no-op.
    * The replay tag lives in its OWN `#cdcbatch:` namespace (optionally
    * `#cdcbatch:<sinkId>:<id>`): micro-batch ids are per-QUERY
    * counters, so a merge stream and a CDC stream (or two CDC streams
    * — then pass distinct `sinkId`s) feeding one table must never
    * mistake each other's batch 7 for their own and silently skip it. */
  def applyCdcSnapshotBatch(spark: SparkSession, root: String,
      batch: DataFrame, pk: String, batchId: Long,
      opCol: String = "_op", seqCol: Option[String] = None,
      sinkId: String = ""): Long = {
    val prefix =
      if (sinkId.isEmpty) "#cdcbatch:" else s"#cdcbatch:$sinkId:"
    findBatchReplay(spark, root, prefix, batchId) match {
      case Some(v) => v // replay — already applied
      case None => applyCdcSnapshot(spark, root, batch, pk, opCol,
        Seq(s"$prefix$batchId"), seqCol)
    }
  }

  /** COPY-ON-WRITE row-level DELETE: remove the rows satisfying
    * `pred`, rewriting only the files that actually contain such rows
    * — [[mergeSnapshot]]'s planning discipline pointed at removal:
    *
    *  1. PLAN on metadata — candidate files are those whose stats
    *     envelope MAY satisfy `pred` ([[mayContain]]); files provably
    *     outside never open.
    *  2. PIN exactly — candidates' live rows are scanned once and
    *     only files with ≥1 TRULY matching row
    *     rewrite; range-overlapping but row-free candidates carry.
    *  3. REWRITE survivors — matched files' rows with `pred` FALSE or
    *     NULL (SQL DELETE keeps NULL-predicate rows) land as ONE new
    *     batch; a file whose every row matches simply drops from the
    *     manifest without any rewrite I/O.
    *  4. FLIP the manifest — untouched files carry by path, stats
    *     carry/compute, same create-exclusive commit point.
    *
    * Returns the committed version (the head, unchanged, if nothing
    * matched — a no-op delete publishes nothing). Time travel to the
    * pre-delete version stays intact; a lost commit race aborts with
    * the batch deleted, same serializable contract as merge. */
  def deleteSnapshotWhere(spark: SparkSession, root: String,
      pred: Column, meta: Seq[String] = Seq.empty): Long = {
    val head = headOf(spark, root)
    val refs = refsOf(head.fs, head.r)
    val matchedFiles = pinFilesWhere(spark, head, filesMayMatch(spark, head, refs, pred), pred)
    if (matchedFiles.isEmpty) return head.v
    val carried = head.files.filterNot(matchedFiles)
    // DELETE WHERE p removes rows where p is TRUE; FALSE and NULL stay.
    val survivors = readLiveFiles(spark, head, matchedFiles.toSeq.sorted)
      .where(!coalesce(pred, lit(false)))
    commitCow(spark, head, refs, carried, survivors, meta,
      scopePred = Some(() => Some(pred)))
  }

  // ---------------------------------------------------------------------
  // MERGE-ON-READ deletion vectors (Iceberg v2 positional deletes /
  // Delta DV semantics): a delete of k SCATTERED rows publishes a tiny
  // (path, pos) sidecar and ZERO rewritten data files — at 100 TB with
  // a trickle CDC feed, CoW's rewrite-a-128MB-file-per-row is the
  // dominant write amplification, and this kills it. Readers anti-join
  // the DV (row positions come from the scan's own `_metadata.
  // row_index` — no synthetic key column anywhere); every CoW rewrite
  // is DV-aware so deleted rows can never resurrect; compaction folds
  // DVs into a clean rewrite. DV rows are keyed by FILE PATH, so a
  // rewrite that replaces a file self-invalidates its DV rows — no
  // bookkeeping to forget.
  // ---------------------------------------------------------------------

  private def deletesDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_deletes")

  /** Scheme-normalized file path for DV keys: different scan paths
    * render `_metadata.file_path` differently ("file:/x", "file:///x",
    * plain "/x" from the manifest-built FileIndex) — the DV writer and
    * every DV reader must agree on ONE canonical key or the anti-join
    * silently deletes nothing. */
  private def dvPathKey(c: Column): Column =
    regexp_replace(c, dvPathScheme, "/")
  private val dvPathScheme = "^[a-z][a-zA-Z0-9+.-]*:/+"

  /** Graft writes every deletion-vector sidecar with exactly
    * (__path string, __pos long) and every equality-delete `cover` list
    * with exactly (__path string), so both read with that fixed schema
    * — on the driver ([[sidecarRows]]) or as a frame ([[readSidecar]])
    * — and plan with no inference job. Equality-delete `keys` read as
    * the key types of the scan they filter ([[eqDeleteSet]]). */
  private val dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__pos", org.apache.spark.sql.types.LongType)))
  private val coverSchema = org.apache.spark.sql.types.StructType(dvSchema.take(1))

  /** Sidecars as a Spark frame: a [[Joined]] set, the DV counts past
    * the bound and the conflict path's target reads. Every other
    * read, the post-write emptiness checks included, goes through
    * [[sidecarRows]] with no job. */
  private def readSidecar(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, paths: String*): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** The path of a version's DV sidecar `name`. */
  private def dvSidecar(root: org.apache.hadoop.fs.Path, name: String) =
    new org.apache.hadoop.fs.Path(deletesDir(root), name)

  /** The path of `part` (`keys` or `cover`) of the equality-delete
    * sidecar `name`. */
  private def eqSidecar(root: org.apache.hadoop.fs.Path, name: String, part: String) =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(deletesDir(root), name), part)

  // ---------------------------------------------------------------------
  // EQUALITY DELETES (Iceberg v2 equality-delete files): "delete
  // WHERE key = X" WITHOUT READING A SINGLE DATA FILE. The positional
  // DV verbs must scan candidates to find row positions; a GDPR
  // key-list purge over a cold 100 TB table wants the zero-read
  // spelling. The sidecar holds the DISTINCT key tuples (stored under
  // the columns' PHYSICAL storage names — rename-proof) plus the
  // COVERED file list (the files present at publish): a later append
  // re-inserting a deleted key survives — the Iceberg sequence-number
  // scoping, expressed manifest-side. Readers drop covered files'
  // rows whose key tuple the sidecar holds ([[eqDeleteSet]]); CoW
  // rewrites read eq-aware so deleted rows never resurrect; compaction
  // folds sidecars away (an overwrite commit carries no #eqdel: lines);
  // vacuum keeps referenced sidecars, reaps orphans.
  // ---------------------------------------------------------------------

  /** Parse one `#eqdel:` suffix: `<name>:<physPk1,physPk2,…>`. */
  private def parseEqDel(l: String): (String, Seq[String]) = {
    val i = l.indexOf(':')
    (l.substring(0, i), l.substring(i + 1).split(',').toSeq)
  }

  /** An equality-delete sidecar's covered data files (manifest paths),
    * read on the driver (the list is manifest-sized). */
  private def eqCoverPaths(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, name: String): Array[String] =
    sidecarRows(spark, root, coverSchema, Seq(eqSidecar(root, name, "cover")))
      .get.map(_.getUTF8String(0).toString)

  /** Filter a files-scan frame (PHYSICAL column names) over `files`
    * through the version's equality-delete sidecars: a row drops iff
    * its key tuple appears in a sidecar whose covered set contains the
    * row's file ([[eqDeleteSet]], probed or joined). Zero plan change
    * without sidecars, and a sidecar covering none of `files` adds
    * nothing. `pathCol` names `df`'s dvPathKey-normalized file-path
    * column, which [[liveRows]] captures on the raw scan (metadata
    * columns do not propagate through a DV join); it stays in the
    * output. */
  private def applyEqDeletes(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, eqDels: Seq[String],
      df: DataFrame, files: Seq[String], pathCol: String): DataFrame = {
    val scanned = files.toSet
    eqDels.foldLeft(df) { (out, l) =>
      val (name, physPks) = parseEqDel(l)
      val covered = eqCoverPaths(spark, root, name).filter(scanned)
      if (covered.isEmpty) out
      else eqDeleteSet(spark, root, name, physPks, covered, out, pathCol).drop(out)
    }
  }

  /** The live rows of `raw`, a scan of `files` under their PHYSICAL
    * names — the one delete chain every reader and verb applies: rows
    * at the positions the `dvNames` sidecars hold drop ([[DvSet]]), then
    * rows whose key tuple an `eqDels` sidecar deletes over their file
    * ([[applyEqDeletes]]), then the columns take their logical names
    * under `cs` (None keeps them physical). Which regime each set takes
    * is the [[KeySet]] module's decision. Callers pass the sidecar sets
    * as data: a version's own, or (CDC, the eqdel fold) a prior or
    * partial set. Metadata columns survive projections but not joins,
    * so the file path is captured on the raw scan before either set
    * applies; `withPos` keeps it, with the row position, as (__path,
    * __pos) — the MoR verbs' DV keys and the scan keys the pins map
    * back to manifest paths ([[pinnedFiles]]). */
  private def liveRows(spark: SparkSession, root: org.apache.hadoop.fs.Path,
      raw: DataFrame, files: Seq[String], dvNames: Seq[String],
      eqDels: Seq[String], cs: Option[org.apache.spark.sql.types.StructType],
      withPos: Boolean = false): DataFrame = {
    val pathCol =
      if (withPos) "__path"
      else Iterator.from(0).map(i => s"__eqp$i").find(!raw.columns.contains(_)).get
    val keyed =
      if (withPos) raw.withColumn("__path", dvPathKey(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
      else if (eqDels.isEmpty) raw
      else raw.withColumn(pathCol, dvPathKey(col("_metadata.file_path")))
    val positional = if (dvNames.isEmpty) keyed else new DvSet(spark, root, dvNames).drop(keyed)
    val live = applyEqDeletes(spark, root, eqDels, positional, files, pathCol)
    val cleaned = if (withPos || eqDels.isEmpty) live else live.drop(pathCol)
    cs.fold(cleaned)(toLogicalDf(cleaned, _))
  }

  /** [[liveRows]] of specific data files of `m`'s version, logical names
    * — what every CoW rewrite reads its survivor/source rows through,
    * so a rewrite can never resurrect a deleted row, and (`withPos`)
    * what the MoR verbs find their hit positions in, the CoW pins their
    * files and the key verbs' feeds `keep` and `drop` rows of. */
  private def readLiveFiles(spark: SparkSession, m: Manifest,
      files: Seq[String], withPos: Boolean = false): DataFrame =
    liveRows(spark, m.r, scanPhysical(spark, files, m.schema), files,
      m.dvNames, m.eqDels, m.schema, withPos)

  /** MERGE-ON-READ EQUALITY DELETE: remove every row whose `pks` tuple
    * appears in `keys`, publishing ONE key-list sidecar and ZERO data
    * reads or writes (see the section banner above — this is the verb
    * whose entire point is never opening the table). The key feed is
    * deduplicated and cast to the committed column types; keys with
    * any NULL component are dropped (they can never equality-match).
    * Returns the committed version — the head unchanged when the feed
    * is empty. Conflict aborts delete the sidecar, the shared
    * serializable contract. */
  def deleteSnapshotKeysMor(spark: SparkSession, root: String,
      keys: DataFrame, pks: Seq[String], meta: Seq[String] = Seq.empty): Long = {
    require(pks.nonEmpty, "equality delete needs at least one key column")
    val head = headOf(spark, root)
    val (r, cs) = (head.r, head.schema)
    // Resolve each pk to its COMMITTED field case-insensitively (the
    // validation below already is), then derive both the canonical type
    // and the physical name FROM THAT FIELD — a case-sensitive
    // physicalMap lookup on the caller's spelling would record the
    // wrong column name in the #eqdel line for a renamed column.
    val declaredField: String => Option[org.apache.spark.sql.types.StructField] =
      c => cs.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
    val declared: String => Option[org.apache.spark.sql.types.DataType] =
      c => declaredField(c).map(_.dataType)
    pks.foreach(c => require(cs.isEmpty || declared(c).isDefined,
      s"no column $c on $root"))
    val physPks = pks.map(p => declaredField(p).map(physicalNameOf).getOrElse(p))
    val cast = keys.select(pks.map(c =>
      declared(c).fold(col(c))(t => col(c).cast(t)).as(c)): _*)
    // The sidecar is the feed's distinct key tuples with no NULL
    // component (NaN is a value, and matches NaN), the set [[feedSet]]
    // builds: loaded on the driver in one job up to [[keyFeedMaxTuples]]
    // and written there as one file, so the whole verb is that job; the
    // feed's distinct, a Spark write, past it. The cover list (the
    // manifest) is always on the driver and always written there. No
    // separate emptiness probe evaluates the feed: the NULL keys drop
    // before the set is built, so a feed with no non-NULL key leaves it
    // empty and publishes nothing, and any other writes a non-empty
    // sidecar.
    val feed = feedSet(spark, cast.where(pks.map(col(_).isNotNull).reduce(_ && _)),
      pks, probe = true)
    try {
      if (feed.isEmpty) return head.v
      val name = s"eq-${writerToken()}"
      feed.writeSidecar(eqSidecar(r, name, "keys"), physPks)
      org.apache.spark.sql.GraftLocalParquet.write(spark, coverSchema,
        head.files.map(f => org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(f))),
        eqSidecar(r, name, "cover"))
      publishDeleteLine(head, refsOf(head.fs, head.r),
        s"#eqdel:$name:${physPks.mkString(",")}", meta,
        new org.apache.hadoop.fs.Path(deletesDir(r), name))
    } finally feed.release()
  }

  /** Publish `head`'s next version as its files and metadata lines
    * ([[Manifest.carriedMeta]]) plus the delete-sidecar line `line` and
    * `meta`: the metadata-only commit of the MoR deletes, which rewrite
    * no data file. A lost race deletes `sidecar`, the files `line`
    * references, and rethrows — the shared serializable contract. */
  private def publishDeleteLine(head: Manifest, refs: Refs, line: String,
      meta: Seq[String], sidecar: org.apache.hadoop.fs.Path): Long = {
    val next = head.v + 1
    try publishManifest(head.fs, head.r, next,
      head.carriedMeta() ++ (line +: meta) ++ head.dataRaw, refs)
    catch {
      case e: SnapshotConflictException =>
        head.fs.delete(sidecar, true)
        throw e
    }
    next
  }

  /** EXACTLY-ONCE streaming equality delete — [[deleteSnapshotKeysMor]]
    * under the batch-id replay guard shared by every verb wrapper: a
    * crash-replayed micro-batch of purge keys is a no-op. The GDPR
    * key feed as a stream: wire as `.foreachBatch((b, id) =>
    * deleteSnapshotKeysBatch(spark, root, b, pks, id))`. Own
    * `#eqbatch:` tag namespace (optionally `#eqbatch:<sinkId>:<id>`). */
  def deleteSnapshotKeysBatch(spark: SparkSession, root: String,
      keys: DataFrame, pks: Seq[String], batchId: Long,
      sinkId: String = ""): Long = {
    val prefix = if (sinkId.isEmpty) "#eqbatch:" else s"#eqbatch:$sinkId:"
    findBatchReplay(spark, root, prefix, batchId) match {
      case Some(v) => v // replay — already applied
      case None => deleteSnapshotKeysMor(spark, root, keys, pks,
        meta = Seq(s"$prefix$batchId"))
    }
  }

  /** Copy a version's DV sidecars into ANOTHER table root's
    * `_deletes/` dir under fresh unique names, returning the `#dv:`
    * manifest lines for the destination. Clones and branch
    * fast-forwards carry data files by PATH but must not reference a
    * foreign `_deletes/` dir — the source's vacuum could reap it.
    * Cost ∝ deleted rows (DVs are tiny by construction). */
  private def copyDvSidecars(src: Manifest,
      dfs: org.apache.hadoop.fs.FileSystem,
      dr: org.apache.hadoop.fs.Path): Seq[String] =
    // equality-delete sidecars copy the same way (keys + cover dirs);
    // the covered paths reference the SOURCE's files, which the clone
    // carries by path — so coverage keeps meaning "files from before
    // the delete" on the cloned line too
    migrateDeleteLines(src.fs, src.r,
      src.dvNames.map(n => s"#dv:$n") ++ src.eqDels.map(l => s"#eqdel:$l"), dfs, dr)

  /** Copy SPECIFIC `#dv:`/`#eqdel:` sidecars from one table root's
    * `_deletes/` into another's under fresh unique names, returning
    * the destination manifest lines in input order. The path-migration
    * primitive clones, branch fast-forwards, and the transaction's
    * MoR graft (r17) all share. */
  private def migrateDeleteLines(sfs: org.apache.hadoop.fs.FileSystem,
      sr: org.apache.hadoop.fs.Path, lines: Seq[String],
      dfs: org.apache.hadoop.fs.FileSystem,
      dr: org.apache.hadoop.fs.Path): Seq[String] =
    lines.map {
      case l if l.startsWith("#dv:") =>
        val newName = s"dv-${writerToken()}"
        org.apache.hadoop.fs.FileUtil.copy(
          sfs, new org.apache.hadoop.fs.Path(deletesDir(sr), l.stripPrefix("#dv:")),
          dfs, new org.apache.hadoop.fs.Path(deletesDir(dr), newName),
          false, sfs.getConf)
        s"#dv:$newName"
      case l =>
        val (name, physPks) = parseEqDel(l.stripPrefix("#eqdel:"))
        val newName = s"eq-${writerToken()}"
        org.apache.hadoop.fs.FileUtil.copy(
          sfs, new org.apache.hadoop.fs.Path(deletesDir(sr), name),
          dfs, new org.apache.hadoop.fs.Path(deletesDir(dr), newName),
          false, sfs.getConf)
        s"#eqdel:$newName:${physPks.mkString(",")}"
    }

  /** Every data-file path a set of `#dv:`/`#eqdel:` lines still
    * references — eqdel cover sets, and DV `__path` values mapped back
    * from the scan keys they hold to the manifest paths of `files`
    * ([[scanKeys]]; a key of no file in `files` passes as is).
    * Metadata-sized reads (sidecars are deleted-rows-sized by
    * construction), used only on the transaction conflict path. */
  private def deleteLineTargets(spark: SparkSession,
      r: org.apache.hadoop.fs.Path, lines: Seq[String],
      files: Iterable[String]): Set[String] = {
    lazy val byKey = scanKeys(spark, files)
    lines.flatMap { l =>
      if (l.startsWith("#dv:"))
        readSidecar(spark, dvSchema, dvSidecar(r, l.stripPrefix("#dv:")).toString)
          .select(col("__path")).distinct().collect()
          .map { row => val k = row.getString(0); byKey.getOrElse(k, k) }
      else eqCoverPaths(spark, r, parseEqDel(l.stripPrefix("#eqdel:"))._1).toSeq
    }.toSet
  }

  /** MERGE-ON-READ row-level DELETE: same statement semantics as
    * [[deleteSnapshotWhere]] (rows where `pred` is TRUE go; FALSE and
    * NULL stay), different physical contract — the commit publishes
    * the SAME data file list plus one `#dv:` sidecar of (file, pos)
    * positions, rewriting nothing:
    *
    *  1. PLAN on metadata — stats envelopes + partition tuples
    *     nominate candidate files exactly like the CoW verb.
    *  2. POSITIONS, not rewrites — one scan of the candidates' live
    *     rows ([[readLiveFiles]]) emits the matching rows' `_metadata`
    *     (file_path, row_index) pairs.
    *  3. SIDECAR — the pairs land as parquet under `_deletes/` (cost ∝
    *     deleted rows, not touched files).
    *  4. FLIP — the next manifest lists the same files, carries prior
    *     `#dv:` lines, and adds the new one. Time travel to the
    *     pre-delete version is untouched (DV references are
    *     per-version manifest lines).
    *
    * Use this for scattered single-row/trickle deletes; use the CoW
    * verb when a delete clears whole file ranges (it drops files
    * outright). [[compactSnapshot]] folds accumulated DVs back into
    * clean files. Returns the committed version (head unchanged on a
    * no-op). */
  def deleteSnapshotWhereMor(spark: SparkSession, root: String,
      pred: Column, meta: Seq[String] = Seq.empty): Long = {
    val head = headOf(spark, root)
    val refs = refsOf(head.fs, head.r)
    val candidates = filesMayMatch(spark, head, refs, pred)
    if (candidates.isEmpty) return head.v
    // live rows only: a row a prior DV or equality delete already
    // removed is no hit, so it is never deleted (and streamed) twice
    val name = writeDv(spark, head.fs, head.r,
      readLiveFiles(spark, head, candidates, withPos = true)
        .where(coalesce(pred, lit(false)))) match {
      case Some(n) => n
      case None => return head.v // nothing live matched: a no-op
    }
    publishDeleteLine(head, refs, s"#dv:$name", meta, dvSidecar(head.r, name))
  }

  /** MERGE-ON-READ row-level UPDATE: `UPDATE t SET … WHERE pred` as a
    * deletion vector over the OLD row positions plus ONE appended
    * batch of the updated rows — no existing file is rewritten. Same
    * statement semantics as [[updateSnapshotWhere]] (assignments
    * evaluate against the pre-update row and cast back to the column's
    * declared type; CHECKs validate the updated rows); the physical
    * contract is Iceberg v2's MoR update (delete + insert), so CDC
    * readers see exactly a delete+insert pair per touched row. Use for
    * scattered updates; compaction folds. No schema evolution on this
    * path — the CoW verb owns that. */
  def updateSnapshotWhereMor(spark: SparkSession, root: String,
      pred: Column, set: Seq[(String, Column)],
      meta: Seq[String] = Seq.empty): Long = {
    val head = headOf(spark, root)
    val (fs, r) = (head.fs, head.r)
    val refs = refsOf(fs, r)
    val candidates = filesMayMatch(spark, head, refs, pred)
    if (candidates.isEmpty) return head.v
    // the hits persist: the DV write computes them, the batch reuses them
    val hit = readLiveFiles(spark, head, candidates, withPos = true)
      .where(coalesce(pred, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dataCols = hit.columns.filterNot(c => c == "__path" || c == "__pos").toSeq
      val unknown = set.map(_._1).filterNot(dataCols.toSet)
      val setMap = set.toMap
      val updated = hit.select(dataCols.map { c =>
        setMap.get(c).fold(col(c)) { e =>
          val dt = hit.schema(c).dataType
          e.cast(dt).as(c)
        }
      }: _*)
      val dv = writeDv(spark, fs, r, hit) match {
        case Some(n) => n
        case None => return head.v // no matching live row → no-op
      }
      // a rejected statement leaves no DV behind
      try {
        require(unknown.isEmpty,
          s"UPDATE SET on unknown column(s): ${unknown.mkString(", ")}")
        validateChecks(spark, root, refs, Some(head), updated)
      } catch {
        case scala.util.control.NonFatal(e) =>
          fs.delete(new org.apache.hadoop.fs.Path(deletesDir(r), dv), true)
          throw e
      }
      publishDvPlusBatch(spark, head, refs, Some(dv), updated, meta)
    } finally hit.unpersist()
  }

  /** MERGE-ON-READ upsert by `pk`: deletion-vector the matched rows'
    * positions and append the FULL updates batch — same statement
    * semantics as [[mergeSnapshot]] (updates must be pk-unique; new
    * keys insert), zero rewritten files. CDC shows matched keys as
    * delete+insert pairs. `allowSchemaEvolution` admits an evolved feed
    * (r13): the MoR physics make it CHEAPER than CoW — the evolved
    * columns ride the one appended batch, the committed schema unions
    * at the shared commit tail, no carried file is rewritten, and every
    * pre-evolution file reads NULL for the new columns. */
  def mergeSnapshotMor(spark: SparkSession, root: String,
      updates: DataFrame, pk: String, meta: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false): Long =
    mergeSnapshotMorKeys(spark, root, updates, Seq(pk), meta,
      allowSchemaEvolution)

  /** Fold every EQUALITY-DELETE sidecar into ONE positional deletion
    * vector and drop the `#eqdel:` lines — the maintenance story
    * BETWEEN compactions. Equality deletes are the zero-read write
    * path, but each sidecar taxes EVERY subsequent read with a
    * key-join + cover-join; on a hot table they pile up until the next
    * compaction folds them at full-rewrite price. This verb folds them
    * at MoR price instead: scan only the covered files still live,
    * pin the matching rows' (path, pos), publish the SAME file list
    * with one new `#dv:` line and zero `#eqdel:` lines — no data file
    * is written. Content is preserved exactly (rows the sidecars
    * already deleted become positionally dead); reads get back their
    * sidecar-free plan shape. Per-sidecar key semantics are honored by
    * construction: only each sidecar's own covered files scan against
    * its own key set, so a later re-insert of a purged key survives
    * the fold the same way it survived the sidecar. A lost commit race
    * deletes the new DV and aborts — the shared serializable contract.
    * SQL surface: `CALL graft.system.rewrite_eqdels('db.t')`. */
  def rewriteEqDeletesToDv(spark: SparkSession, root: String,
      meta: Seq[String] = Seq.empty): Long = {
    val head = headOf(spark, root)
    val (fs, r, cs) = (head.fs, head.r, head.schema)
    if (head.eqDels.isEmpty) return head.v
    val liveSet = head.files.toSet
    val hits: Seq[DataFrame] = head.eqDels.flatMap { l =>
      val (name, physPks) = parseEqDel(l)
      val covered = eqCoverPaths(spark, r, name).filter(liveSet).sorted
      if (covered.isEmpty) None
      // rows still live under the prior DVs, PHYSICAL names (keys are
      // stored physical, rename-proof): a row a prior DV deleted needs
      // no second position
      else {
        val live = liveRows(spark, r, scanPhysical(spark, covered, cs), covered,
          head.dvNames, Seq.empty, None, withPos = true)
        Some(eqDeleteSet(spark, r, name, physPks, covered, live, "__path").keep(live)
          .select(col("__path"), col("__pos")))
      }
    }
    def publish(extraDv: Option[String], cleanup: => Unit): Long = {
      val next = head.v + 1
      try {
        publishManifest(fs, r, next,
          head.carriedMeta(eqDels = false) ++
            extraDv.map(n => s"#dv:$n").toSeq ++
            ("#rewrite:eqdels" +: meta) ++ head.dataRaw, refsOf(fs, r))
        next
      } catch {
        case e: SnapshotConflictException => cleanup; throw e
      }
    }
    if (hits.isEmpty) return publish(None, ())
    // no DV when every eqdel row was already positionally dead (or
    // matched nothing live): the lines still drop
    val dv = writeDv(spark, fs, r, hits.reduce(_ unionAll _).distinct())
    publish(dv, dv.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(deletesDir(r), n), true)))
  }

  /** Composite-key [[mergeSnapshotMor]] — tuple-keyed DV shadowing. */
  def mergeSnapshotMorKeys(spark: SparkSession, root: String,
      updates: DataFrame, pks: Seq[String], meta: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false): Long = {
    val head = headOf(spark, root)
    val (files, cs) = (head.files, head.schema)
    // Same statement-scoped key feed as the CoW verbs ([[feedSet]]):
    // the distinct tuples drive nomination, the DV's positions (the
    // candidates' live rows the feed keeps, written once) and the
    // empty-feed early-out.
    val keys = feedSet(spark, updates, pks, probeableKeys(updates, pks, cs))
    try {
      if (keys.isEmpty) return head.v
      val refs = refsOf(head.fs, head.r)
      validateChecks(spark, root, refs, Some(head), updates)
      val tableCols = cs.map(_.fieldNames.toSeq)
        .getOrElse(spark.read.parquet(files.head).columns.toSeq)
      // Schema evolution (opt-in, mirrors the CoW contract): evolved
      // columns ride the appended batch in table-column order + new
      // columns appended; the commit tail unions the committed schema,
      // so pre-evolution files read NULL for them. Strict mode clips to
      // the table schema (and throws on a missing table column).
      val batch =
        if (allowSchemaEvolution) {
          val cols = tableCols.filter(updates.columns.contains) ++
            updates.columns.filterNot(tableCols.contains)
          updates.select(cols.map(col): _*)
        } else updates.select(tableCols.map(col): _*)
      val candidates = nominateFilesByKeys(spark, files,
        statsLogical(head.stats, cs), keys.frame, pks)
      // no candidate, or no live match: a pure append. The DV is written
      // last, after every check that can reject the statement.
      val dv =
        if (candidates.isEmpty) None
        else writeDv(spark, head.fs, head.r,
          keys.keep(readLiveFiles(spark, head, candidates, withPos = true)))
      publishDvPlusBatch(spark, head, refs, dv, batch, meta)
    } finally keys.release()
  }

  /** Write the (__path, __pos) positions of `hits` as a fresh DV
    * sidecar and return its name; None, the sidecar deleted, when no row
    * was written. The emptiness check is a driver read of at most one
    * row ([[sidecarRows]]), so the write is the only Spark job: no
    * separate emptiness probe evaluates `hits` first. */
  private def writeDv(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, hits: DataFrame): Option[String] = {
    val name = s"dv-${writerToken()}"
    val dvPath = new org.apache.hadoop.fs.Path(deletesDir(r), name)
    hits.select(col("__path"), col("__pos")).write.parquet(dvPath.toString)
    if (sidecarRows(spark, r, dvSchema, Seq(dvPath), bound = 0).isEmpty) Some(name)
    else { fs.delete(dvPath, true); None }
  }

  /** Shared MoR commit: land `newData` as one appended batch and
    * publish `head`'s next version carrying ALL its files plus the already-written
    * DV sidecar `dvName` ([[writeDv]]; None for a pure append).
    * Conflict aborts clean up both the sidecar and the batch. */
  private def publishDvPlusBatch(spark: SparkSession, head: Manifest, refs: Refs,
      dvName: Option[String], newData: DataFrame, meta: Seq[String]): Long = {
    try {
      commitCow(spark, head, refs, carried = head.files,
        newData = newData, meta = dvName.map(n => s"#dv:$n").toSeq ++ meta)
    } catch {
      case e: SnapshotConflictException =>
        dvName.foreach(n => head.fs.delete(
          new org.apache.hadoop.fs.Path(deletesDir(head.r), n), true))
        throw e
    }
  }

  /** PER-FILE key nomination for the copy-on-write verbs: the files
    * whose OWN [min, max] stat envelope on `pk` contains at least one
    * actual update key. The earlier formulation tested each file
    * against ONE global `pk BETWEEN batch-min, batch-max` envelope of
    * the whole batch — correct but useless for the common CDC shape
    * where a batch's keys are SCATTERED across the key domain (updates
    * hit old and new customers alike): the global envelope covers every
    * file and the exact pin scan opens the entire table at planning.
    * Here each file's envelope is range-joined against the DISTINCT
    * update keys (file envelopes broadcast — they are |files| tiny rows
    * of driver-held manifest stats; the keys stream), so a dispersed
    * feed touching 2 of 1000 files nominates exactly those 2. Cost is
    * O(|distinct keys| x |enveloped files|) codegen'd comparisons,
    * distributed — metadata-priced next to the O(table bytes) pin scan
    * it replaces. Files with no stats, or no envelope on `pk`, stay
    * unconditional candidates (the conservative contract everywhere
    * stats are consulted); all-NULL-pk files have NULL envelopes and
    * can never match a key. Manifest order is preserved. */
  private[graft] def nominateFilesByKey(spark: SparkSession,
      files: Seq[String], stats: Map[String, FileStat],
      keys: DataFrame, pk: String): Seq[String] =
    nominateFilesByKeys(spark, files, stats, keys, Seq(pk))

  /** Composite-key generalization: a file is a candidate iff at least
    * one key TUPLE sits inside its per-column envelopes CONJUNCTED —
    * per key column: an envelope with a real range constrains, a
    * missing stat (no sidecar / column unrecorded) leaves that column
    * unconstrained, and an all-NULL column (stat present, null range)
    * is provably unmatchable by any equality key, excluding the file
    * outright. Files blind on EVERY key column stay unconditional
    * candidates; files constrained on ≥1 column go through one
    * broadcast range-join of the |files|-sized envelope frame against
    * the key tuples (`keys` MUST already be distinct — every verb
    * passes its [[Feed]]'s frame, so re-deduplicating here would
    * stack a second shuffle on the first for nothing).
    * Manifest order is preserved.
    *
    * SMALL-TABLE SHORT-CIRCUIT: when at most
    * `spark.graft.nominate.minEnvelopedFiles` (default 8) files carry
    * envelopes, every enveloped file is nominated WITHOUT running the
    * join — the pin scan that always follows opens those few files'
    * key columns anyway and resolves exactness, so the join's fixed
    * distributed-job cost (a shuffle + broadcast + collect per verb
    * statement) can never pay for itself below the threshold. This is
    * what keeps a 4-file bench table's MERGE at single-key-era cost
    * while a 100k-file table still gets the full envelope prune
    * (there the join eliminates opening thousands of files — its
    * entire reason to exist). */
  private[graft] def nominateFilesByKeys(spark: SparkSession,
      files: Seq[String], stats: Map[String, FileStat],
      keys: DataFrame, pks: Seq[String]): Seq[String] = {
    require(pks.nonEmpty, "key nomination needs at least one key column")
    def colStat(f: String, c: String): Option[ColStat] =
      stats.get(f).flatMap(_.cols.find(_.col == c))
    def impossible(f: String): Boolean = pks.exists(c =>
      colStat(f, c).exists(s => s.mn == null || s.mx == null))
    val blindAll = files.filter(f =>
      !impossible(f) && pks.forall(c => colStat(f, c).isEmpty)).toSet
    val enveloped = files.filterNot(f => impossible(f) || blindAll(f))
    if (enveloped.isEmpty) return files.filter(blindAll)
    val minEnveloped = spark.conf
      .getOption("spark.graft.nominate.minEnvelopedFiles")
      .map(_.toInt).getOrElse(8)
    if (enveloped.size <= minEnveloped) return files.filterNot(impossible)
    val strFields = org.apache.spark.sql.types.StructField(
      "__path", org.apache.spark.sql.types.StringType) +:
      pks.indices.flatMap(i => Seq(
        org.apache.spark.sql.types.StructField(s"__lo$i",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(s"__hi$i",
          org.apache.spark.sql.types.StringType)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(enveloped.map { f =>
        org.apache.spark.sql.Row.fromSeq(f +: pks.flatMap { c =>
          colStat(f, c) match {
            case Some(s) => Seq(s.mn, s.mx)
            case None => Seq(null, null) // blind column — unconstrained
          }
        })
      }: _*)
    val envDf = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(strFields.toIndexedSeq))
      .select(col("__path") +: pks.zipWithIndex.flatMap { case (c, i) =>
        val t = keys.schema(c).dataType.sql
        Seq(expr(s"try_cast(__lo$i AS $t)").as(s"__lo$i"),
          expr(s"try_cast(__hi$i AS $t)").as(s"__hi$i"))
      }: _*)
    val cond = pks.zipWithIndex.map { case (c, i) =>
      col(s"__lo$i").isNull ||
        (col(c) >= col(s"__lo$i") && col(c) <= col(s"__hi$i"))
    }.reduce(_ && _)
    val hits = keys.select(pks.map(col): _*)
      .join(broadcast(envDf), cond)
      .select("__path").distinct().collect().map(_.getString(0)).toSet
    files.filter(f => hits(f) || blindAll(f))
  }

  /** The manifest paths of the files `hits` — a [[readLiveFiles]]
    * `withPos` frame over `candidates` — holds a row of, gathered in one
    * job with no exchange: each partition's distinct `__path` values
    * (the raw scan's own `_metadata.file_path` in [[dvPathKey]] form,
    * which survives every delete-chain join), collected and mapped back
    * to the candidates they were read from ([[scanKeys]]); a key no
    * candidate yields fails the statement rather than pin nothing. */
  private def pinnedFiles(spark: SparkSession, hits: DataFrame,
      candidates: Seq[String]): Set[String] = {
    val byKey = scanKeys(spark, candidates)
    val sp = spark; import sp.implicits._
    hits.select(col("__path")).as[String].mapPartitions(_.toSet.iterator)
      .collect().map(k => byKey.getOrElse(k, throw new IllegalStateException(
        s"pinned file $k is none of the scanned candidates")))
      .toSet
  }

  /** Conservative key-scope envelope of a merge/CDC batch: per key
    * column the `[min, max]` over the source's distinct key tuples,
    * conjoined — the predicate [[republishPinnedRewrite]] uses to
    * prove a racing commit's new files hold no row this verb could
    * have touched. Evaluated only on the CONFLICT path (one agg over
    * the key feed's frame, [[Feed.frame]]). None when any bound is
    * NULL (all-null key column — no provable scope, strict abort). */
  private def keyScopeEnvelope(keys: DataFrame, pks: Seq[String]): Option[Column] = {
    val aggs = pks.flatMap(c => Seq(min(col(c)), max(col(c))))
    val row = keys.agg(aggs.head, aggs.tail: _*).head()
    if ((0 until 2 * pks.size).exists(row.isNullAt)) None
    else Some(pks.zipWithIndex.map { case (c, i) =>
      col(c) >= lit(row.get(2 * i)) && col(c) <= lit(row.get(2 * i + 1))
    }.reduce(_ && _))
  }

  /** The PIN step shared by every copy-on-write verb: the manifest
    * paths of the stats-nominated candidates holding ≥1 LIVE row that
    * satisfies `pred` ([[pinnedFiles]]). A row a DV or an equality
    * delete already removed pins nothing, so such a verb publishes
    * nothing. */
  private def pinFilesWhere(spark: SparkSession, head: Manifest,
      candidates: Seq[String], pred: Column): Set[String] =
    if (candidates.isEmpty) Set.empty
    else pinnedFiles(spark,
      readLiveFiles(spark, head, candidates, withPos = true).where(pred), candidates)

  /** [[pinFilesWhere]]'s key-scoped twin, the front end of the CoW key
    * verbs (MERGE, CDC apply): nominate `head`'s files by their key
    * envelopes ([[nominateFilesByKeys]]), pin the candidates holding a
    * live row whose `pks` tuple `keys` keeps, and return (the pinned
    * files, the rest — carried by path —, the pinned files' live rows
    * `keys` drops). */
  private def pinFilesByKeys(spark: SparkSession, head: Manifest, keys: Feed,
      pks: Seq[String]): (Set[String], Seq[String], DataFrame) = {
    val files = head.files
    val candidates = nominateFilesByKeys(spark, files,
      statsLogical(head.stats, head.schema), keys.frame, pks)
    val matched: Set[String] =
      if (candidates.isEmpty) Set.empty
      else pinnedFiles(spark, keys.keep(
        readLiveFiles(spark, head, candidates, withPos = true)), candidates)
    val survivors =
      if (matched.isEmpty)
        readLiveFiles(spark, head, Seq(files.head)).where(lit(false))
      else keys.drop(readLiveFiles(spark, head, matched.toSeq.sorted))
    (matched, files.filterNot(matched), survivors)
  }

  // ---------------------------------------------------------------------
  // KEY SETS. Every row-level decision graft makes against a small side
  // asks whether a row's key tuple sits in a set: a version's deletion
  // vectors ((file, position) pairs, [[DvSet]]), one equality-delete
  // sidecar (key tuples over the files it covers, [[eqDeleteSet]]) and a
  // key-scoped verb's feed (MERGE, CDC apply, MoR MERGE and the
  // equality delete, [[feedSet]]). Each constructor is the only code
  // that loads its input and compares it with its bound, and so decides
  // the set's regime: up to the bound it loads once on the driver and
  // every partition of the scan probes it through a broadcast
  // ([[graft.functions.DvHit]], [[graft.functions.EqDeleteHit]]) — the
  // small side of a collect-left hash join, collected once; past it (or,
  // for a feed, when a key column's type differs from its committed
  // type) the scan joins a frame of it. Callers only `keep` and `drop`;
  // a feed ([[Feed]]) also gives its tuples as a frame, its emptiness
  // and its tally, and a DV set its deleted rows per file.
  // Sidecars name data files by the path a scan reports (DV `__path`
  // values) or by manifest path (a cover list); [[scanKeys]] is the one
  // mapping between the two.
  // ---------------------------------------------------------------------

  /** Rows bound for what graft loads onto the driver and broadcasts:
    * DV positions and the key tuples of each equality-delete sidecar.
    * 4M rows ≈ tens of MB on the driver/executors — far beyond any sane
    * between-compaction sidecar, far below driver danger. Tunable per
    * session (`spark.graft.dv.broadcastMaxPositions`); 0 forces the
    * joins (test hook), the key feeds' included ([[keyFeedMaxTuples]]). */
  private def dvBroadcastMaxPositions(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.broadcastMaxPositions")
      .map(_.toLong).getOrElse(4_000_000L)

  /** Distinct tuples bound for a key-scoped verb's feed on the driver
    * ([[loadTuples]]): [[dvBroadcastMaxPositions]], capped at 10,000,
    * the largest feed measured to gain from the probe. A MERGE whose
    * keys spread over a 2M-row, 8-file table (4 cores, median of 3)
    * took 1.60 s probed against 1.83 s joined at 10^4 keys; the two
    * were within noise at 2·10^4 and 5·10^4, and the probe lost at 10^5
    * (2.40 s against 1.80 s) and 10^6 (11.7 s against 3.8 s): every
    * scanned row hashes a boxed tuple into a driver-built set, where
    * the join's broadcast hash relation probes unboxed. */
  private def keyFeedMaxTuples(spark: SparkSession): Long =
    math.min(dvBroadcastMaxPositions(spark), 10_000L)

  /** Rows of graft-written delete sidecars (parquet directories or
    * files) read as `schema` on the driver, with no Spark job
    * ([[org.apache.spark.sql.GraftLocalParquet]]: a scan's own record
    * reader, so a key sidecar written before a type widening reads
    * widened; no broadcast), or
    * None when they hold more than `bound` rows — the read stops one
    * row past it. */
  private def sidecarRows(spark: SparkSession, root: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[org.apache.hadoop.fs.Path], bound: Long = Long.MaxValue)
      : Option[Array[org.apache.spark.sql.catalyst.InternalRow]] = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = paths.flatMap(p => fs.listStatus(p)).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val rows = org.apache.spark.sql.GraftLocalParquet.read(spark, schema, files,
      if (bound >= Int.MaxValue) Int.MaxValue else (bound + 1).toInt)
    if (rows.length > bound) None else Some(rows)
  }

  /** The manifest paths `files` keyed by the path a scan of each
    * reports as `_metadata.file_path`, in [[dvPathKey]] form: the one
    * mapping from a data file's manifest identity to its scan identity.
    * A manifest path drops scheme and authority (`/t/f`) where the scan
    * keeps the authority (`s3a://b/t/f` reads `/b/t/f`), so each path is
    * qualified as the scan qualifies it. */
  private def scanKeys(spark: SparkSession,
      files: Iterable[String]): Map[String, String] = {
    val conf = spark.sessionState.newHadoopConf()
    files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).makeQualified(p).toUri.toString
        .replaceFirst(dvPathScheme, "/") -> f
    }.toMap
  }

  /** `byKey`, keyed by scan key, rekeyed by the manifest paths of
    * `files` ([[scanKeys]]); a key of no file in `files` drops. */
  private def byManifestPath[V](spark: SparkSession, files: Iterable[String],
      byKey: Map[String, V]): Map[String, V] = {
    val manifestOf = scanKeys(spark, files)
    byKey.flatMap { case (k, v) => manifestOf.get(k).map(_ -> v) }
  }

  /** The DV loader every reader shares: a version's DV sidecars `names`
    * as `scan key → sorted positions`, or None above the bound. */
  private def dvPositions(spark: SparkSession, root: org.apache.hadoop.fs.Path,
      names: Seq[String]): Option[Map[String, Array[Long]]] =
    sidecarRows(spark, root, dvSchema, names.map(dvSidecar(root, _)),
      dvBroadcastMaxPositions(spark))
      .map(_.groupBy(_.getUTF8String(0).toString).map {
        case (p, rows) => p -> rows.map(_.getLong(1)).sorted
      })

  /** The key loader every equality-delete reader shares: one sidecar's
    * key tuples, read as `keySchema`, indexed over `covered` (scan
    * keys); or None when the sidecar holds more than
    * [[dvBroadcastMaxPositions]] keys. */
  private def eqKeyIndex(spark: SparkSession, root: org.apache.hadoop.fs.Path,
      name: String, keySchema: org.apache.spark.sql.types.StructType,
      covered: Iterable[String]): Option[graft.functions.EqDeleteIndex] =
    sidecarRows(spark, root, keySchema, Seq(eqSidecar(root, name, "keys")),
      dvBroadcastMaxPositions(spark))
      .map(rows => new graft.functions.EqDeleteIndex(covered,
        rows.map(_.toSeq(keySchema).toArray)))

  /** `df`'s types of the key columns `physPks`: what an equality-delete
    * sidecar's keys read as. */
  private def keySchemaOf(df: DataFrame,
      physPks: Seq[String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      physPks.zip(df.select(physPks.map(col): _*).schema.fields).map {
        case (p, f) => f.copy(name = p)
      })

  /** The broadcast [[graft.functions.EqDeleteHit]] probe of `index`
    * over `cols`: a file-path column, then the key columns. */
  private def eqHit(spark: SparkSession, index: graft.functions.EqDeleteIndex,
      cols: Seq[Column]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.functions.EqDeleteHit(
      cols.map(org.apache.spark.sql.GraftColumnBridge.expression),
      spark.sparkContext.broadcast(index)))

  /** A set of key tuples a scan's rows are matched against, in the
    * regime its constructor chose. */
  private sealed trait KeySet {
    /** `df`'s rows whose key tuple the set holds: the semi-join. */
    def keep(df: DataFrame): DataFrame
    /** `df`'s rows whose key tuple it does not hold: the anti-join. */
    def drop(df: DataFrame): DataFrame
  }

  /** The driver regime: `hit`, built on first use, is the broadcast
    * probe of a row. */
  private final class Probed(hit: => Column) extends KeySet {
    private lazy val probe = hit
    def keep(df: DataFrame): DataFrame = df.where(probe)
    def drop(df: DataFrame): DataFrame = df.where(!probe)
  }

  /** The join regime: a row's `on` columns match a row of `frame`, which
    * has as many columns. */
  private final class Joined(frame: DataFrame, on: Seq[Column]) extends KeySet {
    private def join(df: DataFrame, how: String): DataFrame = {
      val names = Iterator.from(0).map(i => s"__ks$i")
        .filterNot(df.columns.toSet).take(on.size).toSeq
      df.select(col("*") +: on.zip(names).map { case (c, n) => c.as(n) }: _*)
        .join(frame.toDF(names: _*), names, how)
        .drop(names: _*)
    }
    def keep(df: DataFrame): DataFrame = join(df, "left_semi")
    def drop(df: DataFrame): DataFrame = join(df, "left_anti")
  }

  /** A version's deletion vectors `names` as a set of (file, row
    * position) pairs, matched on the scan's own `_metadata` columns, so
    * `keep` and `drop` need a frame that still resolves them
    * ([[liveRows]] applies this first). Up to [[dvBroadcastMaxPositions]]
    * positions (the overwhelmingly common state between compactions)
    * the DV loads once as `file → sorted positions` ([[dvPositions]], no
    * Spark job) and the scan filters through the codegen'd
    * [[graft.functions.DvHit]] probe — no exchange in the plan at any
    * scan size, the per-file application shape Iceberg readers use.
    * Past it (a pathological DV right before compaction, too big to pin
    * on the driver) a join on (file_path, row_index), correct at any
    * size, which AQE still broadcasts when the runtime size allows.
    * [[deletedRows]] counts the rows it deletes per file off the same
    * load. */
  private final class DvSet(spark: SparkSession, root: org.apache.hadoop.fs.Path,
      names: Seq[String]) extends KeySet {
    private lazy val positions = dvPositions(spark, root, names)
    private def frame =
      readSidecar(spark, dvSchema, names.map(dvSidecar(root, _).toString): _*)
    private lazy val set: KeySet = {
      val on = Seq(dvPathKey(col("_metadata.file_path")), col("_metadata.row_index"))
      positions match {
        case Some(byPath) =>
          new Probed({
            val byFile = new java.util.HashMap[
              org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
            byPath.foreach { case (p, pos) =>
              byFile.put(org.apache.spark.unsafe.types.UTF8String.fromString(p), pos)
            }
            org.apache.spark.sql.GraftColumnBridge.column(graft.functions.DvHit(
              org.apache.spark.sql.GraftColumnBridge.expression(on(0)),
              org.apache.spark.sql.GraftColumnBridge.expression(on(1)),
              spark.sparkContext.broadcast(byFile)))
          })
        case None => new Joined(frame, on)
      }
    }
    def keep(df: DataFrame): DataFrame = set.keep(df)
    def drop(df: DataFrame): DataFrame = set.drop(df)

    /** The rows the set deletes from each file of `files` (manifest
      * paths; a file with none is absent): counted on the driver up to
      * the bound, by one job past it. DESCRIBE's per-file and
      * per-partition counts, and the files CDC reads a DV version's
      * deleted rows from. */
    def deletedRows(files: Iterable[String]): Map[String, Long] =
      if (names.isEmpty) Map.empty
      else byManifestPath(spark, files, positions match {
        case Some(byKey) => byKey.map { case (k, pos) => k -> pos.length.toLong }
        case None => frame.groupBy("__path").count().collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
      })
  }

  /** One equality-delete sidecar `name`'s key tuples over the key
    * columns `physPks` of `scan`, the frame it filters, scoped to the
    * files it `covered` (manifest paths), which match `pathCol` — the
    * scan's [[dvPathKey]] file path — through their [[scanKeys]]. The
    * keys read as `scan`'s key types ([[keySchemaOf]]), which parquet
    * widens a sidecar written before a type widening to, exactly as it
    * widens the data files. Up to [[dvBroadcastMaxPositions]] keys they
    * load on the driver and the scan filters through the broadcast
    * [[graft.functions.EqDeleteHit]] probe — no join, no exchange; past
    * it a join on the keys and on whether the row's file is covered.
    * Either way a NULL key component never matches and float/double
    * `-0.0` matches `0.0`. */
  private def eqDeleteSet(spark: SparkSession, root: org.apache.hadoop.fs.Path,
      name: String, physPks: Seq[String], covered: Seq[String], scan: DataFrame,
      pathCol: String): KeySet = {
    val keySchema = keySchemaOf(scan, physPks)
    val keyCols = physPks.map(col)
    val scope = scanKeys(spark, covered).keys
    eqKeyIndex(spark, root, name, keySchema, scope) match {
      case Some(index) => new Probed(eqHit(spark, index, col(pathCol) +: keyCols))
      case None =>
        new Joined(readSidecar(spark, keySchema, eqSidecar(root, name, "keys").toString)
            .select(col("*"), lit(true)),
          keyCols :+ col(pathCol).isInCollection(scope))
    }
  }

  /** A loaded feed row: Catalyst values, float and double zeros folded. */
  private type KeyTuple = org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Whether each key column of `feed` has its committed type under
    * `cs`, and a type the probe compares exactly as the join does (an
    * atomic type; a string only under the binary collation). A differing
    * type takes the join regime, whose coercion rules then apply. */
  private def probeableKeys(feed: DataFrame, pks: Seq[String],
      cs: Option[org.apache.spark.sql.types.StructType]): Boolean = cs.exists { s =>
    import org.apache.spark.sql.types._
    feed.select(pks.map(col): _*).schema.fields.zip(pks).forall { case (f, c) =>
      s.fields.find(_.name.equalsIgnoreCase(c)).exists(_.dataType == f.dataType) &&
        (f.dataType match {
          case BooleanType | ByteType | ShortType | IntegerType | LongType |
              FloatType | DoubleType | DateType | TimestampType |
              TimestampNTZType | BinaryType | _: DecimalType => true
          case t => t == StringType // the binary collation: a collated type is unequal
        })
    }
  }

  /** The distinct rows of `feed` with their counts, loaded onto the
    * driver by ONE Spark job; None when there are more than `bound`.
    * Each of the feed's P partitions returns at most ⌈(bound+1)/P⌉
    * distinct rows, or only the flag that it had more, so the driver
    * holds about bound + P rows whatever the feed's size or skew. Rows
    * are Catalyst values with float and double zeros folded
    * ([[graft.functions.EqDeleteIndex.row]]), so two rows a join's key
    * normalization would equate are one row here. */
  private def loadTuples(feed: DataFrame, bound: Long)
      : Option[Map[KeyTuple, Long]] = {
    val types = feed.schema.fields.map(_.dataType).toSeq
    val rdd = feed.queryExecution.toRdd
    val cap = (bound + rdd.getNumPartitions) / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashMap[KeyTuple, Long]()
      while (seen.size <= cap && rows.hasNext) {
        val t = graft.functions.EqDeleteIndex.row(rows.next().copy().toSeq(types).toArray)
        seen(t) = seen.getOrElse(t, 0L) + 1
      }
      Iterator.single(if (seen.size > cap) None else Some(seen.toArray))
    }.collect()
    if (parts.exists(_.isEmpty)) None
    else {
      val all = parts.flatMap(_.get).groupMapReduce(_._1)(_._2)(_ + _)
      if (all.size > bound) None else Some(all)
    }
  }

  /** A frame over driver-held Catalyst rows of `schema`. */
  private def localFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** A key-scoped verb's feed ([[feedSet]]): its [[KeySet]] and what
    * only a feed has. `frame` holds the distinct tuples: what a verb
    * nominates files by ([[nominateFilesByKeys]]) and scopes a lost race
    * by ([[keyScopeEnvelope]]). `writeSidecar(dir, names)` writes the
    * tuples, their columns named `names`, as the parquet directory `dir`
    * (the equality delete's key sidecar): one file written on the driver
    * when loaded, the feed's own distinct (a parallel Spark write, not
    * cached) past the bound. [[release]] unpersists `persisted`. */
  private final class Feed(set: KeySet, val frame: DataFrame,
      val writeSidecar: (org.apache.hadoop.fs.Path, Seq[String]) => Unit,
      empty: => Boolean, tallied: => (Long, Set[String]),
      persisted: Option[DataFrame]) extends KeySet {
    def keep(df: DataFrame): DataFrame = set.keep(df)
    def drop(df: DataFrame): DataFrame = set.drop(df)
    /** The feed holds no tuple (a row with a NULL key counts as one). */
    lazy val isEmpty: Boolean = empty
    /** The most rows one tuple has, and the distinct tags. */
    lazy val tally: (Long, Set[String]) = tallied
    def release(): Unit = persisted.foreach(_.unpersist())
  }

  /** A key-scoped verb's feed as the set of its distinct `pks` tuples,
    * with its tally: the most rows one tuple has and the distinct values
    * of `tag` (CDC's op tags; none without one). With `probe` (the
    * caller's [[probeableKeys]], or a feed only written out) one job
    * loads the (tuple, tag) pairs onto the driver when there are at
    * most [[keyFeedMaxTuples]] ([[loadTuples]]); the verbs then probe the
    * tuples through a broadcast [[graft.functions.EqDeleteIndex]], where
    * a tuple with a NULL component never matches, float/double `-0.0`
    * matches `0.0` and NaN matches NaN, as in the join, and the tally
    * costs nothing more. Otherwise the tuples persist as a grouped frame
    * the verbs join, and the tally is one small job over it (never a
    * per-key collect), which also answers `isEmpty` when no load ran. */
  private def feedSet(spark: SparkSession, feed: DataFrame, pks: Seq[String],
      probe: Boolean, tag: Option[Column] = None): Feed = {
    val rows = feed.select(pks.map(col) ++ tag.map(_.as("__tag")): _*)
    val schema = org.apache.spark.sql.types.StructType(rows.schema.fields.take(pks.size))
    (if (probe) loadTuples(rows, keyFeedMaxTuples(spark)) else None) match {
      case Some(loaded) =>
        val perKey = loaded.toSeq.groupMapReduce[KeyTuple, Long] {
          case (t, _) => new KeyTuple(t.values.take(pks.size))
        }(_._2)(_ + _)
        val tuples = perKey.keys
        val frame = localFrame(spark, schema, tuples.toSeq)
        new Feed(new Probed(eqHit(spark,
            new graft.functions.EqDeleteIndex(Seq(""), tuples.map(_.values)),
            lit("") +: pks.map(col))),
          frame,
          (dir, names) => org.apache.spark.sql.GraftLocalParquet.write(spark,
            org.apache.spark.sql.types.StructType(schema.fields.zip(names).map {
              case (f, n) => f.copy(name = n)
            }), tuples, dir),
          tuples.isEmpty,
          (perKey.values.max,
            if (tag.isEmpty) Set.empty
            else loaded.keys.map(_.getUTF8String(pks.size).toString).toSet),
          None)
      case None =>
        val aggs = count(lit(1)).as("__n") +:
          tag.toSeq.map(_ => collect_set(col("__tag")).as("__tags"))
        val grouped = rows.groupBy(pks.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // a global agg yields ONE row even over an empty frame — a null
        // max is the empty-feed signal
        lazy val tally = grouped.select(col("__n"),
            if (tag.isEmpty) lit(null).cast("string").as("__tag")
            else explode(col("__tags")).as("__tag"))
          .groupBy().agg(max(col("__n")), collect_set(col("__tag"))).head()
        val frame = grouped.select(pks.map(col): _*)
        // a load that overflowed saw rows
        new Feed(new Joined(frame, pks.map(col)), frame,
          (dir, names) => rows.select(pks.map(col): _*).distinct().toDF(names: _*)
            .write.parquet(dir.toString),
          !probe && tally.isNullAt(0),
          (tally.getLong(0), tally.getSeq[String](1).toSet), Some(grouped))
    }
  }

  /** Shared copy-on-write commit tail: land `newData` as ONE new batch,
    * compute its stats, carry `carried` (a subset of the head's files)
    * with theirs, publish `head + 1`. A lost
    * commit race deletes the unpublished batch and stats sidecar (no
    * orphans) and rethrows — the serializable contract all CoW verbs
    * share (the caller replans against the new head) — UNLESS the race
    * is provably harmless: `rewriteOf` (content-preserving rewrites)
    * or `scopePred` (verbs with a key/predicate scope) route through
    * [[republishPinnedRewrite]] to land the already-written batch at
    * metadata price. `scopePred` is a THUNK evaluated only on the
    * conflict path (a merge's key envelope costs one agg over the
    * source — never paid on the conflict-free fast path); `None` from
    * the thunk means "no provable scope" and keeps the strict abort. */
  private def commitCow(spark: SparkSession, head: Manifest, refs: Refs,
      carried: Seq[String], newData: DataFrame, meta: Seq[String],
      rewriteOf: Option[Set[String]] = None,
      scopePred: Option[() => Option[Column]] = None): Long = {
    val (fs, r) = (head.fs, head.r)
    // STRUCTURAL carry (Iceberg's manifest-level filtering): the carried
    // list is "the head's files minus the consumed ones", so the commit
    // republishes the head's raw data section excluding the consumed
    // files — untouched segments ride as pointers — and chains the
    // stats sidecar at the head's. Both make the commit's METADATA cost
    // ∝ touched files.
    val headResolved = head.files.toSet
    val carriedSet = carried.toSet
    require(carriedSet.subsetOf(headResolved),
      s"CoW carry must be a subset of v${head.v}'s files")
    val consumed = headResolved -- carriedSet
    val (batch, newFiles, newStatuses, batchObs) =
      writeBatch(spark, fs, r, newData, head.schema, refs)
    val newStats = batchFileStats(spark, newFiles, fsMetaOf(newStatuses),
      refs.bloom, batchObs)
    val statsName = writeStatsDelta(spark, fs, r, head.statsName,
      newStats, liveAtFlatten = carriedSet ++ newFiles, refs)
    // Committed schema: carried files are covered by the head's
    // recorded schema; the rewritten batch may add evolved columns.
    val priorSchema = head.schema
      .orElse(carried.headOption.map(f => spark.read.parquet(f).schema))
    val schemaLine =
      schemaLineOf(priorSchema.fold(newData.schema)(p => unionSchema(p, newData.schema)))
    try {
      val next = head.v + 1
      Option(cowPublishFault.remove(r.toString)).foreach(_.run())
      // Deletion vectors + equality deletes carry forward: carried files
      // may still have dead rows; rewritten files' DV rows and eqdel
      // coverage self-invalidate (both path-keyed — a new batch path is
      // in no covered set)
      publishManifest(fs, r, next, Seq(s"#stats:$statsName", schemaLine) ++
        head.deleteLines ++ meta ++ head.dataRawExcluding(consumed) ++ newFiles, refs)
      next
    } catch {
      case e: SnapshotConflictException =>
        fs.delete(new org.apache.hadoop.fs.Path(manifestDir(r), statsName), false)
        // content-preserving rewrites (partitioned compaction) get the
        // RewriteFiles re-validation unconditionally; the CoW VERBS get
        // it iff they can prove the racer's new files are outside their
        // key/predicate scope — the output of a verb is not content-
        // preserving, so an UNPROVEN race keeps the strict abort+replan
        // contract (landing it blind would correspond to no serial
        // order the caller certified).
        val verbScope: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
          if (rewriteOf.isDefined) None
          else scopePred.flatMap(f => f())
            .map(org.apache.spark.sql.GraftColumnBridge.expression)
        if (rewriteOf.isDefined || verbScope.isDefined) {
          try return republishPinnedRewrite(spark, head, refs,
            rewriteOf.getOrElse(consumed), newFiles, newStats, schemaLine, meta,
            carriesLines = true, e, scopeDisjoint = verbScope)
          catch {
            case e2: SnapshotConflictException =>
              fs.delete(batch, true)
              throw e2
          }
        }
        fs.delete(batch, true)
        throw e
    }
  }

  /** TEST-ONLY fault point: a one-shot action run immediately before a
    * CoW publish claims its manifest for the given table ROOT — specs
    * and the deterministic driver race query inject a racing commit
    * here to exercise the conflict paths without timing luck. Keyed by
    * root (never fires on another table) and consumed on first use;
    * empty in production. */
  private[graft] val cowPublishFault =
    new java.util.concurrent.ConcurrentHashMap[String, Runnable]()

  /** COPY-ON-WRITE row-level UPDATE — `UPDATE t SET c = e, … WHERE
    * pred`, the third CoW verb beside [[mergeSnapshot]] and
    * [[deleteSnapshotWhere]], same planning discipline: stats envelopes
    * nominate candidate files ([[mayContain]]), one live-row
    * scan pins the files with ≥1 TRULY matching row, and ONLY those
    * rewrite — each of their rows lands either untouched (pred FALSE or
    * NULL) or with the assignments applied. Assignments evaluate
    * against the PRE-update row (standard SQL UPDATE: `SET a = b,
    * b = a` swaps) and cast back to the column's declared type, so the
    * table schema never drifts under repeated updates. Unknown SET
    * columns throw; a no-op update (no matching rows) publishes
    * nothing and returns the head unchanged. Time travel to the
    * pre-update version stays intact; a lost commit race aborts with
    * the batch deleted, the shared serializable contract. */
  def updateSnapshotWhere(spark: SparkSession, root: String,
      pred: Column, set: Seq[(String, Column)],
      meta: Seq[String] = Seq.empty): Long = {
    val head = headOf(spark, root)
    val refs = refsOf(head.fs, head.r)
    val matchedFiles = pinFilesWhere(spark, head, filesMayMatch(spark, head, refs, pred), pred)
    if (matchedFiles.isEmpty) return head.v
    val carried = head.files.filterNot(matchedFiles)
    val src = readLiveFiles(spark, head, matchedFiles.toSeq.sorted)
    val known = src.schema.fieldNames.toSet
    val unknown = set.map(_._1).filterNot(known)
    require(unknown.isEmpty,
      s"UPDATE SET on unknown column(s): ${unknown.mkString(", ")}")
    val setMap = set.toMap
    val hit = coalesce(pred, lit(false))
    // The hit mask is evaluated on the PRE-update row and carried as a
    // column: re-applying `pred` AFTER the assignments would miss every
    // row whose SET rewrote the predicate's own column (e.g. UPDATE
    // SET pr = 'X' WHERE pr = 'Y') and validate CHECKs against nothing.
    // The marker name is chosen OUTSIDE the table's own column space —
    // a table that happens to carry a `__hit` column must not have it
    // clobbered by the staging projection.
    val hitCol = Iterator.from(0).map(i => s"__hit$i").find(!known(_)).get
    val marked = src.withColumn(hitCol, hit)
      .select((src.schema.fields.toSeq.map { f =>
        setMap.get(f.name).fold(col(f.name)) { e =>
          when(col(hitCol), e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        }
      } :+ col(hitCol)): _*)
    validateChecks(spark, root, refs, Some(head), marked.where(col(hitCol)).drop(hitCol))
    val updated = marked.drop(hitCol)
    commitCow(spark, head, refs, carried, updated, meta,
      scopePred = Some(() => Some(pred)))
  }

  /** Atomic slice OVERWRITE — Delta's `replaceWhere`, the idempotent
    * backfill primitive ("recompute this day/partition and swap it
    * in"): in ONE commit, every row satisfying `pred` is deleted and
    * `rows` inserted — a reader sees either the old slice or the new,
    * never the deleted-but-not-yet-inserted state and never both.
    * `rows` must itself satisfy `pred` (enforced, as Delta does): an
    * out-of-slice row would silently survive the next backfill of its
    * own slice. Planning is the DELETE discipline — stats-nominated
    * candidates, live-row pinning, fully-matched files drop
    * with zero rewrite I/O, partially-matched files rewrite survivors,
    * and `rows` lands in the same single batch. A no-op (nothing
    * matched, `rows` empty) publishes nothing. */
  def overwriteSnapshotWhere(spark: SparkSession, root: String,
      pred: Column, rows: DataFrame, meta: Seq[String] = Seq.empty): Long = {
    require(rows.where(!coalesce(pred, lit(false))).isEmpty,
      "replaceWhere: every incoming row must satisfy the overwrite predicate")
    val head = headOf(spark, root)
    val refs = refsOf(head.fs, head.r)
    validateChecks(spark, root, refs, Some(head), rows)
    val files = head.files
    val matchedFiles = pinFilesWhere(spark, head, filesMayMatch(spark, head, refs, pred), pred)
    if (matchedFiles.isEmpty && rows.isEmpty) return head.v
    val carried = files.filterNot(matchedFiles)
    val tableCols = head.schema.map(_.fieldNames.toSeq)
      .getOrElse(spark.read.parquet(files.head).columns.toSeq)
    val survivors =
      if (matchedFiles.isEmpty) rows.select(tableCols.map(col): _*).where(lit(false))
      else readLiveFiles(spark, head, matchedFiles.toSeq.sorted)
        .where(!coalesce(pred, lit(false)))
    val newData = survivors.select(tableCols.map(col): _*)
      .unionByName(rows.select(tableCols.map(col): _*))
    commitCow(spark, head, refs, carried, newData, meta,
      scopePred = Some(() => Some(pred)))
  }

  /** The commit point: an ATOMIC CREATE-EXCLUSIVE claim of the FINAL
    * manifest path, content written after the claim, `#eof` terminator
    * last. Protocol history, because each step was a real lost-batch
    * bug: (1) write-tmp + exists() + rename() was only atomic on HDFS —
    * POSIX rename(2) silently overwrites an existing destination, so
    * two same-version racers could both pass the exists() check;
    * (2) `fs.create(fin, overwrite = false)` looked like one FS op but
    * on Hadoop's local `RawLocalFileSystem`/`ChecksumFileSystem` it is
    * implemented as exists() FOLLOWED BY open — a TOCTOU window a
    * 4-appender race spec actually hit (two writers both "published"
    * v3, one batch silently truncated away). The claim must come from
    * the platform's genuinely atomic exclusive-create: for `file://`
    * that is `O_EXCL` via `java.nio.file.Files.createFile` (one
    * open(2) with O_CREAT|O_EXCL — the kernel serializes racers); for
    * HDFS `fs.create(fin, false)` IS atomic (the namenode serializes
    * the create under its namespace lock), so the Hadoop call stands.
    * Object stores without conditional-put would need a commit service
    * (Delta's LogStore abstraction) — out of scope, documented here.
    * The residual cost on every path is a torn-write window if the
    * writer dies after claiming but mid-content-write, which the
    * `#eof` terminator turns into a DETECTED failure (strict readers
    * refuse the version; [[vacuumSnapshots]] reaps it) instead of a
    * silently short file list. */
  private def publishManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long, files: Seq[String],
      refs: Refs): Unit = {
    val md = manifestDir(root)
    fs.mkdirs(md)
    val fin = new org.apache.hadoop.fs.Path(md, s"v$v.manifest")
    if (!claimExclusive(fs, fin,
        ((segmentLines(fs, root, files, refs) :+ "#eof").mkString("\n") + "\n")
          .getBytes("UTF-8")))
      throw new SnapshotConflictException(
        s"snapshot commit conflict: version $v already published under $root")
    // The publisher knows its manifest is sealed, and one without a
    // `#txmarker:` line is visible for good: record the listing's
    // verdict, so the next verb's resolve reads the new head once.
    if (!files.exists(_.startsWith("#txmarker:")))
      scala.util.Try(fs.getFileStatus(fin).getModificationTime).foreach(mt =>
        txVisibilityCache.put(s"$md#v$v@$mt", java.lang.Boolean.TRUE))
  }

  /** Publish-time segmentation (see the segment notes above
    * [[manifestInlineMax]]): seal every contiguous run of inline data
    * lines longer than `manifestInlineMax` into an immutable side
    * segment, splicing an `#include:` pointer in place — line ORDER is
    * preserved exactly, so resolution reproduces the caller's list
    * byte-for-byte. When the carried include chain exceeds
    * `manifestMaxIncludes`, the whole data section is resolved once
    * and resealed as a single segment (amortized O(1) per file). */
  private def segmentLines(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, lines0: Seq[String],
      refs: Refs): Seq[String] = {
    val (inlineMax, includesMax, _) = refs.manifestConf
    val lines =
      if (lines0.count(_.startsWith("#include:")) <= includesMax) lines0
      else resolveIncludes(fs, root, lines0, strict = true)
    if (!lines.exists(_.startsWith("#include:")) &&
        lines.count(!_.startsWith("#")) <= inlineMax) return lines
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = scala.collection.mutable.ArrayBuffer.empty[String]
    def seal(): Unit = {
      if (run.length > inlineMax) {
        val name = s"seg-${writerToken()}-${run.length}.segment"
        val p = new org.apache.hadoop.fs.Path(manifestDir(root), name)
        val outStream = fs.create(p, false)
        try outStream.write(
          ((run :+ "#eof").mkString("\n") + "\n").getBytes("UTF-8"))
        finally outStream.close()
        out += s"#include:$name"
      } else out ++= run
      run.clear()
    }
    lines.foreach { l =>
      if (l.startsWith("#")) { seal(); out += l } else run += l
    }
    seal()
    out.toSeq
  }

  /** Claim `fin` with a genuinely ATOMIC exclusive create and write
    * `bytes` into the claimed file; returns false if someone else holds
    * the path (the caller's conflict). Used by every claim in the
    * format — manifests, config files ([[claimRef]]), tx markers and a
    * clone's inherited configs — so one primitive carries the whole
    * protocol's atomicity. */
  private def claimExclusive(fs: org.apache.hadoop.fs.FileSystem,
      fin: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean = {
    val qualified = fs.makeQualified(fin)
    if (qualified.toUri.getScheme == "file") {
      val p = java.nio.file.Paths.get(qualified.toUri.getPath)
      // the claim: one open(2) with O_CREAT|O_EXCL — atomic on every
      // POSIX filesystem, unlike Hadoop's local exists()-then-open
      try java.nio.file.Files.createFile(p)
      catch { case _: java.nio.file.FileAlreadyExistsException => return false }
      // we own the (empty) claimed file; content lands after the claim.
      // ChecksumFileSystem reads files without a .crc sidecar
      // unverified, so Hadoop-API readers still open this file.
      java.nio.file.Files.write(p, bytes)
      true
    } else {
      val out =
        try fs.create(fin, false)
        catch {
          // HDFS throws FileAlreadyExistsException (namenode-atomic);
          // some connectors a plain IOException — treat any create
          // failure with the destination present as the conflict it is.
          case e: java.io.IOException
              if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
                 fs.exists(fin) =>
            return false
        }
      try out.write(bytes)
      finally out.close()
      true
    }
  }

  /** Inclusive-projection pruning: may `st`'s file contain a row
    * satisfying `pred`? The Iceberg evaluator idea over the manifest
    * stats: each comparison node maps to a min/max test (`a > v` →
    * `max(a) > v`, `a = v` → `min ≤ v ≤ max`), And/Or compose, and
    * ANYTHING unrecognized — casts, functions, column-to-column
    * comparisons — degrades to "keep the file". Typed comparison is
    * delegated to Catalyst itself: the stat string casts back through
    * TRY `Cast` to the literal's type and the comparison node
    * evaluates on two literals, so numeric/date/timestamp semantics
    * are Spark's own, never a hand-rolled ordering. A null stat value
    * with the column present means the file's column is entirely NULL
    * — comparisons prune it, IS NULL keeps it. */
  /** Spark 4 Columns convert to UnresolvedFunction nodes ('and, '>=,
    * 'in, …) that only the ANALYZER rewrites into catalyst operators;
    * the pruning evaluators run pre-analysis, so normalize the
    * comparison vocabulary itself. Unknown functions stay as-is and
    * fall to the conservative keep. */
  private def norm(e: org.apache.spark.sql.catalyst.expressions.Expression):
      org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val as = f.arguments.map(norm)
        (f.nameParts.last.toLowerCase(java.util.Locale.ROOT), as) match {
          case ("and", Seq(l, rr)) => And(l, rr)
          case ("or", Seq(l, rr)) => Or(l, rr)
          case (">", Seq(l, rr)) => GreaterThan(l, rr)
          case (">=", Seq(l, rr)) => GreaterThanOrEqual(l, rr)
          case ("<", Seq(l, rr)) => LessThan(l, rr)
          case ("<=", Seq(l, rr)) => LessThanOrEqual(l, rr)
          case ("=" | "==", Seq(l, rr)) => EqualTo(l, rr)
          case ("<=>", Seq(l, rr)) => EqualNullSafe(l, rr)
          case ("in", l +: rest) => In(l, rest)
          case ("isnull", Seq(c)) => IsNull(c)
          case ("isnotnull", Seq(c)) => IsNotNull(c)
          case _ => f
        }
      case other => other.mapChildren(norm)
    }
  }

  private[graft] def mayContain(fstat: FileStat,
      pred: org.apache.spark.sql.catalyst.expressions.Expression, tz: String): Boolean = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    val byName = fstat.cols.map(c => c.col -> c).toMap
    object A {
      def unapply(e: Expression): Option[String] = e match {
        case a: UnresolvedAttribute => Some(a.name)
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
    }
    def statLit(s: String, dt: DataType): Expression =
      Cast(Literal(UTF8String.fromString(s), StringType), dt, Option(tz), EvalMode.TRY)
    def evalB(e: Expression): Option[Boolean] =
      Option(e.eval(InternalRow.empty)).map(_ == true)
    // Bloom probe for point lookups: two positions split out of one
    // xxhash64 of the literal CAST TO THE COLUMN'S DECLARED TYPE (the
    // file side hashed column-typed values — an Int literal against a
    // Long column must hash as Long or a true member would be pruned);
    // either bit clear ⇒ the value is provably absent. Anything
    // unparseable/un-castable keeps the file.
    def bloomHas(c: ColStat, l: Literal): Boolean = c.bloom match {
      case None => true
      case Some(enc) =>
        try {
          val Array(ms, data) = enc.split(":", 2)
          val m = ms.toInt
          val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(c.typ)
          Option(Cast(l, dt, Option(tz), EvalMode.TRY).eval(InternalRow.empty)) match {
            case None => true
            case Some(v) =>
              val h = new XxHash64(Seq(Literal.create(v, dt)))
                .eval(InternalRow.empty).asInstanceOf[Long]
              val bits = java.util.BitSet.valueOf(
                java.util.Base64.getDecoder.decode(data))
              bits.get((((h % m) + m) % m).toInt) &&
                bits.get(((h >>> 32) % m).toInt)
          }
        } catch { case scala.util.control.NonFatal(_) => true }
    }
    def rangeHas(n: String, l: Literal): Boolean = byName.get(n) match {
      case None => true
      case Some(c) =>
        if (l.value == null) true
        else if (c.mn == null || c.mx == null) false // all-NULL file: a = v unsatisfiable
        else evalB(LessThanOrEqual(statLit(c.mn, l.dataType), l)).getOrElse(true) &&
          evalB(GreaterThanOrEqual(statLit(c.mx, l.dataType), l)).getOrElse(true) &&
          bloomHas(c, l)
    }
    def cmp(n: String, l: Literal, useMax: Boolean, strict: Boolean): Boolean =
      byName.get(n) match {
        case None => true
        case Some(c) =>
          if (l.value == null) true
          else {
            val s = if (useMax) c.mx else c.mn
            if (s == null) false // all-NULL file: no ordered value exists
            else {
              val node = (useMax, strict) match {
                case (true, true)   => GreaterThan(statLit(s, l.dataType), l)
                case (true, false)  => GreaterThanOrEqual(statLit(s, l.dataType), l)
                case (false, true)  => LessThan(statLit(s, l.dataType), l)
                case (false, false) => LessThanOrEqual(statLit(s, l.dataType), l)
              }
              evalB(node).getOrElse(true)
            }
          }
      }
    def keep(e: Expression): Boolean = e match {
      case And(l, r) => keep(l) && keep(r)
      case Or(l, r) => keep(l) || keep(r)
      case Literal(false, BooleanType) => false
      case EqualTo(A(n), l: Literal) => rangeHas(n, l)
      case EqualTo(l: Literal, A(n)) => rangeHas(n, l)
      case EqualNullSafe(A(n), l: Literal) if l.value != null => rangeHas(n, l)
      case EqualNullSafe(l: Literal, A(n)) if l.value != null => rangeHas(n, l)
      case GreaterThan(A(n), l: Literal) => cmp(n, l, useMax = true, strict = true)
      case LessThan(l: Literal, A(n)) => cmp(n, l, useMax = true, strict = true)
      case GreaterThanOrEqual(A(n), l: Literal) => cmp(n, l, useMax = true, strict = false)
      case LessThanOrEqual(l: Literal, A(n)) => cmp(n, l, useMax = true, strict = false)
      case LessThan(A(n), l: Literal) => cmp(n, l, useMax = false, strict = true)
      case GreaterThan(l: Literal, A(n)) => cmp(n, l, useMax = false, strict = true)
      case LessThanOrEqual(A(n), l: Literal) => cmp(n, l, useMax = false, strict = false)
      case GreaterThanOrEqual(l: Literal, A(n)) => cmp(n, l, useMax = false, strict = false)
      case In(A(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => rangeHas(n, v.asInstanceOf[Literal]))
      case IsNull(A(n)) => byName.get(n).forall(_.nc > 0)
      case IsNotNull(A(n)) => byName.get(n).forall(c => c.nc < fstat.rows)
      case _ => true
    }
    keep(norm(pred))
  }

  /** The file-skipping rule, written once for every reader and verb:
    * may file `f` hold a row satisfying `e`? It may not only when its
    * stats envelope ([[mayContain]]) or its hidden-partition tuple
    * ([[tupleMayMatch]]) proves so; a file with neither is kept.
    * `stats` must name columns as the expressions do (logical names
    * for user predicates — [[statsLogical]]); `cs` types the bucket
    * source columns. */
  private def filePruner(spark: SparkSession, refs: Refs,
      stats: Map[String, FileStat],
      cs: Option[org.apache.spark.sql.types.StructType])
      : (String, org.apache.spark.sql.catalyst.expressions.Expression) => Boolean = {
    val specs = refs.specs
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    (f, e) => stats.get(f).forall(mayContain(_, e, tz)) &&
      tupleMayMatch(specs, cs, f, e, tz)
  }

  /** The PLAN step every predicate reader and verb shares: the files of
    * `m` [[filePruner]] keeps for `pred`, given their raw (physical-name)
    * stats and the committed schema. */
  private def filesMayMatch(spark: SparkSession, m: Manifest, refs: Refs,
      pred: Column): Seq[String] = {
    val mayMatch = filePruner(spark, refs, statsLogical(m.stats, m.schema), m.schema)
    val e = org.apache.spark.sql.GraftColumnBridge.expression(pred)
    m.files.filter(mayMatch(_, e))
  }

  /** The file list a read of `version` under `predicate` will scan,
    * plus the manifest's total file count — the data-skipping planner,
    * exposed for observability (and the spec's files-opened proof).
    * Files without stats are always kept. */
  def snapshotScanFiles(spark: SparkSession, root: String,
      version: Option[Long] = None, predicate: Option[Column] = None): (Seq[String], Int) = {
    val m = manifestOf(spark, root, version)
    (predicate.fold(m.files)(filesMayMatch(spark, m, refsOf(m.fs, m.r), _)), m.files.size)
  }

  /** Read a snapshot — the latest version, or an explicit one (time
    * travel). The returned plan scans exactly the manifest's file
    * list; files added by later versions are invisible, files dropped
    * by later versions still resolve. `mergeSchema = true` unions the
    * per-file schemas (an appended batch may carry NEW columns — feed
    * generations evolve; older files read NULL for them) at the cost
    * of a footer read per file — the same trade the mergeSchema
    * source surface documents, opt-in for the same reason.
    *
    * `predicate` is a row filter that ALSO data-skips at planning:
    * the manifest's per-file stats prune the file list before any
    * parquet footer is opened ([[snapshotScanFiles]]), then the same
    * predicate applies row-level as a normal pushed filter. Semantics
    * are identical to `.where(predicate)` on the unpruned read; at
    * 100 TB the difference is a metadata operation versus a listing
    * storm over thousands of files per version. */
  def readSnapshot(spark: SparkSession, root: String,
      version: Option[Long] = None, mergeSchema: Boolean = false,
      predicate: Option[Column] = None): DataFrame = {
    val (fs, r) = fsOf(spark, root)
    val vs = versionsAt(fs, r)
    require(vs.nonEmpty, s"snapshot of $root is empty")
    readVersion(spark, root, manifestAt(fs, r, version.getOrElse(vs.last)),
      mergeSchema, predicate)
  }

  /** [[readSnapshot]] of a [[Manifest]] already in hand. */
  private def readVersion(spark: SparkSession, root: String, pm: Manifest,
      mergeSchema: Boolean = false, predicate: Option[Column] = None): DataFrame = {
    require(pm.files.nonEmpty, s"snapshot of $root is empty")
    val kept = predicate.fold(pm.files)(filesMayMatch(spark, pm, refsOf(pm.fs, pm.r), _))
    // All files pruned: scan one manifest file so the schema survives;
    // the row filter below still yields the (correct) empty result.
    val files = if (kept.nonEmpty) kept else pm.files.take(1)
    // Non-merge reads use the manifest's COMMITTED schema when recorded:
    // on a schema-evolved table this surfaces every committed column
    // (older files read NULL for columns they predate) regardless of
    // which file the manifest lists first, with zero footer reconnaisance.
    // mergeSchema=true keeps the footer-union read (ground truth when a
    // file was written wider than its commit declared).
    val df =
      if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(files: _*)
      else scanPhysical(spark, files, pm.schema)
    // the user predicate (logical names) applies above the delete chain
    val live = liveRows(spark, pm.r, df, files, pm.dvNames, pm.eqDels, pm.schema)
    predicate.fold(live)(live.where)
  }

  /** Read a snapshot as a CATALYST-INTEGRATED relation: unlike
    * [[readSnapshot]]'s explicit `predicate` parameter, the returned
    * DataFrame's custom [[org.apache.spark.sql.GraftSnapshotFileIndex]]
    * receives the query's OWN resolved data filters at planning time
    * and prunes the manifest's file list against the per-file stats —
    * so ANY `.where`, join filter, or pushed subquery filter
    * data-skips automatically, with no predicate plumbing, and the
    * surviving files still get normal parquet row-group pushdown. At
    * 100 TB this is the difference between "remembering to pass the
    * predicate twice" and the Iceberg behavior users expect from a
    * table format. Planning metadata only — pruning happens on the
    * driver before any footer I/O. */
  def readSnapshotAuto(spark: SparkSession, root: String,
      version: Option[Long] = None, mergeSchema: Boolean = false): DataFrame = {
    // ONE manifest read serves the file list, committed schema, DV
    // names and stats pointer (object-store GET discipline).
    val pm = manifestOf(spark, root, version)
    val (fs, r) = (pm.fs, pm.r)
    val files = pm.files
    val stats = pm.stats
    // Planning metadata comes from the manifest's own sidecar: file
    // length + mtime were recorded at commit, so building the scan's
    // FileStatus list issues ZERO per-file status RPCs — the listing
    // storm a 10^5-file version would otherwise pay on an object store.
    // Pre-len sidecars fall back to the filesystem per missing entry.
    val statuses = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      stats.get(f).flatMap(st => st.len.map(l =>
        new org.apache.hadoop.fs.FileStatus(l, false, 1, 128L * 1024 * 1024,
          st.mtime.getOrElse(0L), p)))
        .getOrElse(fs.getFileStatus(p))
    }
    // mergeSchema unions the per-file schemas (evolved tables — a
    // footer read per file, the same opt-in trade as readSnapshot);
    // the default is the manifest's COMMITTED schema (evolved columns
    // included, older files read NULL), falling back to head-file
    // sniffing only on pre-schema-line tables.
    // the RELATION carries the files' physical names (pushed filters
    // and the stats consults below stay name-consistent); the logical
    // projection goes on top at the end
    val schema =
      if (mergeSchema)
        spark.read.option("mergeSchema", "true").parquet(files: _*).schema
      else pm.schema.map(physicalSchema)
        .getOrElse(spark.read.parquet(files.head).schema)
    // the pushed filters name the relation's physical columns, as the
    // raw stats do
    val mayMatch = filePruner(spark, refsOf(fs, r), stats, pm.schema)
    val keep: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        Seq[org.apache.hadoop.fs.FileStatus] = filters =>
      if (filters.isEmpty) statuses
      else statuses.filter { st =>
        val p = org.apache.hadoop.fs.Path
          .getPathWithoutSchemeAndAuthority(st.getPath).toString
        filters.forall(mayMatch(p, _))
      }
    liveRows(spark, r,
      org.apache.spark.sql.GraftSnapshotRelation.dataFrame(spark, r, statuses, schema, keep),
      files, pm.dvNames, pm.eqDels, pm.schema)
  }

  /** STORAGE-PARTITIONED read: expose the table's hidden `bucket(n,
    * col)` layout to Catalyst as a DSv2 KeyGroupedPartitioning scan,
    * so two snapshot tables bucketed by the SAME spec join on the
    * bucket column with ZERO shuffle exchanges (set
    * `spark.sql.sources.v2.bucketing.enabled=true`; Iceberg's
    * storage-partitioned join, reproduced on this format). Each
    * populated bucket becomes one input partition keyed by its
    * ordinal — Spark's join planning aligns equal keys across the two
    * sides instead of hashing either. Requirements, checked loudly:
    * the ACTIVE spec must be exactly one `bucket` field, every file
    * must carry that spec's tuple (run [[compactSnapshotPartitioned]]
    * after a spec change or on a pre-spec table), and the version must
    * hold no deletion vectors (compaction folds them). Use
    * [[readSnapshotAuto]] for general reads — this path trades the
    * stats-skipping FileIndex for the co-located-join layout. */
  def readSnapshotSpj(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifestOf(spark, root, version)
    val (fs, r, v) = (m.fs, m.r, m.v)
    // Equality deletes apply PER ROW inside the covered files' readers
    // (r14 — the same per-partition application shape as DV slices):
    // each sidecar's key tuples load once on the driver (bounded by
    // the same planning knob as DV positions) and ship with the reader
    // factory; coverage resolves per FILE at planning time, so a later
    // append re-inserting a purged key still survives. The
    // shuffle-free join stays intact — a bucketed MoR table keeps its
    // SPJ through a GDPR purge, no compaction required.
    val eqParsed = m.eqDels.map(parseEqDel)
    // Deletion vectors apply PER FILE inside each bucket's own reader
    // (each InputPartition ships only its files' position slices), so
    // a merge-on-read table keeps its shuffle-free join between
    // compactions. The positions load once on the driver to slice,
    // keyed by the manifest paths the groups use; a pathological DV
    // beyond the planning bound still demands a compaction first (the
    // same loud contract the pre-DV SPJ had).
    def overBound(what: String): Nothing = throw new IllegalArgumentException(
      s"SPJ read of $root v$v: more than ${dvBroadcastMaxPositions(spark)} " +
        s"$what exceed the planning bound - compact first " +
        "(spark.graft.dv.broadcastMaxPositions)")
    val files = m.files
    val dvByFile: Map[String, Array[Long]] =
      dvPositions(spark, r, m.dvNames).map(byManifestPath(spark, files, _))
        .getOrElse(overBound("DV positions"))
    val refs = refsOf(fs, r)
    require(refs.specs.nonEmpty, s"SPJ read of $root: no partition spec")
    val (activeId, spec) = (refs.activeSpecId, refs.spec)
    // MULTI-FIELD specs report the whole transform tuple (r12): any mix
    // of `bucket` and `identity` fields becomes a composite
    // KeyGroupedPartitioning, so `PARTITIONED BY (bucket(8, k),
    // identity(region))` joins shuffle-free on (k, region). Range-ish
    // transforms (truncate/year/…) stay rejected — Catalyst has no
    // co-partitioning semantics for them.
    require(spec.nonEmpty && spec.forall(f =>
        f.transform == "bucket" || f.transform == "identity"),
      s"SPJ read of $root: active spec must be bucket/identity fields, got $spec")
    val schema = m.schema.getOrElse(spark.read.parquet(files.head).schema)
    // an identity field's tuple renders as a string in the path — map
    // it back to the Catalyst-internal value of its COLUMN type for
    // the partition key rows
    def identityValue(c: String, raw: String): Any = {
      import org.apache.spark.sql.types._
      schema(c).dataType match {
        case LongType => java.lang.Long.valueOf(raw)
        case IntegerType => java.lang.Integer.valueOf(raw)
        case ShortType => java.lang.Short.valueOf(raw)
        case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
        case BooleanType => java.lang.Boolean.valueOf(raw)
        case other => throw new IllegalArgumentException(
          s"SPJ identity field $c: unsupported key type ${other.simpleString}")
      }
    }
    val stats = m.stats
    val groups: Map[Seq[Any], Seq[(String, Long)]] = files.map { f =>
      val tuple = filePartitionTuple(f)
      require(specIdOfPath(f) == activeId && tuple.nonEmpty,
        s"SPJ read of $root: $f lacks the active spec's tuple — " +
          "compactSnapshotPartitioned migrates it")
      val key: Seq[Any] = spec.zipWithIndex.map { case (pf, i) =>
        val raw = tuple(i).getOrElse(throw new IllegalArgumentException(
          s"SPJ read of $root: null ${pf.transform}(${pf.col}) tuple on " +
            s"$f — null partition keys have no co-partitioning contract"))
        if (pf.transform == "bucket") Integer.valueOf(raw.toInt)
        else identityValue(pf.col, raw)
      }
      val len = stats.get(f).flatMap(_.len).getOrElse(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)
      (key, (f, len))
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    // Equality-delete sidecars: key tuples collect once through the
    // shared loader (read as the CURRENT declared types, so a
    // post-delete widening still compares like-for-like against the
    // widened read schema), coverage resolves per file against the
    // manifest paths both sides share verbatim.
    val physSchema = physicalSchema(schema)
    val eqSidecars: Seq[org.apache.spark.sql.GraftSpjBridge.SpjEqDelete] =
      eqParsed.map { case (name, physPks) =>
        // coverage resolves per file below, in the readers
        val keys = eqKeyIndex(spark, r, name,
          org.apache.spark.sql.types.StructType(physPks.map(physSchema(_))), Nil)
          .getOrElse(overBound("equality-delete keys"))
        org.apache.spark.sql.GraftSpjBridge.SpjEqDelete(physPks, keys)
      }
    val eqByFile: Map[String, Seq[Int]] =
      if (eqParsed.isEmpty) Map.empty
      else {
        val covers = eqParsed.map { case (name, _) =>
          eqCoverPaths(spark, r, name).toSet
        }
        files.flatMap { f =>
          val idxs = covers.zipWithIndex.collect {
            case (c, i) if c(f) => i
          }
          if (idxs.isEmpty) None else Some(f -> idxs)
        }.toMap
      }
    // the SPJ scan reads files directly → PHYSICAL names; the logical
    // projection on top preserves KeyGroupedPartitioning (key columns
    // are layout fields, which renames reject, so they pass unaliased)
    val raw = org.apache.spark.sql.GraftSpjBridge.dataFrame(spark, root,
      physSchema,
      spec.map(pf => (pf.col, pf.transform, pf.n)), groups, dvByFile,
      eqSidecars, eqByFile)
    toLogicalDf(raw, schema)
  }

  /** DESCRIBE FILES — the physical layout of a version as a DataFrame,
    * from PURE metadata (manifest + stats sidecar, zero parquet opens):
    * per data file its row/byte counts, commit mtime, the partition
    * spec id that wrote it and its rendered tuple, and how many rows a
    * deletion vector has removed from it — the table-maintenance
    * dashboard ("which files are small", "where are the DVs piling up
    * before I compact") as one metadata query. The only non-metadata
    * touch is the DV sidecar itself (deleted-rows-sized) when one
    * exists. */
  def describeSnapshotFiles(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifestOf(spark, root, version)
    val (files, stats) = (m.files, m.stats)
    val dvCounts = new DvSet(spark, m.r, m.dvNames).deletedRows(files)
    val rows = files.map { f =>
      val st = stats.get(f)
      val tuple = filePartitionTuple(f)
      org.apache.spark.sql.Row(
        f,
        st.map(s2 => java.lang.Long.valueOf(s2.rows)).orNull,
        st.flatMap(_.len).map(java.lang.Long.valueOf).orNull,
        st.flatMap(_.mtime).map(m => new java.sql.Timestamp(m)).orNull,
        specIdOfPath(f),
        if (tuple.isEmpty) null
        else tuple.toSeq.sortBy(_._1)
          .map { case (i, ov) => s"__pt_$i=${ov.getOrElse("null")}" }
          .mkString("/"),
        java.lang.Long.valueOf(dvCounts.getOrElse(f, 0L)))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("n_rows", LongType),
      StructField("bytes", LongType),
      StructField("committed_at", TimestampType),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("partition", StringType),
      StructField("dv_deleted_rows", LongType, nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** DESCRIBE HISTORY — the table's commit log as a DataFrame (the
    * Delta surface every operator dashboard reads): one row per
    * version with commit time (manifest mtime), file/row/byte counts
    * (rows from the manifest's OWN stats sidecar — no data I/O), the
    * net file delta vs the previous version (how much the commit
    * rewrote vs carried — a CoW merge shows few added/removed, an
    * overwrite shows everything), and the commit's meta tags (`#batch:`
    * ids etc.). Pure driver-side metadata: cost ∝ versions × files
    * LISTED, zero parquet opens. */
  def describeSnapshotHistory(spark: SparkSession, root: String): DataFrame = {
    val (fs, r) = fsOf(spark, root)
    var prev = Set.empty[String]
    val rows = versionsAt(fs, r).map { v =>
      val m = manifestAt(fs, r, v)
      val (files, stats) = (m.files, m.stats)
      val tags = m.tags
      val nRows: Option[Long] =
        if (files.nonEmpty && files.forall(stats.contains))
          Some(files.map(f => stats(f).rows).sum)
        else None
      val bytes = files.map(f => stats.get(f).flatMap(_.len).getOrElse(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)).sum
      val mtime = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(manifestDir(r), s"v$v.manifest"))
        .getModificationTime
      val cur = files.toSet
      val row = (v, new java.sql.Timestamp(mtime), files.size,
        nRows, bytes, (cur -- prev).size, (prev -- cur).size, tags.mkString(","))
      prev = cur
      row
    }
    val sp = spark
    import sp.implicits._
    rows.toDF("version", "committed_at", "n_files", "n_rows", "bytes",
      "files_added", "files_removed", "meta")
  }

  /** Roll the table back to `to`'s contents by publishing its file
    * list as a NEW version — history is never rewritten, so the bad
    * versions stay inspectable and a concurrent reader of any version
    * is unaffected. The target's `#stats:` reference is carried, so
    * data skipping survives the rollback. */
  /** Coalesce the head's commit METADATA — Iceberg's
    * `rewrite_manifests`, manifest-side: resolve every `#include:`
    * segment pointer and flatten the stats delta chain, publishing the
    * SAME file list (bit-identical content, zero data I/O, zero CDC
    * rows — the file diff is empty by construction) as the next
    * version. Routine commits already amortize both structures
    * (publish-time run sealing, chain-depth caps); this is the manual
    * maintenance lever after a heavy churn phase: one metadata commit
    * returns reads to a one-segment resolve and a depth-0 stats parse,
    * and the next vacuum reaps the retired chain links. A lost publish
    * race deletes the flat sidecar and aborts — pure metadata, the
    * caller just reruns. SQL: `CALL graft.system.rewrite_manifests`. */
  def rewriteManifests(spark: SparkSession, root: String): Long = {
    val head = headOf(spark, root)
    val (fs, r) = (head.fs, head.r)
    val flatStats = writeStatsFile(spark, fs, r, head.stats.values.toSeq.sortBy(_.path))
    val next = head.v + 1
    try publishManifest(fs, r, next, Seq(s"#stats:$flatStats", "#rewrite:manifests") ++
      head.carriedMeta(stats = false) ++ head.files, refsOf(fs, r))
    catch {
      case e: SnapshotConflictException =>
        fs.delete(new org.apache.hadoop.fs.Path(manifestDir(r), flatStats), false)
        throw e
    }
    next
  }

  /** ANALYZE as a METADATA-plus-batch-scan commit: re-run the full
    * scanning stats agg over exactly the head files whose sidecar
    * entries lack an NDV sketch (footer-path CoW batches, pre-sketch
    * history), republishing the SAME file list with the enriched
    * sidecar. Restores sketch-tier table NDV — the number broadcast
    * decisions hinge on — without paying a compaction's full data
    * rewrite: cost ∝ the sketchless files only; a table whose files
    * all carry sketches is a zero-read no-op returning the current
    * head. A lost publish race deletes the fresh sidecar and aborts —
    * pure metadata, the caller just reruns. SQL:
    * `CALL graft.system.analyze(table)`. */
  def analyzeSnapshot(spark: SparkSession, root: String): Long = {
    val head = headOf(spark, root)
    val (fs, r, files, existing) = (head.fs, head.r, head.files, head.stats)
    val need = files.filter(f => existing.get(f) match {
      case None => true
      case Some(st) => st.cols.exists(_.hll.isEmpty)
    })
    if (need.isEmpty) return head.v
    val fsMeta = existing.collect {
      case (p, st) if st.len.isDefined && st.mtime.isDefined =>
        p -> (st.len.get, st.mtime.get)
    }
    val refs = refsOf(fs, r)
    val fresh = computeFileStats(spark, need, fsMeta, refs.bloom)
      .map(f => f.path -> f).toMap
    val merged = files.map(f => fresh.getOrElse(f,
      existing.getOrElse(f, FileStat(f, 0L, Seq.empty))))
    val statsName = writeStatsFile(spark, fs, r, merged.sortBy(_.path))
    val next = head.v + 1
    try publishManifest(fs, r, next, Seq(s"#stats:$statsName", "#analyze:stats") ++
      head.carriedMeta(stats = false) ++ files, refs)
    catch {
      case e: SnapshotConflictException =>
        fs.delete(new org.apache.hadoop.fs.Path(manifestDir(r), statsName), false)
        throw e
    }
    next
  }

  def rollbackSnapshot(spark: SparkSession, root: String, to: Long): Long = {
    val (fs, r) = fsOf(spark, root)
    val next = versionsAt(fs, r).last + 1
    // The target's #stats/#schema/#dv/#eqdel meta carry with its file
    // list, so data skipping, the committed schema, the deletion
    // vectors, AND the equality-delete sidecars survive the rollback —
    // a rollback must not resurrect keys the target version had purged.
    val target = manifestAt(fs, r, to)
    publishManifest(fs, r, next, target.carriedMeta() ++ target.dataRaw, refsOf(fs, r))
    next
  }

  /** ADD/DROP-COLUMN schema evolution as a PURE-METADATA commit
    * (Iceberg's ALTER semantics): republish the head's file list with
    * a new committed `#schema:` line — zero data I/O, no file is
    * touched. Added columns are nullable by construction (files
    * written before they existed serve NULLs — the same contract
    * MERGE-driven evolution already relies on); dropped columns
    * simply leave the read schema while their bytes stay in place for
    * TIME TRAVEL, which still serves every older version under the
    * schema THAT version committed. Drops of columns the table's
    * layout depends on (active partition spec source, declared sort,
    * bloom sidecar column) reject loudly — they would orphan the
    * pruning metadata behind the readers' backs. */
  def evolveSnapshotSchema(spark: SparkSession, root: String,
      add: org.apache.spark.sql.types.StructType = new org.apache.spark.sql.types.StructType(),
      drop: Seq[String] = Seq.empty): Long = {
    import java.util.Locale.ROOT
    require(add.nonEmpty || drop.nonEmpty, "nothing to evolve")
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      readVersion(spark, root, head).schema)
    val lower = prior.fieldNames.map(_.toLowerCase(ROOT)).toSet
    add.fields.foreach(f => require(!lower(f.name.toLowerCase(ROOT)),
      s"column ${f.name} already exists on $root"))
    val dropSet = drop.map(_.toLowerCase(ROOT)).toSet
    dropSet.foreach(d => require(lower(d), s"no column $d on $root"))
    val refs = refsOf(head.fs, head.r)
    val clash = dropSet.intersect(refs.layoutCols)
    require(clash.isEmpty,
      s"cannot drop layout column(s) ${clash.mkString(", ")} — they drive " +
        "the partition spec / sort order / bloom sidecars")
    // active equality deletes key on columns by PHYSICAL name — a drop
    // would leave the sidecar unevaluable and silently resurrect rows
    val eqKeyCols = head.eqDels.flatMap(l => parseEqDel(l)._2)
      .map(_.toLowerCase(ROOT)).toSet
    val eqClash = prior.fields
      .filter(f => dropSet(f.name.toLowerCase(ROOT)))
      .map(f => physicalNameOf(f).toLowerCase(ROOT)).filter(eqKeyCols)
    require(eqClash.isEmpty,
      s"cannot drop ${eqClash.mkString(", ")}: active equality delete(s) " +
        "key on it — compact to fold them first")
    val evolved = org.apache.spark.sql.types.StructType(
      prior.fields.filterNot(f => dropSet(f.name.toLowerCase(ROOT))) ++
        add.fields.map(_.copy(nullable = true)))
    require(evolved.nonEmpty, s"cannot drop every column of $root")
    publishEvolvedSchema(head, refs, evolved)
  }

  /** The SAFE type widenings (Iceberg's ALTER COLUMN TYPE set, which
    * Spark 4's parquet readers — vectorized included — serve directly:
    * an INT32 page materializes into a bigint vector with no rewrite):
    * byte→short/int/long, short→int/long, int→long, float→double, and
    * decimal precision growth at the same scale. */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  /** ALTER COLUMN … TYPE (widen) as a PURE-METADATA commit: republish
    * the head's file list under a committed schema whose `column` is
    * the wider type — zero data I/O. Pre-widen files stay untouched
    * and read directly into the wider type (Spark's parquet readers
    * perform the promotion per page); new writes land the wide type;
    * time travel serves every older version under the schema IT
    * committed. LAYOUT columns reject loudly: a bucket tuple hashes
    * differently under int and bigint (xxhash64 is width-sensitive)
    * and a bloom sidecar's bytes were hashed under the old type — both
    * would silently mis-prune; migrate via compaction instead. Declared
    * SORT columns are fine (widening is order-preserving). */
  def widenSnapshotColumn(spark: SparkSession, root: String,
      column: String, to: org.apache.spark.sql.types.DataType): Long = {
    import java.util.Locale.ROOT
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      readVersion(spark, root, head).schema)
    val f = prior.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"no column $column on $root"))
    val refs = refsOf(head.fs, head.r)
    val hashed = (refs.spec.map(_.col) ++ refs.bloom.keys).map(_.toLowerCase(ROOT)).toSet
    require(!hashed(f.name.toLowerCase(ROOT)),
      s"cannot widen ${f.name}: it drives the partition spec or a bloom " +
        "sidecar, whose hashes are type-width-sensitive - rewrite via " +
        "compaction instead")
    require(widens(f.dataType, to),
      s"cannot widen ${f.name}: ${f.dataType.simpleString} -> " +
        s"${to.simpleString} is not a safe metadata widening")
    val evolved = org.apache.spark.sql.types.StructType(
      prior.fields.map(x => if (x.name.equalsIgnoreCase(column))
        x.copy(dataType = to) else x))
    publishEvolvedSchema(head, refs, evolved)
  }

  /** ALTER COLUMN … RENAME as a PURE-METADATA commit — Delta's
    * column-mapping 'name' mode / the name-keyed equivalent of
    * Iceberg's field-ID rename: the committed schema republishes under
    * the new LOGICAL name while the field's metadata records its
    * immutable PHYSICAL (storage) name, so every existing file serves
    * the renamed column with zero data I/O, new writes keep landing the
    * physical name ([[toPhysicalDf]] in the one write choke point), and
    * time travel serves each version under the names ITS schema
    * committed. Renaming BACK to the physical name drops the mapping —
    * `a→b→a` leaves a clean schema.
    *
    * Rejected loudly: LAYOUT columns (partition spec / declared sort /
    * bloom sidecars — their configs name columns and their hashes were
    * computed under the stored name; migrate via compaction), and
    * columns referenced by CHECK constraints (the stored predicate
    * string would silently stop binding — drop and re-add the check
    * under the new name first). */
  def renameSnapshotColumn(spark: SparkSession, root: String,
      from: String, to: String): Long = {
    import java.util.Locale.ROOT
    require(to.nonEmpty && !to.contains(".") && !to.contains("`"),
      s"bad column name: '$to'")
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      throw new IllegalArgumentException(
        s"cannot rename on $root: the table predates committed schemas — " +
          "republish it (any commit) to record one first"))
    val f = prior.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(s"no column $from on $root"))
    require(!prior.fields.exists(_.name.equalsIgnoreCase(to)),
      s"column $to already exists on $root")
    val refs = refsOf(head.fs, head.r)
    require(!refs.layoutCols(f.name.toLowerCase(ROOT)),
      s"cannot rename ${f.name}: it drives the partition spec / declared " +
        "sort / bloom sidecars — rewrite via compaction instead")
    val lowered = f.name.toLowerCase(ROOT)
    require(!checkColumnRefs(spark, refs).exists(ref =>
        ref == lowered || ref.startsWith(lowered + ".")),
      s"cannot rename ${f.name}: CHECK constraint(s) reference it — drop " +
        "and re-add the check under the new name")
    val physical = physicalNameOf(f)
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
    val newMeta =
      if (physical == to) mb.remove(PhysicalKey).build()
      else mb.putString(PhysicalKey, physical).build()
    val evolved = org.apache.spark.sql.types.StructType(prior.fields.map(x =>
      if (x.name.equalsIgnoreCase(from)) x.copy(name = to, metadata = newMeta)
      else x))
    publishEvolvedSchema(head, refs, evolved)
  }

  /** Rewrite the struct at `path` inside a committed schema (descends
    * plain struct nesting only — fields inside arrays/maps have no
    * per-row identity to evolve and reject loudly). */
  private def transformNestedStruct(s: org.apache.spark.sql.types.StructType,
      path: Seq[String])(
      f: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    if (path.isEmpty) f(s)
    else {
      val fld = s.fields.find(_.name.equalsIgnoreCase(path.head)).getOrElse(
        throw new IllegalArgumentException(s"no column ${path.head}"))
      val inner = fld.dataType match {
        case st: org.apache.spark.sql.types.StructType => st
        case other => throw new IllegalArgumentException(
          s"${fld.name} is ${other.simpleString}, not a struct — nested " +
            "DDL descends plain struct nesting only")
      }
      org.apache.spark.sql.types.StructType(s.fields.map(x =>
        if (x.name.equalsIgnoreCase(path.head))
          x.copy(dataType = transformNestedStruct(inner, path.tail)(f))
        else x))
    }

  /** The dotted column paths a table's CHECK constraints reference —
    * the nested-DDL and rename guards consult this so a committed
    * predicate string can never silently stop binding. */
  private def checkColumnRefs(spark: SparkSession, refs: Refs): Set[String] =
    refs.checks.flatMap { case (_, p) =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(p)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(".")
        }).getOrElse(Seq.empty)
    }.toSet

  /** Shared publish tail of the pure-metadata schema DDL verbs: the
    * head's files + stats/DV/equality-delete refs under an evolved
    * committed schema. `#eqdel:` MUST carry — eq-delete sidecars key on
    * immutable PHYSICAL column names, so they stay valid across every
    * metadata-only DDL; dropping them would resurrect purged rows on
    * an unrelated ALTER TABLE. */
  private def publishEvolvedSchema(head: Manifest, refs: Refs,
      evolved: org.apache.spark.sql.types.StructType): Long = {
    val next = head.v + 1
    publishManifest(head.fs, head.r, next,
      head.carriedMeta(schema = false) ++
        Seq(schemaLineOf(evolved)) ++ head.dataRaw, refs)
    next
  }

  /** ADD a NESTED struct subfield as a PURE-METADATA commit (Iceberg's
    * nested ADD COLUMN): `parent` is the dotted path of the enclosing
    * struct ("props", "a.b"); existing files read NULL for the new
    * subfield, new writes may carry it, time travel serves each
    * version's own shape. The field lands nullable — on a multi-file
    * table a required new subfield is unsatisfiable by definition. */
  def addSnapshotNestedField(spark: SparkSession, root: String,
      parent: String, field: org.apache.spark.sql.types.StructField): Long = {
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      throw new IllegalArgumentException(
        s"cannot evolve nested fields on $root: no committed schema"))
    val evolved = transformNestedStruct(prior, parent.split('.').toSeq) { st =>
      require(!st.fields.exists(_.name.equalsIgnoreCase(field.name)),
        s"field $parent.${field.name} already exists on $root")
      // a renamed sibling's STORAGE name is occupied in every data file
      // — a new subfield reusing it would collide on read
      require(!st.fields.exists(f =>
          physicalNameOf(f).equalsIgnoreCase(field.name)),
        s"storage-name collision: a sibling of $parent.${field.name} " +
          "stores that name")
      org.apache.spark.sql.types.StructType(
        st.fields :+ field.copy(nullable = true))
    }
    publishEvolvedSchema(head, refsOf(head.fs, head.r), evolved)
  }

  /** DROP a NESTED struct subfield as a PURE-METADATA commit: the
    * committed schema narrows, files keep their bytes (projection
    * never reads them), time travel serves the pre-drop shape. Rejects
    * when a CHECK references the field (or anything under it) and when
    * the drop would empty its struct. */
  def dropSnapshotNestedField(spark: SparkSession, root: String,
      fieldPath: String): Long = {
    import java.util.Locale.ROOT
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      throw new IllegalArgumentException(
        s"cannot evolve nested fields on $root: no committed schema"))
    val parts = fieldPath.split('.').toSeq
    require(parts.length >= 2,
      s"'$fieldPath' is top-level — use evolveSnapshotSchema(drop = …)")
    val dropped = parts.map(_.toLowerCase(ROOT)).mkString(".")
    val refs = refsOf(head.fs, head.r)
    val clash = checkColumnRefs(spark, refs)
      .filter(ref => ref == dropped || ref.startsWith(dropped + "."))
    require(clash.isEmpty,
      s"cannot drop $fieldPath: CHECK constraint(s) reference " +
        s"${clash.mkString(", ")} — drop the check first")
    val evolved = transformNestedStruct(prior, parts.init) { st =>
      require(st.fields.exists(_.name.equalsIgnoreCase(parts.last)),
        s"no field $fieldPath on $root")
      val kept = st.fields.filterNot(_.name.equalsIgnoreCase(parts.last))
      require(kept.nonEmpty,
        s"cannot drop $fieldPath: it is the struct's last field — drop " +
          s"the ${parts.init.mkString(".")} column itself instead")
      org.apache.spark.sql.types.StructType(kept)
    }
    publishEvolvedSchema(head, refs, evolved)
  }

  /** RENAME a NESTED struct subfield as a PURE-METADATA commit — the
    * name-keyed equivalent of Iceberg's field-ID rename applied inside
    * a struct: the committed subfield republishes under the new
    * LOGICAL name while its metadata records the immutable PHYSICAL
    * storage name, so existing files serve the renamed subfield with
    * zero data I/O and new writes keep landing the physical name
    * ([[toPhysicalDf]]'s struct-aware translation). Same guards as the
    * top-level rename: sibling clash (logical and storage name), CHECK
    * references. */
  def renameSnapshotNestedField(spark: SparkSession, root: String,
      fieldPath: String, to: String): Long = {
    import java.util.Locale.ROOT
    require(to.nonEmpty && !to.contains(".") && !to.contains("`"),
      s"bad field name: '$to'")
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      throw new IllegalArgumentException(
        s"cannot evolve nested fields on $root: no committed schema"))
    val parts = fieldPath.split('.').toSeq
    require(parts.length >= 2,
      s"'$fieldPath' is top-level — use renameSnapshotColumn")
    val lowered = parts.map(_.toLowerCase(ROOT)).mkString(".")
    val refs = refsOf(head.fs, head.r)
    val clash = checkColumnRefs(spark, refs)
      .filter(ref => ref == lowered || ref.startsWith(lowered + "."))
    require(clash.isEmpty,
      s"cannot rename $fieldPath: CHECK constraint(s) reference " +
        s"${clash.mkString(", ")} — drop and re-add under the new name")
    val evolved = transformNestedStruct(prior, parts.init) { st =>
      val f = st.fields.find(_.name.equalsIgnoreCase(parts.last)).getOrElse(
        throw new IllegalArgumentException(s"no field $fieldPath on $root"))
      require(!st.fields.exists(x => !(x eq f) && x.name.equalsIgnoreCase(to)),
        s"field ${parts.init.mkString(".")}.$to already exists on $root")
      require(!st.fields.exists(x => !(x eq f) &&
          physicalNameOf(x).equalsIgnoreCase(to)),
        s"storage-name collision: a sibling of $fieldPath stores '$to'")
      val physical = physicalNameOf(f)
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      val newMeta =
        if (physical == to) mb.remove(PhysicalKey).build()
        else mb.putString(PhysicalKey, physical).build()
      org.apache.spark.sql.types.StructType(st.fields.map(x =>
        if (x eq f) x.copy(name = to, metadata = newMeta) else x))
    }
    publishEvolvedSchema(head, refs, evolved)
  }

  /** WIDEN a NESTED struct subfield's type as a PURE-METADATA commit —
    * the same safe widening set as [[widenSnapshotColumn]] (Spark's
    * parquet readers serve an INT32 page into a bigint vector with no
    * rewrite, nested or not); time travel keeps each version's own
    * type. */
  def widenSnapshotNestedField(spark: SparkSession, root: String,
      fieldPath: String, to: org.apache.spark.sql.types.DataType): Long = {
    val head = headOf(spark, root)
    val prior = head.schema.getOrElse(
      throw new IllegalArgumentException(
        s"cannot evolve nested fields on $root: no committed schema"))
    val parts = fieldPath.split('.').toSeq
    require(parts.length >= 2,
      s"'$fieldPath' is top-level — use widenSnapshotColumn")
    val evolved = transformNestedStruct(prior, parts.init) { st =>
      val f = st.fields.find(_.name.equalsIgnoreCase(parts.last)).getOrElse(
        throw new IllegalArgumentException(s"no field $fieldPath on $root"))
      require(widens(f.dataType, to),
        s"cannot widen $fieldPath: ${f.dataType.simpleString} -> " +
          s"${to.simpleString} is not a safe metadata widening")
      org.apache.spark.sql.types.StructType(st.fields.map(x =>
        if (x eq f) x.copy(dataType = to) else x))
    }
    publishEvolvedSchema(head, refsOf(head.fs, head.r), evolved)
  }

  /** RENAME a snapshot table root — one filesystem rename plus a
    * ONE-TIME metadata migration. Manifests, stats sidecars and DV
    * sidecars key data files by ABSOLUTE path (the create-exclusive
    * commit protocol's simplicity), so after `fs.rename` every
    * metadata file under the new root rewrites its old-prefix paths to
    * the new prefix: manifests and `.stats` sidecars as a text prefix
    * replace (metadata-sized), DV sidecars as one parquet rewrite each
    * (deleted-rows-sized). Branches live UNDER the root
    * (`_branches/<name>` with their own `_manifests`/`_deletes`), so
    * the recursive walk migrates them in the same pass; tags, checks
    * and layout refs hold versions/columns, never paths, and move
    * untouched.
    *
    * QUIESCED operation (the Iceberg-HadoopCatalog rename contract): a
    * writer mid-commit against the old root loses its table directory
    * under it; time travel, tags, branch pins and clones-of-this-table
    * (which copied files into their own roots) all survive. */
  def renameSnapshotTable(spark: SparkSession, oldRoot: String,
      newRoot: String): Unit = {
    val (fs, oldP) = fsOf(spark, oldRoot)
    require(snapshotVersions(spark, oldRoot).nonEmpty,
      s"no snapshot table at $oldRoot")
    val newP = new org.apache.hadoop.fs.Path(newRoot)
    require(!fs.exists(newP), s"rename target $newRoot already exists")
    val oldPrefix = org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(fs.makeQualified(oldP)).toString
    val newPrefix = org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(fs.makeQualified(newP)).toString
    require(!(newPrefix + "/").startsWith(oldPrefix + "/"),
      "cannot rename a table into itself")
    Option(newP.getParent).foreach(fs.mkdirs(_))
    require(fs.rename(oldP, newP),
      s"filesystem refused rename $oldRoot -> $newRoot")
    rewritePathPrefixes(spark, fs, newP, oldPrefix, newPrefix)
  }

  /** The migration walk behind [[renameSnapshotTable]]: every
    * `_manifests` dir's files get a text prefix replace; every
    * `_deletes` dir's DV sidecars get their `__path` column re-rooted
    * via one parquet rewrite each. */
  private def rewritePathPrefixes(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      oldPrefix: String, newPrefix: String): Unit = {
    val children = fs.listStatus(dir)
    children.foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name == "_manifests") {
        fs.listStatus(st.getPath).foreach { mf =>
          if (mf.isFile) {
            val in = fs.open(mf.getPath)
            val text =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            val out = fs.create(mf.getPath, true)
            try out.write(
              text.replace(oldPrefix + "/", newPrefix + "/").getBytes("UTF-8"))
            finally out.close()
          }
        }
      } else if (st.isDirectory && name == "_deletes") {
        fs.listStatus(st.getPath).filter(_.isDirectory).foreach { dv =>
          val p = dv.getPath
          val rewritten = spark.read.parquet(p.toString)
            .withColumn("__path",
              when(col("__path").startsWith(oldPrefix + "/"),
                concat(lit(newPrefix),
                  expr(s"substring(__path, ${oldPrefix.length + 1})")))
                .otherwise(col("__path")))
            .select(col("__path"), col("__pos"))
          val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".mig")
          rewritten.write.parquet(tmp.toString)
          fs.delete(p, true)
          fs.rename(tmp, p)
        }
      } else if (st.isDirectory) {
        rewritePathPrefixes(spark, fs, st.getPath, oldPrefix, newPrefix)
      }
    }
  }

  /** Estimated (rows, bytes) of a version from the manifest and its
    * stats sidecar ALONE — zero data I/O, so a catalog `DESCRIBE` or a
    * join-size pre-estimate never touches parquet. Rows are the raw
    * file counts (deletion vectors not subtracted — this is an
    * optimizer estimate, not an answer); either side is None when a
    * pre-sidecar file lacks the stat. */
  def snapshotStatsEstimate(spark: SparkSession, root: String,
      version: Option[Long] = None): (Option[Long], Option[Long]) = {
    val (fs, r) = fsOf(spark, root)
    val vs = versionsAt(fs, r)
    if (vs.isEmpty) return (Some(0L), Some(0L))
    val m = manifestAt(fs, r, version.getOrElse(vs.last))
    val (files, stats) = (m.files, m.stats)
    val rows =
      if (files.forall(stats.contains)) Some(files.map(f => stats(f).rows).sum)
      else None
    val bytes =
      if (files.forall(f => stats.get(f).exists(_.len.isDefined)))
        Some(files.map(f => stats(f).len.get).sum)
      else None
    (rows, bytes)
  }

  /** Snapshot-model compaction: read the current version, rewrite it
    * as ceil(bytes/target) files in a NEW batch dir, publish as the
    * next version. Unlike compactParquet's directory swap there is no
    * absent-directory window and no restore path — readers of every
    * existing version keep their file lists; the compacted layout
    * simply becomes the new head. */
  def compactSnapshot(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val head = headOf(spark, root)
    val (fs, r, files, stats) = (head.fs, head.r, head.files, head.stats)
    val bytes = files.map(f => stats.get(f).flatMap(_.len).getOrElse(
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // the rewrite PINS its base: publishing v's content over a
    // concurrent v+1 would erase that commit (see commitSnapshot).
    // `rewriteOf` = the consumed files: a harmless race (disjoint
    // append / MoR on other files) re-publishes at metadata price
    // instead of aborting (see republishPinnedRewrite).
    commitOver(readVersion(spark, root, head).coalesce(nOut), root, fs, r,
      append = false, meta = Seq.empty, maxRetries = 0, expectedHead = Some(head.v),
      known = Some(head), rewriteOf = Some(files.toSet))
  }

  /** Z-ORDERED snapshot compaction: rewrite the current head
    * z-clustered on `cols` and publish it as the next version — the
    * round's layout win composed with the round's isolation win. A
    * maintenance job can re-cluster a live table while yesterday's
    * readers keep their yesterday file lists; the improved pruning
    * simply becomes the new head. (The streaming z-sink's
    * compactZOrdered does this with a directory swap; here the swap is
    * a manifest flip.) */
  def compactSnapshotZOrdered(spark: SparkSession, root: String,
      cols: Seq[String], nFiles: Int,
      rowGroupBytes: Long = 128L * 1024 * 1024): Long = {
    val head = headOf(spark, root)
    val (fs, r, v) = (head.fs, head.r, head.v)
    val df = readVersion(spark, root, head)
    val batch = new org.apache.hadoop.fs.Path(r, s"data/b${writerToken()}")
    zOrderWriteN(df, cols, batch.toString, nFiles, rowGroupBytes)
    val newStatuses = fs.listStatus(batch)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).toSeq
    val newFiles = newStatuses
      .map(st => org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(st.getPath).toString)
      .sorted
    // z-clustered files have TIGHT per-file envelopes on every cluster
    // column — exactly where manifest stats pay most.
    val newStats = batchFileStats(spark, newFiles, fsMetaOf(newStatuses), Map.empty)
    val statsName = writeStatsFile(spark, fs, r, newStats)
    val schemaLine = schemaLineOf(df.schema)
    // PINNED publish at v+1: a content-preserving rewrite must never
    // land over a concurrent commit's head (see commitSnapshot's
    // expectedHead). A lost race revalidates (republishPinnedRewrite):
    // a disjoint racer re-publishes the z-clustered batch against the
    // new head; only a genuine overlap aborts for the replan path.
    val next = v + 1
    val refs = refsOf(fs, r)
    try publishManifest(fs, r, next, Seq(s"#stats:$statsName", schemaLine) ++ newFiles, refs)
    catch {
      case e: SnapshotConflictException =>
        fs.delete(new org.apache.hadoop.fs.Path(manifestDir(r), statsName), false)
        try return republishPinnedRewrite(spark, head, refs, head.files.toSet,
          newFiles, newStats, schemaLine, Seq.empty,
          carriesLines = false, e)
        catch {
          case e2: SnapshotConflictException =>
            fs.delete(batch, true)
            throw e2
        }
    }
    next
  }

  /** DESTRUCTIVE: delete data files referenced only by versions older
    * than `keepFrom`, then drop those versions' manifests (torn
    * manifests — crashed publishes without `#eof` — are read
    * tolerantly and reaped the same way). Also reaps: stats sidecars
    * no surviving manifest references, and ORPHAN batch directories
    * under `root/data` that no surviving manifest references and whose
    * modification time is older than `orphanGraceMs` — the residue of
    * a commit that wrote its batch but crashed (or lost its conflict
    * race) before publishing. The grace window exists because an
    * IN-FLIGHT commit's batch is also unreferenced-but-alive; size it
    * above your longest commit. Time travel to vacuumed versions is
    * gone — the explicit retention trade every table format makes.
    * Returns the number of data files deleted.
    *
    * OWNERSHIP GUARD: only files physically under THIS table's root
    * are ever deleted. A shallow clone or branch carries the SOURCE
    * table's data files by path ([[cloneSnapshot]]); without the
    * guard, vacuuming the clone after its old versions age out would
    * delete source-owned files and corrupt the source. Foreign-rooted
    * manifest entries are dropped from the clone's manifests like any
    * dead file, but their bytes are left for their owning table's own
    * vacuum to govern. */
  /** TIME-based retention (Delta's `RETAIN n HOURS`, Iceberg's
    * `older_than`): vacuum every version whose COMMIT TIME is ≤
    * `tsMillis` — except the head, which always survives (a retention
    * window that empties the table is a config error, not a request),
    * and tagged versions, which [[vacuumSnapshots]] pins as ever. The
    * cut resolves by manifest mtime in ONE directory listing, then
    * delegates. SQL: `CALL graft.system.vacuum(table,
    * older_than_ms => <epoch millis>)`. */
  def vacuumSnapshotsOlderThan(spark: SparkSession, root: String,
      tsMillis: Long, orphanGraceMs: Long = 10 * 60 * 1000L): Int = {
    val (fs, r) = fsOf(spark, root)
    val md = manifestDir(r)
    val vs = versionsAt(fs, r)
    if (vs.isEmpty) return 0
    val mtimes: Map[Long, Long] =
      if (!fs.exists(md)) Map.empty
      else fs.listStatus(md).toSeq.flatMap(st => st.getPath.getName match {
        case ManifestName(n) => Some(n.toLong -> st.getModificationTime)
        case _ => None
      }).toMap
    val keepFrom = vs.find(v => mtimes.get(v).exists(_ > tsMillis))
      .getOrElse(vs.last)
    vacuumSnapshots(spark, root, keepFrom, orphanGraceMs)
  }

  // ------------------------------------------------------------------
  // STREAM CURSORS: retention floors vacuum respects like tags
  // ------------------------------------------------------------------
  //
  // Detection of the vacuum/checkpoint race (the loud resume error) is
  // an expensive error message at 100 TB: the stream's only recovery
  // is a full reprocess. PREVENTION is a cursor file —
  // `_refs/cursors/<streamId>` holding the oldest version the stream's
  // checkpoint still needs — which [[vacuumSnapshots]] treats as a
  // retention floor: no version at or above any registered cursor is
  // reaped, whatever `keepFrom` says. The native stream source
  // advances its cursor on every completed micro-batch; an ABANDONED
  // stream's pin is reclaimed explicitly with [[dropStreamCursor]]
  // (the override), after which the loud error is again the backstop.
  // Cursors are per-table operational state: clones don't inherit
  // them, and an unparseable cursor file pins EVERYTHING (failing
  // toward retention, never toward data loss).

  private def cursorsDir(r: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(refsDir(r), "cursors")

  /** Register or ADVANCE a stream cursor: vacuum keeps every version
    * `>= version`. Advance-only writes go through create-temp + rename
    * (atomic replace on POSIX; HDFS gets delete-then-rename, whose
    * tiny window fails toward a stale — more protective — pin). */
  def setStreamCursor(spark: SparkSession, root: String, streamId: String,
      version: Long): Unit = {
    require(refName.matches(streamId), s"invalid stream cursor id '$streamId'")
    val (fs, r) = fsOf(spark, root)
    fs.mkdirs(cursorsDir(r))
    val fin = new org.apache.hadoop.fs.Path(cursorsDir(r), streamId)
    val tmp = new org.apache.hadoop.fs.Path(cursorsDir(r),
      s".$streamId.${writerToken()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, fin)) {
      fs.delete(fin, false)
      if (!fs.rename(tmp, fin)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"could not advance stream cursor $streamId on $root")
      }
    }
  }

  /** The explicit override: reclaim an abandoned stream's retention
    * pin. Returns false when no such cursor exists. */
  def dropStreamCursor(spark: SparkSession, root: String,
      streamId: String): Boolean = {
    val (fs, r) = fsOf(spark, root)
    fs.delete(new org.apache.hadoop.fs.Path(cursorsDir(r), streamId), false)
  }

  /** Registered cursors (streamId → pinned version). An unparseable
    * file reports version 0 — pin everything, the protective
    * direction. */
  def listStreamCursors(spark: SparkSession, root: String): Map[String, Long] = {
    val (fs, r) = fsOf(spark, root)
    val d = cursorsDir(r)
    if (!fs.exists(d)) return Map.empty
    fs.listStatus(d).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map { st =>
        val in = fs.open(st.getPath)
        val v =
          try scala.util.Try(scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim.toLong).getOrElse(0L)
          finally in.close()
        st.getPath.getName -> v
      }.toMap
  }

  /** Everything ONE vacuum invocation would reap — computed first,
    * executed after (or not at all: [[vacuumSnapshotsDryRun]] returns
    * this plan as rows). Every list is metadata-derived; nothing here
    * touches data bytes. */
  private final case class VacuumPlan(
      oldVersions: Seq[Long],
      deadFiles: Seq[String],
      staleStats: Seq[org.apache.hadoop.fs.Path],
      staleSegments: Seq[org.apache.hadoop.fs.Path],
      staleDeletes: Seq[org.apache.hadoop.fs.Path],
      orphanBatchDirs: Seq[org.apache.hadoop.fs.Path],
      orphanCursorTmps: Seq[org.apache.hadoop.fs.Path],
      staleTxRefs: Seq[org.apache.hadoop.fs.Path])

  def vacuumSnapshots(spark: SparkSession, root: String, keepFrom: Long,
      orphanGraceMs: Long = 10 * 60 * 1000L): Int = {
    val (fs, r) = fsOf(spark, root)
    val p = vacuumPlanOf(spark, fs, r, root, keepFrom, orphanGraceMs,
      claim = true)
    p.deadFiles.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    p.oldVersions.foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(manifestDir(r), s"v$v.manifest"), false))
    p.staleStats.foreach(fs.delete(_, false))
    p.staleSegments.foreach(fs.delete(_, false))
    p.staleDeletes.foreach(fs.delete(_, true))
    p.orphanBatchDirs.foreach(fs.delete(_, true))
    p.orphanCursorTmps.foreach(fs.delete(_, false))
    // Cross-table tx refs (r18): a coordinator MARKER (participant-list
    // content) pushes a confirmation echo to every listed participant
    // root before it disappears — a participant whose tx version is
    // still kept but never echoed (the commit's best-effort echo write
    // failed and no reader has touched it since) must not lose its
    // last confirmation witness. All roots share one FileSystem by the
    // multi-tx contract, so `fs` reaches them.
    p.staleTxRefs.foreach { f =>
      scala.util.Try {
        if (!f.getName.endsWith(".reaping")) {
          val content = {
            val in = fs.open(f)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          }
          if (!content.startsWith("#reaped") && content.trim != "confirmed")
            content.split('\n').map(_.trim).filter(_.nonEmpty).foreach { ln =>
              val i = ln.lastIndexOf("@v")
              if (i > 0) scala.util.Try {
                val pr = new org.apache.hadoop.fs.Path(ln.substring(0, i))
                val echo = new org.apache.hadoop.fs.Path(
                  new org.apache.hadoop.fs.Path(refsDir(pr), "tx"), f.getName)
                if (!fs.exists(echo)) {
                  fs.mkdirs(echo.getParent)
                  val o = fs.create(echo, false)
                  try o.write("confirmed\n".getBytes("UTF-8"))
                  finally o.close()
                }
              }
            }
        }
        fs.delete(f, false)
      }
    }
    p.deadFiles.size
  }

  /** `VACUUM DRY RUN` — everything a vacuum with these parameters
    * WOULD reap, as `(kind, item)` rows, from metadata only: operator
    * confidence before the irreversible sweep. Kinds: `version`
    * (manifest), `data_file`, `stats_sidecar`, `manifest_segment`,
    * `delete_sidecar`, `orphan_batch_dir`, `cursor_tmp`, `tx_marker`.
    * Also the TVF `graft_vacuum_dry_run(root, keepFrom)`. Dry runs are
    * strictly side-effect-free: an aged unconfirmed pending flip is
    * reported as a would-reap `version` WITHOUT claiming its marker. */
  def vacuumSnapshotsDryRun(spark: SparkSession, root: String,
      keepFrom: Long, orphanGraceMs: Long = 10 * 60 * 1000L): DataFrame = {
    val (fs, r) = fsOf(spark, root)
    val p = vacuumPlanOf(spark, fs, r, root, keepFrom, orphanGraceMs,
      claim = false)
    val rows: Seq[(String, String)] =
      p.oldVersions.map(v => "version" -> s"v$v") ++
        p.deadFiles.map("data_file" -> _) ++
        p.staleStats.map(x => "stats_sidecar" -> x.getName) ++
        p.staleSegments.map(x => "manifest_segment" -> x.getName) ++
        p.staleDeletes.map(x => "delete_sidecar" -> x.getName) ++
        p.orphanBatchDirs.map(x => "orphan_batch_dir" -> x.toString) ++
        p.orphanCursorTmps.map(x => "cursor_tmp" -> x.getName) ++
        p.staleTxRefs.map(x => "tx_marker" -> x.getName)
    import spark.implicits._
    rows.toDF("kind", "item")
  }

  private def vacuumPlanOf(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: org.apache.hadoop.fs.Path,
      root: String, keepFrom: Long, orphanGraceMs: Long,
      claim: Boolean): VacuumPlan = {
    // Stream-cursor retention floor: never reap a version a registered
    // live stream's checkpoint still needs (see the cursor notes
    // above) — the caller's keepFrom is clamped, not overridden.
    val cursorFloor = listStreamCursors(spark, root).values
      .minOption.getOrElse(Long.MaxValue)
    val keepFromEff = math.min(keepFrom, cursorFloor)
    val horizon0 = System.currentTimeMillis() - orphanGraceMs
    // Aged TORN manifests (no #eof — a publish that crashed mid-write)
    // are vacuumable at ANY version: strict readers refuse them anyway.
    // The age check keeps a concurrent in-flight publish safe. Aged
    // UNCONFIRMED cross-table pending manifests (r17: `#txmarker:`
    // line, marker never created — a coordinator that died between
    // publish and confirm) reap identically: readers never saw them,
    // and reaping frees the claimed slot writers are blocked on. The
    // listing is RAW — [[snapshotVersions]] hides pending heads, which
    // is exactly why vacuum must not go through it here. The marker is
    // re-checked at plan time, so a slow confirm racing this vacuum is
    // saved by the age horizon, and a confirmed one by the re-check.
    val rawVs: Seq[Long] = {
      val md0 = manifestDir(r)
      if (!fs.exists(md0)) Seq.empty
      else fs.listStatus(md0).toSeq.flatMap(st => st.getPath.getName match {
        case ManifestName(n) => Some(n.toLong)
        case _ => None
      }).sorted
    }
    // ONE raw read per version, shared by every pass below: (aged, has
    // #eof, pending-unconfirmed, its lines). The pending
    // reclassification applies ONLY to the trailing version — by
    // protocol a pending manifest blocks all successors, so any
    // version WITH successors was necessarily confirmed; treating it
    // as pending just because its marker no longer resolves (the
    // coordinator table was dropped later) would reap kept and even
    // tagged history of this table.
    val vState: Map[Long, (Boolean, Boolean, Boolean, Seq[String])] =
      rawVs.map { v =>
        val p = new org.apache.hadoop.fs.Path(manifestDir(r), s"v$v.manifest")
        val aged = fs.getFileStatus(p).getModificationTime < horizon0
        val lines = readManifestRawLines(fs, r, v, strict = false)
        val sealed0 = lines.lastOption.contains("#eof")
        val pending = v == rawVs.last && sealed0 && txPendingFromLines(fs, r, lines)
        v -> (aged, sealed0, pending, lines)
      }.toMap
    def txMarkerLine(lines: Seq[String]) = lines.find(_.startsWith("#txmarker:"))
    // CLAIM-BEFORE-REAP (r18, ADVICE): an aged unconfirmed pending is
    // reapable only once this vacuum WINS the tx's marker path with a
    // reap tombstone — the same exclusive-create primitive the
    // coordinator's confirm uses — so a confirm stalled past the grace
    // window loses ATOMICALLY and aborts instead of flipping a proper
    // subset of its tables. The intent sidecar lands first: it is what
    // makes an empty marker (either winner crashed between create and
    // content) read as reaped rather than confirmed. A LOST claim
    // reaps only on proof the winner was a reap — a complete tombstone
    // from a prior vacuum, or an aged empty marker beside the intent
    // (live writers' content trails their create by milliseconds, and
    // the confirm path deletes its own marker when it cannot land
    // content beside an intent) — otherwise the version is treated as
    // confirmed-or-unknown and left out of the reap (the re-listing
    // below settles which). Dry runs never claim: they report the
    // candidate as "would reap" without side effects.
    val claimFailed: Set[Long] = if (!claim) Set.empty else
      vState.toSeq.collect {
        case (v, (aged, _, true, lines)) if aged && txMarkerLine(lines).nonEmpty =>
          val marker = txMarkerPathOf(txMarkerLine(lines).get)
          val intent = txReapIntentPath(marker)
          scala.util.Try {
            fs.mkdirs(intent.getParent)
            if (!fs.exists(intent)) {
              val o = fs.create(intent, false)
              try o.write("reaping\n".getBytes("UTF-8")) finally o.close()
            }
          }
          val won = scala.util.Try(claimExclusive(fs, marker,
            txReapedContent.getBytes("UTF-8"))).getOrElse(false)
          val reapable = won || (txMarkerStateOf(fs, marker) == TxMarkerReaped && {
            val content = scala.util.Try {
              val in = fs.open(marker)
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            }.getOrElse("")
            content.startsWith("#reaped") ||
              scala.util.Try(fs.getFileStatus(marker)).toOption
                .exists(_.getModificationTime < horizon0)
          })
          if (reapable) None else Some(v)
      }.flatten.toSet
    val torn = rawVs.filter { v =>
      val (aged, sealed0, pending, _) = vState(v)
      aged && (!sealed0 || pending) && !claimFailed(v)
    }
    // NOT-YET-AGED torn manifests are a publish RACING this vacuum
    // (freshly claimed, mid-write). They must not land in the kept
    // set — strict resolution there would abort a routine vacuum
    // under steady ingest — and must not be reaped either (too
    // young). One short re-read settles each: a publish that
    // completed in the beat joins kept normally; one still torn is
    // EXCLUDED from both sides, which is safe because every file it
    // carries forward comes from its base head (whose kept manifest
    // protects it) and its own fresh batch dir sits inside the
    // orphan grace window.
    // Raw here too: a FRESH unconfirmed pending manifest must land in
    // neither set (not reapable — the tx may yet confirm; not kept —
    // its slot is self-protecting and its fresh batch dirs sit inside
    // the orphan grace window, the same argument as fresh-torn). The
    // first pass reuses the shared per-version read; only the rare
    // actual candidates pay the settle re-read, and one that settled
    // sealed joins kept with the lines of THAT read.
    val allVs = rawVs
    val settled: Map[Long, Seq[String]] = allVs.filter { v =>
      val (_, sealed0, pending, _) = vState(v)
      !torn.contains(v) && (!sealed0 || pending)
    }.map { v =>
      Thread.sleep(50)
      v -> readManifestRawLines(fs, r, v, strict = false)
    }.toMap
    val freshTorn = settled.collect {
      case (v, lines) if !lines.lastOption.contains("#eof") ||
        (v == rawVs.last && txPendingFromLines(fs, r, lines)) => v
    }.toSet
    // Tagged versions are pinned: a release tag outlives routine
    // retention no matter where the horizon sits.
    val tagged = refsOf(fs, r).tags.map(_._2).toSet
    val (old0, kept) = allVs
      .filterNot(torn.contains).filterNot(freshTorn.contains)
      .partition(v => v < keepFromEff && !tagged(v))
    val old = old0 ++ torn
    // The KEPT set feeds the destructive sweep's inverse: a kept
    // version whose segment is unreadable must ABORT the vacuum, not
    // silently contribute zero files (tolerant resolution would let
    // the dead-file sweep delete data still live in that version).
    // strict=false stays correct only on the OLD side, where a
    // half-reaped version merely enumerates deletion candidates.
    val keptM = kept.map(v => new Manifest(fs, r, v,
      settled.getOrElse(v, vState(v)._4), strict = true))
    val keepFiles = keptM.flatMap(_.files).toSet
    val rootPrefix = org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(fs.makeQualified(r)).toString + "/"
    val dead = old.flatMap(v => new Manifest(fs, r, v, vState(v)._4, strict = false).files)
      .distinct.filterNot(keepFiles)
      .filter(_.startsWith(rootPrefix)) // never delete clone/branch-carried foreign files
    // Stats sidecars referenced by no surviving manifest — including
    // TRANSITIVELY through delta-chain `#include:` pointers
    // ([[writeStatsDelta]]): reaping a chain link under a kept head
    // would silently blind its pruning.
    val keepStats = {
      val seen = scala.collection.mutable.Set.empty[String]
      def walk(n: String): Unit =
        if (seen.add(n)) statsIncludesOf(fs, r, n).foreach(walk)
      keptM.flatMap(_.statsName).foreach(walk)
      seen.toSet
    }
    val md = manifestDir(r)
    val staleStats =
      if (!fs.exists(md)) Seq.empty
      else fs.listStatus(md).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".stats"))
        .filter(st => st.getModificationTime < horizon0)
        .filterNot(st => keepStats(st.getPath.getName))
        .map(_.getPath)
    // Manifest SEGMENTS referenced by no surviving manifest — aged past
    // the grace window so an in-flight publish (segment written,
    // manifest claim still pending) is never reaped from under its
    // commit. Kept manifests are read RAW: resolution would hide the
    // very pointers this pass must preserve.
    val keepSegs = keptM.flatMap(_.dataRaw
      .filter(_.startsWith("#include:")).map(_.stripPrefix("#include:"))).toSet
    val staleSegments =
      if (!fs.exists(md)) Seq.empty
      else fs.listStatus(md).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".segment"))
        .filter(st => st.getModificationTime < horizon0)
        .filterNot(st => keepSegs(st.getPath.getName))
        .map(_.getPath)
    // Deletion-vector sidecars referenced by no surviving manifest —
    // aged past the grace window so an in-flight MoR commit (sidecar
    // written, manifest not yet published) is never reaped from under
    // its publish.
    val keepDv = keptM.flatMap(m => m.dvNames ++ m.eqDels.map(parseEqDel(_)._1)).toSet
    val dd = deletesDir(r)
    val staleDeletes =
      if (!fs.exists(dd)) Seq.empty
      else fs.listStatus(dd).toSeq
        .filter(st => st.getModificationTime < horizon0)
        .filterNot(st => keepDv(st.getPath.getName))
        .map(_.getPath)
    // Orphan batch dirs: unreferenced by any surviving manifest, aged
    // past the in-flight-commit grace window.
    val dataDir = new org.apache.hadoop.fs.Path(r, "data")
    val horizon = System.currentTimeMillis() - orphanGraceMs
    val orphanDirs =
      if (!fs.exists(dataDir)) Seq.empty
      else fs.listStatus(dataDir).toSeq
        .filter(st => st.isDirectory && st.getModificationTime < horizon)
        .filterNot { st =>
          val prefix = org.apache.hadoop.fs.Path
            .getPathWithoutSchemeAndAuthority(st.getPath).toString + "/"
          keepFiles.exists(_.startsWith(prefix))
        }
        .map(_.getPath)
    // Orphaned cursor temp files: setStreamCursor's create-then-rename
    // leaves a `.<id>.<token>.tmp` behind when a writer crashes between
    // the two steps, and nothing else ever visits this directory — a
    // crash-looping stream would accumulate them forever. Aged past the
    // grace window so an in-flight advance is never swept mid-rename.
    val cd = cursorsDir(r)
    val cursorTmps =
      if (!fs.exists(cd)) Seq.empty
      else fs.listStatus(cd).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith(".") &&
          st.getPath.getName.endsWith(".tmp"))
        .filter(st => st.getModificationTime < horizon0)
        .map(_.getPath)
    // CROSS-TABLE TX REFS (r18, verdict #2): markers, confirmation
    // echoes and reap intents under `_refs/tx/` whose txid appears in
    // no KEPT version's manifest of THIS root reap after the grace
    // window — without this every multi-table commit leaked its
    // ~60-byte refs forever, unbounded small files in a directory
    // nothing else ever cleans. Non-trailing history can never
    // re-enter pending (the trailing-only reclassification above), so
    // once the manifests referencing a txid are vacuumed nothing on
    // this root will ever consult its refs again; a MARKER
    // additionally echoes to its listed participants at sweep time
    // before disappearing (see [[vacuumSnapshots]]). Empty-content
    // refs are skipped: an empty marker's meaning hangs on its intent
    // sidecar, and an intent is load-bearing exactly while its marker
    // is empty — reaping either would flip a stable reaped verdict
    // back to confirmed.
    val keptTxids: Set[String] = keptM.flatMap(_.metaLines.flatMap {
      case l if l.startsWith("#txmarker:") =>
        Some(l.stripPrefix("#txmarker:").takeWhile(_ != ':'))
      case l if l.startsWith("#mtx:") => Some(l.stripPrefix("#mtx:"))
      case _ => None
    }).toSet
    // the trailing pending head (confirmed or not) also pins its refs:
    // it is not in `kept` but its visibility still hangs on them
    val pendingTxids: Set[String] = vState.values.flatMap {
      case (_, _, true, lines) => txMarkerLine(lines)
        .map(_.stripPrefix("#txmarker:").takeWhile(_ != ':'))
      case _ => None
    }.toSet
    val txDir = new org.apache.hadoop.fs.Path(refsDir(r), "tx")
    def contentNonEmpty(p: org.apache.hadoop.fs.Path): Boolean =
      scala.util.Try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.nonEmpty
        finally in.close()
      }.getOrElse(false)
    val staleTxRefs: Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(txDir)) Seq.empty
      else fs.listStatus(txDir).toSeq
        .filter(st => st.isFile && st.getModificationTime < horizon0)
        .filter { st =>
          val n = st.getPath.getName
          val txid = n.stripSuffix(".reaping")
          !keptTxids(txid) && !pendingTxids(txid) && {
            if (n.endsWith(".reaping")) {
              val m = new org.apache.hadoop.fs.Path(txDir, txid)
              !fs.exists(m) || contentNonEmpty(m)
            } else contentNonEmpty(st.getPath)
          }
        }.map(_.getPath)
    VacuumPlan(old, dead, staleStats, staleSegments, staleDeletes,
      orphanDirs, cursorTmps, staleTxRefs)
  }

  // ---------------------------------------------------------------------
  // TABLE CONFIGURATION: `_refs/` holds what the table's owner declared
  // once — manifest thresholds, write mode, partition specs, bloom
  // enrollment, sort order, CHECK constraints and tags — one small text
  // file each. [[Refs]] is the only reader of those files and
  // [[claimRef]] the only create-exclusive writer. `_refs/tx/` and
  // `_refs/cursors/` are protocol state, not configuration: the
  // transaction and stream-cursor code owns them.
  // ---------------------------------------------------------------------

  private def refsDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_refs")

  private val ManifestConfRef = "manifest.conf"
  private val WriteModeRef = "write.mode"
  private val SpecRef = "partition.spec"
  private val BloomRef = "bloom.conf"
  private val SortRef = "sort.conf"
  private val CheckSuffix = ".check"
  private val TagSuffix = ".tag"

  /** A table's `_refs/` configuration, read lazily: ONE listing of the
    * directory when a field is first used (a missing directory is the
    * empty configuration) and each config file opened at most once.
    * A verb takes one per attempt ([[refsOf]]) and hands it to the
    * helpers it calls; nothing outlives the verb. */
  private[graft] final class Refs private[GraftCatalog] (
      fs: org.apache.hadoop.fs.FileSystem, r: org.apache.hadoop.fs.Path) {
    private lazy val listed: Map[String, org.apache.hadoop.fs.Path] =
      try fs.listStatus(refsDir(r)).toSeq.filter(_.isFile)
        .map(st => st.getPath.getName -> st.getPath).toMap
      catch { case _: java.io.FileNotFoundException => Map.empty }

    /** Config file `name`'s content; None when the table does not set it.
      * Each field below reads its own files once; a clone copies each
      * inherited file through this once. */
    def text(name: String): Option[String] = listed.get(name).map { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    private def lines(name: String): Seq[String] =
      text(name).toSeq.flatMap(_.linesIterator).filter(_.nonEmpty)
    private def pairs(name: String): Seq[(String, String)] =
      lines(name).map { l => val Array(k, v) = l.split("\t", 2); k -> v }
    /** (name, first line) of every `<name><suffix>` file, name-sorted. */
    private def named(suffix: String): Seq[(String, String)] =
      listed.keys.filter(_.endsWith(suffix)).toSeq.map(n =>
        n.stripSuffix(suffix) -> text(n).get.linesIterator.next()).sortBy(_._1)

    /** The table's OWN `manifest.conf` entries (empty when unset). */
    lazy val manifestKv: Map[String, Int] =
      pairs(ManifestConfRef).map { case (k, v) => k -> v.trim.toInt }.toMap
    /** (inlineMax, maxIncludes, statsDepthMax) governing commits: the
      * table's own entries where set, the engine defaults otherwise. */
    lazy val manifestConf: (Int, Int, Int) =
      (manifestKv.getOrElse("inline.max", manifestInlineMax),
        manifestKv.getOrElse("include.max", manifestMaxIncludes),
        manifestKv.getOrElse("stats.depth.max", statsMaxDepth))
    /** EVERY spec version, id → fields: `partition.spec` is spec 1 and
      * [[evolveSnapshotPartitionSpec]] adds `partition.spec.N`. Pruning
      * resolves each FILE's spec by the id its batch dir encodes
      * ([[specIdOfPath]]) — Iceberg's spec-id chain. */
    lazy val specs: Map[Int, Seq[PartitionField]] = listed.keys.flatMap { n =>
      val id =
        if (n == SpecRef) Some(1)
        else if (n.startsWith(s"$SpecRef.")) n.stripPrefix(s"$SpecRef.").toIntOption
        else None
      id.map(_ -> lines(n).map { l =>
        val Array(c, t, k) = l.split("\t", 3)
        PartitionField(c, t, k.toInt)
      })
    }.toMap
    /** The ACTIVE (highest) spec id writers derive tuples from; 0 when
      * the table is unpartitioned. */
    def activeSpecId: Int = if (specs.isEmpty) 0 else specs.keys.max
    def spec: Seq[PartitionField] = specs.getOrElse(activeSpecId, Seq.empty)
    lazy val bloom: Map[String, Int] =
      pairs(BloomRef).map { case (c, b) => c -> b.toInt }.toMap
    lazy val sortOrder: Seq[String] = lines(SortRef)
    lazy val writeMode: String =
      text(WriteModeRef).map(_.linesIterator.next().trim).getOrElse("cow")
    lazy val checks: Seq[(String, String)] = named(CheckSuffix)
    lazy val tags: Seq[(String, Long)] =
      named(TagSuffix).map { case (n, v) => n -> v.trim.toLong }
    /** The lower-cased columns the layout depends on: the active spec's
      * sources, the declared sort and the bloom columns. */
    def layoutCols: Set[String] = (spec.map(_.col) ++
      sortOrder.map(_.split("\\s+").head) ++ bloom.keys)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    /** The config files a clone inherits: all of them but the tags,
      * which name versions of THIS table. */
    def configFiles: Seq[String] = listed.keys.filter(n => n.endsWith(CheckSuffix) ||
      n.startsWith(SpecRef) || Set(ManifestConfRef, WriteModeRef, BloomRef, SortRef)(n))
      .toSeq.sorted
  }

  private def refsOf(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path): Refs = new Refs(fs, r)

  /** The [[Refs]] of the table at `root`, for the catalog surface. */
  private[graft] def snapshotRefs(spark: SparkSession, root: String): Refs = {
    val (fs, r) = fsOf(spark, root)
    refsOf(fs, r)
  }

  /** Set config file `name` to `lines` with the create-exclusive claim
    * ([[claimExclusive]]): a config is immutable once set, and a racing
    * setter gets `conflict` as an IllegalStateException. */
  private def claimRef(fs: org.apache.hadoop.fs.FileSystem,
      r: org.apache.hadoop.fs.Path, name: String, lines: Seq[String],
      conflict: String): Unit = {
    fs.mkdirs(refsDir(r))
    if (!claimExclusive(fs, new org.apache.hadoop.fs.Path(refsDir(r), name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8")))
      throw new IllegalStateException(conflict)
  }

  /** Per-TABLE overrides of the three segment/chain thresholds
    * ([[manifestInlineMax]], [[manifestMaxIncludes]], [[statsMaxDepth]]),
    * create-exclusive and clone-inherited like the other configs. A hot
    * CDC target can seal/coalesce far more aggressively than the engine
    * default without touching any other table. */
  def setSnapshotManifestConf(spark: SparkSession, root: String,
      inlineMax: Option[Int] = None, maxIncludes: Option[Int] = None,
      statsDepthMax: Option[Int] = None): Unit = {
    require(inlineMax.forall(_ >= 1) && maxIncludes.forall(_ >= 1) &&
      statsDepthMax.forall(_ >= 0),
      "inline.max and include.max must be >= 1; stats.depth.max must be >= 0")
    val lines =
      inlineMax.map(v => s"inline.max\t$v").toSeq ++
        maxIncludes.map(v => s"include.max\t$v") ++
        statsDepthMax.map(v => s"stats.depth.max\t$v")
    require(lines.nonEmpty, "no manifest conf values given")
    val (fs, r) = fsOf(spark, root)
    claimRef(fs, r, ManifestConfRef, lines, s"manifest config already set on $root")
  }

  /** The table's OWN manifest conf entries (empty when unset) — the
    * SHOW TBLPROPERTIES surface; commits use [[Refs.manifestConf]],
    * which folds in the engine defaults. */
  def snapshotManifestConf(spark: SparkSession, root: String): Map[String, Int] =
    snapshotRefs(spark, root).manifestKv

  /** Declare the table's row-level WRITE MODE — `"cow"` (default:
    * DELETE/UPDATE/MERGE rewrite touched files) or `"mor"` (they
    * publish deletion vectors + appended batches instead). Consulted
    * by the SQL DML lowering so a pure-SQL client gets the table
    * owner's chosen physics; the Scala verbs stay explicit. MUTABLE
    * (an ALTER-able table property, unlike the create-exclusive
    * layout configs): last write wins, which is safe because both
    * modes produce the same logical table. */
  def setSnapshotWriteMode(spark: SparkSession, root: String,
      mode: String): Unit = {
    require(mode == "cow" || mode == "mor", s"write mode must be cow|mor: $mode")
    val (fs, r) = fsOf(spark, root)
    fs.mkdirs(refsDir(r))
    val out = fs.create(new org.apache.hadoop.fs.Path(refsDir(r), WriteModeRef), true)
    try out.write(s"$mode\n".getBytes("UTF-8")) finally out.close()
  }

  /** The table's declared write mode (default `"cow"`). */
  def snapshotWriteMode(spark: SparkSession, root: String): String =
    snapshotRefs(spark, root).writeMode

  private val ptTransforms = Set("identity", "bucket", "truncate",
    "year", "month", "day", "hour")

  /** A spec's config lines, `col\ttransform\tn` each, after checking
    * every field — shared by the first spec and every evolution. */
  private def specLines(spec: Seq[PartitionField]): Seq[String] = {
    require(spec.nonEmpty, "empty partition spec")
    spec.map { f =>
      require(ptTransforms(f.transform), s"unknown transform ${f.transform}")
      require(!Set("bucket", "truncate")(f.transform) || f.n > 0,
        s"${f.transform}(${f.col}) needs n > 0")
      s"${f.col}\t${f.transform}\t${f.n}"
    }
  }

  /** Declare the table's hidden partition spec (see the hidden
    * partitioning notes below) — create-exclusive; later layouts come
    * from [[evolveSnapshotPartitionSpec]]. Applies to every SUBSEQUENT
    * commit, including CoW rewrites (which re-derive tuples from the raw
    * columns — transforms are deterministic); files committed before
    * the spec carry no tuple and stay unprunable-by-tuple until
    * [[compactSnapshotPartitioned]] migrates them. */
  def setSnapshotPartitionSpec(spark: SparkSession, root: String,
      spec: Seq[PartitionField]): Unit = {
    val lines = specLines(spec)
    val (fs, r) = fsOf(spark, root)
    claimRef(fs, r, SpecRef, lines, s"partition spec already set on $root")
  }

  /** The table's ACTIVE hidden partition spec (empty when unpartitioned).
    * Older spec versions still govern the files they wrote. */
  def snapshotPartitionSpec(spark: SparkSession, root: String): Seq[PartitionField] =
    snapshotRefs(spark, root).spec

  /** PARTITION-SPEC EVOLUTION (a real table's first birthday problem:
    * the month layout that was right at launch needs day grain, or a
    * new bucket count): declare a NEW spec version. Files already
    * written keep their old-spec tuples and keep pruning under the
    * spec that wrote them; every subsequent batch derives tuples from
    * the new spec. [[compactSnapshotPartitioned]] migrates old-spec
    * files into the active layout. Same create-exclusive claim
    * discipline as the original spec. */
  def evolveSnapshotPartitionSpec(spark: SparkSession, root: String,
      spec: Seq[PartitionField]): Unit = {
    val lines = specLines(spec)
    val (fs, r) = fsOf(spark, root)
    val refs = refsOf(fs, r)
    require(refs.specs.nonEmpty,
      s"no partition spec on $root to evolve — use setSnapshotPartitionSpec")
    val nextId = refs.activeSpecId + 1
    claimRef(fs, r, s"$SpecRef.$nextId", lines,
      s"partition spec $nextId already claimed on $root (racing evolve)")
  }

  /** Enroll columns for per-file BLOOM sidecars (the Iceberg-puffin /
    * Delta-bloom idea): every SUBSEQUENT commit records, per data file
    * and enrolled column, a `bits`-wide bit-set over the values (two
    * probes split out of one xxhash64), and every point lookup —
    * `readSnapshot(predicate)`, the auto-skipping FileIndex, the CoW
    * verbs' nomination — skips files whose bloom provably lacks the
    * value. This is the prune for columns whose PER-FILE RANGE spans
    * the domain (foreign keys, UUIDs, content hashes — the common
    * lookup columns min/max can never prune and nobody partitions by):
    * at 100 TB, `WHERE request_id = X` becomes a handful of file opens
    * instead of a table scan. False positives only cost a wasted open;
    * misses are impossible (same hash both sides, literals cast to the
    * column's declared type). Default 32 768 bits ≈ 5.5 KB base64 per
    * file per column, ~2% fill at 500 distinct values. Create-exclusive
    * like the partition spec; files committed earlier carry no bloom
    * and always keep. */
  def setSnapshotBloomFilters(spark: SparkSession, root: String,
      cols: Seq[String], bits: Int = 32768): Unit = {
    require(cols.nonEmpty, "no bloom columns given")
    require(bits >= 64 && bits <= (1 << 24), s"unreasonable bloom width $bits")
    val (fs, r) = fsOf(spark, root)
    claimRef(fs, r, BloomRef, cols.map(c => s"$c\t$bits"),
      s"bloom config already set on $root")
  }

  /** The table's bloom-enrolled columns (col → bits); empty when none. */
  def snapshotBloomFilters(spark: SparkSession, root: String): Map[String, Int] =
    snapshotRefs(spark, root).bloom

  /** Declare the table's SORT ORDER (Iceberg's sort_order / Delta's
    * OPTIMIZE ZORDER's simpler cousin): every subsequent batch —
    * append, CoW rewrite, compaction — lands `sortWithinPartitions`
    * by these columns (after the partition tuple when one exists), so
    * parquet row groups get tight envelopes on the sort key and scans
    * with sort-key predicates skip row groups inside every file, on
    * top of the file-level stats skip. Metadata-declared ONCE instead
    * of remembered per writer — the failure this kills is the one
    * ingest job that forgets the sort and quietly fattens every
    * row-group envelope. Create-exclusive like the partition spec. */
  def setSnapshotSortOrder(spark: SparkSession, root: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "no sort columns given")
    val (fs, r) = fsOf(spark, root)
    claimRef(fs, r, SortRef, cols, s"sort order already set on $root")
  }

  /** The table's declared sort order; empty when none. */
  def snapshotSortOrder(spark: SparkSession, root: String): Seq[String] =
    snapshotRefs(spark, root).sortOrder

  /** Table-level CHECK constraints (Delta's CHECK / Iceberg's write
    * validation): a named SQL predicate every INCOMING batch must
    * satisfy before its commit publishes — data quality enforced at
    * the write boundary, where a violation costs one aborted batch,
    * not a 100 TB quarantine sweep later. SQL CHECK semantics: a row
    * passes on TRUE or NULL (unknown is not a violation); the batch
    * fails if any row evaluates FALSE. Validation cost is ∝ the batch
    * (the new/rewritten rows only — carried files were validated by
    * their own commits). Adding a check validates the CURRENT head
    * first (one scan — the same trade Delta makes), so a check can
    * never be born already-violated. */
  def addSnapshotCheck(spark: SparkSession, root: String, name: String,
      sqlPredicate: String): Unit = {
    require(refName.matches(name), s"invalid check name: $name")
    if (snapshotVersions(spark, root).nonEmpty)
      requireChecksHold(readSnapshot(spark, root), Seq(name -> sqlPredicate))
    val (fs, r) = fsOf(spark, root)
    claimRef(fs, r, s"$name$CheckSuffix", Seq(sqlPredicate),
      s"check $name already exists on $root")
  }

  /** All CHECK constraints on the table, (name, predicate). */
  def listSnapshotChecks(spark: SparkSession, root: String): Seq[(String, String)] =
    snapshotRefs(spark, root).checks

  /** Drop a CHECK constraint. */
  def dropSnapshotCheck(spark: SparkSession, root: String, name: String): Unit = {
    val (fs, r) = fsOf(spark, root)
    require(fs.delete(new org.apache.hadoop.fs.Path(refsDir(r), s"$name$CheckSuffix"), false),
      s"no check $name on $root")
  }

  private val refName = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** TAG a snapshot version with an immutable name (Iceberg tags) —
    * release pinning for training-data reproducibility: "the corpus
    * this model trained on" becomes a NAME instead of a number someone
    * has to remember. The tag file is create-exclusive, so a tag can
    * never be silently repointed (delete + recreate is the only way,
    * and that is an auditable two-step); [[vacuumSnapshots]] protects
    * tagged versions regardless of its retention horizon, so a pinned
    * corpus outlives routine retention. */
  def tagSnapshot(spark: SparkSession, root: String, name: String,
      version: Long): Unit = {
    require(refName.matches(name), s"invalid tag name: $name")
    require(snapshotVersions(spark, root).contains(version),
      s"cannot tag absent version $version of $root")
    val (fs, r) = fsOf(spark, root)
    claimRef(fs, r, s"$name$TagSuffix", Seq(version.toString),
      s"tag $name already exists on $root")
  }

  /** All tags on the table, (name, version), name-sorted. */
  def listSnapshotTags(spark: SparkSession, root: String): Seq[(String, Long)] =
    snapshotRefs(spark, root).tags

  /** The version a tag points at; throws on an unknown tag. */
  def resolveSnapshotTag(spark: SparkSession, root: String, name: String): Long =
    tagOf(snapshotRefs(spark, root), root, name)

  private def tagOf(refs: Refs, root: String, name: String): Long =
    refs.tags.collectFirst { case (`name`, v) => v }
      .getOrElse(throw new NoSuchElementException(s"no tag $name on $root"))

  /** Drop a tag (the version becomes subject to normal retention at
    * the next vacuum — removal is the explicit, auditable step). */
  def deleteSnapshotTag(spark: SparkSession, root: String, name: String): Unit = {
    val (fs, r) = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(refsDir(r), s"$name$TagSuffix")
    require(fs.delete(p, false), s"no tag $name on $root")
  }

  // ---------------------------------------------------------------------
  // Hidden partitioning (Iceberg's model): the table owns a PARTITION
  // SPEC of column transforms; writers derive the partition tuple on
  // the fly and encode it in the file PATH ONLY — data files keep
  // exactly the user's columns, reads never see a derived column, and
  // a query on the RAW column still prunes (stats for ordered
  // transforms, the path tuple for hash buckets). The failure mode
  // this kills at 100 TB: a pipeline that materializes `event_month`
  // by hand, then someone filters on `event_ts` and scans the world.
  // ---------------------------------------------------------------------

  /** The spec id that wrote a data file: batch dirs carry it as
    * `data/s<id>-b<nano>` (spec-1 batches keep the legacy `data/b…`
    * name, so pre-evolution tables are untouched). Files with no
    * partition tuple at all return 0 (pre-spec). */
  private[graft] def specIdOfPath(path: String): Int =
    "/s(\\d+)-b\\d".r.findFirstMatchIn(path).map(_.group(1).toInt)
      .getOrElse(if (path.contains("__pt_")) 1 else 0)

  /** The derived partition-value Column for one spec field. Date
    * transforms render through `date_format` (session TZ — GraftSession
    * pins UTC, the SURVEY §5 cross-engine discipline); bucket is
    * `pmod(xxhash64(col), n)` (xxhash64 seed 42 — Spark's own, and the
    * repo-wide derandomization hash); truncate is width-floor on
    * numerics (pmod keeps negatives on the floor multiple) and prefix
    * on strings.
    *
    * `declaredType` is the COMMITTED schema's type for the source
    * column, and the source is cast to it BEFORE any hashing: xxhash64
    * is type-sensitive (the same value hashes differently as Int vs
    * Long), and the read side ([[bucketOfLiteral]], used by tuple
    * pruning AND CoW file nomination) casts literals to the committed
    * type. Without this cast, an int batch landing in a bigint column
    * (legal via parquet type widening) would carry path tuples the
    * reader's bucket computation disagrees with — silent false prunes
    * and skipped deletes. The cast is a no-op when batch and committed
    * types already agree (every pre-existing case). */
  private def partitionColumn(f: PartitionField,
      declaredType: org.apache.spark.sql.types.DataType): Column = {
    val src = col(f.col).cast(declaredType)
    f.transform match {
      case "identity" => src
      case "bucket"   => pmod(xxhash64(src), lit(f.n.toLong))
      case "truncate" =>
        if (declaredType == org.apache.spark.sql.types.StringType)
          substring(src, 1, f.n)
        else src - pmod(src, lit(f.n.toLong))
      case "year"  => date_format(src, "yyyy")
      case "month" => date_format(src, "yyyy-MM")
      case "day"   => date_format(src, "yyyy-MM-dd")
      case "hour"  => date_format(src, "yyyy-MM-dd-HH")
    }
  }

  /** Parse a data file's partition tuple out of its PATH (`__pt_i=V`
    * segments, Hive-encoded by the writer). Empty for pre-spec files.
    * The Hive null sentinel decodes to None for that position. */
  private[graft] def filePartitionTuple(path: String): Map[Int, Option[String]] =
    "__pt_(\\d+)=([^/]+)".r.findAllMatchIn(path).map { m =>
      val v = m.group(2)
      m.group(1).toInt ->
        (if (v == "__HIVE_DEFAULT_PARTITION__") None
         else Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
           .unescapePathName(v)))
    }.toMap

  /** Driver-side bucket of a literal: cast to the COLUMN's declared
    * type first (the writer hashed column-typed values; an Int literal
    * against a Long column must hash as Long or the prune is wrong),
    * then xxhash64 mod n. None (= cannot prune) when the cast fails or
    * the value is null. */
  private def bucketOfLiteral(
      l: org.apache.spark.sql.catalyst.expressions.Literal,
      colType: org.apache.spark.sql.types.DataType, n: Int,
      tz: String): Option[String] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    if (l.value == null) return None
    Option(Cast(l, colType, Option(tz), EvalMode.TRY).eval(InternalRow.empty))
      .map { v =>
        val h = new XxHash64(Seq(Literal.create(v, colType)))
          .eval(InternalRow.empty).asInstanceOf[Long]
        (((h % n) + n) % n).toString
      }
  }

  /** Partition-tuple pruning — the capability column STATS cannot
    * express: a hash bucket has no min/max correlation with its source
    * column, so `WHERE user_id = X` on a bucket-partitioned table is
    * unprunable by envelope; the path tuple pins each file's bucket
    * exactly. Top-level equality conjuncts on bucket-source columns
    * compare the literal's bucket against the file's tuple; everything
    * else (OR branches, other transforms — those are stats-prunable
    * already) conservatively keeps. Files without a tuple (pre-spec
    * commits) always keep. */
  private def tupleMayMatch(specs: Map[Int, Seq[PartitionField]],
      schema: Option[org.apache.spark.sql.types.StructType], path: String,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      tz: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    if (specs.isEmpty || schema.isEmpty) return true
    val tuple = filePartitionTuple(path)
    if (tuple.isEmpty) return true
    // the spec that WROTE this file interprets its tuple — files under
    // a retired spec keep pruning by it (an unknown id keeps the file)
    val spec = specs.getOrElse(specIdOfPath(path), return true)
    object A {
      def unapply(e: Expression): Option[String] = e match {
        case a: UnresolvedAttribute => Some(a.name)
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def eqKeeps(name: String, l: Literal): Boolean =
      spec.zipWithIndex.forall { case (f, i) =>
        if (f.transform != "bucket" || f.col != name) true
        else (tuple.get(i).flatten, schema.get.fields.find(_.name == name)) match {
          case (Some(fileBucket), Some(sf)) =>
            bucketOfLiteral(l, sf.dataType, f.n, tz).forall(_ == fileBucket)
          case _ => true
        }
      }
    conjuncts(norm(pred)).forall {
      case EqualTo(A(n), l: Literal) => eqKeeps(n, l)
      case EqualTo(l: Literal, A(n)) => eqKeeps(n, l)
      case EqualNullSafe(A(n), l: Literal) if l.value != null => eqKeeps(n, l)
      case EqualNullSafe(l: Literal, A(n)) if l.value != null => eqKeeps(n, l)
      case In(A(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        // an IN-list keeps the file iff ANY member could live in it
        vs.exists(v => eqKeeps(n, v.asInstanceOf[Literal]))
      case _ => true
    }
  }

  /** DESCRIBE PARTITIONS — per-partition file/row/byte counts of a
    * version, from PURE metadata (path tuples + the stats sidecar; zero
    * parquet opens). One output column per spec field (named
    * `col_transform`), NULL for files that predate the spec, plus
    * n_files / n_rows / bytes. The operational questions this answers
    * at 100 TB — "which months are skewed", "did the backfill land in
    * the right buckets" — otherwise need a full scan. */
  def describeSnapshotPartitions(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val refs = snapshotRefs(spark, root)
    val spec = refs.spec
    require(spec.nonEmpty, s"no partition spec on $root")
    val m = manifestOf(spark, root, version)
    val (fs, r, files, stats) = (m.fs, m.r, m.files, m.stats)
    val activeId = refs.activeSpecId
    // LIVE row counts: deletion vectors subtract from their file's
    // physical count, so metadata==data holds on MoR-deleted tables
    // too (the only non-metadata touch is the DV sidecar itself,
    // deleted-rows-sized).
    val dvCounts = new DvSet(spark, r, m.dvNames).deletedRows(files)
    val grouped = files.groupBy { f =>
      // files written under a RETIRED spec report as unpartitioned
      // (all-null tuple) rather than misreading their positional
      // tuple through the active spec's field names
      val t = if (specIdOfPath(f) == activeId) filePartitionTuple(f)
        else Map.empty[Int, Option[String]]
      spec.indices.map(i => t.get(i).flatten.orNull)
    }
    val rows = grouped.toSeq.map { case (tup, fsOfTup) =>
      val nRows = fsOfTup.map(f =>
          stats.get(f).map(_.rows - dvCounts.getOrElse(f, 0L))).reduce(
        (a, b) => for (x <- a; y <- b) yield x + y)
      val bytes = fsOfTup.map(f => stats.get(f).flatMap(_.len).getOrElse(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)).sum
      org.apache.spark.sql.Row.fromSeq(
        tup ++ Seq(fsOfTup.size, nRows.orNull, bytes))
    }
    val schema = org.apache.spark.sql.types.StructType(
      spec.map(f => org.apache.spark.sql.types.StructField(
        s"${f.col}_${f.transform}", org.apache.spark.sql.types.StringType)) ++
      Seq(org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Table-level COLUMN PROFILE from PURE metadata (the ANALYZE TABLE
    * a 100 TB table can actually afford — zero data I/O): per column,
    * exact null count and typed min/max folded across the per-file
    * sidecar entries, plus NDV BOUNDS from the per-file HLL counts —
    * `ndv_lo` = max over files (every file's distincts exist in the
    * table), `ndv_hi` = sum over files (distincts can't exceed the
    * disjoint union) — the honest bracket metadata can give without a
    * global sketch merge. Columns missing stats in ANY file report
    * NULL for the affected measures rather than a wrong number. */
  def snapshotColumnProfile(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifestOf(spark, root, version)
    val (files, stats) = (m.files, m.stats)
    require(files.forall(stats.contains), s"version ${m.v} of $root lacks stats")
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val perFile = files.map(stats)
    val nRows = perFile.map(_.rows).sum
    def better(a: String, b: String, typ: String, wantMin: Boolean): String = {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.unsafe.types.UTF8String
      if (a == null) return b
      if (b == null) return a
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(typ)
      def lift(s: String) = Cast(
        Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType),
        dt, Option(tz), EvalMode.TRY)
      val aLeB = Option(LessThanOrEqual(lift(a), lift(b)).eval(InternalRow.empty))
        .exists(_ == true)
      if (aLeB == wantMin) a else b
    }
    val colNames = perFile.flatMap(_.cols.map(_.col)).distinct
    val rows = colNames.map { c =>
      val entries = perFile.map(_.cols.find(_.col == c))
      if (entries.exists(_.isEmpty)) {
        // column absent from some file's stats (pre-evolution files):
        // only the null count over covered files would mislead — NULLs
        val typ = entries.flatten.head.typ
        org.apache.spark.sql.Row(c, typ, null, null, null, null, null)
      } else {
        val cs = entries.flatten
        val typ = cs.head.typ
        val mn = cs.map(_.mn).reduce((a, b) => better(a, b, typ, wantMin = true))
        val mx = cs.map(_.mx).reduce((a, b) => better(a, b, typ, wantMin = false))
        val nulls = cs.map(_.nc).sum
        val (lo, hi) =
          if (cs.exists(_.ndv.isEmpty)) (null, null)
          else (java.lang.Long.valueOf(cs.map(_.ndv.get).max),
            java.lang.Long.valueOf(cs.map(_.ndv.get).sum))
        org.apache.spark.sql.Row(c, typ, mn, mx, java.lang.Long.valueOf(nulls), lo, hi)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("col", StringType, nullable = false),
      StructField("typ", StringType, nullable = false),
      StructField("min", StringType), StructField("max", StringType),
      StructField("nulls", LongType), StructField("ndv_lo", LongType),
      StructField("ndv_hi", LongType)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
      .withColumn("n_rows", lit(nRows))
  }

  /** The sidecar's column profile as CATALYST CBO STATISTICS — the
    * bridge that lets join reordering and broadcast decisions see real
    * numbers instead of raw file bytes, at ZERO data I/O (the sidecar
    * is already parsed for skipping). Per column: exact null count,
    * folded min/max for every type whose external-string form
    * round-trips through `CatalogColumnStat.fromExternalString`
    * (numerics, date, timestamp, boolean — r16; strings have no
    * catalog min/max form), avg/max string lengths (r16 — row-width
    * estimation), and NDV from the UNION of the per-file HLL sketches
    * (r16 — honest under cross-file repetition; the sum-clamp bracket
    * only as fallback for sketchless legacy/footer entries). Columns
    * are LOGICAL names (rename-proof), matching the read plan's
    * attributes. None when any file lacks stats (pre-sidecar history)
    * — CBO falls back to sizes rather than trusting a partial
    * profile. */
  def snapshotCatalogStats(spark: SparkSession, root: String,
      version: Option[Long] = None):
      Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] = {
    val (fs, r) = fsOf(spark, root)
    val vs = versionsAt(fs, r)
    if (vs.isEmpty) return None
    val m = manifestAt(fs, r, version.getOrElse(vs.last))
    val files = m.files
    val stats = statsLogical(m.stats, m.schema)
    if (files.isEmpty || !files.forall(stats.contains)) return None
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val perFile = files.map(stats)
    val rowCount = perFile.map(_.rows).sum
    val bytes = perFile.map(_.len.getOrElse(0L)).sum
    def better(a: String, b: String, typ: String, wantMin: Boolean): String = {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.unsafe.types.UTF8String
      if (a == null) return b
      if (b == null) return a
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(typ)
      def lift(s: String) = Cast(
        Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType),
        dt, Option(tz), EvalMode.TRY)
      val aLeB = Option(LessThanOrEqual(lift(a), lift(b)).eval(InternalRow.empty))
        .exists(_ == true)
      if (aLeB == wantMin) a else b
    }
    val numericTyp = raw"tinyint|smallint|int|bigint|float|double|decimal\(.*\)".r
    val colNames = perFile.flatMap(_.cols.map(_.col)).distinct
    val colStats = colNames.flatMap { c =>
      val entries = perFile.map(_.cols.find(_.col == c))
      if (entries.exists(_.isEmpty)) None
      else {
        val es = entries.flatten
        val typ = es.head.typ
        val nulls = BigInt(es.map(_.nc).sum)
        // HONEST table NDV (r16): union the per-file HLL sketches — a
        // column repeating the same values across files no longer
        // reports NDV ≈ values × files. Files without a sketch degrade
        // gracefully instead of disabling the profile: a file with a
        // recorded count contributes the count; a file with neither
        // (footer-path CoW batches record no NDV at all — which under
        // the pre-r16 rule silently erased the whole column's NDV
        // after ANY verb) contributes its non-null row count. Every
        // tier is a valid upper bound, each strictly tighter than the
        // next, and the rowCount clamp holds the lot.
        val ndvPairs = perFile.map(_.rows).zip(es)
        val ndv = {
          if (es.exists(_.hll.isDefined))
            unionNdvEstimate(ndvPairs, rowCount) // form-aware (r17)
          else if (es.exists(_.ndv.isEmpty)) None
          else Some(BigInt(math.min(es.map(_.ndv.get).sum, math.max(rowCount, 1L))))
        }
        // min/max are served where CatalogColumnStat's EXTERNAL string
        // form provably round-trips (fromExternalString): numerics,
        // plus date/timestamp/boolean whose CAST-AS-STRING rendering is
        // exactly the external format (r16) — range predicates on event
        // time, the most common filter at 100 TB, stop getting default
        // selectivity. Strings keep NDV+nulls+lengths (Spark's catalog
        // stores no string min/max).
        // Catalog timestamps parse back with a MANDATORY 6-digit
        // fraction ("yyyy-MM-dd HH:mm:ss.SSSSSS"); CAST-AS-STRING drops
        // a zero fraction — pad to the external form.
        def external(s: String): String =
          if (s == null || typ != "timestamp") s
          else {
            val i = s.indexOf('.')
            if (i < 0) s + ".000000"
            else if (s.length - i - 1 >= 6) s.take(i + 7)
            else s + "0" * (6 - (s.length - i - 1))
          }
        val (mn, mx) =
          if (numericTyp.matches(typ) || typ == "date" || typ == "timestamp" ||
              typ == "boolean")
            (Option(es.map(_.mn).reduce((a, b) => better(a, b, typ, wantMin = true)))
               .map(external),
              Option(es.map(_.mx).reduce((a, b) => better(a, b, typ, wantMin = false)))
                .map(external))
          else (None, None)
        // avg/max length (string columns, r16): maxLen is the max over
        // files; avgLen the non-null-row-weighted mean, which the
        // sidecar's per-file rows/nulls make exact.
        // files with zero non-null rows (a CREATE TABLE's schema file,
        // all-null slices) legitimately record no lengths and must not
        // veto the profile; any file with values but no lengths does.
        val pairs = perFile.map(_.rows).zip(es)
        val lenMissing = pairs.exists { case (rows, e) =>
          rows - e.nc > 0 && (e.al.isEmpty || e.ml.isEmpty) }
        val maxLen: Option[Long] =
          if (lenMissing || es.forall(_.ml.isEmpty)) None
          else Some(es.flatMap(_.ml).max)
        val avgLen: Option[Long] = {
          val weighted = pairs.collect {
            case (rows, e) if e.al.isDefined && rows - e.nc > 0 =>
              (e.al.get * (rows - e.nc), rows - e.nc)
          }
          val nn = weighted.map(_._2).sum
          if (lenMissing || nn <= 0) None
          else Some(math.max(1L, weighted.map(_._1).sum / nn))
        }
        Some(c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
          distinctCount = ndv, min = mn, max = mx,
          nullCount = Some(nulls), avgLen = avgLen, maxLen = maxLen))
      }
    }.toMap
    Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
      sizeInBytes = BigInt(math.max(bytes, 1L)),
      rowCount = Some(BigInt(rowCount)), colStats = colStats))
  }

  /** PARTITION-AWARE compaction: rewrite only partitions fragmented
    * into >1 file (plus any pre-spec files, which MIGRATE into the
    * spec layout — tuples are re-derived from raw columns), carrying
    * every already-single-file partition by path. One commit; the
    * batch writer re-clusters so each rewritten partition lands
    * contiguous. The plain [[compactSnapshot]] would happily merge
    * January into one file with March and destroy the layout. */
  def compactSnapshotPartitioned(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      where: Option[Column] = None): Long = {
    val refs = snapshotRefs(spark, root)
    val spec = refs.spec
    require(spec.nonEmpty, s"no partition spec on $root")
    val head = headOf(spark, root)
    val (files, stats) = (head.files, head.stats)
    val activeId = refs.activeSpecId
    // PARTITION-SCOPED compaction (Delta's `OPTIMIZE … WHERE`): only
    // tuples the predicate may match rewrite — a trickle-writer's one
    // hot partition compacts without touching the rest of a 100 TB
    // layout. Scope resolves through the verbs' own planning rule
    // ([[filesMayMatch]]), so any predicate on spec SOURCE columns
    // works: stats envelopes prune identity partitions (each file's
    // source-column envelope IS its partition value), tuple pruning
    // handles bucket ordinals. Tuple-less files (pre-spec /
    // retired-spec) belong to no partition and stay out of a scoped
    // run — the unscoped spelling migrates them.
    val scoped = where.fold(files)(pred => filesMayMatch(spark, head, refs, pred)
      .filter(f => specIdOfPath(f) == activeId && filePartitionTuple(f).nonEmpty))
    val groups = scoped.groupBy(f =>
      // retired-spec files group as tuple-less -> they MIGRATE into
      // the active layout alongside pre-spec files
      if (specIdOfPath(f) == activeId) filePartitionTuple(f)
      else Map.empty[Int, Option[String]])
    val rewrite0 = groups.collect {
      case (t, fsOfTup) if t.isEmpty || fsOfTup.size > 1 => fsOfTup
    }.flatten.toSeq.sorted
    if (rewrite0.isEmpty) return head.v
    // ONE-PASS convergence: migrating rows (pre-spec / retired-spec
    // files) land in active tuples that may already hold a carried
    // single file — which would leave 2 files per tuple and force a
    // second pass. Derive the migrants' TARGET tuples (one distinct
    // aggregate over rows being rewritten anyway) and pull those
    // tuples' files into the rewrite too.
    val migrating = groups.collect {
      case (t, fsOfTup) if t.isEmpty => fsOfTup }.flatten.toSeq.sorted
    val rewrite: Seq[String] =
      if (migrating.isEmpty) rewrite0
      else {
        val committed = head.schema
        val mdf = readLiveFiles(spark, head, migrating)
        def declared(c: String) = committed
          .flatMap(cs => cs.fields.find(_.name == c)).map(_.dataType)
          .getOrElse(mdf.schema(c).dataType)
        val targets = mdf.select(spec.zipWithIndex.map { case (f, i) =>
            partitionColumn(f, declared(f.col)).cast("string").as(s"__t$i")
          }: _*).distinct().collect()
          .map(row => spec.indices.map(i =>
            Option(row.getString(i))).toIndexedSeq).toSet
        val extra = groups.collect {
          case (t, fsOfTup) if t.nonEmpty &&
            targets.contains(spec.indices.map(i => t.get(i).flatten).toIndexedSeq) =>
            fsOfTup
        }.flatten
        (rewrite0 ++ extra).distinct.sorted
      }
    val rewriteSet = rewrite.toSet
    val carried = files.filterNot(rewriteSet)
    // writeBatch hash-distributes by the tuple itself, so the rewrite
    // needs no pre-clustering here. targetBytes bounds rewritten file
    // size through spark.sql.files.maxRecordsPerFile, derived from the
    // sidecar's OWN rows/len averages over the files being rewritten —
    // a tuple that outgrows targetBytes splits instead of landing as
    // one giant file. Zero extra I/O: both numbers are already in the
    // stats the compactor holds.
    val rewriteStats = stats.collect {
      case (p, st) if rewriteSet(p) && st.len.isDefined && st.rows > 0 =>
        (st.rows, st.len.get)
    }
    val maxRecords: Option[Long] = {
      val (rows, bytes) = rewriteStats.foldLeft((0L, 0L)) {
        case ((rr, bb), (r2, b2)) => (rr + r2, bb + b2) }
      if (rows <= 0 || bytes <= 0) None
      else Some(math.max(1L, targetBytes / math.max(1L, bytes / rows)))
    }
    // DV-aware rewrite: folds this partition's deleted positions into
    // the clean files; carried partitions keep their #dv protection
    // via commitCow's dv carry (their DV rows stay path-valid).
    val newData = readLiveFiles(spark, head, rewrite)
    val confKey = "spark.sql.files.maxRecordsPerFile"
    val prior = spark.conf.getOption(confKey)
    maxRecords.foreach(n => spark.conf.set(confKey, n.toString))
    try commitCow(spark, head, refs, carried, newData,
      Seq("#compact:partitioned"), rewriteOf = Some(rewriteSet))
    finally prior match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  /** Throw [[SnapshotCheckViolation]] naming the first check (in the
    * given order) some row of `batch` evaluates FALSE: one job tests
    * them all, and only a violation pays a job per check to name it. */
  private def requireChecksHold(batch: DataFrame,
      checks: Seq[(String, String)]): Unit = {
    def violates(p: String) = coalesce(expr(p), lit(true)) === lit(false)
    if (checks.nonEmpty &&
        !batch.where(checks.map(c => violates(c._2)).reduce(_ || _)).isEmpty) {
      val (name, predicate) = checks.init
        .find { case (_, p) => !batch.where(violates(p)).isEmpty }
        .getOrElse(checks.last)
      throw new SnapshotCheckViolation(
        s"CHECK $name ($predicate) violated by the incoming batch")
    }
  }

  /** Validate `batch` against every CHECK in `refs`; called by the
    * write paths BEFORE any data lands, so a violation aborts with
    * zero cleanup. Columns of `head`'s committed schema ABSENT from
    * the batch (a schema-evolving feed may omit them — they land as
    * NULL) are aligned in as NULLs first, so a check on such a column
    * applies its SQL NULL-passes semantics instead of failing
    * resolution. `head` is None on a table with no version yet. */
  private def validateChecks(spark: SparkSession, root: String, refs: Refs,
      head: Option[Manifest], batch: DataFrame): Unit =
    if (refs.checks.nonEmpty) {
      val aligned = head.fold(batch)(h =>
        h.schema.getOrElse(readVersion(spark, root, h).schema).fields
          .filterNot(f => batch.columns.contains(f.name))
          .foldLeft(batch)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))))
      requireChecksHold(aligned, refs.checks)
    }

  /** Read the table as of a tag — [[readSnapshot]] with the version
    * resolved by name (data skipping via `predicate` included). */
  def readSnapshotTag(spark: SparkSession, root: String, name: String,
      predicate: Option[Column] = None): DataFrame =
    readSnapshot(spark, root, Some(resolveSnapshotTag(spark, root, name)),
      predicate = predicate)

  /** Zero-copy shallow CLONE (Delta's shallow clone / Iceberg's
    * snapshot branch-off): `dstRoot` becomes an independent snapshot
    * table whose v1 carries `srcRoot`'s version-`v` file list BY PATH —
    * no data bytes move, the stats sidecar is re-published so data
    * skipping works immediately, and every subsequent commit/merge/
    * delete on the clone rewrites into the CLONE's own data directory,
    * leaving the source untouched. The experimentation primitive at
    * 100 TB: fork the production corpus, run a destructive what-if
    * pipeline against the fork, throw it away — all metadata-priced.
    * The inherited hazard is Delta's, stated rather than hidden:
    * vacuuming the SOURCE can delete files the clone still references —
    * tag the cloned version on the source ([[tagSnapshot]]; vacuum
    * protects tags) to pin it for the clone's lifetime. */
  def cloneSnapshot(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val src = manifestOf(spark, srcRoot, version)
    val (sfs, sr) = (src.fs, src.r)
    val (dfs, dr) = fsOf(spark, dstRoot)
    require(versionsAt(dfs, dr).isEmpty,
      s"clone target $dstRoot already has snapshots")
    val statsName = writeStatsFile(spark, dfs, dr,
      src.stats.values.toSeq.sortBy(_.path))
    val schemaLine = src.schema.map(s => schemaLineOf(s)).toSeq
    val dvLines = copyDvSidecars(src, dfs, dr)
    val dstRefs = refsOf(dfs, dr)
    publishManifest(dfs, dr, 1L,
      Seq(s"#stats:$statsName") ++ schemaLine ++ dvLines ++ src.files, dstRefs)
    // The clone inherits the source's TABLE CONFIGURATION — CHECK
    // constraints, partition spec, bloom enrollment, sort order — or a
    // clone of a governed table would silently write unvalidated,
    // unpartitioned, unsorted batches. Tags and branch pins stay
    // behind: they name SOURCE versions the clone doesn't have. A
    // config the caller pre-set on the clone target wins — the copy
    // must not fail the clone after its manifest published.
    val srcRefs = refsOf(sfs, sr)
    val inherit = srcRefs.configFiles.filterNot(dstRefs.configFiles.contains)
    if (inherit.nonEmpty) dfs.mkdirs(refsDir(dr))
    inherit.foreach(n => claimExclusive(dfs, new org.apache.hadoop.fs.Path(refsDir(dr), n),
      srcRefs.text(n).get.getBytes("UTF-8"))) // racing pre-set: theirs wins
    1L
  }

  /** Where a branch's own snapshot line lives: a full table root under
    * the parent. */
  def snapshotBranchRoot(root: String, name: String): String =
    s"$root/_branches/$name"

  private def branchBaseTag(name: String) = s"branch-$name-base"

  /** Create a BRANCH — the safe experimentation workflow the shallow
    * clone alone can't give: fork the head into a table line of its
    * own under `root/_branches/<name>` (zero-copy, files carried by
    * path) AND pin the fork point with a tag, so the parent's vacuum
    * can never reap files the branch still references (the documented
    * clone hazard, closed by construction). Every snapshot operation —
    * CoW DML, CDC apply, time travel, its own tags — works on the
    * branch root directly; the parent is bit-undisturbed until
    * [[mergeSnapshotBranch]] fast-forwards it. Returns the branch
    * root. */
  def createSnapshotBranch(spark: SparkSession, root: String,
      name: String): String = {
    require(refName.matches(name), s"invalid branch name: $name")
    val base = snapshotVersions(spark, root).last
    tagSnapshot(spark, root, branchBaseTag(name), base)
    val br = snapshotBranchRoot(root, name)
    try cloneSnapshot(spark, root, br)
    catch { case e: Throwable =>
      deleteSnapshotTag(spark, root, branchBaseTag(name)); throw e
    }
    br
  }

  /** All branches on the table (names, from the pin tags). */
  def listSnapshotBranches(spark: SparkSession, root: String): Seq[String] =
    listSnapshotTags(spark, root).map(_._1)
      .filter(t => t.startsWith("branch-") && t.endsWith("-base"))
      .map(t => t.stripPrefix("branch-").stripSuffix("-base")).sorted

  /** FAST-FORWARD merge a branch back: publish the branch head's file
    * list (and stats) as the parent's next version — pure metadata,
    * no data moves (the branch's rewrites already live under the
    * parent's directory tree). Requires the parent head to still BE
    * the fork point: if the parent moved, a fast-forward would
    * silently discard its commits, so the merge throws and the caller
    * rebases (re-branch from the new head, re-apply) — the git
    * fast-forward contract. Drops the branch directory and its pin
    * tag on success. */
  def mergeSnapshotBranch(spark: SparkSession, root: String,
      name: String, meta: Seq[String] = Seq.empty): Long = {
    val v = publishBranchFF(spark, root, name, meta)
    branchCleanup(spark, root, name)
    v
  }

  /** The fast-forward PUBLISH half of [[mergeSnapshotBranch]] — split
    * (r17) so the cross-table transaction can flip N tables pending
    * and confirm them with one marker create before any branch
    * cleanup runs. */
  private def publishBranchFF(spark: SparkSession, root: String,
      name: String, meta: Seq[String]): Long = {
    val (fs, r) = fsOf(spark, root)
    val refs = refsOf(fs, r)
    val base = tagOf(refs, root, branchBaseTag(name))
    val head = versionsAt(fs, r).last
    if (head != base) throw new SnapshotConflictException(
      s"branch $name forked at v$base but $root is at v$head — " +
        "fast-forward would discard parent commits; rebase the branch")
    val b = headOf(spark, snapshotBranchRoot(root, name))
    val statsName = writeStatsFile(spark, fs, r, b.stats.values.toSeq.sortBy(_.path))
    val schemaLine = b.schema.map(s => schemaLineOf(s)).toSeq
    val dvLines = copyDvSidecars(b, fs, r)
    publishManifest(fs, r, head + 1,
      Seq(s"#stats:$statsName", s"#branch-merge:$name") ++ meta ++
        schemaLine ++ dvLines ++ b.files, refs)
    head + 1
  }

  /** Drop a merged branch's pin tag, manifests and refs. Its data
    * batches are now referenced by the parent's new version and must
    * survive (a later parent compaction migrates them into
    * root/data). */
  private def branchCleanup(spark: SparkSession, root: String,
      name: String): Unit = {
    val br = snapshotBranchRoot(root, name)
    val (fs, br2) = fsOf(spark, br)
    deleteSnapshotTag(spark, root, branchBaseTag(name))
    fs.delete(manifestDir(br2), true)
    fs.delete(refsDir(br2), true)
  }

  /** THREE-WAY branch merge — the diverged-parent case the
    * fast-forward refuses: reconcile by row against the common fork
    * base (git's merge-base semantics, done relationally):
    *
    *  - branch changes  = snapshotDiff(branch v1 → branch head)
    *  - parent changes  = snapshotDiff(parent base → parent head)
    *  - CONFLICTS       = keys modified on BOTH sides whose FINAL
    *    states actually DIFFER (value-aware: both deleting a key, or
    *    both writing the same row, is agreement, not a conflict) —
    *    `resolve = "fail"` (default) aborts listing them, `"branch"`
    *    lets the branch's version win, `"parent"` drops the branch's
    *    ops on conflicted keys.
    *  - the branch's surviving changes apply to the parent HEAD as one
    *    [[applyCdcSnapshot]] batch (upserts from the branch head,
    *    deletes by key) — ONE manifest flip, parent commits since the
    *    fork are preserved.
    *
    * A parent that did NOT move falls back to the pure-metadata
    * fast-forward. Cost ∝ the two diffs plus the touched files —
    * never the table. Drops the branch on success (its rewrites were
    * re-landed into the parent's own data dir by the CDC apply, so
    * the whole branch dir is unreferenced). */
  /** The CDC batch (`_op` U/D) of a branch's EFFECTIVE row changes
    * since its fork, conflict-resolved against the parent's own
    * changes — the shared reconciliation engine of [[mergeSnapshotBranch3Way]]
    * (apply to the parent) and [[rebaseSnapshotBranch]] (apply to a
    * fresh fork of the parent head). Conflicts are VALUE-AWARE: a key
    * modified on both sides counts only when the two FINAL states
    * actually differ — both deleting a key, or both writing the same
    * row, is agreement, not a conflict. */
  private def branchChangeBatch(spark: SparkSession, root: String,
      name: String, pk: String, resolve: String,
      base: Long, head: Long): DataFrame = {
    val br = snapshotBranchRoot(root, name)
    val bHead = snapshotVersions(spark, br).last
    val bd = snapshotDiff(spark, br, 1L, bHead, pk)
      .where(col("change") =!= "unchanged")
      .select(col(pk), col("change").as("bstat"))
    val pd = snapshotDiff(spark, root, base, head, pk)
      .where(col("change") =!= "unchanged")
      .select(col(pk), col("change").as("pstat"))
    val overlap = bd.join(pd, Seq(pk))
    val bFin = readSnapshot(spark, br, Some(bHead), mergeSchema = true)
    val pFin = readSnapshot(spark, root, Some(head), mergeSchema = true)
    val vcols = (bFin.columns ++ pFin.columns).distinct.filterNot(_ == pk).sorted
    def packedFin(df: DataFrame, other: DataFrame, side: String) = {
      val aligned = vcols.foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(other.schema(c).dataType))
      }
      aligned.select(col(pk), struct(vcols.map(col): _*).as(s"fin_$side"))
    }
    val conflicts = overlap
      .join(packedFin(bFin, pFin, "b"), Seq(pk), "left_outer")
      .join(packedFin(pFin, bFin, "p"), Seq(pk), "left_outer")
      .where(!(col("fin_b") <=> col("fin_p")))
      .select(col(pk), col("bstat"), col("pstat"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val effective = resolve match {
        case "fail" =>
          val cs = conflicts.limit(11).collect()
          if (cs.nonEmpty) throw new SnapshotConflictException(
            s"branch $name: ${cs.length}${if (cs.length > 10) "+" else ""} key(s) " +
              s"modified on both sides since fork v$base (e.g. " +
              cs.take(3).map(r => s"${r.get(0)}:${r.getString(1)}/${r.getString(2)}")
                .mkString(", ") + ") — resolve with resolve=branch|parent")
          bd
        case "branch" => bd
        case "parent" => bd.join(conflicts.select(pk), Seq(pk), "left_anti")
      }
      val upKeys = effective.where(col("bstat") =!= "removed").select(pk)
      val delKeys = effective.where(col("bstat") === "removed").select(pk)
      val upserts = readSnapshot(spark, br, Some(bHead), mergeSchema = true)
        .join(upKeys, Seq(pk), "left_semi").withColumn("_op", lit("U"))
      val dels = readSnapshot(spark, br, Some(1L), mergeSchema = true)
        .join(delKeys, Seq(pk), "left_semi").withColumn("_op", lit("D"))
      // materialize BEFORE the caller mutates either table line: the
      // batch's lineage reads both the branch and the parent
      upserts.unionByName(dels, allowMissingColumns = true).localCheckpoint()
    } finally conflicts.unpersist(blocking = false)
  }

  def mergeSnapshotBranch3Way(spark: SparkSession, root: String,
      name: String, pk: String, resolve: String = "fail"): Long = {
    require(Set("fail", "branch", "parent")(resolve),
      s"resolve must be fail|branch|parent, got $resolve")
    val base = resolveSnapshotTag(spark, root, branchBaseTag(name))
    val head = snapshotVersions(spark, root).last
    if (head == base) return mergeSnapshotBranch(spark, root, name)
    val batch = branchChangeBatch(spark, root, name, pk, resolve, base, head)
    val v = applyCdcSnapshot(spark, root, batch, pk,
      meta = Seq(s"#branch-merge3:$name"))
    deleteSnapshotTag(spark, root, branchBaseTag(name))
    val (fs, _) = fsOf(spark, root)
    fs.delete(new org.apache.hadoop.fs.Path(snapshotBranchRoot(root, name)), true)
    v
  }

  /** REBASE a branch onto the moved parent head — git's rebase for
    * table lines, closing the documented manual-rebase gap in the
    * fast-forward contract: the branch's effective row changes since
    * its fork (same value-aware conflict engine as the 3-way merge,
    * same fail|branch|parent policies) replay as ONE CDC apply onto a
    * FRESH fork of the parent head, which then REPLACES the branch
    * line; the fork tag repoints to the parent head, so a subsequent
    * [[mergeSnapshotBranch]] fast-forwards cleanly. Like git, rebase
    * REWRITES the branch's history — its old intermediate versions and
    * branch-local tags do not survive (the parent is untouched).
    * Returns the rebased branch's head version (1 = fork + the replay
    * commit when the branch had changes). QUIESCED operation on the
    * branch line, like every DDL-shaped verb. */
  def rebaseSnapshotBranch(spark: SparkSession, root: String,
      name: String, pk: String, resolve: String = "fail"): Long = {
    require(Set("fail", "branch", "parent")(resolve),
      s"resolve must be fail|branch|parent, got $resolve")
    val base = resolveSnapshotTag(spark, root, branchBaseTag(name))
    val head = snapshotVersions(spark, root).last
    val br = snapshotBranchRoot(root, name)
    if (head == base) return snapshotVersions(spark, br).last // already current
    val batch = branchChangeBatch(spark, root, name, pk, resolve, base, head)
    // build the rebased line beside the branch, then swap: the replay
    // lands its batch under the tmp root, and renameSnapshotTable's
    // path migration re-roots it when tmp takes the branch's name
    val tmp = s"$br.rebase${System.nanoTime()}"
    cloneSnapshot(spark, root, tmp)
    val v =
      if (batch.isEmpty) snapshotVersions(spark, tmp).last
      else applyCdcSnapshot(spark, tmp, batch, pk,
        meta = Seq(s"#branch-rebase:$name"))
    val (fs, _) = fsOf(spark, root)
    fs.delete(new org.apache.hadoop.fs.Path(br), true)
    renameSnapshotTable(spark, tmp, br)
    deleteSnapshotTag(spark, root, branchBaseTag(name))
    tagSnapshot(spark, root, branchBaseTag(name), head)
    v
  }

  /** Abandon a branch: remove its directory and release the fork-point
    * pin. The parent is untouched (it never saw the branch). */
  def dropSnapshotBranch(spark: SparkSession, root: String, name: String): Unit = {
    val (fs, r) = fsOf(spark, root)
    deleteSnapshotTag(spark, root, branchBaseTag(name))
    fs.delete(new org.apache.hadoop.fs.Path(snapshotBranchRoot(root, name)), true)
  }

  /** Multi-statement TRANSACTION on one table — `BEGIN … COMMIT` over
    * any number of verbs as ONE reader-visible manifest flip (r16
    * stretch). `body` receives a PRIVATE fork of the head (a zero-copy
    * branch) and runs ordinary verbs against it — MERGE, DELETE,
    * UPDATE, appends, CDC applies — seeing its own intermediate
    * states; readers of `root` see NOTHING until the commit, which is
    * [[mergeSnapshotBranch]]'s pure-metadata fast-forward: the
    * composed result lands as a single version, all-or-nothing. The
    * segment + batch machinery keeps the composed commit cheap — the
    * branch's data batches are referenced in place, no data moves.
    *
    * Isolation is strict snapshot-level: a concurrent commit to `root`
    * between fork and commit aborts the transaction
    * ([[SnapshotConflictException]]) with the fork dropped and NO
    * trace; `maxRetries > 0` re-runs `body` on a fresh fork of the new
    * head (body must therefore be a pure function of its branch — the
    * same replan contract the verbs document). A `body` exception
    * aborts and rethrows, root untouched. Returns the committed
    * version.
    *
    * `scope` opts the transaction into the VERB-grade serializable
    * retry (r16): on a lost race, if every file the racer(s) added is
    * provably outside `scope` — and the race is otherwise harmless
    * (consumed files alive, parent schema unchanged, no new delete
    * content over consumed files) — the transaction's already-written
    * result re-publishes against the new head METADATA-ONLY, without
    * re-running the body: the difference between a nightly multi-verb
    * backfill that lands under steady ingest and one that re-pays its
    * whole body per racer. CALLER CONTRACT: `scope` must cover every
    * key/predicate any verb in the body touches or reads — an
    * under-scoped claim breaks serializability the same way a wrong
    * `replaceWhere` predicate would. The fast path engages for
    * pure-CoW bodies AND bodies that ADDED MoR delete sidecars (r17:
    * the grafted lines path-migrate onto the racer's head exactly as
    * the fast-forward migrates them, provided every file they still
    * cover is alive there); a body that DROPPED sidecar lines from
    * its fork copy (compacted/folded MoR content mid-transaction)
    * keeps the strict abort/replan. `meta` lines stamp the final
    * reader-visible flip, whichever commit path lands it. */
  def transactSnapshot(spark: SparkSession, root: String,
      maxRetries: Int = 0, scope: Option[Column] = None,
      meta: Seq[String] = Seq.empty)(
      body: String => Unit): Long = {
    var attempt = 0
    while (true) {
      val name = s"tx${writerToken()}"
      val br = createSnapshotBranch(spark, root, name)
      try body(br)
      catch {
        case e: Throwable =>
          dropSnapshotBranch(spark, root, name)
          throw e
      }
      try return mergeSnapshotBranch(spark, root, name, meta)
      catch {
        case e: SnapshotConflictException =>
          scope.foreach { pred =>
            try return commitBranchRevalidated(spark, root, name, pred, e, meta)
            catch { case _: SnapshotConflictException => /* fall through */ }
          }
          dropSnapshotBranch(spark, root, name)
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** CROSS-TABLE TRANSACTION (r17 stretch) — N verbs over N tables as
    * ONE atomically reader-visible event (the catalog-level commit a
    * fact-table-plus-MV pipeline needs: no reader ever sees the fact
    * flipped and the MV stale). Protocol, entirely in the manifest
    * format's own primitives:
    *
    *  1. FORK every root (zero-copy branch, fork pinned by tag) in
    *     sorted-root order; `body` receives the branch roots in the
    *     CALLER's order and runs ordinary verbs against them.
    *  2. PUBLISH PENDING: each root's fast-forward manifest lands in
    *     its next version slot carrying a `#txmarker:<txid>:<path>`
    *     line naming a marker file that does not exist yet. A pending
    *     manifest CLAIMS its slot (concurrent writers keep losing the
    *     create-exclusive race until the tx resolves — bounded by
    *     their own maxRetries) but is INVISIBLE to every reader
    *     ([[versionsAt]] hides a trailing unconfirmed head, timestamp
    *     travel intersects with it).
    *  3. CONFIRM: one atomic create of the marker file (under the
    *     first sorted root's `_refs/tx/`). That single filesystem
    *     event makes ALL N flips visible at once — there is no
    *     instant at which a reader can observe a proper subset.
    *  4. Branch cleanup (pins, manifests, refs — data batches are now
    *     referenced by the parents).
    *
    * Any lost publish race deletes the already-published pending
    * manifests (invisible, so the undo is unobservable), drops every
    * fork, and — under `maxRetries` — re-runs `body` on fresh forks
    * of the new heads; otherwise the [[SnapshotConflictException]]
    * propagates with all N tables untouched. A COORDINATOR CRASH
    * between publish and confirm leaves unconfirmed pending manifests
    * behind: readers never see them, writers are told to retry, and
    * vacuum reaps them like torn manifests once aged (the marker is
    * re-checked at reap time, so a slow confirm is never mistaken for
    * a dead one). All roots must live on one FileSystem (the marker
    * existence check crosses roots). Returns root → committed
    * version. */
  def transactSnapshotMulti(spark: SparkSession, roots: Seq[String],
      maxRetries: Int = 0)(body: Seq[String] => Unit): Map[String, Long] = {
    require(roots.nonEmpty, "transactSnapshotMulti needs at least one root")
    require(roots.distinct.size == roots.size,
      s"duplicate roots in cross-table transaction: $roots")
    // the marker existence check crosses roots — a root on a DIFFERENT
    // FileSystem would never see the coordinator's marker and its
    // confirmed flip would stay invisible forever; fail fast instead
    val fsUris = roots.map(rt => fsOf(spark, rt)._1.getUri).distinct
    require(fsUris.size == 1,
      s"cross-table transaction roots must share one FileSystem, got $fsUris")
    val sorted = roots.sorted
    var attempt = 0
    while (true) {
      val txid = writerToken()
      val name = s"mtx$txid"
      // a fork failure on root k must not leak branches 1..k-1
      val forked = scala.collection.mutable.ArrayBuffer.empty[String]
      try sorted.foreach { rt =>
        createSnapshotBranch(spark, rt, name); forked += rt
      } catch {
        case e: Throwable =>
          forked.foreach(rt =>
            scala.util.Try(dropSnapshotBranch(spark, rt, name)))
          throw e
      }
      try body(roots.map(rt => snapshotBranchRoot(rt, name)))
      catch {
        case e: Throwable =>
          // best-effort per root: one failing drop must not leak the
          // others' branches or mask the body's real failure
          sorted.foreach(rt =>
            scala.util.Try(dropSnapshotBranch(spark, rt, name)))
          throw e
      }
      val (cfs, cr) = fsOf(spark, sorted.head)
      val marker = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(refsDir(cr), "tx"), txid)
      val markerLine = s"#txmarker:$txid:" + org.apache.hadoop.fs.Path
        .getPathWithoutSchemeAndAuthority(cfs.makeQualified(marker))
      val published = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      // THE commit point is the marker CREATE. Everything after it —
      // marker content, branch cleanup — is best-effort bookkeeping on
      // a transaction that already durably committed: a failure there
      // must NOT reach the undo below (which would delete CONFIRMED,
      // reader-visible manifests) and must not tell the caller the tx
      // failed (a replay would double-apply the body).
      var confirmed = false
      try {
        sorted.foreach { rt =>
          published += rt -> publishBranchFF(spark, rt, name,
            Seq(markerLine, s"#mtx:$txid"))
        }
        Option(mtxConfirmFault.remove(sorted.head)).foreach(_.run())
        // Re-verify every pending manifest still exists IMMEDIATELY
        // before the commit point: a coordinator stalled past a
        // concurrent vacuum's grace window could have had an aged
        // pending reaped — confirming then would flip a proper subset
        // and report success. The re-check bounds that staleness to
        // the instants between here and the create (vs the age-based
        // horizon bounding everything before).
        published.foreach { case (rt, v) =>
          val (fs2, r2) = fsOf(spark, rt)
          if (!fs2.exists(new org.apache.hadoop.fs.Path(
              manifestDir(r2), s"v$v.manifest")))
            throw new SnapshotConflictException(
              s"pending manifest v$v of $rt vanished before confirm " +
                "(vacuum grace exceeded?) — cross-table tx aborted")
        }
        cfs.mkdirs(marker.getParent)
        // A reap INTENT at the marker path means a concurrent vacuum
        // judged our pendings aged (this coordinator stalled past the
        // grace window) and is claiming the marker with a tombstone
        // (r18, ADVICE): abort to a fresh txid rather than race it.
        if (scala.util.Try(cfs.exists(txReapIntentPath(marker)))
            .getOrElse(false))
          throw new SnapshotConflictException(
            s"marker of tx $txid claimed by a concurrent vacuum reap " +
              "— cross-table tx aborted")
        // The create IS the commit. If the client call throws but the
        // file materialized server-side anyway (object-store retry
        // edge), a reader may already have observed the commit — so
        // on ANY create failure, consult the marker STATE before
        // deciding (r18): confirmed ⇒ our create landed, proceed;
        // reaped ⇒ a vacuum won the claim atomically, abort; truly
        // absent ⇒ the undo below stays unobservable.
        val out =
          try cfs.create(marker, false)
          catch {
            case e: Throwable =>
              txMarkerStateOf(cfs, marker) match {
                case TxMarkerConfirmed => null
                case TxMarkerReaped => throw new SnapshotConflictException(
                  s"marker of tx $txid claimed by a concurrent vacuum " +
                    "reap — cross-table tx aborted")
                case TxMarkerAbsent => throw e
              }
          }
        val content = s"${published.map { case (rt, v) => s"$rt@v$v" }
          .mkString("\n")}\n".getBytes("UTF-8")
        if (out != null) {
          // Content is diagnostic EXCEPT beside a racing vacuum claim:
          // an empty marker next to a reap intent reads as REAPED, so
          // a confirm that cannot land its content while an intent
          // exists must resolve as LOST — safe because no reader can
          // have observed it confirmed (the content never landed) —
          // instead of returning success for a flip every reader will
          // forever classify as reaped. Retry once by overwrite (we
          // own the path after winning the create).
          var ok = scala.util.Try {
            try out.write(content) finally out.close() }.isSuccess
          if (!ok) ok = scala.util.Try {
            val o2 = cfs.create(marker, true)
            try o2.write(content) finally o2.close() }.isSuccess
          if (!ok && scala.util.Try(cfs.exists(txReapIntentPath(marker)))
              .getOrElse(false)) {
            scala.util.Try(cfs.delete(marker, false))
            throw new SnapshotConflictException(
              s"marker content of tx $txid unwritable beside a vacuum " +
                "reap intent — cross-table tx aborted")
          }
        }
        confirmed = true
        // ECHO the confirmation under every participant's own
        // `_refs/tx/` (best-effort — txPendingFromLines repairs a
        // missing echo on first read): after this, no table's
        // visibility depends on the coordinator root still existing.
        published.foreach { case (rt, _) =>
          scala.util.Try {
            val (fs2, r2) = fsOf(spark, rt)
            val echo = new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(refsDir(r2), "tx"), txid)
            if (!fs2.exists(echo)) {
              fs2.mkdirs(echo.getParent)
              val o2 = fs2.create(echo, false)
              try o2.write("confirmed\n".getBytes("UTF-8")) finally o2.close()
            }
          }
        }
        sorted.foreach(rt =>
          scala.util.Try(branchCleanup(spark, rt, name)).failed.foreach(t =>
            System.err.println(s"[graft] post-commit branch cleanup of " +
              s"$rt#$name failed (tx $txid committed; clean up manually): $t")))
        return published.toMap
      } catch {
        case e: Throwable if !confirmed =>
          // undo is unobservable: the pending manifests were invisible.
          // Defensive marker delete first — if create() threw AFTER
          // materializing the file (fs edge), this returns the
          // manifests to pending-invisible before they are removed.
          // NEVER a vacuum's reap tombstone, though (r18): that claim
          // is the vacuum's standing proof this txid cannot confirm.
          if (txMarkerStateOf(cfs, marker) != TxMarkerReaped)
            scala.util.Try(cfs.delete(marker, false))
          // each delete best-effort (r18, ADVICE): pending manifests
          // are invisible and vacuum-reapable anyway — one filesystem
          // failure here must not skip the remaining deletes or the
          // branch-drop loop below, leaking fork branches whose base
          // tags pin vacuum retention until manual cleanup
          published.foreach { case (rt, v) =>
            scala.util.Try {
              val (fs2, r2) = fsOf(spark, rt)
              fs2.delete(new org.apache.hadoop.fs.Path(
                manifestDir(r2), s"v$v.manifest"), false)
            }
          }
          sorted.foreach(rt =>
            scala.util.Try(dropSnapshotBranch(spark, rt, name)))
          e match {
            case _: SnapshotConflictException if attempt < maxRetries =>
              attempt += 1
            case _ => throw e
          }
      }
    }
    Map.empty // unreachable
  }

  /** TEST-ONLY one-shot fault point for the cross-table transaction:
    * fires right BEFORE the marker create on the given coordinator
    * (first sorted) root — the window in which all N flips are
    * published but none is visible. Production-inert: an empty map
    * costs one lock-free lookup per multi-tx commit. */
  private[graft] val mtxConfirmFault =
    new java.util.concurrent.ConcurrentHashMap[String, Runnable]()

  /** The transaction's verb-grade revalidated commit (see
    * [[transactSnapshot]]'s `scope`): treat the WHOLE branch as one
    * composite verb — consumed = fork files the branch dropped, new =
    * files the branch wrote — and run the same
    * [[republishPinnedRewrite]] validation the verbs use, pinned at
    * the FORK version (which the branch base tag protects from
    * vacuum).
    *
    * MoR content the body ADDED grafts onto the racer's head (r17):
    * the branch-local `#dv:`/`#eqdel:` sidecars path-migrate into the
    * parent's `_deletes/` (the fast-forward's own migration) and
    * publish alongside the head's carried lines. Serializable under
    * the same proof the CoW side runs, plus one more obligation:
    * every file a grafted line still covers must be ALIVE on the new
    * head (a racer that rewrote it would strand those deletes — its
    * rewritten file materialized the rows un-deleted). Racer sidecars
    * over the same files are harmless — positional/equality delete
    * application is a union, and unioning both sides' deletes IS the
    * serial (racer, tx) result given the scope proof that the racer
    * added no row in the tx's scope. A branch that DROPPED sidecar
    * lines from its fork copy (folded MoR content mid-tx) has no safe
    * graft — strict abort stands. */
  private def commitBranchRevalidated(spark: SparkSession, root: String,
      name: String, scope: Column,
      original: SnapshotConflictException,
      meta: Seq[String] = Seq.empty): Long = {
    val b = headOf(spark, snapshotBranchRoot(root, name))
    val (bfs, br2) = (b.fs, b.r)
    val (fs, r) = fsOf(spark, root)
    val bDvFork = (if (b.v == 1L) b else manifestAt(bfs, br2, 1L)).deleteLines.toSet
    val bDvHead = b.deleteLines.toSet
    if ((bDvFork -- bDvHead).nonEmpty) throw original
    val dvAdded = (bDvHead -- bDvFork).toSeq.sorted
    val schemaLine = b.schema.map(schemaLineOf).getOrElse(throw original)
    val refs = refsOf(fs, r)
    val fork = manifestAt(fs, r, tagOf(refs, root, branchBaseTag(name)))
    val forkFiles = fork.files.toSet
    val bFiles = b.files
    val consumed = forkFiles -- bFiles.toSet
    val newFiles = bFiles.filterNot(forkFiles)
    val newStats = b.stats
      .collect { case (p, st) if newFiles.contains(p) => st }.toSeq
    // Targets a grafted line still covers = its referenced paths that
    // are still in the BRANCH head's list (a path a later branch verb
    // consumed is validated through `consumed`; one the branch itself
    // wrote and kept is validated as alive like any fork target).
    val liveTargets =
      if (dvAdded.isEmpty) Set.empty[String]
      else deleteLineTargets(spark, br2, dvAdded, bFiles)
        .intersect(bFiles.toSet) -- newFiles.toSet
    val migrated = migrateDeleteLines(bfs, br2, dvAdded, fs, r)
    def dropMigrated(): Unit = migrated.foreach { l =>
      val n = if (l.startsWith("#dv:")) l.stripPrefix("#dv:")
        else parseEqDel(l.stripPrefix("#eqdel:"))._1
      fs.delete(new org.apache.hadoop.fs.Path(deletesDir(r), n), true)
    }
    val v =
      try republishPinnedRewrite(spark, fork, refs, consumed, newFiles,
        newStats, schemaLine, meta = Seq(s"#txn-merge:$name") ++ meta,
        carriesLines = true, original,
        scopeDisjoint =
          Some(org.apache.spark.sql.GraftColumnBridge.expression(scope)),
        mustStayLive = liveTargets, extraDvLines = migrated,
        racerDeletesOutOfScope = true)
      catch { case e: Throwable => dropMigrated(); throw e }
    // same cleanup contract as the fast-forward: the branch's data
    // batches are now REFERENCED by the parent's new version — drop
    // only its manifest line, refs, and fork pin (a later parent
    // compaction migrates the data into root/data).
    deleteSnapshotTag(spark, root, branchBaseTag(name))
    fs.delete(manifestDir(br2), true)
    fs.delete(refsDir(br2), true)
    v
  }

  /** The compaction two-rename swap (see [[compactParquet]]'s scope
    * notes): `tmp` replaces `d`, restore-on-failed-swap-in, trash
    * removed last. Shared with the streaming z-sink's re-clustering
    * compaction. */
  private[graft] def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val trash = new Path(d.getParent, d.getName + ".old" + System.nanoTime())
    require(fs.rename(d, trash), s"compaction swap-out failed for $d")
    if (!fs.rename(tmp, d)) {
      fs.rename(trash, d)
      throw new IllegalStateException(
        s"compaction swap-in failed for $d; original restored")
    }
    fs.delete(trash, true)
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `graft_snapshot('<root>'[, <version>])` — the snapshot table as a
  * SQL TABLE-VALUED FUNCTION, so a pure-SQL client (Thrift/Connect,
  * notebook `%sql`) reads versioned tables with no Scala call site at
  * all:
  *
  * {{{
  *   SELECT * FROM graft_snapshot('/data/orders')            -- head
  *   SELECT * FROM graft_snapshot('/data/orders', 3)         -- time travel
  *   SELECT * FROM graft_snapshot('/data/orders', 'rel-v1')  -- by TAG
  *   SELECT ... FROM graft_snapshot('/data/orders') WHERE k = 5
  * }}}
  *
  * A non-numeric second argument resolves as an immutable TAG name —
  * "the corpus this model trained on" is readable by NAME from pure
  * SQL, completing the release-pinning loop tags opened.
  *
  * The TVF resolves at ANALYSIS time to [[GraftCatalog.readSnapshotAuto]]'s
  * Catalyst-integrated relation, so the WHERE in the third form
  * data-skips through the manifest stats exactly like the DataFrame
  * path — SQL users get the Iceberg behavior for free. Arguments must
  * be literals (a TVF's table identity has to be known at planning).
  * Registered by name in [[graft.functions.GraftFunctions]]' table.
  */
object GraftTvf {

  /** First-argument resolution shared by every TVF: an absolute root
    * path (or URI) passes through; anything else is tried as a
    * `catalog.ns….tbl` identifier against the session's own catalog
    * plugins — `graft_snapshot('graft.db.orders', 3)` and
    * `graft_snapshot('/data/orders', 3)` are the same read. Unresolved
    * identifiers fall back to the raw string (the historical contract:
    * the argument IS the root), so error messages stay the familiar
    * "no snapshots published under …". */
  private def rootArg(e: Expression): String = {
    val s = String.valueOf(e.eval())
    if (s.startsWith("/") || s.contains("://")) s
    else {
      val parts = s.split('.').toSeq
      (if (parts.size >= 2)
        scala.util.Try(SparkSession.active.sessionState.catalogManager
          .catalog(parts.head)).toOption
          .collect { case g: GraftTableCatalog => g }
          .flatMap(_.tableRootOf(parts.tail))
      else None).getOrElse(s)
    }
  }

  private[graft] val snapshotBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.nonEmpty && args.size <= 2,
      "graft_snapshot(root[, version]) takes 1 or 2 arguments")
    require(args.forall(_.foldable),
      "graft_snapshot arguments must be literals")
    val root = rootArg(args.head)
    val spark = SparkSession.active
    // Second-arg resolution is TYPE-directed: an integer literal is a
    // version; a TIMESTAMP literal time-travels via snapshotVersionAsOf
    // (Catalyst timestamps eval to epoch micros); a string literal is
    // a TAG first — tag names may be all-digit ('2024'), and resolving
    // digits as versions first would silently read version 2024
    // instead of the tagged snapshot — with a version-number fallback
    // only when no such tag exists.
    val version = args.lift(1).map { v =>
      import org.apache.spark.sql.types._
      v.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          String.valueOf(v.eval()).toLong
        case TimestampType | TimestampNTZType =>
          GraftCatalog.snapshotVersionAsOf(spark, root,
            v.eval().asInstanceOf[Long] / 1000L)
        case _ =>
          val s = String.valueOf(v.eval())
          scala.util.Try(GraftCatalog.resolveSnapshotTag(spark, root, s))
            .getOrElse(s.toLongOption.getOrElse(
              throw new NoSuchElementException(
                s"'$s' is neither a tag on $root nor a version number")))
      }
    }
    GraftCatalog.readSnapshotAuto(spark, root, version).queryExecution.logical
  }

  /** `graft_snapshot_changes('<root>', fromV, toV)` — the table's CDC
    * changelog as a TVF: [[GraftCatalog.readChanges]]' file-level
    * stream ((fromV, toV]; `insert` rows from files a version added,
    * `delete` rows from files it removed, tagged `_change`/`_version`)
    * with no Scala call site, so a pure-SQL consumer reads
    * "what did last night's commits do" directly:
    *
    * {{{
    *   SELECT _version, _change, count(*) n
    *   FROM graft_snapshot_changes('/data/orders', 3, 7)
    *   GROUP BY 1, 2 ORDER BY 1, 2
    * }}}
    */
  private[graft] val changesBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.size == 3,
      "graft_snapshot_changes(root, fromV, toV) takes 3 arguments")
    require(args.forall(_.foldable),
      "graft_snapshot_changes arguments must be literals")
    val root = rootArg(args.head)
    val fromV = String.valueOf(args(1).eval()).toLong
    val toV = String.valueOf(args(2).eval()).toLong
    val spark = SparkSession.active
    GraftCatalog.readChanges(spark, root, fromV, toV).queryExecution.logical
  }

  /** `graft_snapshot_history('<root>')` — DESCRIBE HISTORY as a TVF:
    * the commit log (version, time, file/row/byte counts, net file
    * delta, meta tags) from pure metadata, for the SQL-only operator
    * dashboard. */
  private[graft] val historyBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.size == 1, "graft_snapshot_history(root) takes 1 argument")
    require(args.forall(_.foldable),
      "graft_snapshot_history arguments must be literals")
    GraftCatalog.describeSnapshotHistory(SparkSession.active,
      rootArg(args.head)).queryExecution.logical
  }

  /** `graft_snapshot_partitions('<root>')` — DESCRIBE PARTITIONS as a
    * TVF: per-partition file/row/byte counts from path tuples × the
    * stats sidecar, zero parquet opens — "which months are skewed" as
    * one SQL text. */
  private[graft] val partitionsBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.size == 1, "graft_snapshot_partitions(root) takes 1 argument")
    require(args.forall(_.foldable),
      "graft_snapshot_partitions arguments must be literals")
    GraftCatalog.describeSnapshotPartitions(SparkSession.active,
      rootArg(args.head)).queryExecution.logical
  }

  /** `graft_snapshot_files('<root>'[, version])` — DESCRIBE FILES as a
    * TVF: the physical layout (per-file rows/bytes/mtime, writing spec
    * id, rendered partition tuple, DV-deleted row count) from pure
    * metadata — the compaction/DV dashboard with no Scala call site. */
  private[graft] val filesBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.nonEmpty && args.size <= 2,
      "graft_snapshot_files(root[, version]) takes 1 or 2 arguments")
    require(args.forall(_.foldable),
      "graft_snapshot_files arguments must be literals")
    GraftCatalog.describeSnapshotFiles(SparkSession.active,
      rootArg(args.head),
      args.lift(1).map(v => String.valueOf(v.eval()).toLong))
      .queryExecution.logical
  }

  /** `graft_snapshot_spj('<root>')` — the storage-partitioned read as
    * a TVF: a pure-SQL join of two same-bucket-spec snapshot tables on
    * the bucket column plans shuffle-free under
    * `spark.sql.sources.v2.bucketing.enabled`. */
  private[graft] val spjBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.nonEmpty && args.size <= 2,
      "graft_snapshot_spj(root[, version]) takes 1 or 2 arguments")
    require(args.forall(_.foldable),
      "graft_snapshot_spj arguments must be literals")
    GraftCatalog.readSnapshotSpj(SparkSession.active,
      rootArg(args.head),
      args.lift(1).map(v => String.valueOf(v.eval()).toLong))
      .queryExecution.logical
  }

  /** `graft_snapshot_cursors('<root>')` — the registered stream
    * cursors (retention floors) as (cursor, pinned_version) rows: the
    * operator view before a vacuum, and the input to
    * `CALL graft.system.drop_cursor` for abandoned streams. */
  private[graft] val cursorsBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.size == 1, "graft_snapshot_cursors(root) takes 1 argument")
    require(args.forall(_.foldable),
      "graft_snapshot_cursors arguments must be literals")
    val spark = SparkSession.active
    import spark.implicits._
    GraftCatalog.listStreamCursors(spark, rootArg(args.head)).toSeq.sorted
      .toDF("cursor", "pinned_version").queryExecution.logical
  }

  /** `graft_vacuum_dry_run('<root>', keepFrom[, graceMs])` — everything
    * a vacuum with these parameters WOULD reap, as (kind, item) rows,
    * from metadata only: the operator-confidence probe before the
    * irreversible sweep. Respects tags and stream cursors exactly like
    * the real vacuum (it runs the same planner). */
  private[graft] val vacuumDryRunBuilder: Seq[Expression] => LogicalPlan = { args =>
    require(args.size == 2 || args.size == 3,
      "graft_vacuum_dry_run(root, keepFrom[, graceMs]) takes 2 or 3 arguments")
    require(args.forall(_.foldable),
      "graft_vacuum_dry_run arguments must be literals")
    GraftCatalog.vacuumSnapshotsDryRun(SparkSession.active,
      rootArg(args.head),
      String.valueOf(args(1).eval()).toLong,
      args.lift(2).map(v => String.valueOf(v.eval()).toLong)
        .getOrElse(10 * 60 * 1000L))
      .queryExecution.logical
  }
}

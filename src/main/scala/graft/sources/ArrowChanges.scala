package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** CHANGE FEED between two snapshots of an arrow-ipc directory — the
  * incremental-processing primitive a training-data pipeline needs
  * ("what changed since my last run?"). Built entirely on the snapshot
  * log ([[ArrowSnapshots]]) plus the `_file` metadata column:
  *
  *  - the NET file delta over `(from, to]` is folded from the log
  *    (a file added and removed inside the window cancels — net-change
  *    semantics);
  *  - inserted rows = an `asOfSnapshot(to)` read pruned to the added
  *    files, deleted rows = an `asOfSnapshot(from)` read pruned to the
  *    removed files — the pruning is the scan's own STATIC `_file`
  *    pushdown, so the feed opens exactly the changed files, never the
  *    table;
  *  - each row carries `_change_type` (`insert` | `delete`).
  *
  * Copy-on-write semantics: a rewritten file's rows appear as `delete`
  * (the old image) plus `insert` (the new) — rewrite amplification, the
  * standard contract for COW tables without per-row change tracking;
  * consumers reconcile by key. The feed refuses when the window's files
  * have been expired from the trash. */
object ArrowChanges {

  /** The change feed between two TAGS ([[ArrowTags]]): what changed
    * from release `fromTag` to release `toTag` — the named-ref form of
    * the numeric window, same `(from, to]` semantics. */
  def changeFeedTags(spark: SparkSession, dir: String,
      fromTag: String, toTag: String): DataFrame = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    changeFeed(spark, dir,
      ArrowTags.resolveRequired(fs, dirPath, fromTag),
      ArrowTags.resolveRequired(fs, dirPath, toTag))
  }

  /** The change feed over `(from, to]`. `from = 0` = since the beginning
    * (everything at `to` is an insert). */
  def changeFeed(spark: SparkSession, dir: String,
      from: Long, to: Long): DataFrame = {
    require(from >= 0 && from < to,
      s"arrow-ipc change feed: need 0 <= from < to, got ($from, $to]")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = ArrowSnapshots.read(fs, dirPath)
    def known(id: Long): Boolean = snaps.exists(_.id == id)
    require(known(to),
      s"arrow-ipc change feed: $dir has no snapshot $to" +
        (if (snaps.isEmpty) " (no snapshot log)"
        else s" — the log records ${snaps.head.id}..${snaps.last.id}"))
    require(from == 0 || known(from),
      s"arrow-ipc change feed: $dir has no snapshot $from to start from " +
        "(expired history? 0 = since the beginning)")

    val window = snaps.filter(e => e.id > from && e.id <= to)
    // EQUALITY DELETES: the feed is sound iff NEITHER ENDPOINT has
    // tombstones in force — a window that fully spans upsert→fold is
    // served correctly (the batches' inserts are ordinary data adds,
    // the fold's deletion-vector entries carry the deletions
    // position-exactly, and the tombstone rels net-cancel as metadata);
    // a window ENDING mid-equality refuses, because those deletions
    // have no positional record yet — fold (CALL graft.system.purge_eq)
    // and the feed resumes across it
    def eqInForce(id: Long): Boolean = id > 0 &&
      ArrowSnapshots.resolve(snaps, id).getOrElse(Set.empty)
        .exists(_.startsWith(ArrowEqualityDeletes.EqDir + "/"))
    require(!eqInForce(from) && !eqInForce(to),
      s"arrow-ipc change feed: window ($from, $to] of $dir starts or " +
        "ends with equality-delete tombstones in force — their " +
        "deletions have no positional record yet; fold them " +
        "(CALL graft.system.purge_eq) and feed across the fold instead")
    // deletion vectors ride the same log entries but are mask metadata —
    // split them out of the file delta and fold their own activity
    val (added, dvAdded) =
      ArrowDeleteVectors.splitResolved(window.flatMap(_.adds).toSet)
    val (removed, dvRemoved) =
      ArrowDeleteVectors.splitResolved(window.flatMap(_.removes).toSet)
    val netAdds = added -- removed
    val netRemoves = removed -- added
    val dvActivity = ArrowDeleteVectors.windowActivity(dvAdded, dvRemoved)

    def resolve(rel: String): String =
      ArrowSnapshots.resolveLiveOrTrash(fs, dirPath, rel,
        s"change-feed window ($from, $to]").getPath.toString

    def side(asOf: Long, rels: Set[String], kind: String): DataFrame = {
      val base = spark.read.format("arrow-ipc")
        .option("asOfSnapshot", asOf).load(dir)
      // resolve each relative path the way the as-of scan will (live
      // first, trash second) so the pushed `_file IN` matches exactly.
      // The as-of read applies the deletion vectors in force AT that
      // snapshot, so inserts exclude positions already deleted by `to`
      // and old-image deletes exclude positions already deleted at `from`.
      val paths = rels.toSeq.sorted.map(resolve)
      val pruned =
        if (paths.isEmpty) base.filter(lit(false))
        else base.filter(col(ArrowRowLevel.FileColumn).isin(paths: _*))
      pruned.drop(ArrowRowLevel.FileColumn)
        .withColumn("_change_type", lit(kind))
    }

    val inserts = side(to, netAdds, "insert")
    if (from == 0) return inserts
    val deletes = side(from, netRemoves, "delete")

    // MERGE-ON-READ deltas: files standing at BOTH window edges whose
    // deletion vector advanced emit exactly the newly-deleted positions
    // as `delete` rows — the old image at `from`, narrowed by a semi
    // join on (file, _pos) against the driver-computed position delta
    // (bounded by the window's deleted-row count, the same O(changes)
    // the feed already pays in changed files).
    val addedNames = added.map(r => new Path(r).getName)
    val removedNames = netRemoves.map(r => new Path(r).getName)
    val mor = dvActivity.collect {
      case (n, (Some(top), pre)) if !addedNames(n) && !removedNames(n) =>
        (n, top, pre)
    }.toSeq.sortBy(_._1)
    if (mor.isEmpty) return inserts.unionAll(deletes)

    val state = ArrowSnapshots.resolve(snaps, to).getOrElse(Set.empty)
    val relByName = (ArrowDeleteVectors.splitResolved(state)._1 ++
      added ++ removed).iterator.map(r => new Path(r).getName -> r).toMap
    val pairs: Seq[(String, Long)] = mor.flatMap { case (n, top, pre) =>
      val topPos = ArrowDeleteVectors.read(fs, new Path(resolve(top.rel)))
      val preSet = pre.fold(Set.empty[Long])(p =>
        ArrowDeleteVectors.read(fs, new Path(resolve(p.rel))).toSet)
      val path = resolve(relByName.getOrElse(n,
        throw new IllegalStateException(s"arrow-ipc change feed: window " +
          s"($from, $to] has a deletion vector for $n but no snapshot " +
          "records the file")))
      topPos.iterator.filterNot(preSet).map(p => (path, p)).toSeq
    }
    import spark.implicits._
    val delta = broadcast(pairs.toDF("__f", "__p"))
    val asFrom = spark.read.format("arrow-ipc")
      .option("asOfSnapshot", from).load(dir)
    val dataCols = asFrom.columns.toSeq
    val morRows = asFrom
      .filter(col(ArrowRowLevel.FileColumn)
        .isin(pairs.map(_._1).distinct: _*))
      .select(dataCols.map(col) :+
        col(ArrowRowLevel.FileColumn).as("__f") :+
        col(ArrowRowLevel.PosColumn).as("__p"): _*)
      .join(delta, Seq("__f", "__p"), "left_semi")
      .drop("__f", "__p")
      .withColumn("_change_type", lit("delete"))
    inserts.unionAll(deletes).unionAll(morRows)
  }
}

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
  *  - inserted rows = the added files read as of `to`, deleted rows =
  *    the removed files read as of `from` — each side a scan over a CUT
  *    view ([[ArrowLiveView.forRead]] with `keep`) that resolves only
  *    its files, so the feed opens exactly the changed files, never the
  *    table, and plans no `_file` literal list. The feed reads the log
  *    once and hands each view its edge's folded state, which also
  *    carries the view's deletion vectors to its scan;
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
    // each window edge folded once: the tombstone check, the
    // merge-on-read state and the cut views below all take it
    val stateAt: Map[Long, Set[String]] = Seq(from, to).filter(_ > 0)
      .map(id => id -> ArrowSnapshots.resolve(snaps, id).getOrElse(Set.empty))
      .toMap
    // EQUALITY DELETES: the feed is sound iff NEITHER ENDPOINT has
    // tombstones in force — a window that fully spans upsert→fold is
    // served correctly (the batches' inserts are ordinary data adds,
    // the fold's deletion-vector entries carry the deletions
    // position-exactly, and the tombstone rels net-cancel as metadata);
    // a window ENDING mid-equality refuses, because those deletions
    // have no positional record yet — fold (CALL graft.system.purge_eq)
    // and the feed resumes across it
    def eqInForce(id: Long): Boolean = id > 0 &&
      ArrowEqualityDeletes.inForce(stateAt(id))
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

    // every read is a cut view pinned at its snapshot, gated like any
    // batch read; its scan masks the vectors in force AT that snapshot, so
    // inserts exclude positions deleted by `to`, deletes those at `from`
    val schema = ArrowInterchange.readSchema(spark, dir)
    def cut(asOf: Long, rels: Set[String]): ArrowLiveView =
      ArrowLiveView.forRead(spark, dir, schema, asOf = Some(asOf),
        keep = Some(rels), state = stateAt.get(asOf))
    def frame(asOf: Long, view: ArrowLiveView): DataFrame =
      ArrowMaintenance.stagingFrame(spark, dir, schema, view, Some(asOf))
    def side(asOf: Long, rels: Set[String], kind: String): DataFrame =
      frame(asOf, cut(asOf, rels)).withColumn("_change_type", lit(kind))

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

    val relByName = (ArrowDeleteVectors.splitResolved(stateAt(to))._1 ++
      added ++ removed).iterator.map(r => new Path(r).getName -> r).toMap
    // the old images at `from`, cut to the files whose vector advanced
    val morView = cut(from, mor.map { case (n, _, _) =>
      relByName.getOrElse(n, throw new IllegalStateException(
        s"arrow-ipc change feed: window ($from, $to] has a deletion " +
          s"vector for $n but no snapshot records the file"))
    }.toSet)
    val pathOf = morView.files.iterator.map(f => f.name -> f.path).toMap
    def positions(dv: ArrowDeleteVectors.DvRef): Array[Long] =
      ArrowDeleteVectors.read(fs, ArrowSnapshots.resolveLiveOrTrash(fs,
        dirPath, dv.rel, s"change-feed window ($from, $to]").getPath)
    val pairs: Seq[(String, Long)] = mor.flatMap { case (n, top, pre) =>
      val preSet = pre.fold(Set.empty[Long])(positions(_).toSet)
      pathOf.get(n).toSeq.flatMap(path =>
        positions(top).iterator.filterNot(preSet).map(p => (path, p)))
    }
    import spark.implicits._
    val delta = broadcast(pairs.toDF("__f", "__p"))
    val morRows = frame(from, morView)
      .join(delta, col(ArrowRowLevel.FileColumn) === col("__f") &&
        col(ArrowRowLevel.PosColumn) === col("__p"), "left_semi")
      .withColumn("_change_type", lit("delete"))
    inserts.unionAll(deletes).unionAll(morRows)
  }
}

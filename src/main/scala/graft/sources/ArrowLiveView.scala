package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}

/** One data file of an [[ArrowLiveView]]: its path RELATIVE to the
  * dataset root (a bare name for the flat generation, `key=value/…`
  * under a hive generation), its status, the hive generation it nests
  * under (`fields`; empty = flat) and the canonical partition values its
  * directories carry (aligned to `fields`, None = the NULL partition). */
private[sources] final case class LiveFile(rel: String, status: FileStatus,
    fields: Seq[StructField], values: Seq[Option[String]]) {
  def name: String = status.getPath.getName
  def path: String = status.getPath.toString
}

/** The live state of an arrow-ipc directory: which data files the table
  * holds right now. Built by [[ArrowLiveView.load]] and taken by every
  * reader and rewriter — the batch scan, aggregate pushdown, both
  * streaming sources, compaction, purge, cluster, unify,
  * the metadata DELETE, the CALL procedures and the stream sink's log
  * heal — so the three rules below hold in exactly one place:
  *
  *  - GATE. A directory without our `_schema.arrows` sentinel (foreign,
  *    or not yet written) or with the `_SUCCESS` latch up is OPEN. With
  *    the latch down it is open only while batch appends are IN FLIGHT
  *    (live `_pending-*` markers) and no swap intent (compaction, metadata
  *    delete, merge-on-read, restore) is present: the committed snapshot
  *    is served and the in-flight appends' query ids are `hidden`. A swap
  *    mid-flight, or a writer that crashed with its markers gone stale,
  *    leaves it CLOSED. `load` can wait a closed gate out; what a caller
  *    does with a gate still closed is its own policy — a batch read
  *    refuses ([[ArrowLiveView.forRead]]), a streaming poll holds its
  *    offset, aggregate pushdown declines, and maintenance (which has
  *    already run `recover`) works on the committed files with every live
  *    pending append hidden.
  *  - VISIBILITY. A file is visible iff its name is not stream-named or
  *    its epoch's commit id is in the streaming ledger, AND the query id
  *    its name embeds ([[ArrowOcc.nameQueryId]]) is not hidden. Invisible
  *    files are kept apart in `invisible` (only the unify collapse fence
  *    looks at them).
  *  - GENERATIONS. `hiveFields` is the ACTIVE hive generation — the
  *    current layout when its value directories stand, else the newest
  *    standing one, else the current declaration; `oldHiveGens` are the
  *    other standing hive generations; `hasFlat` says a flat generation is
  *    declared, whose files sit at the root. Each hive generation is
  *    discovered by walking its `key=value` levels, and a value directory
  *    the static `filters` refute is never listed (`dirCounts` = kept and
  *    total value directories). Time travel (`asOf`) takes the snapshot
  *    log's file set instead — each path live first, trash second, a
  *    nested path assigned to the first generation whose keys it parses
  *    under — and lists nothing. A CUT view (`keep`) holds, and when
  *    pinned resolves, only the files at the relative paths it names.
  *
  * A pinned view resolves its snapshot once and carries what the scan
  * masks with: `dvs`, the deletion vectors in force for its files (data
  * file name → absolute vector path), and `eqInForce`, whether the
  * snapshot holds equality tombstones. Both stay empty for a live view,
  * whose scan lists `.dv/` and `.eq/` itself. */
private[sources] final case class ArrowLiveView(
    open: Boolean,
    hidden: Set[String],
    hiveFields: Seq[StructField],
    oldHiveGens: Seq[Seq[StructField]],
    hasFlat: Boolean,
    files: Seq[LiveFile],
    invisible: Seq[LiveFile],
    dirCounts: (Int, Int),
    dvs: Map[String, String] = Map.empty,
    eqInForce: Boolean = false) {

  /** More than one generation may hold files (partition evolution). */
  def mixed: Boolean = hiveFields.nonEmpty && (hasFlat || oldHiveGens.nonEmpty)

  /** `stats` (keyed by file name) with each hive file's partition values
    * spliced in as exact single-value columns, by the file's own
    * generation keys — partition filters then prune through the same
    * [[ArrowFileStats.canMatch]] as data columns. A file without an entry
    * stays without one. */
  def withPartitionStats(stats: Map[String, FileStats]): Map[String, FileStats] =
    if (hiveFields.isEmpty) stats
    else stats ++ files.iterator.filter(_.fields.nonEmpty).flatMap { f =>
      stats.get(f.name).map(st => f.name -> st.copy(cols = st.cols ++
        f.fields.zip(f.values).map { case (k, v) =>
          k.name -> ArrowHiveLayout.colStats(k, v, st.rows)
        }))
    }
}

private[sources] object ArrowLiveView {

  /** The completeness gate alone: Some(hidden in-flight query ids) when
    * open, None when closed — for pollers that need no listing. */
  def gate(fs: FileSystem, dirPath: Path): Option[Set[String]] =
    if (!fs.exists(new Path(dirPath, "_schema.arrows")) ||
        fs.exists(new Path(dirPath, "_SUCCESS"))) Some(Set.empty)
    else if (fs.exists(new Path(dirPath, ArrowMaintenance.IntentFile))) None
    else Some(ArrowOcc.livePendingQueryIds(fs, dirPath)).filter(_.nonEmpty)

  /** Build the view of `dir`. `schema` resolves the hive keys (evaluated
    * only when the layout has any); `filters` prune hive value
    * directories; `asOf` pins a snapshot; `keep` cuts the view to the
    * files at those relative paths; a closed gate is re-checked every
    * 25 ms for up to `waitMs` before the view reports it closed. `state`:
    * snapshot `asOf`'s resolved set when the caller has already folded
    * the log (the change feed), so the view reads no log of its own. */
  def load(spark: SparkSession, dir: String, schema: => StructType,
      filters: Array[Filter] = Array.empty, asOf: Option[Long] = None,
      waitMs: Long = 0L, keep: Option[Set[String]] = None,
      state: Option[Set[String]] = None): ArrowLiveView = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.nanoTime() + waitMs * 1000000L
    var g = gate(fs, dirPath)
    while (g.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(25)
      g = gate(fs, dirPath)
    }
    val hidden = g.getOrElse(ArrowOcc.livePendingQueryIds(fs, dirPath))
    val (active, olds, hasFlat) = layout(fs, dirPath, dir, schema)
    asOf match {
      case Some(id) =>
        val resolved = state.getOrElse(resolve(fs, dirPath, dir, id))
        val files = travel(fs, dirPath, dir, id,
          if (active.isEmpty) Nil else active +: olds, resolved, keep)
        val names = files.iterator.map(_.name).toSet
        val dvs = ArrowDeleteVectors.fromResolvedSet(resolved).collect {
          case (name, ref) if names(name) =>
            name -> ArrowSnapshots.resolveLiveOrTrash(fs, dirPath, ref.rel,
              s"snapshot $id deletion vector").getPath.toString
        }
        ArrowLiveView(g.isDefined, hidden, active, olds, hasFlat, files,
          Nil, (0, 0), dvs, ArrowEqualityDeletes.inForce(resolved))
      case None =>
        // the flat generation is the walk with no key levels
        var kept = 0
        var total = 0
        val listed = ((if (active.isEmpty) Nil else active +: olds) ++
            (if (hasFlat) Seq(Nil) else Nil)).flatMap { gen =>
          val (files, k, t) = discover(fs, dirPath, gen, filters)
          kept += k
          total += t
          files
        }
        val visible = visibleFilter(fs, dirPath, hidden)
        val (vis, invis) = listed.filter(f => keep.forall(_(f.rel)))
          .partition(f => visible(f.name))
        ArrowLiveView(g.isDefined, hidden, active, olds, hasFlat, vis, invis,
          (kept, total))
    }
  }

  /** [[load]] for a batch read: waits a closed gate out for
    * `spark.graft.arrow.readGateWaitMs` (default 3000), then refuses — a
    * continuous ingest+maintenance loop never sees a swap's
    * millisecond latch-down window, while a directory still torn past the
    * wait (a crashed writer) fails loudly instead of serving partial
    * data. */
  def forRead(spark: SparkSession, dir: String, schema: => StructType,
      filters: Array[Filter] = Array.empty, asOf: Option[Long] = None,
      keep: Option[Set[String]] = None,
      state: Option[Set[String]] = None): ArrowLiveView = {
    val waitMs = scala.util.Try(spark.conf
      .get("spark.graft.arrow.readGateWaitMs", "3000").toLong).getOrElse(3000L)
    val view = load(spark, dir, schema, filters, asOf, waitMs, keep, state)
    if (!view.open) throw new IllegalArgumentException(
      s"Arrow interchange: $dir has a schema sentinel but no _SUCCESS " +
        s"marker after $waitMs ms — the writing job did not complete; " +
        "refusing to read partial data")
    view
  }

  /** (active hive generation, other standing hive generations, flat
    * generation declared) — see the GENERATIONS rule. A partition key
    * missing from `schema` (a user schema) is typed from the sentinel;
    * one missing from both is corruption and throws. */
  private def layout(fs: FileSystem, dirPath: Path, dir: String,
      schema: => StructType)
      : (Seq[StructField], Seq[Seq[StructField]], Boolean) = {
    lazy val full = schema
    def resolve(keys: Seq[String]): Seq[StructField] = keys.map { k =>
      full.fields.find(_.name == k)
        .orElse(ArrowInterchange.sentinelField(fs, dirPath, k))
        .getOrElse(throw new IllegalStateException(
        s"arrow-ipc: ${ArrowHiveLayout.FileName} of $dir names partition key " +
          s"'$k' which is not in the dataset schema"))
    }
    val gens = ArrowHiveLayout.readGenerations(fs, dirPath)
    if (gens.size == 1) (resolve(gens.head), Nil, gens.head.isEmpty)
    else {
      val standing = ArrowHiveLayout.standingHiveGens(fs, dirPath)
      val active = standing.find(_ == gens.last)
        .orElse(standing.lastOption)
        .orElse(Some(gens.last).filter(_.nonEmpty)).getOrElse(Nil)
      (resolve(active), standing.filterNot(_ == active).map(resolve),
        gens.exists(_.isEmpty))
    }
  }

  /** The streaming-ledger and in-flight rule of VISIBILITY, resolved once
    * (the ledger is read only if a stream-named file shows up). */
  private def visibleFilter(fs: FileSystem, dirPath: Path,
      hidden: Set[String]): String => Boolean = {
    lazy val ledger = ArrowStreamCommits.read(fs, dirPath)
    name => (!ArrowStreamCommits.isStreamName(name) ||
      ledger.forall(_.committed.contains(ArrowStreamCommits.commitIdOf(name)))) &&
      !hidden.contains(ArrowOcc.nameQueryId(name))
  }

  /** Walk one generation's `key=value` levels (none for the flat one),
    * pruning value directories the static `filters` refute BEFORE
    * descending — a skipped directory's children are never listed, so
    * planning over a million-file lake costs O(matching dirs). Returns
    * the generation's data files with (keptDirs, totalDirs). A value that
    * does not parse under the declared key type is corruption and
    * throws. */
  private def discover(fs: FileSystem, dirPath: Path,
      fields: Seq[StructField], filters: Array[Filter])
      : (Seq[LiveFile], Int, Int) = {
    var total = 0
    var kept = 0
    var level: Seq[(Path, String, List[Option[String]])] = Seq((dirPath, "", Nil))
    fields.foreach { f =>
      val children = level.flatMap { case (p, rel, vals) =>
        Option(fs.globStatus(new Path(p, ArrowHiveLayout.escape(f.name) + "=*")))
          .getOrElse(Array.empty).filter(_.isDirectory)
          .map(st => (st.getPath, rel + st.getPath.getName + "/", vals))
      }
      total += children.size
      level = children.flatMap { case (p, rel, vals) =>
        val canon = ArrowHiveLayout.parseSegment(f, p.getName)
        if (filters.nonEmpty && !filters.forall(fl =>
            ArrowFileStats.canMatch(fl, ArrowHiveLayout.dirStats(f, canon))))
          None
        else Some((p, rel, canon :: vals))
      }
      kept += level.size
    }
    val files = level.flatMap { case (p, rel, valsRev) =>
      val vals = valsRev.reverse
      Option(fs.globStatus(new Path(p, "part-*.arrows")))
        .getOrElse(Array.empty)
        .map(st => LiveFile(rel + st.getPath.getName, st, fields, vals))
    }
    (files, kept, total)
  }

  /** Snapshot `id`'s resolved set, folded from the log; an unknown or
    * expired snapshot refuses loudly rather than serving a partial
    * table. */
  private def resolve(fs: FileSystem, dirPath: Path, dir: String,
      id: Long): Set[String] = {
    val snaps = scala.util.Try(ArrowSnapshots.read(fs, dirPath)).getOrElse(Nil)
    ArrowSnapshots.resolve(snaps, id).getOrElse(
      throw new IllegalArgumentException(
        s"arrow-ipc: $dir has no snapshot $id" + (
          if (snaps.isEmpty) " (no snapshot log)"
          else s" — the log records ${snaps.head.id}..${snaps.last.id}")))
  }

  /** The data files of `resolved` (snapshot `id`, cut to `keep`), each
    * path resolved live first, trash second. Deletion vectors and
    * tombstones ride the same log entries and are split off. */
  private def travel(fs: FileSystem, dirPath: Path, dir: String, id: Long,
      gens: Seq[Seq[StructField]], resolved: Set[String],
      keep: Option[Set[String]]): Seq[LiveFile] = {
    val (set, _) = ArrowDeleteVectors.splitResolved(resolved)
    set.filter(rel => keep.forall(_(rel))).toSeq.sorted.map { rel =>
      val st = ArrowSnapshots.resolveLiveOrTrash(fs, dirPath, rel,
        s"snapshot $id of $dir")
      // a bare name is a flat-generation file; a nested one belongs to
      // the first generation whose key names its segments parse under
      if (!rel.contains('/') || gens.isEmpty) LiveFile(rel, st, Nil, Nil)
      else gens.view.flatMap { g =>
        scala.util.Try(ArrowHiveLayout.parseRelPath(g, rel)).toOption
          .map(v => LiveFile(rel, st, g, v))
      }.headOption.getOrElse(throw new IllegalStateException(
        s"arrow-ipc: snapshot file '$rel' of $dir matches no declared " +
          "partition generation"))
    }
  }
}

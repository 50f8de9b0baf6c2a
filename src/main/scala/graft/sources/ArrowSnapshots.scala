package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** TIME TRAVEL for arrow-ipc directories: a per-entry snapshot log
  * (`_snapshots/`) plus a `.trash/` retention area.
  *
  * Every committed mutation writes ONE delta entry
  * (`_snapshots/<id>.json`: relative paths added / removed) — commits
  * never rewrite history, so the hot path (a streaming epoch) pays one
  * small file write, not an O(history) log rewrite. Removal never
  * deletes data: replaced and deleted files MOVE to `.trash/<relpath>`
  * (names are globally unique by the writer contract, so the
  * flat-by-relpath trash cannot collide), where `VERSION AS OF` reads
  * find them until [[ArrowMaintenance.expireSnapshots]] collects.
  *
  * Expiry writes a BASE checkpoint (`<id>.base.json`, the full file set
  * at that id — the same design as a Delta checkpoint): readers take the
  * newest base and fold only the deltas after it, so ids at or before a
  * base refuse as expired, and the older entry files can be deleted at
  * leisure (they are ignored the instant the base lands — every crash
  * window is consistent).
  *
  * Design stance — the log is ADVISORY HISTORY:
  *
  *  - LIVE reads never consult it. A missing or damaged log degrades
  *    time travel to a loud refusal and nothing else.
  *  - [[read]] REFUSES on an unparseable entry (a damaged history must
  *    never serve a wrong snapshot); [[append]] keeps committing through
  *    one — ids come from the entry FILENAMES, so a torn entry can never
  *    silently rebase history.
  *  - A time-travel read reconstructs the set at snapshot N by folding
  *    deltas ≤ N, then resolves each path live-first, trash-second; a
  *    path in neither place means the snapshot was expired — refuse
  *    loudly, never serve a partial snapshot.
  *  - Log integrity rides the same SINGLE-WRITER maintenance contract as
  *    the stats index (concurrent uncoordinated commits could both claim
  *    an id — the entry, never the data). */
private[graft] object ArrowSnapshots {
  val LogDir = "_snapshots"
  val TrashDir = ".trash"

  case class Snapshot(id: Long, tsMillis: Long,
      adds: Seq[String], removes: Seq[String], op: String = "")

  private def deltaName(id: Long) = f"$id%020d.json"
  private def baseName(id: Long) = f"$id%020d.base.json"

  /** (id, isBase) from an entry file name; None for foreign/temp files. */
  private def parseName(name: String): Option[(Long, Boolean)] = {
    def num(stem: String): Option[Long] =
      if (stem.length == 20 && stem.forall(_.isDigit)) Some(stem.toLong)
      else None
    if (name.endsWith(".base.json"))
      num(name.stripSuffix(".base.json")).map(_ -> true)
    else if (name.endsWith(".json"))
      num(name.stripSuffix(".json")).map(_ -> false)
    else None
  }

  private def listEntries(fs: FileSystem, dir: Path): Seq[(Long, Boolean, Path)] = {
    val logPath = new Path(dir, LogDir)
    if (!fs.exists(logPath)) Nil
    else Option(fs.listStatus(logPath)).getOrElse(Array.empty).toSeq
      .flatMap(st => parseName(st.getPath.getName)
        .map { case (id, b) => (id, b, st.getPath) })
  }

  private def parseEntry(fs: FileSystem, p: Path): Snapshot = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(ArrowFileStats.readFully(fs, p)) match {
      case o: JObject =>
        def strs(k: String): Seq[String] = (o \ k) match {
          case JArray(ys) => ys.collect { case JString(s) => s }
          case _ => Nil
        }
        def numf(k: String): Long = (o \ k) match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case other => throw new IllegalStateException(
            s"bad snapshot entry $p: $k = $other")
        }
        val op = (o \ "op") match {
          case JString(s) => s
          case _ => "" // entries written before op kinds existed
        }
        Snapshot(numf("id"), numf("ts"), strs("adds"), strs("removes"), op)
      case other => throw new IllegalStateException(s"bad snapshot entry $p: $other")
    }
  }

  private def entryBody(s: Snapshot): String = {
    def esc(x: String) = ArrowFileStats.esc(x)
    s"""{"id":${s.id},"ts":${s.tsMillis},"adds":[${
      s.adds.sorted.map(a => "\"" + esc(a) + "\"").mkString(",")}],"removes":[${
      s.removes.sorted.map(r => "\"" + esc(r) + "\"").mkString(",")}]${
      if (s.op.isEmpty) "" else ",\"op\":\"" + esc(s.op) + "\""}}"""
  }

  /** Write one entry file through the commit store's atomic replace — a
    * crash leaves no entry or the whole one, never a torn one, and a
    * replay of the same id rewrites it. */
  private def writeEntry(fs: FileSystem, dir: Path, name: String,
      snap: Snapshot): Unit =
    ArrowOcc.writeAtomic(fs, new Path(new Path(dir, LogDir), name),
      entryBody(snap).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The effective log, oldest-first: the newest BASE checkpoint (if
    * any) followed by the deltas after it. Throws on an unparseable
    * retained entry — damaged history refuses, it never misleads. */
  def read(fs: FileSystem, dir: Path): Seq[Snapshot] = {
    val entries = listEntries(fs, dir)
    if (entries.isEmpty) return Nil
    val baseId = entries.collect { case (id, true, _) => id }.maxOption
    val base = baseId.map { id =>
      parseEntry(fs, entries.find(e => e._1 == id && e._2).get._3)
    }
    val deltas = entries
      .filter { case (id, isBase, _) => !isBase && baseId.forall(id > _) }
      .sortBy(_._1)
      .map(e => parseEntry(fs, e._3))
    base.toSeq ++ deltas
  }

  // ── tip pointer (`_snapshots/_tip`) ──────────────────────────────────
  // A commit needs only the CURRENT max id, but a listing of the log
  // directory is O(history) — a year of minutely epochs would pay ~500k
  // names per commit. The tip file caches the max id; it is advanced
  // under the directory's commit lock (every append site holds it), a
  // crash between entry write and tip update is healed by the forward
  // probe, and a missing/invalid tip degrades to one full listing. The
  // name does not parse as an entry, so readers ignore it structurally.

  private def tipFile(dir: Path) = new Path(new Path(dir, LogDir), "_tip")

  private def readTipFile(fs: FileSystem, dir: Path): Option[Long] =
    scala.util.Try {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(
        ArrowFileStats.readFully(fs, tipFile(dir))) \ "id" match {
        case JInt(n) => n.toLong
        case JLong(n) => n
        case _ => throw new IllegalStateException("bad _tip")
      }
    }.toOption

  private def writeTip(fs: FileSystem, dir: Path, id: Long): Unit =
    ArrowOcc.writeAtomic(fs, tipFile(dir),
      s"""{"id":$id}""".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Current max snapshot id — O(1) amortized via the tip pointer
    * (+ forward probe past crash-unrecorded entries); one full listing
    * only for logs that predate the tip or whose tip went bad. */
  def currentTip(fs: FileSystem, dir: Path): Long = {
    val logPath = new Path(dir, LogDir)
    def entryExists(id: Long): Boolean =
      id > 0 && (fs.exists(new Path(logPath, deltaName(id))) ||
        fs.exists(new Path(logPath, baseName(id))))
    val start = readTipFile(fs, dir) match {
      case Some(t) if t == 0L || entryExists(t) => t
      case _ => listEntries(fs, dir).map(_._1).maxOption.getOrElse(0L)
    }
    var id = start
    while (entryExists(id + 1)) id += 1
    id
  }

  /** Ids in `(from, tip]` WITHOUT listing the log — the admission poll's
    * O(delta) shape (round 11). Ids are DENSE (every commit assigns
    * tip+1 under the lock) and entries are NAMED by their id, so the
    * window is simply `from+1 .. tip` — provided `from+1` is still
    * retained, which ONE existence probe answers (its delta file, or the
    * base checkpoint landing exactly there). None = not retained
    * (bootstrap from 0, or history expired past `from`): the caller
    * falls back to one full [[listIds]] listing. A steady-state stream
    * therefore pays O(new snapshots) per data-carrying trigger, flat in
    * history depth, where the listing was O(history) — the round-10
    * probe measured 241 ms/op at 5k-snapshot depth vs 0.17 ms for the
    * tip. */
  def idsAfter(fs: FileSystem, dir: Path, from: Long,
      tip: Long): Option[Seq[Long]] = {
    if (from <= 0 || tip <= from) return None
    val logPath = new Path(dir, LogDir)
    val first = from + 1
    if (fs.exists(new Path(logPath, deltaName(first))) ||
        fs.exists(new Path(logPath, baseName(first))))
      Some((first to tip).toSeq)
    else None
  }

  /** The snapshots of window `(from, to]` parsed from directly-
    * constructed entry paths — O(window), never an O(history) listing or
    * parse (round 11; the planner-side twin of [[idsAfter]]). `from == 0`
    * (bootstrap) folds the full effective log once — the base
    * checkpoint's cumulative adds ARE the standing set. Refuses loudly
    * when `from` is no longer retained or an expiry collapsed inside the
    * window: a partial delta must never be served. */
  def readRange(fs: FileSystem, dir: Path, from: Long, to: Long,
      what: String): Seq[Snapshot] = {
    if (to <= from) return Nil
    if (from == 0) return read(fs, dir).filter(_.id <= to)
    val logPath = new Path(dir, LogDir)
    require(fs.exists(new Path(logPath, deltaName(from))) ||
        fs.exists(new Path(logPath, baseName(from))),
      s"arrow-ipc change feed: snapshot $from of $dir expired under " +
        s"$what — the delta since it cannot be reconstructed")
    (from + 1 to to).map { id =>
      val p = new Path(logPath, deltaName(id))
      require(fs.exists(p),
        s"arrow-ipc change feed: snapshot $id of $dir expired under " +
          s"$what — the delta over ($from, $to] cannot be reconstructed")
      parseEntry(fs, p)
    }
  }

  /** Ids of the effective log (newest base checkpoint + the deltas after
    * it) from entry FILENAMES alone — the admission-control poll's
    * BOOTSTRAP shape ([[idsAfter]] serves the steady state without a
    * listing): no entry content is ever parsed. */
  def listIds(fs: FileSystem, dir: Path): Seq[Long] = {
    val entries = listEntries(fs, dir)
    val baseId = entries.collect { case (id, true, _) => id }.maxOption
    entries
      .filter { case (id, isBase, _) =>
        baseId.forall(b => id > b || (id == b && isBase)) }
      .map(_._1).distinct.sorted
  }

  /** The newest `n` retained entries, newest first, parsing EXACTLY
    * those: the filename listing is O(retained entries), entry content
    * O(n) — the bounded face of the `CALL history` diagnostic at deep
    * history (an unlimited history is honestly O(history): it must
    * parse every retained entry it reports). */
  def readNewest(fs: FileSystem, dir: Path, n: Int): Seq[Snapshot] = {
    val entries = listEntries(fs, dir)
    val baseId = entries.collect { case (id, true, _) => id }.maxOption
    entries
      .filter { case (id, isBase, _) =>
        baseId.forall(b => id > b || (id == b && isBase)) }
      .sortBy(-_._1).take(math.max(0, n))
      .map { case (_, _, p) => parseEntry(fs, p) }
  }

  /** Append one delta entry; returns its id. O(1) amortized — the id
    * comes from [[currentTip]] and entry FILENAMES, so even an
    * unparseable tail cannot rebase history; a tail whose content
    * EQUALS this delta is the same operation crash-replayed and is
    * skipped. Empty deltas (a zero-row commit) write nothing. Callers
    * hold the directory's commit lock (every committing op does), which
    * is what makes read-tip → write-tip+1 the snapshot-id CAS. */
  def append(fs: FileSystem, dir: Path,
      adds: Seq[String], removes: Seq[String], op: String = ""): Long = {
    val maxId = currentTip(fs, dir)
    if (adds.isEmpty && removes.isEmpty) return maxId
    val logPath = new Path(dir, LogDir)
    val tailEqual = maxId > 0 && Seq(deltaName(maxId), baseName(maxId))
      .map(new Path(logPath, _)).filter(p => fs.exists(p))
      .exists { p =>
        scala.util.Try(parseEntry(fs, p)).toOption.exists(t =>
          t.adds.sorted == adds.sorted && t.removes.sorted == removes.sorted)
      }
    if (tailEqual) return maxId
    val id = maxId + 1L
    writeEntry(fs, dir, deltaName(id),
      Snapshot(id, System.currentTimeMillis(), adds.sorted, removes.sorted, op))
    writeTip(fs, dir, id)
    id
  }

  /** Expiry's checkpoint: land the absolute state as `<id>.base.json`
    * (instantly superseding every entry ≤ id), then best-effort delete
    * the superseded files — ignored either way, so any crash window is
    * consistent. */
  def writeBase(fs: FileSystem, dir: Path, snap: Snapshot): Unit = {
    writeEntry(fs, dir, baseName(snap.id), snap.copy(removes = Nil))
    listEntries(fs, dir).foreach { case (id, isBase, p) =>
      if (id < snap.id || (id == snap.id && !isBase)) fs.delete(p, false)
    }
  }

  /** The file set (relative paths) at snapshot `id`. None = the log has
    * no such snapshot (never written, expired past it, or damaged). */
  def resolve(snaps: Seq[Snapshot], id: Long): Option[Set[String]] = {
    if (!snaps.exists(_.id == id)) return None
    // ids are appended monotonically; fold everything ≤ id
    val s = scala.collection.mutable.Set.empty[String]
    snaps.filter(_.id <= id).sortBy(_.id).foreach { e =>
      s ++= e.adds
      s --= e.removes
    }
    Some(s.toSet)
  }

  /** The latest snapshot id whose commit time is ≤ `tsMillis`. */
  def resolveAt(snaps: Seq[Snapshot], tsMillis: Long): Option[Long] =
    snaps.filter(_.tsMillis <= tsMillis).map(_.id).maxOption

  /** Every data file physically under `root` as RELATIVE paths (bare
    * names at the top level, `key=value/...` under hive layouts) — skips
    * metadata (`_*`) and hidden (`.*`) entries at every level. A RAW
    * walk: no completeness gate, no visibility rule, no generation
    * attribution. It serves staging directories (COW, merge-on-read, WAP
    * branches), the streaming ledger's prune, and tests that compare
    * against the disk; a table's LIVE file set is [[ArrowLiveView]]'s. */
  def listDataFiles(fs: FileSystem, root: Path): Seq[String] =
    listDataFileStatuses(fs, root).map(_._1)

  /** As [[listDataFiles]] but carrying each file's FileStatus. */
  def listDataFileStatuses(fs: FileSystem, root: Path)
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] =
    walk(fs, root, notHidden) { st =>
      val name = st.getPath.getName
      name.startsWith("part-") && name.endsWith(".arrows")
    }

  /** A metadata (`_*`) or hidden (`.*`) name is none of the table's data. */
  def notHidden(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The one RAW recursive walk: each file under `root` that `keep`
    * accepts, as (path relative to `root`, status), descending into
    * directories whose name `descend` accepts. */
  def walk(fs: FileSystem, root: Path, descend: String => Boolean)(
      keep: org.apache.hadoop.fs.FileStatus => Boolean)
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    def go(at: Path, prefix: String)
        : Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      Option(fs.listStatus(at)).getOrElse(Array.empty).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory)
          if (descend(name)) go(st.getPath, prefix + name + "/") else Nil
        else if (keep(st)) Seq((prefix + name, st))
        else Nil
      }
    if (!fs.exists(root)) Nil else go(root, "")
  }

  /** Exact own-commit observability (round 17): a writer that must later
    * distinguish "my rows were folded into a successor generation by a
    * concurrent compaction" from "my rows died with a superseded
    * generation" ([[graft.ops.Similarity.ivfAppend]]'s retry decision)
    * passes `option("commitToken", t)` on its write; the batch commit
    * records the snapshot id it appended under that token, and the
    * writer consumes it with [[take]]. Entries are one-shot (consumed
    * immediately after `.save()` returns), so the map is empty in steady
    * state; the size bound is a leak backstop for callers that never
    * collect, not a working limit. */
  object CommitTokens {
    private val ids =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def record(token: String, id: Long): Unit = {
      if (ids.size > 4096) ids.clear()
      ids.put(token, id)
    }
    def take(token: String): Option[Long] =
      Option(ids.remove(token)).map(_.longValue())
  }

  /** Resolve a snapshot-relative path the way every historical reader
    * must: live set first, trash second, loud refusal when expired.
    * Returns the resolved file's status (its path is the QUALIFIED string
    * the scan's `_file` constants carry). `what` names the caller's
    * window for the error message. */
  def resolveLiveOrTrash(fs: FileSystem, dirPath: Path, rel: String,
      what: String): org.apache.hadoop.fs.FileStatus = {
    val live = new Path(dirPath, rel)
    val p =
      if (fs.exists(live)) live
      else {
        val t = trashPath(dirPath, rel)
        require(fs.exists(t),
          s"arrow-ipc: '$rel' of $what is expired — gone from both the " +
            "live set and the trash")
        t
      }
    fs.getFileStatus(p)
  }

  /** Path of `p` relative to the dataset root (bare name for flat
    * layouts, `key=value/...` for hive) — the log's and trash's shared
    * addressing. */
  def relativize(fs: FileSystem, dir: Path, p: Path): String = {
    val base = fs.makeQualified(dir)
    val segs = scala.collection.mutable.ListBuffer.empty[String]
    var cur = fs.makeQualified(p)
    while (cur != null && cur != base && cur.getName.nonEmpty) {
      segs.prepend(cur.getName)
      cur = cur.getParent
    }
    require(cur == base,
      s"arrow-ipc snapshots: $p is not under dataset root $base")
    segs.mkString("/")
  }

  /** Where a removed file waits for expiry (relative path preserved, so
    * hive value paths restore unambiguously). */
  def trashPath(dir: Path, rel: String): Path =
    new Path(new Path(dir, TrashDir), rel)

  /** Open a data file a reader PLANNED from a snapshot, tolerating a
    * concurrent rewrite retiring it between planning and read: if the
    * live path is gone, the `.trash/` copy — bit-identical by the
    * unique-name contract, retained until expiry — answers instead.
    * Without this, a compaction landing mid-query fails every in-flight
    * scan of a replaced file; with it, maintenance and readers race
    * freely (Delta/Iceberg get the same property from vacuum retention
    * windows). Hive layouts nest the rel path under the table root, so
    * the ancestor walk tries each level's `.trash/` mirror; a file gone
    * from BOTH live and trash (expired) rethrows the original error. */
  def openPlanned(fs: FileSystem, p: Path): org.apache.hadoop.fs.FSDataInputStream =
    try fs.open(p) catch {
      case e: java.io.FileNotFoundException =>
        var rel = p.getName
        var dir = p.getParent
        var depth = 0
        var found: org.apache.hadoop.fs.FSDataInputStream = null
        while (found == null && dir != null && depth < 4) {
          val cand = new Path(new Path(dir, TrashDir), rel)
          found =
            try { if (fs.exists(cand)) fs.open(cand) else null }
            catch { case _: java.io.FileNotFoundException => null }
          rel = s"${dir.getName}/$rel"
          dir = dir.getParent
          depth += 1
        }
        if (found == null) throw e
        found
    }

  /** Move `rel` to the trash (idempotent: gone-from-live no-ops; an
    * existing trash copy wins — same bytes by the unique-name contract). */
  def moveToTrash(fs: FileSystem, dir: Path, rel: String): Unit = {
    val src = new Path(dir, rel)
    if (fs.exists(src)) {
      val dst = trashPath(dir, rel)
      if (fs.exists(dst)) fs.delete(src, false)
      else {
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst)) {
          // a concurrent expiry's empty-dir cleanup can race the mkdirs —
          // re-create the parent and retry once before giving up
          fs.mkdirs(dst.getParent)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"snapshots: trash $src -> $dst failed")
        }
      }
    }
  }
}

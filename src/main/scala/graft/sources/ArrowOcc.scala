package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** OPTIMISTIC CONCURRENCY for arrow-ipc directory commits — the piece
  * that turns the round-9 "NO CONCURRENT WRITER" contracts into actual
  * serializable behavior, so the flagship loop (streaming ingest +
  * periodic compaction + occasional DML on ONE directory) needs no
  * external coordination. The reference has no multi-writer story at all
  * (its output side is a blind `IBlockOutputStream::write`,
  * DataStreams/IBlockOutputStream.h); the protocol here is the shape
  * Delta/Iceberg treat as table stakes, re-expressed over this source's
  * sidecar files.
  *
  * Protocol — stage optimistically, commit serially, validate, losers
  * retry:
  *
  *  1. STAGING is lock-free and concurrent: appends write unique-named
  *     files, maintenance/DML stage into their own hidden `.compact-*` /
  *     `.cow-*` dirs, streaming epochs land invisible-until-ledger files.
  *     Nothing any reader or other writer can observe changes.
  *  2. Every COMMIT's metadata section (manifest merge, ledger flip,
  *     snapshot-log advance, latch restore, swap replay) runs under the
  *     directory's [[withCommitLock]] — an atomically-claimed
  *     `_commit.lock` file. Critical sections are metadata-only
  *     (milliseconds), so the lock is never held across a staging job.
  *     Snapshot ids therefore advance atomically: the log's next id is
  *     assigned and written only by the lock holder — the "snapshot-id
  *     CAS" is claim-lock → read tip → write tip+1 → release.
  *  3. Remove-carrying commits VALIDATE under the lock that every file
  *     they replace is still live ([[validateOldsLive]]). A concurrent
  *     commit that removed one first wins; the loser throws
  *     [[CommitConflictException]] — maintenance ops retry their whole
  *     run against the new state, a DML statement surfaces the conflict
  *     to the user (its staged rows were computed by an executed plan
  *     that cannot be transparently re-run). Add-only commits (batch
  *     append, streaming epoch) conflict with nothing and always win —
  *     they only wait their turn.
  *  4. Hygiene sweeps that used to assume a single writer (stale
  *     `.compact-*`/`.cow-*` staging dirs, uncommitted stream-named
  *     orphans, task temps) are STALENESS-GATED: anything younger than
  *     [[staleMs]] may belong to a live concurrent run and is left
  *     alone. As a backstop, the streaming epoch commit re-checks its
  *     files still exist before the ledger flip, so a swept in-flight
  *     epoch fails loudly (and replays) instead of committing a ledger
  *     that points at deleted files.
  *  5. The `_SUCCESS` completeness latch stays honest under concurrency
  *     via PENDING-APPEND markers (`_pending-<queryId>`): a batch append
  *     drops the latch and leaves a marker for its whole write; every
  *     OTHER committer restores the latch only when no live marker
  *     remains ([[appendsPending]]), so a concurrent maintenance replay
  *     can never re-expose the directory mid-append.
  *
  * Lock mechanics: claimed by atomic create-exclusive (O_EXCL via
  * java.nio for `file:` — Hadoop's RawLocalFileSystem create(overwrite=
  * false) has a TOCTOU gap — and `FileSystem.create(path, false)` for
  * HDFS-like stores, where it is atomic). A crashed holder's lock is
  * broken after [[staleMs]]; the window must dwarf the longest critical
  * section, and metadata-only sections keep that margin ~10^5. Stores
  * with no atomic create-exclusive (bare S3 without a coordination
  * layer) are outside this protocol's contract — same stance as
  * delta-io's LogStore.
  */
private[graft] object ArrowOcc {
  val LockFile = "_commit.lock"
  private val PendingPrefix = "_pending-"

  /** A remove-carrying commit lost its race: the files it staged a
    * replacement for are no longer the live state. */
  final class CommitConflictException(msg: String)
      extends RuntimeException(msg)

  private def conf(key: String, default: Long): Long =
    scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
      .get(key, default.toString).toLong).getOrElse(default)

  /** Age beyond which an unreleased lock, an unswept staging dir, or an
    * uncommitted stream file is presumed dead. Lowered by specs that
    * simulate crashed runs. */
  def staleMs: Long = conf("spark.graft.arrow.occStaleMs", 10L * 60 * 1000)

  /** Age beyond which a PENDING-APPEND marker is presumed dead —
    * deliberately decoupled from [[staleMs]] (round 11): the lock window
    * bounds metadata critical sections (milliseconds), but an append
    * marker must outlive an arbitrarily long WRITE JOB, so its liveness
    * rides a driver-side heartbeat ([[heartbeatPending]]) that refreshes
    * the marker's mtime every window/3 while the job runs. Defaults to
    * [[staleMs]] so crash specs that lower one lower both; a deployment
    * can widen it independently. */
  def pendingStaleMs: Long =
    conf("spark.graft.arrow.pendingStaleMs", staleMs)

  /** How long a committer waits for the lock before giving up. */
  def timeoutMs: Long = conf("spark.graft.arrow.occTimeoutMs", 60L * 1000)

  // reentrancy: an op holding a directory's lock may call helpers that
  // also lock it (compact → recover-replay); per-thread, keyed by the
  // qualified lock path
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  // ── pluggable commit primitives (round 11) ───────────────────────────
  // Claim/release/break/replace delegate to an [[ArrowCommitStore]]:
  // POSIX/HDFS by default; specs (and future object-store deployments)
  // register a CONDITIONAL-WRITE store for a path prefix, and the whole
  // protocol runs unchanged over If-None-Match PUT / If-Match DELETE.

  private[graft] val storeOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, ArrowCommitStore]()

  private def storeFor(path: Path): ArrowCommitStore = {
    if (!storeOverrides.isEmpty) {
      val p = path.toString
      val it = storeOverrides.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p.startsWith(e.getKey)) return e.getValue
      }
    }
    PosixCommitStore
  }

  /** Run `body` as the directory's sole committer. Reentrant within a
    * thread. Throws after [[timeoutMs]] of contention. */
  def withCommitLock[T](fs: FileSystem, dirPath: Path)(body: => T): T = {
    val lock = new Path(fs.makeQualified(dirPath), LockFile)
    val store = storeFor(lock)
    val key = lock.toString
    if (held.get().contains(key)) return body
    val holder = java.util.UUID.randomUUID().toString
    val payload =
      s"""{"holder":"$holder","ts":${System.currentTimeMillis()}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var token: Option[String] = None
    while (token.isEmpty) {
      fs.mkdirs(dirPath)
      token = store.tryClaim(fs, lock, payload)
      if (token.isEmpty) {
        val stale = scala.util.Try {
          val st = fs.getFileStatus(lock)
          System.currentTimeMillis() - st.getModificationTime > staleMs
        }.getOrElse(false) // vanished → just retry the claim
        if (stale) store.breakStale(fs, lock, staleMs)
        else if (System.nanoTime() > deadline)
          throw new java.io.IOException(
            s"arrow-ipc occ: could not acquire $lock within ${timeoutMs}ms " +
              "— a concurrent commit is holding it (or a dead one within " +
              s"the ${staleMs}ms staleness window)")
        else Thread.sleep(5L + scala.util.Random.nextInt(20))
      }
    }
    held.set(held.get() + key)
    try body
    finally {
      held.set(held.get() - key)
      // verified release: must not evict the NEXT committer's claim if
      // this section overran the staleness window and was broken
      store.release(fs, lock, token.get)
    }
  }

  /** Conflict validation for a remove-carrying commit: every relative
    * path this commit replaces must still be live. Call ONLY under the
    * commit lock. */
  def validateOldsLive(fs: FileSystem, dirPath: Path, olds: Seq[String],
      what: String): Unit = {
    val gone = olds.filterNot(rel => fs.exists(new Path(dirPath, rel)))
    if (gone.nonEmpty)
      throw new CommitConflictException(
        s"arrow-ipc occ: $what on $dirPath lost its race — " +
          s"${gone.size} of the ${olds.size} files it rewrites were " +
          s"removed by a concurrent commit (first: ${gone.head}); " +
          "retry against the new state")
  }

  /** Atomically REPLACE `path` with `bytes`: a concurrent (lock-free)
    * reader sees the old content or the new content, never a torn,
    * empty, or vanished file. Commits hold the directory lock against
    * each other, but READS are deliberately lock-free — so every
    * correctness-bearing sidecar (stream ledger, stats manifest/shards/
    * index, layout declarations, lineage) must flip atomically.
    * `file:` rides java.nio ATOMIC_MOVE (any stale ChecksumFileSystem
    * `.crc` sibling from a pre-OCC write is deleted first — checksums
    * of a replaced file would otherwise fail reads); other stores ride
    * `FileContext.rename(OVERWRITE)`, which HDFS implements atomically. */
  def writeAtomic(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val q = fs.makeQualified(path)
    storeFor(q).atomicReplace(fs, q, bytes)
  }

  // ── pending-append markers ────────────────────────────────────────────

  private def markerPath(dirPath: Path, queryId: String) =
    new Path(dirPath, PendingPrefix + queryId)

  /** Record that a batch append is in flight (latch down on purpose).
    * `targetKeys` (round 16): the hive layout the write nests its files
    * by — the GENERATION-TARGETED collapse fence
    * ([[ArrowMaintenance.unifyGeneration]]) defers collapsing exactly
    * that generation while the marker lives, instead of deferring every
    * collapse for any in-flight write (the round-15 liveness caveat:
    * continuous ingest into the CURRENT generation starved old-gen
    * collapses forever). None = unknown target (legacy marker): blocks
    * every collapse, conservatively. The content is written once here;
    * the heartbeat refreshes mtime only (setTimes), never the bytes. */
  def markPending(fs: FileSystem, dirPath: Path, queryId: String,
      targetKeys: Option[Seq[String]] = None): Unit = {
    val body = targetKeys.fold("") { ks =>
      ks.map(k => "\"" + ArrowFileStats.esc(k) + "\"")
        .mkString("""{"hiveKeys":[""", ",", "]}")
    }
    writeAtomic(fs, markerPath(dirPath, queryId),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Create the empty marker file `path` unless it exists, through the
    * commit store's create-exclusive — not Hadoop's `create`, which on
    * `file:` without native Hadoop forks `chmod` for the file and its
    * `.crc` (about 7 ms per marker against 0.2 ms). A claim that fails
    * with the marker still absent is an I/O failure and throws. */
  private[sources] def createMarker(fs: FileSystem, path: Path): Unit = {
    val q = fs.makeQualified(path)
    if (storeFor(q).tryClaim(fs, q, Array.emptyByteArray).isEmpty &&
        !fs.exists(q))
      throw new java.io.IOException(s"arrow-ipc occ: cannot create $q")
  }

  /** The declared target layouts of the LIVE pending markers: Some(keys)
    * when the marker recorded the layout its write nests by, None for a
    * legacy/empty/unreadable marker (unknown target). Read under the
    * same commit lock the collapse takes, so a marker's create (also
    * under the lock on the append path) can never tear. */
  def livePendingTargets(fs: FileSystem, dirPath: Path)
      : Seq[Option[Seq[String]]] =
    pendingMarkers(fs, dirPath, live = true).map { case (_, st) =>
      if (st.getLen == 0) None
      else scala.util.Try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(
          ArrowFileStats.readFully(fs, st.getPath)) \ "hiveKeys" match {
          case JArray(xs) => Some(xs.collect { case JString(s) => s }: Seq[String])
          case _ => None
        }
      }.toOption.flatten
    }

  /** The append committed or aborted; its marker goes away. */
  def clearPending(fs: FileSystem, dirPath: Path, queryId: String): Unit =
    fs.delete(markerPath(dirPath, queryId), false)

  /** Is any OTHER batch append still in flight (live marker, not mine,
    * younger than the pending-liveness window)? Gates every latch
    * restore. */
  def appendsPending(fs: FileSystem, dirPath: Path,
      exceptQueryId: Option[String] = None): Boolean =
    pendingMarkers(fs, dirPath, live = true)
      .exists { case (qid, _) => !exceptQueryId.contains(qid) }

  /** Query ids of batch appends currently in flight (live markers). File
    * names embed their commit queryId, so membership here marks a file
    * as possibly-uncommitted. */
  def livePendingQueryIds(fs: FileSystem, dirPath: Path): Set[String] =
    pendingMarkers(fs, dirPath, live = true).map(_._1).toSet

  /** The one pending-marker read: (query id, status) of every marker
    * that is `live` (younger than the pending-liveness window) or, with
    * `live = false`, stale. */
  private def pendingMarkers(fs: FileSystem, dirPath: Path, live: Boolean)
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val now = System.currentTimeMillis()
    Option(fs.globStatus(new Path(dirPath, PendingPrefix + "*")))
      .getOrElse(Array.empty).toSeq
      .filter(st => (now - st.getModificationTime <= pendingStaleMs) == live)
      .map(st => st.getPath.getName.stripPrefix(PendingPrefix) -> st)
  }

  /** Is THIS append's own marker still live? The batch commit's cheap
    * pre-check: a live marker means no concurrent committer ever treated
    * this write as dead, so its files were protected throughout; a
    * missing or stale marker (heartbeat died, or a sweep collected it)
    * forces the commit to re-validate its files exist before recording
    * them. */
  def pendingLive(fs: FileSystem, dirPath: Path, queryId: String): Boolean =
    scala.util.Try {
      System.currentTimeMillis() - fs.getFileStatus(
        markerPath(dirPath, queryId)).getModificationTime <= pendingStaleMs
    }.getOrElse(false)

  /** Sweep pending markers old enough to belong to dead runs. */
  def sweepStalePending(fs: FileSystem, dirPath: Path): Unit =
    pendingMarkers(fs, dirPath, live = false)
      .foreach { case (_, st) => fs.delete(st.getPath, false) }

  /** DRIVER-SIDE MARKER HEARTBEAT (round 11): a multi-hour batch append
    * must keep its in-flight protection for its whole write stage — a
    * marker written once at job start would cross [[pendingStaleMs]] and
    * silently become "dead": latch restores would re-expose the
    * directory mid-append and a concurrent compaction could rewrite the
    * job's task-committed files before it commits. The heartbeat
    * refreshes the marker's mtime every window/3 from the driver while
    * the job runs; [[pendingLive]] at commit is the backstop for a died
    * heartbeat. */
  final class PendingHeartbeat private[ArrowOcc] (
      fs: FileSystem, marker: Path) {
    private val interval = math.max(200L, pendingStaleMs / 3)
    @volatile private var stopped = false
    private val t = new Thread(() => {
      while (!stopped) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        if (!stopped) scala.util.Try {
          if (fs.exists(marker)) touch(fs, marker)
        }
      }
    }, s"graft-marker-heartbeat-${marker.getName}")
    t.setDaemon(true)
    t.start()
    /** Stop AND JOIN: the commit deletes the marker right after this
      * returns, so an in-flight touch must not straddle the delete and
      * resurrect the marker (the stray-file race the append-race spec
      * caught). The join is bounded by one touch, not one interval —
      * the interrupt wakes the sleep immediately. */
    def stop(): Unit = {
      stopped = true; t.interrupt()
      scala.util.Try(t.join(5000))
    }
  }

  /** Start refreshing `queryId`'s pending marker until `.stop()`. */
  def heartbeatPending(fs: FileSystem, dirPath: Path,
      queryId: String): PendingHeartbeat =
    new PendingHeartbeat(fs, markerPath(dirPath, queryId))

  private def touch(fs: FileSystem, p: Path): Unit =
    try fs.setTimes(p, System.currentTimeMillis(), -1)
    catch {
      // Stores without setTimes: do NOTHING. An exists-then-create
      // fallback is a TOCTOU that can RESURRECT a marker a concurrent
      // sweepStalePending just collected — and a resurrected marker
      // defeats the commit-side gap detection: pendingLive would report
      // "protection held throughout" when it demonstrably lapsed.
      // setTimes refreshes an existing inode and can never bring a
      // deleted one back; with no such primitive the marker simply goes
      // stale, and the commit's pendingLive=false backstop re-validates
      // the job's files before recording them (the documented degraded
      // mode for such stores).
      case _: UnsupportedOperationException => ()
    }

  /** The commit queryId a data file's name carries — our writers suffix
    * every name with it (`part-NNNNN[-gSSSS][epochTag]-<qid>.arrows`,
    * qid a 36-char UUID). Extracted by POSITION, not endsWith: a
    * non-conforming name (foreign file, or a maintenance rename like
    * `…-compact-<id>`) yields a token that can never EQUAL a real
    * queryId, where a suffix test could silently mis-include names whose
    * tails merely overlap. The one name→queryId convention, shared by
    * the scan's pending-exclusion, the shard-skip test, and maintenance's
    * replaceable filter. */
  def nameQueryId(name: String): String = {
    val stem = name.stripSuffix(".arrows")
    if (stem.length > 36 && stem.charAt(stem.length - 37) == '-')
      stem.substring(stem.length - 36)
    else ""
  }

  /** Restore `_SUCCESS` unless a live append owns the latch. Call under
    * the commit lock. */
  def restoreLatch(fs: FileSystem, dirPath: Path,
      exceptQueryId: Option[String] = None): Unit =
    if (!appendsPending(fs, dirPath, exceptQueryId)) {
      createMarker(fs, new Path(dirPath, "_SUCCESS"))
    }

  /** Newest modification time of `dir` or any of its immediate children
    * — the liveness signal for a staging directory (a hive staging run
    * touches value subdirs, not the top dir). */
  def newestMTime(fs: FileSystem, dir: Path): Long = {
    val top = scala.util.Try(fs.getFileStatus(dir).getModificationTime)
      .getOrElse(0L)
    val kids = Option(scala.util.Try(fs.listStatus(dir)).getOrElse(null))
      .getOrElse(Array.empty).map(_.getModificationTime)
    (top +: kids.toSeq).max
  }

  /** Sweep stale `.<name>.<uuid>.tmp` files a crashed [[writeAtomic]]
    * left at the dataset root or in `_snapshots/` (live ones exist for
    * sub-second windows; the staleness gate protects them). Returns the
    * count swept. */
  def sweepStaleTmp(fs: FileSystem, dirPath: Path): Int = {
    val now = System.currentTimeMillis()
    // `_tags` since round 15: a crashed tag create leaves a hidden
    // `.<name>-<uuid>.tmp` orphan the rename never consumed
    Seq(dirPath, new Path(dirPath, "_snapshots"),
        new Path(dirPath, "_tags")).map { at =>
      if (!fs.exists(at)) 0
      else {
        val dead = Option(fs.listStatus(at)).getOrElse(Array.empty)
          .filter(st => st.isFile &&
            st.getPath.getName.startsWith(".") &&
            // `.tmp-<uuid>` covers orphans from the short-lived earlier
            // tag-tmp naming; no other hidden artifact carries ".tmp"
            (st.getPath.getName.endsWith(".tmp") ||
              st.getPath.getName.contains(".tmp-")) &&
            now - st.getModificationTime > staleMs)
        dead.foreach(st => fs.delete(st.getPath, false))
        dead.length
      }
    }.sum
  }

  /** Delete staging dirs (`.compact-*` / `.cow-*`) only when provably
    * dead — untouched for longer than the staleness window. A younger
    * dir may be a CONCURRENT run mid-stage; its own commit validates, so
    * leaving it costs only disk until it finishes or goes stale.
    * Returns how many dirs were swept. */
  def sweepStaleStaging(fs: FileSystem, dirPath: Path, glob: String): Int = {
    val now = System.currentTimeMillis()
    val dead = Option(fs.globStatus(new Path(dirPath, glob)))
      .getOrElse(Array.empty)
      .filter(st => now - newestMTime(fs, st.getPath) > staleMs)
    dead.foreach(st => fs.delete(st.getPath, true))
    dead.length
  }

  // ── DML in-flight markers + maintenance yield (round 11) ─────────────
  //
  // FAIR SCHEDULING between a statement-level COW writer and a
  // continuous maintenance loop. Bounded retry alone cannot win a DML
  // statement a race it structurally loses: its ~seconds staging window
  // always overlaps several compact/cluster commits, so every re-plan
  // loses again (the stress probe measured exactly this). The marker
  // flips the asymmetry: a retrying DML statement advertises itself
  // (`_dml-<id>`, heartbeat-refreshed), and a MAINTENANCE rewrite —
  // whose loss is cheap, idempotent, and already retried by contract —
  // pauses before its commit until no foreign statement is in flight
  // (bounded by `spark.graft.arrow.dmlYieldMs`, default 30 s, so a
  // pathological statement can only delay maintenance, never starve
  // it). Same-thread markers are exempt (a maintenance call nested
  // inside a DML statement must not wait for its caller).

  private val DmlPrefix = "_dml-"

  /** How long a maintenance commit will defer to in-flight DML. */
  def dmlYieldMs: Long = conf("spark.graft.arrow.dmlYieldMs", 30L * 1000)

  private val threadDml = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Advertise an in-flight DML statement; returns (marker id,
    * heartbeat). Pair with [[clearDml]]. */
  def markDml(fs: FileSystem, dirPath: Path): (String, PendingHeartbeat) = {
    val id = java.util.UUID.randomUUID().toString
    val marker = new Path(dirPath, DmlPrefix + id)
    createMarker(fs, marker)
    threadDml.set(threadDml.get() + id)
    (id, new PendingHeartbeat(fs, marker))
  }

  def clearDml(fs: FileSystem, dirPath: Path, id: String,
      hb: PendingHeartbeat): Unit = {
    hb.stop()
    threadDml.set(threadDml.get() - id)
    scala.util.Try(fs.delete(new Path(dirPath, DmlPrefix + id), false))
  }

  /** Any FOREIGN (not this thread's) live DML marker? */
  private def foreignDmlInFlight(fs: FileSystem, dirPath: Path): Boolean = {
    val now = System.currentTimeMillis()
    val mine = threadDml.get()
    Option(fs.globStatus(new Path(dirPath, DmlPrefix + "*")))
      .getOrElse(Array.empty).exists { st =>
        val id = st.getPath.getName.stripPrefix(DmlPrefix)
        !mine.contains(id) && (now - st.getModificationTime <= pendingStaleMs)
      }
  }

  /** Pause (bounded) while a foreign DML statement is in flight. Called
    * by maintenance rewrites OUTSIDE any lock — never while holding the
    * commit lock, which the statement needs to finish. */
  def yieldToDml(fs: FileSystem, dirPath: Path): Unit = {
    val deadline = System.nanoTime() + dmlYieldMs * 1000000L
    while (foreignDmlInFlight(fs, dirPath) && System.nanoTime() < deadline)
      Thread.sleep(20L + scala.util.Random.nextInt(30))
  }

  /** Sweep DML markers old enough to belong to dead statements. */
  def sweepStaleDml(fs: FileSystem, dirPath: Path): Unit = {
    val now = System.currentTimeMillis()
    Option(fs.globStatus(new Path(dirPath, DmlPrefix + "*")))
      .getOrElse(Array.empty)
      .filter(st => now - st.getModificationTime > pendingStaleMs)
      .foreach(st => fs.delete(st.getPath, false))
  }
}

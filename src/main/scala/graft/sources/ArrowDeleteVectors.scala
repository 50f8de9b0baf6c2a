package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** MERGE-ON-READ row-level DELETE via DELETION VECTORS — the row-level
  * path where copy-on-write genuinely does not scale: a point delete
  * (the GDPR shape: "erase these 40 rows") under COW rewrites every
  * affected file in full, O(file bytes) per deleted row. A deletion
  * vector records the deleted ROW POSITIONS of one immutable data file
  * in a tiny sidecar instead: the delete commits in O(deleted rows),
  * readers mask the positions at scan time, and the next compaction
  * folds the vector away by physically rewriting the survivors (the
  * same maintenance loop the directory already runs). Delta Lake and
  * Iceberg v2 ship the same design (deletion vectors / positional
  * delete files); this is that contract re-expressed over this source's
  * snapshot log and OCC protocol. The reference has no mutation story
  * at all on its write side (a blind `IBlockOutputStream::write` —
  * arrow_clickhouse ParallelInputsSink), so this surface is
  * beyond-reference by construction.
  *
  * Layout and versioning:
  *  - one live vector per data file, under the hidden `.dv/` dir:
  *    `.dv/<dataFileName>.g<gen>.c<cardinality>.dv` — bare data-file
  *    names are unique table-wide (the manifest's own keying), so the
  *    dir stays flat even for hive layouts;
  *  - vectors are CUMULATIVE: a second delete on the same file writes
  *    gen+1 holding the UNION of positions and retires gen to
  *    `.trash/` in the same commit — the live dir holds at most one
  *    vector per file, and `resolve`-ing any snapshot yields exactly
  *    the vector set in force at that snapshot (time travel and the
  *    change feed ride the ordinary log entries: adds = new gens,
  *    removes = old gens);
  *  - commits are crash-safe through the one commit record every swap
  *    writes ([[ArrowMaintenance.Intent]]): vectors are staged, then
  *    under the commit lock the record lands, the `_SUCCESS` latch drops
  *    (lock-free readers never see a torn multi-file delete), staged
  *    vectors flip into place, the snapshot entry lands, and the latch
  *    restores; the one replay converges any crash-and-replay sequence.
  *
  * Scale shape: a delete's cost is one scan of the statically-kept
  * candidate files (stats/bloom pruning applies — the scan, not this
  * module, decides what to open) plus O(deleted positions) metadata; a
  * vector's size is O(its file's deleted rows) delta-varint bytes.
  * Reads of un-deleted files are completely untouched (zero-copy
  * columnar path, no lookups); a file carrying a vector STAYS COLUMNAR
  * — the scan wraps its batches in a row-remapping delegating vector
  * ([[MaskedColumnVector]]: one int-map indirection per access, no
  * per-row bitset probe, no row-path fallback), measured at a 1.3×
  * read tax while vectors live and exactly 1.00× after compaction
  * folds them (tools/mor_scale_probe.log). Position lists are bounded
  * by `spark.graft.arrow.morMaxDeletedRows` (default 10M): above it
  * the statement refuses and points at COW `DELETE`, which IS the
  * right tool for bulk deletes. Positions themselves are bounded to
  * Int.MaxValue at encode time — a row ordinal past 2^31-1 would need
  * a single data file of >2 billion rows, far past the write paths'
  * rolling targets, and the masks index int-addressed structures; the
  * bound is enforced loudly at commit rather than silently truncated
  * at read.
  *
  * Concurrency contract (round 12): two row-level statements whose
  * matched ROW sets are disjoint commute freely — cumulative vector
  * unions compose in either commit order. Statements that touched the
  * SAME row conflict, and the loser is detected across the whole
  * scan-to-commit span: a racing commit that lands BEFORE the loser's
  * staging read surfaces as a fresh position already present in the
  * file's current vector ([[stageVectors]]'s re-delete check — the
  * 9-writer stress probe caught exactly this as a silent duplicate
  * before the check existed), and one that lands AFTER surfaces as the
  * pinned `flip.old` having advanced (commit-time `moved` validation). A
  * racing COW rewrite of a masked file is caught by olds-live
  * validation. Either way the statement throws
  * [[ArrowOcc.CommitConflictException]] having committed nothing, and
  * [[ArrowDml]]'s bounded retry re-plans it — Delta Lake's
  * ConcurrentDeleteReadException contract. The PURE-DELETE path's
  * isolation is selectable (`spark.graft.arrow.morDeleteIsolation` =
  * `serializable` default | `snapshot` — Iceberg's isolation levels):
  * snapshot mode folds a re-delete silently (never a duplicate — no
  * inserts ride a delete), trading "chase concurrently-moved rows" for
  * point-delete liveness under sustained update churn. */
private[graft] object ArrowDeleteVectors {

  val DvDir = ".dv"
  private[graft] val CdcLedgerFile = "_cdc_applied.json"

  // ── CDC idempotency ledger (round 12) ────────────────────────────────
  // The Delta txnAppId/txnVersion contract for foreachBatch CDC-apply:
  // a statement tagged with (app, version) — via the
  // `spark.graft.arrow.cdcTxn` conf, set by [[ArrowCdcApply]] around the
  // per-batch MERGE — records the version in `_cdc_applied.json` IN THE
  // SAME intent/replay commit as its vectors and inserts, and a commit
  // whose version the ledger already covers SKIPS atomically. A crashed
  // micro-batch therefore replays to exactly-once: either the intent
  // landed (replay completes merge + ledger together) or it didn't
  // (the restarted batch re-runs from scratch).

  /** The highest batch version `appId` has applied to this table. */
  def appliedCdcVersion(fs: FileSystem, dirPath: Path,
      appId: String): Option[Long] = {
    val p = new Path(dirPath, CdcLedgerFile)
    if (!scala.util.Try(fs.exists(p)).getOrElse(false)) return None
    import org.json4s._
    scala.util.Try {
      org.json4s.jackson.JsonMethods.parse(
        ArrowFileStats.readFully(fs, p)) match {
        case JObject(fields) => fields.collectFirst {
          case (k, JInt(v)) if k == appId => v.toLong
          case (k, JLong(v)) if k == appId => v
        }
        case _ => None
      }
    }.toOption.flatten
  }

  /** The calling THREAD's (appId, version) tag — [[ArrowCdcApply]] sets
    * it around the batch body, and a DSv2 DML command's commit runs on
    * the thread that issued the statement, so the tag reaches exactly
    * that statement's commit. Thread-confined on purpose: a session
    * conf here would leak the tag to CONCURRENT statements on other
    * threads of the same session (another writer's commit would record
    * — or skip on — a version it had nothing to do with; the 9-writer
    * stress probe's CDC leg exercises exactly that interleaving). The
    * `spark.graft.arrow.cdcTxn` conf remains as an explicit
    * session-level escape hatch for single-threaded callers. */
  private[sources] val threadCdcTxn =
    new ThreadLocal[Option[(String, Long)]] {
      override def initialValue(): Option[(String, Long)] = None
    }

  private def cdcTxn(): Option[(String, Long)] =
    threadCdcTxn.get().orElse(
      scala.util.Try(SparkSession.active.conf
        .getOption("spark.graft.arrow.cdcTxn")).toOption.flatten
        .flatMap { s =>
          val i = s.lastIndexOf(':')
          if (i <= 0) None
          else s.substring(i + 1).toLongOption.map(v => (s.substring(0, i), v))
        })

  /** The calling thread's active CDC tag, for OTHER commit paths (the
    * COW swap) that must honor it with the same atomic skip/fold
    * contract as the MOR commit. */
  private[sources] def currentCdcTxn(): Option[(String, Long)] = cdcTxn()

  /** Fold `(app, ver)` into the ledger — monotone max per app, atomic
    * flip. Runs under the commit lock (from the one commit replay), so
    * the read-modify-write cannot interleave with another committer. */
  private[sources] def foldCdcLedger(fs: FileSystem, dirPath: Path,
      app: String, ver: Long): Unit = {
    val current: Map[String, Long] = {
      val p = new Path(dirPath, CdcLedgerFile)
      if (!scala.util.Try(fs.exists(p)).getOrElse(false)) Map.empty
      else {
        import org.json4s._
        scala.util.Try {
          org.json4s.jackson.JsonMethods.parse(
            ArrowFileStats.readFully(fs, p)) match {
            case JObject(fields) => fields.collect {
              case (k, JInt(v)) => k -> v.toLong
              case (k, JLong(v)) => k -> v
            }.toMap
            case _ => Map.empty[String, Long]
          }
        }.getOrElse(Map.empty)
      }
    }
    val next = current + (app -> math.max(ver, current.getOrElse(app, Long.MinValue)))
    val body = next.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + ArrowFileStats.esc(k) + "\":" + v
    }.mkString("{", ",", "}")
    ArrowOcc.writeAtomic(fs, new Path(dirPath, CdcLedgerFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One live deletion vector: `rel` is the path relative to the table
    * root (`.dv/name.g2.c17.dv`), `gen` its generation, `card` its
    * position count (carried in the name so planning never opens it). */
  case class DvRef(rel: String, gen: Int, card: Long) {
    def name: String = new Path(rel).getName
  }

  def dvRel(dataFileName: String, gen: Int, card: Long): String =
    s"$DvDir/$dataFileName.g$gen.c$card.dv"

  /** `(dataFileName, gen, card)` from a vector file name; None for
    * foreign files. */
  def parseName(name: String): Option[(String, Int, Long)] = {
    if (!name.endsWith(".dv")) return None
    val stem = name.stripSuffix(".dv")
    val ci = stem.lastIndexOf(".c")
    if (ci < 0) return None
    val gi = stem.lastIndexOf(".g", ci - 1)
    if (gi < 0) return None
    for {
      card <- stem.substring(ci + 2).toLongOption
      gen <- stem.substring(gi + 2, ci).toIntOption
      if gen >= 1 && card >= 0
    } yield (stem.substring(0, gi), gen, card)
  }

  // ── the position codec ────────────────────────────────────────────────
  // "GDV1" magic, varint count, then delta-varints over the SORTED
  // positions — a million deleted rows is ~1-3 MB. Written only via
  // atomic flips, so a reader never sees a torn vector.

  private val Magic = Array[Byte]('G', 'D', 'V', '1')

  def encode(sortedPositions: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(16 + sortedPositions.length * 2)
    out.write(Magic)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    varint(sortedPositions.length.toLong)
    var prev = -1L
    sortedPositions.foreach { p =>
      require(p > prev, s"deletion vector: positions not strictly sorted ($p after $prev)")
      // int-addressed masks downstream (BitSet / MaskedColumnVector row
      // maps): a position past 2^31-1 must fail HERE, at commit, not
      // truncate to the wrong bit at read time
      require(p <= Int.MaxValue,
        s"deletion vector: position $p exceeds Int.MaxValue — a single " +
          "data file cannot carry more than 2^31-1 rows under this " +
          "source's write paths; refusing to encode a mask that would " +
          "be silently truncated at read")
      varint(p - prev - 1)
      prev = p
    }
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length >= 4 && java.util.Arrays.equals(
        java.util.Arrays.copyOf(bytes, 4), Magic),
      "deletion vector: bad magic — torn or foreign file")
    var at = 4
    def varint(): Long = {
      var v = 0L; var shift = 0
      while (true) {
        val b = bytes(at); at += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    val n = varint().toInt
    val out = new Array[Long](n)
    var prev = -1L
    var i = 0
    while (i < n) { prev += varint() + 1; out(i) = prev; i += 1 }
    out
  }

  /** Read a vector file (any absolute path — live or trash). */
  def read(fs: FileSystem, p: Path): Array[Long] = {
    val in = ArrowSnapshots.openPlanned(fs, p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      decode(buf.toByteArray)
    } finally in.close()
  }

  /** The positions as a bitset (positions are row ordinals, bounded by
    * the file's row count — a 1M-row file's worst-case set is 128 KB). */
  def readBitSet(fs: FileSystem, p: Path): java.util.BitSet = {
    val bs = new java.util.BitSet()
    read(fs, p).foreach { pos =>
      // encode() rejects these since round 12; be loud (not silently
      // wrong-bit) on a foreign or pre-fix vector
      if (pos > Int.MaxValue) throw new IllegalStateException(
        s"deletion vector $p: position $pos exceeds Int.MaxValue — " +
          "foreign or corrupt vector; masks are int-addressed")
      bs.set(pos.toInt)
    }
    bs
  }

  // ── live listing ─────────────────────────────────────────────────────

  /** The live vectors, keyed by DATA file name — one listing of the
    * (small, maintenance-bounded) `.dv/` dir; empty when absent, which
    * is the zero-cost common case for an un-deleted table. Stale lower
    * gens (a crashed commit's leftovers) lose to the max gen. */
  def live(fs: FileSystem, dirPath: Path): Map[String, DvRef] = {
    val dv = new Path(dirPath, DvDir)
    val entries = scala.util.Try(Option(fs.listStatus(dv))
      .getOrElse(Array.empty)).getOrElse(Array.empty)
    entries.iterator
      // `.mor-<id>-…` staged vectors of an in-flight (or crashed) delete
      // are invisible until their commit renames them into place
      .filter(st => !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        parseName(st.getPath.getName).map { case (data, gen, card) =>
          (data, DvRef(s"$DvDir/${st.getPath.getName}", gen, card))
        }
      }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_.gen) }
  }

  /** The dv rels in force for `olds` (bare names or nested rels) RIGHT
    * NOW — a maintenance rewrite captures this at staging time and
    * records it in its intent, so the commit can prove no vector
    * advanced mid-staging and the replay can retire exactly these. */
  def relsFor(fs: FileSystem, dirPath: Path, olds: Seq[String]): Seq[String] = {
    if (olds.isEmpty) return Nil
    val l = live(fs, dirPath)
    if (l.isEmpty) Nil
    else olds.flatMap(o => l.get(new Path(o).getName).map(_.rel)).distinct.sorted
  }

  /** Commit-time validation for maintenance rewrites (compact / cluster /
    * COW): the deletion vectors in force against `olds` must be EXACTLY
    * the ones the staging read masked (`recorded`) — a vector that
    * advanced mid-staging means the staged survivors RESURRECT
    * freshly-deleted rows, so the swap must lose its race and re-run
    * against the new state. Runs under the commit lock. */
  def validateStable(fs: FileSystem, dirPath: Path, olds: Seq[String],
      recorded: Seq[String], what: String): Unit = {
    val expected: Map[String, String] = recorded.flatMap { rel =>
      parseName(new Path(rel).getName).map { case (data, _, _) => data -> rel }
    }.toMap
    val current = live(fs, dirPath)
    if (current.isEmpty && expected.isEmpty) return
    olds.foreach { o =>
      val name = new Path(o).getName
      if (current.get(name).map(_.rel) != expected.get(name))
        throw new ArrowOcc.CommitConflictException(
          s"arrow-ipc occ: $what on $dirPath lost its race — the deletion " +
            s"vector of $name advanced during staging; re-run against the " +
            "new state")
    }
  }

  /** Sweep `.dv/.mor-*` staged vectors of runs that PROVABLY died before
    * commit (untouched past the OCC staleness window) — a younger one
    * may be a concurrent delete mid-stage and is left alone. */
  def sweepStaleStaged(fs: FileSystem, dirPath: Path): Int = {
    val dv = new Path(dirPath, DvDir)
    if (!fs.exists(dv)) return 0
    val now = System.currentTimeMillis()
    val dead = Option(fs.listStatus(dv)).getOrElse(Array.empty)
      .filter(st => st.getPath.getName.startsWith(".mor-") &&
        now - st.getModificationTime > ArrowOcc.staleMs)
    dead.foreach(st => fs.delete(st.getPath, false))
    dead.length
  }

  /** True iff any live vector exists — the agg-pushdown / planning probe
    * (one existence check when the dir is absent). */
  def any(fs: FileSystem, dirPath: Path): Boolean =
    live(fs, dirPath).nonEmpty

  /** Vectors in force at a resolved SNAPSHOT file set (the `.dv/` rels
    * the log's resolve() yields), keyed by data file name. */
  def fromResolvedSet(set: Set[String]): Map[String, DvRef] =
    set.iterator.filter(_.startsWith(DvDir + "/")).flatMap { rel =>
      parseName(new Path(rel).getName).map { case (data, gen, card) =>
        data -> DvRef(rel, gen, card)
      }
    }.toMap

  /** Split a resolved snapshot set into (data rels, dv rels). */
  def splitResolved(set: Set[String]): (Set[String], Set[String]) =
    // equality tombstones (`.eq/`) ride the same snapshot entries as
    // deletion vectors — both are delete ARTIFACTS, never data files
    set.partition(r => !r.startsWith(DvDir + "/") &&
      !r.startsWith(ArrowEqualityDeletes.EqDir + "/"))

  /** Per-data-file deletion-vector activity over a change-feed window:
    * `topAdd` = the highest vector gen COMMITTED in the window (the
    * positions deleted by the END of it — gens are cumulative), `pre` =
    * the vector IN FORCE AT THE WINDOW START (removed by a window commit
    * but never added by one; gens are linear, so at most one exists).
    * A file whose rows were deleted in the window emits exactly
    * `positions(topAdd) − positions(pre)` as `delete` change rows. */
  def windowActivity(addRels: Iterable[String], removeRels: Iterable[String])
      : Map[String, (Option[DvRef], Option[DvRef])] = {
    def refs(rels: Iterable[String]): Seq[(String, DvRef)] =
      rels.iterator.filter(_.startsWith(DvDir + "/")).flatMap { rel =>
        parseName(new Path(rel).getName).map { case (data, gen, card) =>
          data -> DvRef(rel, gen, card)
        }
      }.toSeq
    val addedAll = refs(addRels)
    val added = addedAll.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).maxBy(_.gen) }
    // a removed rel that was ALSO added in the window is intermediate
    // churn (g1→g2→g3 removes g1 and g2, adds g2 and g3: pre = g1 only)
    val addedRels: Set[String] = addedAll.map(_._2.rel).toSet
    val pre = refs(removeRels).filter(r => !addedRels.contains(r._2.rel))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_.gen) }
    (added.keySet ++ pre.keySet).iterator
      .map(k => k -> (added.get(k), pre.get(k))).toMap
  }

  // ── the MOR DELETE statement ─────────────────────────────────────────

  case class MorDeleteResult(files: Int, deletedRows: Long, retries: Int)

  private[sources] def morMaxRows: Long =
    scala.util.Try(SparkSession.active.conf
      .get("spark.graft.arrow.morMaxDeletedRows", (10L * 1000 * 1000).toString)
      .toLong).getOrElse(10L * 1000 * 1000)

  /** `DELETE FROM dir WHERE condition`, merge-on-read: mark the matching
    * row positions deleted instead of rewriting any data file. Rides
    * [[ArrowDml.withRetry]] (bounded transparent retry + the `_dml-`
    * fair-scheduling marker), so a lost race against concurrent
    * maintenance re-plans and lands hands-free. Returns files touched,
    * rows deleted, retries used. A no-match delete commits nothing. */
  def deleteMor(spark: SparkSession, dir: String,
      condition: String): MorDeleteResult = {
    val ((files, rows), retries) = ArrowDml.withRetry(spark, dir) {
      deleteMorOnce(spark, dir, condition)
    }
    MorDeleteResult(files, rows, retries)
  }

  private def deleteMorOnce(spark: SparkSession, dir: String,
      condition: String): (Int, Long) = {
    import org.apache.spark.sql.functions.{col, collect_list, expr, sort_array}
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ArrowMaintenance.recover(spark, dir) // finish any crashed swap first
    sweepStaleStaged(fs, dirPath) // provably-dead `.dv/.mor-*` leftovers
    // 1. FIND: one scan of the statically-kept candidates — stats/bloom
    // pruning drops provably-unaffected files before any task launches,
    // and the scan's own dv masking keeps already-deleted rows out (a
    // re-run of the same predicate is a no-op, not a fatter vector).
    // ONE table scan: the matching (file, pos) set — tiny for the
    // point-delete shape this path exists for — persists executor-side,
    // so the cap check (which must run BEFORE any positions reach the
    // driver: a runaway predicate fails on a distributed count, never as
    // a driver OOM) and the per-file collect both read the cached hits
    val hits = spark.read.format("arrow-ipc").load(dir)
      .where(expr(condition))
      .select(col(ArrowRowLevel.FileColumn),
        col(ArrowRowLevel.PosColumn))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = hits.count()
      if (total == 0L) return (0, 0L)
      require(total <= morMaxRows,
        s"arrow-ipc MOR delete on $dir matches $total rows (cap " +
          s"spark.graft.arrow.morMaxDeletedRows=$morMaxRows) — a delete this " +
          "bulky should rewrite, not mask: use the COW path (ArrowDml.delete " +
          "/ DELETE FROM), whose cost amortizes at that scale")
      val perFile = hits
        .groupBy(ArrowRowLevel.FileColumn)
        .agg(sort_array(collect_list(col(ArrowRowLevel.PosColumn))).as("pos"))
        .collect()
        .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
      if (perFile.isEmpty) return (0, 0L)
      commitDeletes(spark, dir, perFile)
    } finally hits.unpersist(blocking = false)
  }

  /** The delete's COMMIT TAIL, shared by [[deleteMorOnce]] (the
    * find-scan face) and the SupportsDelta write ([[ArrowMorRowLevel]] —
    * plain SQL `DELETE FROM`): stage cumulative vectors outside the
    * lock, then validate + intent + replay under it. `perFile` keys are
    * the scan's `_file` constants (qualified paths); positions need not
    * be sorted or unique across callers. */
  private[graft] def commitDeletes(spark: SparkSession, dir: String,
      perFileRaw: Array[(String, Array[Long])]): (Int, Long) = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val perFile = perFileRaw.map { case (p, ps) => (p, ps.distinct.sorted) }
    if (perFile.isEmpty) return (0, 0L)
    val deleted = perFile.map(_._2.length.toLong).sum
    require(deleted <= morMaxRows,
      s"arrow-ipc MOR delete on $dir matches $deleted rows (cap " +
        s"spark.graft.arrow.morMaxDeletedRows=$morMaxRows) — a delete this " +
        "bulky should rewrite, not mask: use the COW path (ArrowDml.delete " +
        "/ DELETE FROM), whose cost amortizes at that scale")

    // 2. STAGE new cumulative vectors OUTSIDE the lock (shared helper).
    // Isolation is selectable for the PURE-DELETE path (Iceberg's
    // serializable/snapshot isolation levels, same semantics):
    //  - serializable (default): a fresh position already masked by a
    //    concurrent statement is a conflict — the retry re-plans and
    //    chases rows a concurrent UPDATE moved, so DELETE WHERE pred
    //    observes every committed state;
    //  - snapshot: the clash folds away silently (the union is identical
    //    either way — the row this statement saw IS deleted; only a
    //    concurrently-moved NEW image survives, which snapshot isolation
    //    permits). NEVER a duplicate either way — only the UPDATE/MERGE
    //    path pairs deletes with inserts, and that path stays strict
    //    unconditionally. Snapshot mode keeps point-delete liveness under
    //    sustained concurrent-update churn, where serializable honestly
    //    refuses after bounded retry.
    val isolation = scala.util.Try(SparkSession.active.conf
      .get("spark.graft.arrow.morDeleteIsolation", "serializable"))
      .getOrElse("serializable")
    require(isolation == "serializable" || isolation == "snapshot",
      s"spark.graft.arrow.morDeleteIsolation must be serializable | " +
        s"snapshot, got '$isolation'")
    val staged = stageVectors(fs, dirPath, perFile,
      failOnRedelete = isolation == "serializable")
    if (!commitStaged(fs, dirPath, staged.toSeq, None)) return (0, 0L)
    (perFile.length, deleted)
  }

  /** The COMBINED position-delta commit (UPDATE / MERGE through
    * [[ArrowMorRowLevel]]): `perFileRaw` masks the old images, and the
    * hidden `stagingName` dataset (already committed complete by the
    * ordinary batch write: sentinel, stats, blooms, `_SUCCESS`) carries
    * the inserted rows. ONE intent lands both — a reader can never see
    * the inserts without their paired deletes (duplicate rows) or the
    * deletes without the inserts (lost updates). Returns (files masked,
    * rows deleted). */
  private[sources] def commitDelta(spark: SparkSession, dir: String,
      perFileRaw: Array[(String, Array[Long])],
      stagingName: String): (Int, Long) = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingPath = new Path(dirPath, stagingName)
    val perFile = perFileRaw.map { case (p, ps) => (p, ps.distinct.sorted) }
    val deleted = perFile.map(_._2.length.toLong).sum
    require(deleted <= morMaxRows,
      s"arrow-ipc MOR delta on $dir deletes $deleted rows (cap " +
        s"spark.graft.arrow.morMaxDeletedRows=$morMaxRows) — a statement " +
        "this bulky should rewrite (updateMode/mergeMode=cow), whose " +
        "cost amortizes at that scale")
    val dataRels = ArrowSnapshots.listDataFiles(fs, stagingPath)
    if (perFile.isEmpty && dataRels.isEmpty) {
      fs.delete(stagingPath, true) // a no-match statement commits nothing
      return (0, 0L)
    }
    val staged = stageVectors(fs, dirPath, perFile)
    if (!commitStaged(fs, dirPath, staged.toSeq,
        Some((stagingName, dataRels)))) return (0, 0L)
    (staged.length, deleted)
  }

  /** Stage the cumulative vectors OUTSIDE the lock: union each file's
    * fresh positions with its CURRENT vector; remember which old vector
    * the union was computed against — commit-time validation pins it.
    *
    * RE-DELETE = WRITE-WRITE CONFLICT: a fresh position already present
    * in the file's CURRENT vector means the statement's find-scan read a
    * row some OTHER statement deleted (or updated — its new image is
    * already committed) after this scan planned. Masking it again is a
    * no-op union, but for an UPDATE/MERGE the paired INSERT would land a
    * SECOND new image — a duplicate row; for a DELETE, the row may have
    * been moved by a concurrent update and would silently survive the
    * predicate. Either way the statement planned against a state that no
    * longer holds for the rows it touches, so it throws the same
    * [[ArrowOcc.CommitConflictException]] every lost race throws and
    * [[ArrowDml]]'s bounded retry re-plans it wholesale (Delta Lake's
    * ConcurrentDeleteReadException is the semantic precedent). The pin
    * (`flip.old` → commitStaged's `moved` check) covers vectors advancing
    * AFTER this staging read; this check covers advances BETWEEN the
    * scan and the staging read — together the scan-to-commit span.
    *
    * `failOnRedelete = false` (pure DELETE under snapshot isolation
    * only): the clash folds into the union silently instead — sound
    * there because a delete-only statement admits no inserts, so the
    * worst outcome is a concurrently-MOVED row's new image surviving the
    * predicate, which snapshot isolation permits (Iceberg's snapshot
    * isolation level for row deltas is the precedent). The UPDATE/MERGE
    * path must never pass false. */
  private def stageVectors(fs: FileSystem, dirPath: Path,
      perFile: Array[(String, Array[Long])],
      failOnRedelete: Boolean = true): Array[MorMove] = {
    beforeStageHook()
    val liveNow = live(fs, dirPath)
    val stageId = java.util.UUID.randomUUID.toString.take(8)
    val out = scala.collection.mutable.ArrayBuffer.empty[MorMove]
    perFile.foreach { case (path, fresh) =>
      val name = new Path(path).getName
      val old = liveNow.get(name)
      val merged: Array[Long] = old match {
        case None => fresh
        case Some(ref) =>
          val prior = read(fs, new Path(dirPath, ref.rel))
          if (failOnRedelete) sortedClash(prior, fresh).foreach { p =>
            // clean what this call staged so far, then lose loudly
            out.foreach(m => scala.util.Try(
              fs.delete(new Path(dirPath, m.flip.staged), false)))
            throw new ArrowOcc.CommitConflictException(
              s"arrow-ipc occ: MOR delta on $dirPath lost its race — row " +
                s"position $p of $name was deleted (or updated) by a " +
                "concurrent statement after this statement's scan planned; " +
                "re-run the statement")
          }
          (prior ++ fresh).distinct.sorted
      }
      val gen = old.fold(1)(_.gen + 1)
      val finalRel = dvRel(name, gen, merged.length.toLong)
      val stagedRel = s"$DvDir/.mor-$stageId-${new Path(finalRel).getName}"
      ArrowOcc.writeAtomic(fs, new Path(dirPath, stagedRel), encode(merged))
      out += MorMove(ArrowMaintenance.DvFlip(stagedRel, finalRel, old.map(_.rel)),
        relOf(fs, dirPath, path))
    }
    out.toArray
  }

  /** Test seam: runs at the head of every vector staging — AFTER the
    * statement's find-scan collected its positions, BEFORE the prior
    * vector is read — so a spec can land a COMPETING row-level commit
    * deterministically inside the scan-to-commit window (the interleaving
    * the 9-writer stress probe only hits probabilistically). */
  private[graft] var beforeStageHook: () => Unit = () => ()

  /** First element two SORTED Long arrays share, if any — linear merge,
    * no boxing (arrays are statement-capped). */
  private def sortedClash(a: Array[Long], b: Array[Long]): Option[Long] = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) return Some(a(i))
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    None
  }

  /** COMMIT under the lock: validate (masked files live, vectors
    * unmoved), intent, latch down, replay, latch up. Any validation miss
    * cleans the staged vectors (and the insert staging, when present)
    * and throws the conflict the statement retry re-plans on.
    *
    * Returns false — cleaning the staged artifacts, committing NOTHING
    * — when the session's `spark.graft.arrow.cdcTxn` tag names a batch
    * version the table's CDC ledger already covers: a foreachBatch
    * replay after a crash-and-restart re-runs its MERGE, and this check
    * (under the same lock that applied it) is what makes the re-run a
    * no-op instead of a double-apply. */
  private def commitStaged(fs: FileSystem, dirPath: Path,
      staged: Seq[MorMove],
      data: Option[(String, Seq[String])]): Boolean = {
    // live equality tombstones defer row-level DML (a MOR insert would
    // land unsequenced files the standing tombstones wrongly mask) —
    // EXCEPT the fold's own positional commit, which is how the
    // tombstones retire. Checked before the lock: cheap, and the staged
    // artifacts are cleaned exactly like any refused commit.
    if (!ArrowEqualityDeletes.foldInProgress.get() &&
        ArrowEqualityDeletes.any(fs, dirPath)) {
      staged.foreach(m =>
        scala.util.Try(fs.delete(new Path(dirPath, m.flip.staged), false)))
      data.foreach { case (s, _) =>
        scala.util.Try(fs.delete(new Path(dirPath, s), true)) }
      throw new UnsupportedOperationException(
        s"arrow-ipc: $dirPath has live equality-delete tombstones — " +
          "row-level DML would interleave wrongly with them; fold first " +
          "(ArrowEqualityDeletes.fold / CALL graft.system.purge_eq)")
    }
    val txn = cdcTxn()
    def cleanStaged(): Unit = {
      staged.foreach(m =>
        scala.util.Try(fs.delete(new Path(dirPath, m.flip.staged), false)))
      data.foreach { case (s, _) =>
        scala.util.Try(fs.delete(new Path(dirPath, s), true)) }
    }
    val applied =
      try {
        ArrowOcc.withCommitLock(fs, dirPath) {
          if (txn.exists { case (app, ver) =>
              appliedCdcVersion(fs, dirPath, app).exists(_ >= ver) }) false
          else {
            ArrowOcc.validateOldsLive(fs, dirPath, staged.map(_.dataRel),
              "MOR delta")
            val current = live(fs, dirPath)
            val moved = staged.filter(m =>
              current.get(new Path(m.dataRel).getName).map(_.rel) != m.flip.old)
            if (moved.nonEmpty)
              throw new ArrowOcc.CommitConflictException(
                s"arrow-ipc occ: MOR delta on $dirPath lost its race — the " +
                  s"deletion vector of ${moved.head.dataRel} advanced " +
                  "concurrently; re-run the statement")
            // ONE record lands the vectors and the inserts together
            ArrowMaintenance.commitIntent(fs, dirPath, ArrowMaintenance.Intent(
              staging = data.fold("")(_._1),
              moves = data.fold(Map.empty[String, String])(_._2.map(r => r -> r).toMap),
              kind = if (data.isDefined) "mor-update" else "mor-delete",
              txn = txn,
              flips = staged.map(_.flip)))
            true
          }
        }
      } catch {
        case e: ArrowOcc.CommitConflictException =>
          cleanStaged()
          throw e
      }
    if (!applied) cleanStaged()
    applied
  }

  private def relOf(fs: FileSystem, dirPath: Path, abs: String): String =
    ArrowSnapshots.relativize(fs, dirPath, new Path(abs))

  /** One file's vector flip, and the data file it masks (validation and
    * snapshot bookkeeping). */
  private[sources] case class MorMove(flip: ArrowMaintenance.DvFlip,
      dataRel: String)
}

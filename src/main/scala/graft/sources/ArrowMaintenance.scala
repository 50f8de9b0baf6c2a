package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Maintenance for arrow-ipc directories: COMPACTION — the small-files
  * answer for streaming appends. A micro-batch writer (or many small
  * append jobs) leaves a directory of tiny IPC files; at 100 TB that is
  * death by file-open latency and per-file task overhead. `compact`
  * rewrites them into ~`targetBytes` files with a crash-safe swap.
  *
  * Protocol (each step idempotent, replayable from the intent record):
  *
  *  1. STAGE — read exactly the files being replaced (the DSv2 scan over
  *     the rewrite's own live view), coalesce them to ceil(bytes/target)
  *     partitions (or range-partition and sort them), and write the new
  *     files and their stats manifest into a hidden `.compact-<id>`
  *     subdirectory — no sentinel, no `_SUCCESS`: the intent names what
  *     moves. A crash here leaves the live directory untouched; stale
  *     staging dirs from dead runs are deleted on the next call.
  *  2. SWAP under the `_SUCCESS` latch:
  *     a. record the intent (`_compaction.json`, the one commit record
  *        every swap-style commit writes — see [[Intent]]: here the old
  *        files, the staging dir and its staging→final name mapping);
  *     b. DROP the live `_SUCCESS` — every reader's completeness gate now
  *        refuses the directory and the streaming source holds its offset,
  *        so no reader can observe the mixed old+new state;
  *     c. move staged files in under compaction-scoped final names (never
  *        colliding with live names);
  *     d. write the merged stats manifest (live manifest minus the old
  *        files, plus the staged stats under final names);
  *     e. retire the old files to `.trash/` (time travel reads them
  *        there until expiry);
  *     f. restore `_SUCCESS`, delete the intent record and staging dir.
  *
  * A crash anywhere inside the swap leaves the marker absent — the
  * directory loudly refuses reads instead of serving duplicated rows —
  * and [[recover]] (run automatically at the start of every [[compact]])
  * replays the intent to completion: moves of already-moved files and
  * deletes of already-deleted files no-op, and the manifest merge is a
  * fixed point, so replaying any prefix twice is safe.
  *
  * CONCURRENT WRITERS are serialized through [[ArrowOcc]]: staging is
  * lock-free, the swap (intent → latch → replay) runs under the
  * directory's commit lock, and the swap first validates every file it
  * replaces is still live — a concurrent commit that removed one first
  * wins, and this run retries from the new state (bounded; see
  * [[retryOnConflict]]). Only COMMITTED, non-in-flight files are ever
  * listed as replaceable: uncommitted stream epochs hide behind the
  * ledger filter and in-flight batch appends behind their pending
  * markers. Concurrent readers are safe throughout — they either see the
  * complete old state or refuse during the swap.
  */
object ArrowMaintenance {
  private[graft] val IntentFile = "_compaction.json"
  private[graft] val RestoreGenFile = "_restore_gen"

  /** Monotone restore generation: the snapshot id of the latest restore
    * commit (0 = never restored). The append-log streaming source pins
    * this in its offsets — a restore RE-ADDS previously-removed file
    * names, which breaks the offset-compaction soundness argument ("a
    * gone file cannot return"), so a gen that advanced past the offset's
    * is a non-append change the stream must not silently absorb. */
  def restoreGen(fs: FileSystem, dirPath: Path): Long =
    scala.util.Try(ArrowFileStats.readFully(fs,
      new Path(dirPath, RestoreGenFile)).trim.toLong).getOrElse(0L)
  private[graft] val LineageFile = "_lineage.json"

  /** Outcome of a [[compact]] run: how many files went in and came out. */
  case class CompactionResult(oldFiles: Int, newFiles: Int)

  /** Compact `dir`'s IPC files into ~`targetBytes` files (coalesce — no
    * shuffle; row order within each original file is preserved). Returns
    * the file counts, or None when there is nothing to merge. `codec`:
    * recompress while compacting (`"zstd"` is the natural choice for data
    * cold enough to compact); None keeps it uncompressed.
    *
    * A hive layout compacts per value directory — the small-files answer
    * for streaming ingest, where each epoch lands one file per active
    * value directory. INCREMENTAL by construction: files never combine
    * across value directories, so only directories holding ≥ 2 files are
    * rewritten and every other file stays untouched (not rewritten, not
    * trashed, no snapshot entry) — cost ∝ small-file debt, not table
    * size. The coalesced read lists files grouped by value directory and
    * the rolling hive writer routes rows back into per-value staged files
    * (it rolls on key change, so interleaving costs extra files, never
    * wrong routing). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      codec: Option[String] = None): Option[CompactionResult] =
    retryOnConflict("compact", dir)(
      compactOnce(spark, dir, targetBytes, codec))

  private def compactOnce(spark: SparkSession, dir: String,
      targetBytes: Long,
      codec: Option[String]): Option[CompactionResult] = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir) // finish any crashed swap before touching anything
    // clear staging dirs from runs that PROVABLY died before recording
    // intent (compaction's own, and any copy-on-write rewrite's) — a
    // young dir may be a concurrent run mid-stage and is left alone
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".compact-*")
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".cow-*")
    // crashed-epoch stream orphans are INVISIBLE to the staging read, so
    // they must not survive into `olds` either (deleting a file whose rows
    // were never staged would be fine; recording it as a lineage PARENT of
    // files that don't carry its rows would poison streaming absorption) —
    // sweep the provably-dead ones, and keep the rest out of `olds` via
    // the live view (an in-flight epoch's files are fresh AND
    // uncommitted — invisible either way)
    ArrowStreamCommits.cleanOrphans(fs, dirPath)
    lazy val schema = ArrowInterchange.readSchema(spark, dir)
    val view = ArrowLiveView.load(spark, dir, schema)
    val hiveKeys = ArrowHiveLayout.read(fs, dirPath)
    // compaction stays per-generation: under a hive layout the root files
    // of an evolved table are the flat generation's (migrating them into
    // value dirs is a rewrite decision, CALL cluster's job)
    val olds =
      if (hiveKeys.isEmpty) view.files.filter(_.fields.isEmpty)
      else {
        val dirOf = (f: LiveFile) => new Path(f.rel).getParent.toString
        val nested = view.files.filter(_.fields.nonEmpty)
        val affected = nested.groupBy(dirOf).filter(_._2.size > 1).keySet
        nested.filter(f => affected(dirOf(f)))
      }
    if (olds.length <= 1) return None
    Some(stageAndSwap(spark, dirPath, fs, view.copy(files = olds), schema,
      hiveKeys, targetBytes, codec)(_.coalesce(_)))
  }

  /** PURGE — fold deletion vectors WITHOUT a whole-table rewrite (the
    * `REORG TABLE … APPLY (PURGE)` analog): rewrite ONLY the files
    * carrying a live vector to their survivor rows, retire the vectors,
    * leave every clean file untouched. At 100 TB this is the difference
    * between "fold 3 files' masks" and "rewrite the table" — the
    * targeted tax collector for a steady MOR-delete workload. Rides the
    * standard staged swap (masked staging read, commit-time vector
    * validation, crash-safe replay); like compaction it coalesces across
    * the purged files, so a standing key-grouped claim is dropped (the
    * next cluster re-establishes it) — hive layouts keep their routing
    * through the rolling hive writer. Returns None when no vector lives. */
  def purgeDeletes(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      codec: Option[String] = None,
      onlyFiles: Option[Set[String]] = None): Option[CompactionResult] =
    retryOnConflict("purge", dir)(
      purgeOnce(spark, dir, targetBytes, codec, onlyFiles))

  private def purgeOnce(spark: SparkSession, dir: String,
      targetBytes: Long, codec: Option[String],
      onlyFiles: Option[Set[String]]): Option[CompactionResult] = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir)
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".compact-*")
    val dvs = ArrowDeleteVectors.live(fs, dirPath)
    if (dvs.isEmpty) return None
    lazy val schema = ArrowInterchange.readSchema(spark, dir)
    val view = ArrowLiveView.load(spark, dir, schema)
    val files = view.files.filter(f =>
      dvs.contains(f.name) && onlyFiles.forall(_.contains(f.name)))
    if (files.isEmpty) return None
    Some(stageAndSwap(spark, dirPath, fs, view.copy(files = files), schema,
      ArrowHiveLayout.read(fs, dirPath), targetBytes, codec)(_.coalesce(_)))
  }

  /** The live view a maintenance pass works from: the files it may
    * replace are the view's visible ones — committed stream epochs only,
    * no file of an in-flight batch append (see [[ArrowLiveView]]). No
    * gate wait: [[recover]] has already run, a pass that stages waits
    * out a closed gate in [[stageAndSwap]], and a swap racing this one
    * loses at commit-time validation. */
  private def liveView(spark: SparkSession, dir: String): ArrowLiveView =
    ArrowLiveView.load(spark, dir, ArrowInterchange.readSchema(spark, dir))

  /** Output task count for rewriting `olds` into ~`targetBytes` files.
    * Clamped: ceil(bytes/target) can exceed Int for tiny targets over huge
    * dirs — coalesce only ever reduces, so the clamp is harmless. */
  private def taskCount(olds: Seq[LiveFile], targetBytes: Long): Int =
    math.min(Int.MaxValue.toLong, math.max(1L,
      (olds.map(_.status.getLen).sum + targetBytes - 1) / targetBytes)).toInt

  /** A maintenance op can lose its race at TWO points: at commit-time
    * validation (the clean [[ArrowOcc.CommitConflictException]]), or
    * EARLIER — mid-staging, when a concurrent swap trashes a file
    * between this op's scan planning and a task's open, surfacing as a
    * FileNotFoundException buried in a SparkException chain. Both mean
    * the same thing: the listed state is gone, re-run against the new
    * one. SCOPED to the dataset (round 11): the FNF's message must name
    * a path under `dir` — a genuinely missing foreign path (a
    * misconfigured input read inside the job) fails once, loudly,
    * instead of silently tripling an expensive whole-table staging run. */
  private[sources] def lostRace(t: Throwable, dir: String): Boolean = {
    // both spellings a message can carry: the raw path and the
    // scheme-qualified one ("/a/b" appears inside "file:/a/b" too)
    val under = new Path(dir).toUri.getPath
    def ours(m: String): Boolean = m.contains(under) || m.contains(dir)
    var c = t
    var depth = 0
    while (c != null && depth < 16) {
      val msg = Option(c.getMessage).getOrElse("")
      if (c.isInstanceOf[java.io.FileNotFoundException] && ours(msg))
        return true
      // mid-staging vanish, or a plan that caught a CONCURRENT swap's
      // latch-down window (the swap finishes in ms; the retry's
      // recover() waits on the commit lock and proceeds against the
      // restored state)
      if ((msg.contains("FileNotFoundException") ||
          msg.contains("refusing to read partial data")) && ours(msg))
        return true
      c = c.getCause
      depth += 1
    }
    false
  }

  /** Bounded conflict-retry for maintenance rewrites: a lost commit race
    * (validation conflict OR mid-staging vanish) re-runs the whole op
    * against the new state ([[commitSwap]] cleans a validation loser's
    * staging; a mid-staging loser's dir falls to the stale sweep). */
  private def retryOnConflict[T](what: String, dir: String,
      attempts: Int = 3)(body: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return body
      catch {
        case e: ArrowOcc.CommitConflictException => last = e; i += 1
        case e: Throwable if lostRace(e, dir) => last = e; i += 1
      }
    }
    throw last
  }

  /** Test seam: fires after staging, immediately before a swap tries to
    * commit — the one instant a concurrent commit can deterministically
    * be interleaved. No-op outside specs. */
  private[graft] var beforeSwapHook: () => Unit = () => ()

  /** The one commit tail of every swap-style commit: under the
    * directory's commit lock (re-entrant — callers that assemble or
    * validate their intent under it already hold it), record the intent,
    * drop the latch, replay. No validation here: each caller proves its
    * own preconditions first. A record still on disk is a dead commit's
    * (its holder died, or its replay refused) and is never overwritten —
    * this commit loses, and [[recover]] finishes that one first. */
  private[sources] def commitIntent(fs: FileSystem, dirPath: Path,
      intent: Intent): Unit = ArrowOcc.withCommitLock(fs, dirPath) {
    if (fs.exists(new Path(dirPath, IntentFile)))
      throw new ArrowOcc.CommitConflictException(
        s"arrow-ipc occ: $dirPath holds an unfinished commit record; " +
          s"recover it before the ${intent.kind} commit")
    writeIntent(fs, dirPath, intent)
    fs.delete(new Path(dirPath, "_SUCCESS"), false)
    replay(fs, dirPath)
  }

  /** The serialized swap: under the directory's commit lock, validate
    * every replaced file is still live, then intent → latch → replay. A
    * conflict deletes this run's staging and rethrows for the caller's
    * retry. */
  private def commitSwap(fs: FileSystem, dirPath: Path,
      intent: Intent): Unit =
    try {
      beforeSwapHook()
      // LIVE EQUALITY DELETES refuse every rewriting swap: a rewrite
      // resets its outputs' commit sequence, so standing tombstones
      // would re-mask (or a fold window miss) the rewritten rows —
      // fold the tombstones to positional vectors first. eq-upsert
      // commits ride commitIntent, never this path.
      if (ArrowEqualityDeletes.any(fs, dirPath))
        throw new UnsupportedOperationException(
          s"arrow-ipc: $dirPath has live equality-delete tombstones — " +
            s"${intent.kind} would resurrect masked rows; fold them " +
            "first (ArrowEqualityDeletes.fold / CALL graft.system.purge_eq)")
      // FAIR SCHEDULING: a maintenance rewrite defers its commit while a
      // statement-level COW writer is in flight (bounded) — maintenance
      // losses are cheap and retried by contract, a statement's are not.
      // The statement's own cow swap must not wait for itself.
      if (intent.kind != "cow") ArrowOcc.yieldToDml(fs, dirPath)
      ArrowOcc.withCommitLock(fs, dirPath) {
      // CDC idempotency (round 13): a COW-routed statement tagged with a
      // batch version the table's ledger already covers is a foreachBatch
      // replay after a crash-and-restart — clean its staging and commit
      // NOTHING, under the same lock that applied the original (the MOR
      // commit's exact contract, ArrowDeleteVectors.commitStaged).
      // Checked BEFORE olds-validation: the first apply trashed the olds,
      // so a replay would otherwise die on a spurious conflict.
      if (intent.txn.exists { case (app, ver) =>
          ArrowDeleteVectors.appliedCdcVersion(fs, dirPath, app)
            .exists(_ >= ver) }) {
        fs.delete(new Path(dirPath, intent.staging), true)
        return
      }
      ArrowOcc.validateOldsLive(fs, dirPath, intent.olds,
        s"${intent.kind} swap")
      // a deletion vector that advanced mid-staging means the staged
      // survivors resurrect freshly-deleted rows — the swap loses
      ArrowDeleteVectors.validateStable(fs, dirPath, intent.olds,
        intent.dvs, s"${intent.kind} swap")
      commitIntent(fs, dirPath, intent)
      }
    } catch {
      case e: ArrowOcc.CommitConflictException =>
        fs.delete(new Path(dirPath, intent.staging), true)
        throw e
    }

  /** Standing bloom columns: every schema column any live manifest entry
    * carries a bloom for, minus `exclude` (partition keys are path-borne)
    * — the COW rewrite's derivation, shared by every maintenance rewrite
    * so a compact/cluster never silently degrades point-lookup pruning. */
  private def standingBlooms(fs: FileSystem, dirPath: Path,
      schemaFields: Seq[String], exclude: Seq[String]): Set[String] =
    ArrowFileStats.read(fs, dirPath).values
      .flatMap(_.cols.collect { case (c, s) if s.bloom.isDefined => c })
      .toSet.intersect(schemaFields.toSet) -- exclude

  /** The one staging + swap path of every maintenance rewrite (compact,
    * purge, cluster, unify). `listed` is the pass's live view narrowed to
    * the files it replaces, `tableSchema` the schema it was resolved
    * under. The staging read keeps a batch read's completeness gate: a
    * view listed under a closed gate is re-listed once the gate opens
    * (a concurrent swap's latch-down window), and a gate still closed
    * past `spark.graft.arrow.readGateWaitMs` — a crashed append's files
    * under a dropped latch, its marker stale — refuses (a refusal
    * [[lostRace]] retries), so partial data is never swapped in as
    * committed. The staging frame reads exactly `view`'s files — the
    * DSv2 scan over the handed view, so nothing is listed again, and a
    * file committed by a CONCURRENT writer after the listing is neither
    * staged (its rows would duplicate when it survives the swap) nor
    * replaced. `shape` gets the frame and the ~`targetBytes`
    * task count (a coalesce, or a range-partition and sort); one SQL
    * execution runs [[ArrowIpcDataWriter]] over its internal rows into
    * `.compact-<id>/` — flat files at its root, `hiveKeys` files under
    * their `key=value/` nesting — with the standing bloom columns. The
    * staged stats become the staging manifest, every staged file moves to
    * `…-compact-<id>.arrows` at its own relative place, and the crash-safe
    * intent/replay swaps them in for `view`'s files. Task retries are
    * attempt-isolated: every attempt writes under its own attempt-scoped
    * names and only the winning attempt's commit message reaches the
    * intent. */
  private def stageAndSwap(spark: SparkSession, dirPath: Path, fs: FileSystem,
      listed: ArrowLiveView, tableSchema: StructType, hiveKeys: Seq[String],
      targetBytes: Long, codec: Option[String])(
      shape: (DataFrame, Int) => DataFrame): CompactionResult = {
    val view = if (listed.open) listed else {
      val fresh = ArrowLiveView.forRead(spark, dirPath.toString, tableSchema,
        keep = Some(listed.files.map(_.rel).toSet))
      if (fresh.files.size < listed.files.size)
        throw new ArrowOcc.CommitConflictException(
          s"arrow-ipc: $dirPath changed while its gate was closed; re-listing")
      fresh
    }
    val olds = view.files.map(_.rel)
    val id = java.util.UUID.randomUUID.toString.take(8)
    val staging = s".compact-$id"
    val stagingPath = new Path(dirPath, staging)
    // capture the deletion vectors in force BEFORE the staging read plans:
    // the read masks exactly these, the commit validates none advanced,
    // the replay retires them (the rewrite folded them into the data)
    val dvRels = ArrowDeleteVectors.relsFor(fs, dirPath, olds)
    val df = shape(stagingFrame(spark, dirPath.toString, tableSchema, view),
      taskCount(view.files, targetBytes))
    val schema = df.schema
    ArrowInterchange.codecType(codec) // validate eagerly, on the driver
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val blooms = standingBlooms(fs, dirPath, schema.fieldNames.toSeq, hiveKeys)
    val stagingStr = stagingPath.toString
    val qe = df.queryExecution
    val msgs = SQLExecution.withNewExecutionId(qe, Some("stageAndSwap")) {
      qe.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val w = new ArrowIpcDataWriter(schema, stagingStr, codec,
            s"$id-a${tc.taskAttemptId()}", pid, tc.taskAttemptId(), conf,
            hiveKeys = hiveKeys, bloomCols = blooms)
          tc.addTaskFailureListener(new org.apache.spark.util.TaskFailureListener {
            override def onTaskFailure(ctx: org.apache.spark.TaskContext,
                error: Throwable): Unit = w.abort()
          })
          it.foreach(w.write)
          Iterator(w.commit().asInstanceOf[ArrowIpcCommitMessage])
        }
      }.collect()
    }

    val staged = msgs.toSeq.flatMap(_.files).map { case (abs, st) =>
      ArrowSnapshots.relativize(fs, stagingPath, new Path(abs)) -> st }
    // the staging manifest replay folds in (keyed by bare name, like every
    // manifest)
    ArrowFileStats.write(fs, stagingPath,
      staged.map { case (rel, st) => new Path(rel).getName -> st }.toMap)
    val moves = staged.map { case (rel, _) =>
      rel -> (rel.stripSuffix(".arrows") + s"-compact-$id.arrows") }.toMap

    commitSwap(fs, dirPath, Intent(olds.sorted, staging, moves,
      dvs = dvRels))
    CompactionResult(olds.length, staged.length)
  }

  /** The one read of a chosen set of a table's files: the DSv2 scan over
    * `view`, live or pinned at `asOf` — exactly its files, listed by
    * nobody again — under `schema`, the one `load(dir)` infers
    * ([[ArrowInterchange.readSchema]]) and `view` was resolved under, so
    * files written before a rename or drop resolve as in any read. */
  private[sources] def stagingFrame(spark: SparkSession, dir: String,
      schema: StructType, view: ArrowLiveView,
      asOf: Option[Long] = None): DataFrame =
    GraftSqlShim.tableFrame(spark, new ArrowIpcTable(schema, dir, asOf,
      Some(view)))

  /** [[stagingFrame]] over snapshot `asOf`'s files at paths `rels`. */
  private[graft] def filesAsOf(spark: SparkSession, dir: String, asOf: Long,
      rels: Set[String]): DataFrame = {
    val schema = ArrowInterchange.readSchema(spark, dir)
    stagingFrame(spark, dir, schema, ArrowLiveView.forRead(spark, dir, schema,
      asOf = Some(asOf), keep = Some(rels)), Some(asOf))
  }

  /** CLUSTERED REWRITE — the OPTIMIZE-sort analog: rewrite the dataset
    * ordered on `sortCols` so every file covers a narrow, nearly disjoint
    * interval and the manifest's min/max pruning turns selective on those
    * columns (an arrival- or hash-ordered layout keeps every file for any
    * range predicate; a clustered one opens ~the matching files). Flat
    * layouts range-partition + sort GLOBALLY; hive layouts cluster WITHIN
    * each value directory (whole key groups hash to one task, rows sorted
    * keys-first — partition columns stay path-borne; clustering BY a
    * partition key is refused as meaningless). Whole-table by design —
    * a global sort is a global decision (unlike [[compact]], which is
    * incremental); a one-file dataset still rewrites (re-sorting it is
    * the point). Rows are unchanged — only redistributed — so compaction
    * LINEAGE applies and a drained streaming consumer absorbs the rewrite
    * without re-emitting; same crash-safe swap and NO CONCURRENT WRITER
    * contract as every maintenance op here. */
  def cluster(spark: SparkSession, dir: String, sortCols: Seq[String],
      targetBytes: Long = 128L << 20,
      codec: Option[String] = None,
      withSortColumns: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = identity,
      where: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : Option[CompactionResult] =
    retryOnConflict("cluster", dir)(
      clusterOnce(spark, dir, sortCols, targetBytes, codec, withSortColumns,
        where))

  private def clusterOnce(spark: SparkSession, dir: String,
      sortCols: Seq[String], targetBytes: Long, codec: Option[String],
      withSortColumns: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      where: Array[org.apache.spark.sql.sources.Filter])
      : Option[CompactionResult] = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    require(sortCols.nonEmpty, "cluster: at least one sort column")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir)
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".compact-*")
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".cow-*")
    ArrowStreamCommits.cleanOrphans(fs, dirPath)

    // nothing to rewrite (directory absent, empty, or not yet committed —
    // e.g. a maintenance loop that started before the first ingest batch
    // landed): a no-op, not an error
    lazy val schema = ArrowInterchange.readSchema(spark, dir)
    val view = ArrowLiveView.load(spark, dir, schema)
    if (view.files.isEmpty) return None

    val hiveKeys = ArrowHiveLayout.read(fs, dirPath)
    sortCols.foreach(c => require(!hiveKeys.contains(c),
      s"cluster: '$c' is a hive partition key — every value directory is " +
        "already single-valued on it; cluster by a data column"))
    // SCOPE — the `OPTIMIZE WHERE` analog: with `where` given, only files
    // that MAY contain matching rows (stats/partition-value interval test;
    // a stats-less file conservatively scopes IN) are rewritten, and the
    // rewrite clusters exactly those files' rows among themselves — every
    // out-of-scope file keeps its name, bytes and manifest entry. At
    // 100 TB this turns "a global sort is a global decision" into an
    // operation scoped to the partitions that actually need it.
    val files = scopedOlds(fs, dirPath, view, where)
    if (files.isEmpty) return None
    import org.apache.spark.sql.functions.col
    val out = stageAndSwap(spark, dirPath, fs, view.copy(files = files),
      schema, hiveKeys, targetBytes, codec) { (restricted, n) =>
      // `withSortColumns` derives SYNTHETIC sort dimensions (the z-value
      // of [[clusterZOrdered]]); anything it adds orders the rewrite and
      // is dropped before staging — data files carry the table schema only
      val base = withSortColumns(restricted)
      sortCols.foreach(c => require(base.columns.contains(c),
        s"cluster: sort column '$c' is neither in the schema " +
          s"(${restricted.columns.mkString(", ")}) nor derived by withSortColumns"))
      val synthetic = base.columns.filterNot(restricted.columns.contains).toSeq
      // range-partition on (keys, sortCols): file k covers the k-th
      // sort-key range, so per-file intervals are ~disjoint and stats
      // pruning turns selective. Under hive keys each task covers a
      // contiguous key-then-sort range — a large value directory SPLITS
      // into several ~target-sized files with disjoint sort intervals
      // while small directories share tasks — and rows sort keys-first
      // so the rolling writer emits sorted per-directory runs
      val keys = (hiveKeys ++ sortCols).map(col)
      base.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
        .drop(synthetic: _*)
    }
    // a WHOLE-TABLE cluster on a mid-evolution table physically unified
    // the layout (every file now nests by the current keys, or sits flat
    // for a flat target) — collapse the generation history so SPJ
    // grouping and aggregate pushdown come back
    if (where.isEmpty &&
        ArrowHiveLayout.readGenerations(fs, dirPath).size > 1)
      ArrowHiveLayout.reset(fs, dirPath, hiveKeys)
    Some(out)
  }

  /** The files a (possibly scoped) rewrite replaces: the view's visible
    * files and — when `where` is given — only those not provably free of
    * matching rows. Classification is the same exact-or-conservative
    * stats test the metadata DELETE uses, with hive partition values
    * spliced in; "no stats" scopes IN (the file may match). */
  private def scopedOlds(fs: FileSystem, dirPath: Path, view: ArrowLiveView,
      where: Array[org.apache.spark.sql.sources.Filter]): Seq[LiveFile] =
    if (where.isEmpty) view.files
    else {
      val stats = view.withPartitionStats(ArrowFileStats.read(fs, dirPath))
      view.files.filter(f => stats.get(f.name)
        .forall(st => where.forall(ArrowFileStats.canMatch(_, st))))
    }

  /** Z-ORDERED clustered rewrite: [[cluster]] with a Morton interleave of
    * TWO numeric dimensions instead of a lexicographic sort — each file
    * covers a small rectangle of (colA, colB) space, so manifest min/max
    * pruning is selective on EITHER column (a single-column sort clusters
    * only its own column; the other's per-file range stays global). The
    * z-value construction is [[Sinks.zValue2]]'s pure integer arithmetic
    * over one broadcast global min/max row. Everything else — crash-safe
    * swap, lineage absorption, hive within-directory clustering (range on
    * keys-then-z), whole-table scope — is [[cluster]]'s contract. */
  def clusterZOrdered(spark: SparkSession, dir: String,
      colA: String, colB: String, bits: Int = 12,
      targetBytes: Long = 128L << 20,
      codec: Option[String] = None): Option[CompactionResult] =
    clusterZOrderedN(spark, dir, Seq(colA, colB), bits, targetBytes, codec)

  /** N-dimensional z-ordered rewrite (round 10): [[clusterZOrdered]]
    * generalized to any 2..K dimensions with `K*bits <= 63` — each file
    * covers a small hyper-rectangle of the K-column space, so manifest
    * min/max pruning is selective on EVERY listed column at once.
    * Numeric, date, and timestamp dimensions are accepted directly
    * (dates/timestamps interleave by their epoch-day/µs ordinals — the
    * same forms their stats canonicals store); everything else — scoped
    * `where`, crash-safe swap, OCC commit, hive within-directory
    * clustering — is [[cluster]]'s contract. */
  def clusterZOrderedN(spark: SparkSession, dir: String,
      cols: Seq[String], bits: Int = 12,
      targetBytes: Long = 128L << 20,
      codec: Option[String] = None,
      where: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : Option[CompactionResult] = {
    require(cols.distinct.length == cols.length,
      s"clusterZOrdered: duplicate dimension in ${cols.mkString(", ")}")
    require(cols.length >= 2, "clusterZOrdered: at least two dimensions")
    // same empty-directory no-op as cluster (the schema read below would
    // otherwise throw before cluster's own emptiness check can)
    if (liveView(spark, dir).files.isEmpty) return None
    val schema = ArrowInterchange.readSchema(spark, dir)
    // each dimension rides its NUMERIC ORDINAL: numerics as themselves,
    // dates as epoch days, timestamps as epoch µs (NTZ through the
    // UTC-pinned session cast — every session builder here pins UTC) —
    // the same ordinals the stats canonicals store, so post-rewrite
    // pruning on the raw column is exactly as selective as on the ordinal
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val ordinalOf: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      cols.map { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"clusterZOrdered: column '$c' not in schema " +
              s"(${schema.fieldNames.mkString(", ")})"))
        val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          f.dataType match {
            case _: org.apache.spark.sql.types.NumericType => identity
            case DateType => org.apache.spark.sql.functions.unix_date
            case TimestampType => org.apache.spark.sql.functions.unix_micros
            case TimestampNTZType => (x: org.apache.spark.sql.Column) =>
              org.apache.spark.sql.functions.unix_micros(x.cast(TimestampType))
            case other => throw new IllegalArgumentException(
              s"clusterZOrdered: column '$c' is $other — the Morton " +
                "interleave needs numeric, date, or timestamp dimensions")
          }
        c -> fn
      }.toMap
    val los = cols.indices.map(i => s"__lo$i")
    val his = cols.indices.map(i => s"__hi$i")
    val reserved = (los ++ his :+ "__z")
    require(!schema.fieldNames.exists(reserved.contains),
      s"clusterZOrdered: schema collides with internal names $reserved")
    import org.apache.spark.sql.functions._
    cluster(spark, dir, Seq("__z"), targetBytes, codec, withSortColumns = {
      base =>
        // ONE broadcast 1-row global-bounds pass (scoped runs compute
        // bounds over the in-scope rows only — exactly the space the
        // rewrite redistributes)
        val dim = (i: Int) => ordinalOf(cols(i))(col(cols(i)))
        val bounds = cols.indices.flatMap(i => Seq(
          min(dim(i)).as(los(i)), max(dim(i)).as(his(i))))
        val stats = base.agg(bounds.head, bounds.tail: _*)
        base.crossJoin(broadcast(stats))
          .withColumn("__z", graft.sources.Sinks.zValueN(
            cols.indices.map(i => graft.sources.Sinks.scaleToBits(
              dim(i), col(los(i)), col(his(i)), bits)),
            bits))
          .drop(los ++ his: _*)
    }, where = where)
  }

  /** The copy-on-write commit tail (used by the row-level UPDATE/MERGE/
    * DELETE write, [[ArrowCowWrite]]): swap a fully-staged rewrite in
    * under the `_SUCCESS` latch with the same crash-safe intent/replay
    * discipline as compaction — any crash leaves the latch down and
    * [[recover]] replays to completion. `olds`/`moves` paths are relative
    * to `dir` (nested for hive layouts); `layoutKeys` restores the
    * standing key-grouped claim the clustered rewrite preserved. */
  private[graft] def cowSwap(fs: FileSystem, dirPath: Path, olds: Seq[String],
      staging: String, moves: Map[String, String],
      layoutKeys: Seq[String], dvs: Seq[String] = Nil): Unit =
    // no retry here: the staged rows came from an executed ReplaceData
    // plan — a lost race means the snapshot that plan read is gone, and
    // only the user can decide to re-run the STATEMENT; the conflict
    // surfaces as the DML's failure (staging already cleaned). `dvs` is
    // the PLAN-time deletion-vector set of `olds` (from the scan): the
    // swap validates none advanced since the statement read, and retires
    // them with their files (the rewrite folded the masks into the data).
    // The issuing thread's CDC tag (ArrowCdcApply) rides the intent, so
    // a COW-routed tagged MERGE is exactly-once like the MOR path.
    commitSwap(fs, dirPath,
      Intent(olds.sorted, staging, moves, "cow", layoutKeys, dvs,
        txn = ArrowDeleteVectors.currentCdcTxn()))

  /** PARTITION EVOLUTION (round 13): change the hive partition keys for
    * FUTURE writes, metadata-only — one atomic layout-file update, no
    * data file touched (Iceberg's partition-spec evolution contract).
    * Existing files stay readable under their own generation: the scan
    * unions the flat generation's root files (pruned by their real
    * manifest stats, the new keys included — they are data columns
    * there) with the hive generation's value directories (pruned by
    * directory discovery). Supported transitions keep AT MOST ONE hive
    * generation holding files: flat → hive, hive → flat, and no-ops;
    * hive → different-hive with standing value dirs refuses — rewrite
    * (CALL cluster) to unify first. Refused while equality-delete
    * tombstones live (their masks ride flat-scan partitions only).
    * SPJ grouping and aggregate pushdown degrade (correctly, loudly in
    * the plan) while generations are mixed; a unifying rewrite restores
    * them. */
  def evolvePartitioning(spark: SparkSession, dir: String,
      newKeys: Seq[String]): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dirPath, "_schema.arrows")),
      s"arrow-ipc: $dir is not an arrow-ipc table")
    val schema = ArrowInterchange.readSchema(spark, dir)
    newKeys.foreach { k =>
      val f = schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"arrow-ipc evolvePartitioning: $dir has no column '$k'"))
      require(ArrowHiveLayout.supported(f.dataType),
        s"arrow-ipc evolvePartitioning: column '$k' has type " +
          s"${f.dataType} — not a supported partition-value type")
    }
    recover(spark, dir)
    ArrowOcc.withCommitLock(fs, dirPath) {
      require(!ArrowEqualityDeletes.any(fs, dirPath),
        s"arrow-ipc evolvePartitioning: $dir has live equality-delete " +
          "tombstones — fold them first (CALL graft.system.purge_eq)")
      val gens = ArrowHiveLayout.readGenerations(fs, dirPath)
      if (gens.last == newKeys) return
      // round 14: hive→hive′ with standing value directories is allowed
      // — batch reads union every standing generation, each discovered,
      // pruned and spliced by its own keys. Rewrites (compaction, COW
      // DML) and streaming reads refuse on a multi-generation table
      // until it is unified: whole-table CALL cluster (also collapses
      // the history), or — round 15 — CALL unify_generation, which
      // drains ONE standing generation per maintenance call
      // ([[unifyGeneration]]; cost ∝ the drained generation's bytes,
      // never a full-corpus rewrite for a metadata-only evolution).
      ArrowHiveLayout.declareEvolved(fs, dirPath, newKeys)
    }
  }

  /** Outcome of [[unifyGeneration]]: the drained generation's key list
    * (None = nothing held files; the call only collapsed empty history),
    * the file counts of its rewrite, and the generations still declared
    * after this call (1 = the table is unified — rewrites, COW DML and
    * streaming reads are back). */
  case class UnifyResult(drained: Option[Seq[String]], oldFiles: Int,
      newFiles: Int, generationsRemaining: Int)

  /** INCREMENTAL generation unification (round 15 — the round-14
    * verdict's #2): drain ONE standing old partition generation into the
    * CURRENT layout per call, instead of [[cluster]]'s whole-table
    * rewrite. A 100 TB table that evolved its keys regains compaction /
    * COW DML / streaming by running this from its maintenance loop: each
    * call's cost is ∝ the OLDEST standing generation's bytes (the rest
    * of the table is untouched — not read, not rewritten), reads stay
    * green mid-drain (the drained rows reappear under the current keys;
    * content is identical), and when the last old generation collapses
    * the layout degenerates to a single generation and every refusal
    * lifts. None = the table is already single-generation.
    *
    * Mechanics: files are attributed to generations exactly like the
    * reader (current keys parse first, then each old generation in
    * history order; root files are the flat generation); the oldest
    * file-holding old generation is rewritten through the same staged
    * swap as [[cluster]] (crash-safe intent/replay, DV folding,
    * compaction lineage — rows unchanged), range-partitioned on the
    * current keys so the rewrite lands ~targetBytes files nested by the
    * current layout. Declared-but-empty old generations collapse
    * metadata-only. CRASH CONVERGENCE: a crash between the swap and the
    * history collapse leaves a standing EMPTY generation — the next call
    * attributes zero files to it and collapses it for free. Same NO
    * CONCURRENT WRITER contract as every rewrite here.
    *
    * `maxBytes` (round 15): bound ONE call's rewrite to ~that many bytes
    * of the drained generation — the value-slice granularity for a
    * generation too big for one maintenance window. A partial drain
    * rewrites a file-subset (files are independent within a generation),
    * leaves the rest standing, and skips the history collapse; repeated
    * calls converge (attribution recomputes from what still stands) and
    * the final call collapses the emptied generation. At least one file
    * always drains, so progress is guaranteed. */
  def unifyGeneration(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      codec: Option[String] = None,
      maxBytes: Option[Long] = None): Option[UnifyResult] =
    retryOnConflict("unify_generation", dir)(
      unifyGenerationOnce(spark, dir, targetBytes, codec, maxBytes))

  private def unifyGenerationOnce(spark: SparkSession, dir: String,
      targetBytes: Long, codec: Option[String],
      maxBytes: Option[Long]): Option[UnifyResult] = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir)
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".compact-*")
    ArrowStreamCommits.cleanOrphans(fs, dirPath)
    val gens0 = ArrowHiveLayout.readGenerations(fs, dirPath)
    if (gens0.size == 1) return None
    val schema = ArrowInterchange.readSchema(spark, dir)
    val current = gens0.last
    val oldGens = gens0.init.distinct.filterNot(_ == current)
    // reader-exact attribution: the live view discovers each generation
    // by its own directory levels, so a file's generation is the key list
    // it was discovered under (Nil = flat)
    def genOf(f: LiveFile): Seq[String] = f.fields.map(_.name)
    val view = ArrowLiveView.load(spark, dir, schema)
    val byGen = view.files.groupBy(genOf)
    // GENERATION-TARGETED COLLAPSE FENCE (round 16, replacing round 15's
    // one-instant global fence and its liveness caveat): a write that
    // STARTED under an old layout can still be in flight — a batch
    // append (live `_pending-*` marker) or an uncommitted STREAM EPOCH
    // (files present, ledger entry not yet landed). Collapsing the
    // generation such a write nests by would strand its rows under an
    // undeclared layout (readers discover strictly per declared
    // generation — silently invisible). The fence therefore defers
    // collapsing EXACTLY the generations that evidence says are still
    // live write targets, instead of deferring every collapse for any
    // in-flight traffic anywhere:
    //  - a live pending marker whose recorded target layout
    //    ([[ArrowOcc.markPending]]) equals the generation — or a legacy
    //    marker with no recorded target (unknown: blocks conservatively);
    //  - any listed data file ATTRIBUTED to the generation, committed (a
    //    late append landed mid-drain — the next call drains it) or
    //    hidden (an in-flight write already renamed task files into the
    //    generation's directories).
    // Evaluated INSIDE the commit lock that performs the collapse
    // (round-16 advisor): the drain can run for minutes, so a
    // before-the-drain check proves nothing about commit time; under the
    // lock no marker create (append path takes the same lock), evolve,
    // or epoch commit can straddle the decision. The re-list is O(files)
    // driver-side — paid once per actually-collapsed generation, never
    // per drain slice. LIVENESS: writers target the CURRENT generation
    // (appends validate against the standing layout under the lock;
    // stream epochs refuse to commit into a non-current layout — the
    // sink's mid-run-evolve guard), so continuous ingest never defers an
    // OLD generation's collapse; generations_remaining reaches 1 without
    // quiescing. Crashed leftovers cannot defer forever — cleanOrphans
    // (run above) collects dead epochs, and a crashed writer's marker
    // stops counting on its own: [[ArrowOcc.livePendingTargets]]
    // age-filters by [[ArrowOcc.pendingStaleMs]], so even a LEGACY
    // (target-less) marker — which blocks EVERY generation while live,
    // the conservative unknown — starves collapses for AT MOST one
    // pending-liveness window after its writer's heartbeat dies
    // (default 10 min; a genuinely live legacy writer keeps its marker
    // fresh). No sweep is needed to unblock; the bound is the fence's
    // own liveness filter. (Round 17 — the bound was always structural,
    // now it is contractual: the spec pins it.)
    def collapseFenceSafe(gen: Seq[String]): Boolean = {
      // a concurrent evolve moved the current keys mid-drain: this
      // call's attribution (genOf) is stale — defer every collapse and
      // let the next call re-attribute against the new history
      if (ArrowHiveLayout.readGenerations(fs, dirPath).last != current)
        return false
      val targets = ArrowOcc.livePendingTargets(fs, dirPath)
      if (targets.exists(t => t.isEmpty || t.contains(gen))) return false
      val view = ArrowLiveView.load(spark, dir, schema)
      !(view.files ++ view.invisible).exists(genOf(_) == gen)
    }
    // declared-but-empty old generations (never written, or drained by a
    // call that crashed before its history collapse): metadata-only
    val emptyOld = oldGens.filter(g => byGen.get(g).forall(_.isEmpty))
    if (emptyOld.nonEmpty) ArrowOcc.withCommitLock(fs, dirPath) {
      emptyOld.filter(collapseFenceSafe).foreach(g =>
        ArrowHiveLayout.collapseGeneration(fs, dirPath, g))
    }
    val target = oldGens.find(g => byGen.get(g).exists(_.nonEmpty)) match {
      case None => return Some(UnifyResult(None, 0, 0,
        ArrowHiveLayout.readGenerations(fs, dirPath).size))
      case Some(g) => g
    }
    val oldsAll = byGen(target).sortBy(_.rel)
    // byte-bounded slice: take name-ordered files up to maxBytes (always
    // at least one — progress), leave the rest for the next call
    val sliced = maxBytes match {
      case None => oldsAll
      case Some(mb) =>
        require(mb >= 1, "unify_generation: max_bytes must be >= 1")
        var acc = 0L
        val prefix = oldsAll.takeWhile { f => acc += f.status.getLen; acc <= mb }
        if (prefix.isEmpty) oldsAll.take(1) else prefix
    }
    val partial = sliced.size < oldsAll.size
    import org.apache.spark.sql.functions.col
    // the staging read is exactly the drained generation's files — the
    // other generations are never read, which is the whole point of the
    // incremental path
    val res = stageAndSwap(spark, dirPath, fs, view.copy(files = sliced),
      schema, current, targetBytes, codec) { (restricted, n) =>
      if (current.isEmpty) restricted.repartition(n)
      else restricted.repartitionByRange(n, current.map(col): _*)
        .sortWithinPartitions(current.map(col): _*)
    }
    // a PARTIAL (byte-bounded) drain leaves the
    // generation standing with its undrained files — no collapse, no
    // sweep; the final slice's call does both. The collapse re-checks
    // the generation-targeted fence UNDER the lock: a write still
    // targeting the drained layout (live marker, or files that landed
    // mid-drain) must still find it declared — the next call drains the
    // stragglers and collapses then.
    if (!partial) {
      val collapsed = ArrowOcc.withCommitLock(fs, dirPath) {
        if (collapseFenceSafe(target)) {
          ArrowHiveLayout.collapseGeneration(fs, dirPath, target)
          true
        } else false
      }
      if (collapsed && target.nonEmpty)
        sweepEmptyValueDirs(fs, dirPath, target.head)
    }
    Some(UnifyResult(Some(target), res.oldFiles, res.newFiles,
      ArrowHiveLayout.readGenerations(fs, dirPath).size))
  }

  /** Best-effort removal of the value directories a drain emptied —
    * depth-first, a directory goes only when it holds NOTHING, so files
    * of another generation sharing the first key keep their homes; a
    * concurrent mint loses nothing (the delete just fails). */
  private def sweepEmptyValueDirs(fs: FileSystem, dirPath: Path,
      firstKey: String): Unit =
    Option(fs.globStatus(new Path(dirPath,
        ArrowHiveLayout.escape(firstKey) + "=*")))
      .getOrElse(Array.empty).filter(_.isDirectory)
      .foreach(st => dropEmptyTree(fs, st.getPath))

  /** Depth-first, best-effort removal of every directory under (and
    * including) `at` that holds nothing: a directory with any file keeps
    * it and its ancestors, and a concurrent writer minting a directory
    * loses nothing (the delete just fails). */
  private def dropEmptyTree(fs: FileSystem, at: Path): Unit = {
    Option(scala.util.Try(fs.listStatus(at)).getOrElse(null))
      .getOrElse(Array.empty)
      .filter(_.isDirectory).foreach(st => dropEmptyTree(fs, st.getPath))
    if (scala.util.Try(fs.listStatus(at)).toOption.forall(_.isEmpty))
      scala.util.Try(fs.delete(at, false))
  }

  /** Drop the parent directories of `files` (dataset-relative or
    * absolute) that a replay left empty — hive value directories
    * discovery would prune anyway; this keeps listings clean. The root
    * itself always stays. */
  private def dropEmptiedParents(fs: FileSystem, dirPath: Path,
      files: Seq[String]): Unit =
    files.map(f => new Path(dirPath, f).getParent).distinct.foreach { d =>
      if (d != dirPath && fs.exists(d) &&
          Option(fs.listStatus(d)).forall(_.isEmpty))
        fs.delete(d, false)
    }

  /** Outcome of [[expireSnapshots]]. */
  case class ExpireResult(dropped: Int, trashDeleted: Int)

  /** Outcome of [[vacuum]]. */
  case class VacuumResult(recovered: Boolean, stagingSwept: Int,
      orphansSwept: Int, expired: Option[ExpireResult],
      purged: Option[CompactionResult] = None,
      eqFolded: Option[ArrowEqualityDeletes.EqFoldResult] = None,
      branchesExpired: Option[Seq[String]] = None,
      compacted: Option[CompactionResult] = None,
      unified: Option[UnifyResult] = None)

  /** VACUUM — the one nightly-cron housekeeping entry point: finish any
    * crashed swap, sweep provably-dead staging dirs (`.compact-*` /
    * `.cow-*` past the OCC staleness window), stale pending-append
    * markers, dead stream orphans and task temps, collect MOR vector
    * debt past the masked-fraction threshold (below), and — when
    * `keepFrom` is given — expire time-travel history before that
    * snapshot (collapsing the log prefix into a base checkpoint and
    * collecting unreferenced `.trash/` files). Every step is
    * individually safe under [[ArrowOcc]]'s concurrency protocol, so
    * vacuum can run beside live writers: anything younger than the
    * staleness window is left alone, the expiry section takes the
    * commit lock like any other commit, and the purge leg rides the
    * standard staged swap with commit-time vector validation.
    *
    * AUTO VECTOR-DEBT POLICY (round 12): a table under sustained
    * point-delete churn accumulates masked rows that tax every read
    * until something folds them; before this leg, only a manual
    * `CALL purge` or an incidental compaction collected the debt. Any
    * data file whose live deletion vector masks ≥ θ of its rows
    * (cardinality from the vector name / row count from the stats
    * manifest — no file or vector is opened to decide) gets a TARGETED
    * [[purgeDeletes]] of exactly those files. θ defaults from
    * `spark.graft.arrow.vacuumPurgeMaskedFraction` (0.5 — conservative:
    * a half-masked file is pure debt, rewriting it halves its bytes);
    * ≥ 1.0 disables the leg (a fully-masked file is still collected at
    * exactly 1.0 — pass purgeMaskedAbove > 1.0 to opt out entirely). */
  def vacuum(spark: SparkSession, dir: String,
      keepFrom: Option[Long] = None,
      purgeMaskedAbove: Option[Double] = None): VacuumResult = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recovered = recover(spark, dir)
    val staging = ArrowOcc.sweepStaleStaging(fs, dirPath, ".compact-*") +
      ArrowOcc.sweepStaleStaging(fs, dirPath, ".cow-*") +
      ArrowOcc.sweepStaleStaging(fs, dirPath, ".equp-*") +
      ArrowDeleteVectors.sweepStaleStaged(fs, dirPath)
    ArrowOcc.sweepStalePending(fs, dirPath)
    ArrowOcc.sweepStaleDml(fs, dirPath)
    ArrowOcc.sweepStaleTmp(fs, dirPath)
    val orphans = ArrowStreamCommits.cleanOrphans(fs, dirPath).size
    // BRANCH RETENTION (round 14): an abandoned write-audit-publish
    // branch holds its staged bytes forever — an audit that never
    // published (validation failed, the job died) leaves debt nothing
    // else collects. Any branch whose NEWEST content is older than
    // `spark.graft.arrow.vacuumBranchTtlMs` (default 7 days; <= 0
    // disables) is dropped — one fresh write renews the whole branch,
    // and a branch with a write IN FLIGHT (live pending marker) is
    // always left alone regardless of mtimes.
    val branchTtl = scala.util.Try(spark.conf
      .get("spark.graft.arrow.vacuumBranchTtlMs", "604800000").toLong)
      .getOrElse(604800000L)
    val branchesExpired: Option[Seq[String]] =
      if (branchTtl <= 0L) None
      else {
        val cutoff = System.currentTimeMillis() - branchTtl
        val stale = ArrowBranch.detail(fs, dirPath)
          .filter(b => b.modifiedMs < cutoff &&
            ArrowOcc.livePendingQueryIds(fs,
              new Path(dirPath, s"${ArrowBranch.BranchRoot}/${b.name}")).isEmpty)
          .map(_.name)
        stale.foreach(n => ArrowBranch.drop(spark, dir, n))
        if (stale.isEmpty) None else Some(stale)
      }
    // AUTO EQUALITY-FOLD POLICY (round 13, symmetric with the vector-
    // debt policy below): a table fed by equality upserts accrues
    // tombstones that defer DML/compaction/time-travel and tax reads
    // until something folds them — once the count reaches the threshold
    // (from the `.eq/` listing alone, nothing opened), vacuum folds
    // them to positional vectors, which ALSO unlocks this same run's
    // purge leg to collect the resulting vector debt. Applies only to
    // tables that use equality deletes (new in round 13 — no standing
    // vacuum behavior changes); `spark.graft.arrow.vacuumFoldEqAbove`
    // <= 0 disables.
    val eqAbove = scala.util.Try(spark.conf
      .get("spark.graft.arrow.vacuumFoldEqAbove", "16").toInt)
      .getOrElse(16)
    // KEY-COUNT companion trigger (round 14): the read-side lookup
    // materializes every live tombstone KEY in executor memory, so the
    // resident cost is bounded by total keys, not tombstone count — 16
    // bulk upserts of 10M keys each would hold ~1.6 GB per executor
    // before the count trigger fired. Each tombstone's key count rides
    // its NAME (`.k<count>.`), so the sum costs one listing; default
    // 5M keys ≈ 40-80 MB resident. <= 0 disables the key leg.
    val eqKeysAbove = scala.util.Try(spark.conf
      .get("spark.graft.arrow.vacuumFoldEqKeysAbove", "5000000").toLong)
      .getOrElse(5000000L)
    val eqFolded =
      if (eqAbove <= 0 && eqKeysAbove <= 0L) None
      else {
        val tombs = ArrowEqualityDeletes.liveTombs(fs, dirPath)
        val keys = ArrowEqualityDeletes.liveKeyCount(fs, dirPath)
        if ((eqAbove > 0 && tombs.size >= eqAbove) ||
            (eqKeysAbove > 0L && keys >= eqKeysAbove))
          Some(ArrowEqualityDeletes.fold(spark, dir))
        else None
      }
    val theta = purgeMaskedAbove.getOrElse(
      scala.util.Try(spark.conf
        .get("spark.graft.arrow.vacuumPurgeMaskedFraction", "0.5").toDouble)
        .getOrElse(0.5))
    val purged =
      // live equality tombstones defer every rewrite (commitSwap refuses)
      // — vacuum SKIPS the purge leg instead of failing the nightly cron;
      // CALL purge_eq folds them and the next vacuum purges normally
      if (theta > 1.0 || ArrowEqualityDeletes.any(fs, dirPath)) None
      else {
        val dvs = ArrowDeleteVectors.live(fs, dirPath)
        if (dvs.isEmpty) None
        else {
          // masked fraction from metadata alone: vector cardinality is
          // in its name, row counts in the stats manifest. A file the
          // manifest doesn't know (foreign import) is skipped — purging
          // it needs an operator's explicit CALL purge.
          val stats = ArrowFileStats.read(fs, dirPath)
          val debtors = dvs.collect {
            case (name, ref) if stats.get(name)
                .exists(st => st.rows > 0 &&
                  ref.card.toDouble / st.rows >= theta) => name
          }.toSet
          if (debtors.isEmpty) None
          else purgeDeletes(spark, dir, onlyFiles = Some(debtors))
        }
      }
    // INCREMENTAL UNIFY POLICY (round 15, default OFF): a table left
    // mid-evolution regains rewrites/COW-DML/streaming only once its old
    // generations drain — with this opt-in leg the nightly vacuum drains
    // ONE standing generation per run ([[unifyGeneration]]; cost ∝ that
    // generation's bytes), so a metadata-only key evolution converges to
    // a unified table in N nights with no operator intervention. Runs
    // BEFORE the compaction leg — the drain's output files are exactly
    // the small-file debt that leg then merges. On CURRENT binaries a
    // multi-generation table cannot carry live equality tombstones
    // (upserts re-check the generations UNDER their commit lock —
    // ArrowEqualityDeletes.upsertBatchKeys, round 15 — and
    // evolvePartitioning refuses while tombstones live), but a table
    // written by a pre-fix binary may hold that state: the cron leg
    // DEGRADES on it like every other leg instead of wedging the whole
    // nightly sweep (CALL purge_eq is the repair).
    val unifyOn = scala.util.Try(spark.conf
      .get("spark.graft.arrow.vacuumUnifyGenerations", "false").toBoolean)
      .getOrElse(false)
    val unified =
      if (!unifyOn) None
      else
        try unifyGeneration(spark, dir)
        catch {
          case e: UnsupportedOperationException
              if Option(e.getMessage)
                .exists(_.contains("equality-delete")) => None
          // degrade-don't-fail, like every cron leg (round-16 advisor):
          // a retry-exhausted conflict on one wedged table surface must
          // not abort the compaction and expire legs that follow — the
          // next nightly run retries the drain
          case _: ArrowOcc.CommitConflictException => None
        }
    // AUTO SMALL-FILE COMPACTION (round 14, default OFF): continuous
    // ingest — micro-batch appends, equality upserts, streaming epochs —
    // accrues small files that tax every listing and scan until
    // something merges them; with this leg the nightly `CALL vacuum`
    // really is the ONE cron entry point for an ingest loop. Trigger:
    // the count of live data files smaller than HALF the compaction
    // target (from the listing alone, nothing opened) reaching
    // `spark.graft.arrow.vacuumCompactMinSmallFiles` (default 0 =
    // disabled — compaction REWRITES data, so it is opt-in, unlike the
    // metadata legs). Runs AFTER the purge leg (its rewrites shrink
    // files this leg then merges) and is skipped while equality
    // tombstones live (compaction would refuse; the auto-fold above
    // clears them at its own thresholds).
    val compactMin = scala.util.Try(spark.conf
      .get("spark.graft.arrow.vacuumCompactMinSmallFiles", "0").toInt)
      .getOrElse(0)
    val compactTarget = scala.util.Try(spark.conf
      .get("spark.graft.arrow.vacuumCompactTargetBytes",
        (128L << 20).toString).toLong)
      .getOrElse(128L << 20)
    val compacted =
      if (compactMin <= 0 || ArrowEqualityDeletes.any(fs, dirPath)) None
      else {
        // count only the live view's files (round 15): an in-flight
        // write's files are invisible to readers and to compaction, so
        // letting them trip the trigger would launch a compaction pass
        // that finds nothing to merge
        val small = liveView(spark, dir).files
          .count(_.status.getLen < compactTarget / 2)
        if (small < compactMin) None
        else
          try compact(spark, dir, targetBytes = compactTarget)
          catch {
            // an equality tombstone landed BETWEEN this leg's pre-check
            // and the swap's own refusal (a live upserter racing the
            // nightly cron): degrade like every other vacuum leg — the
            // auto-fold clears the debt at its thresholds and the next
            // sweep compacts. The direct CALL compact keeps the loud
            // refusal.
            case e: UnsupportedOperationException
                if Option(e.getMessage)
                  .exists(_.contains("equality-delete")) => None
          }
      }
    // TAG CLAMP (round 14, moved under the commit lock in round 15):
    // expireSnapshots refuses to expire a tagged snapshot (a named
    // release pin must never silently die), but a nightly
    // vacuum(keepFrom = now - 7d) that THREW forever once a tag aged
    // past the window would stop ALL retention. Vacuum takes the
    // degrade-don't-fail stance (same as the purge leg above):
    // `clampToTags` makes expireSnapshots clamp keepFrom to the oldest
    // tagged snapshot INSIDE its commit lock, over the SAME tag listing
    // its refusal checks — a create_tag racing the sweep can no longer
    // slip between a pre-lock clamp and the locked refusal and turn the
    // cron leg into a throw. The direct CALL expire_snapshots keeps the
    // loud refusal — an explicit request to cross a pin should fail, a
    // cron sweep should not.
    VacuumResult(recovered, staging, orphans,
      keepFrom.map(expireSnapshots(spark, dir, _, clampToTags = true)),
      purged, eqFolded, branchesExpired, compacted, unified)
  }

  /** Expire time-travel history older than snapshot `keepFrom`: the log's
    * prefix collapses into ONE absolute entry at `keepFrom` (every
    * retained id still reconstructs bit-identically), and `.trash/` files
    * no retained snapshot references are deleted for good. Reading an
    * expired snapshot afterwards refuses loudly. Same NO CONCURRENT
    * WRITER contract as all maintenance; live readers are unaffected
    * (the live set never touches the trash). */
  def expireSnapshots(spark: SparkSession, dir: String,
      keepFrom: Long, clampToTags: Boolean = false): ExpireResult = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir) // a half-swapped directory must finish first
    val trashRoot = new Path(dirPath, ArrowSnapshots.TrashDir)
    // LIST the trash BEFORE the lock — O(trash) driver work that must not
    // sit inside a critical section other committers wait on. A file
    // trashed by a commit landing after this listing is simply absent
    // from the candidate set and survives until the next expiry: sound,
    // never a wrong delete.
    val candidates =
      ArrowSnapshots.walk(fs, trashRoot, _ => true)(_ => true).map(_._1)
    // under the lock: METADATA ONLY — validate, fold the retained state,
    // land the base checkpoint, decide the doomed set. Milliseconds held,
    // like every other commit's critical section.
    val (dropped, doomed) = ArrowOcc.withCommitLock(fs, dirPath) {
      val snaps = ArrowSnapshots.read(fs, dirPath)
      // TAGS pin history: expiring a tagged snapshot would turn a named
      // release ref into a permanent refusal. Decided HERE, under the
      // commit lock, over ONE tag listing (round 15): with `clampToTags`
      // (vacuum's cron leg) keepFrom clamps to the oldest pin — history
      // back to it is retained, everything older still expires, the loop
      // keeps running, and a create_tag racing the sweep sees the same
      // listing the refusal would. A tagged id is always retained
      // (creation validates it; the clamp preserves it), so the clamped
      // expire succeeds. Without the flag (the direct CALL), refuse
      // loudly naming the tags — dropping the tag is the explicit
      // opt-out, a silent expiry is never. A tag AT the keep point
      // survives (it becomes the base).
      val tags = ArrowTags.list(fs, dirPath)
      val keep =
        if (clampToTags && tags.nonEmpty)
          math.min(keepFrom, tags.map(_.snapshot).min)
        else keepFrom
      val pinned = tags.filter(_.snapshot < keep)
      require(pinned.isEmpty,
        s"arrow-ipc: expire_snapshots(keepFrom=$keep) would expire " +
          s"tagged snapshot(s) ${pinned.map(t => s"'${t.name}' -> ${t.snapshot}")
            .mkString(", ")} on $dir — drop the tag(s) or keep from " +
          s"${pinned.map(_.snapshot).min} or earlier")
      val base = snaps.find(_.id == keep).getOrElse(
        throw new IllegalArgumentException(
          s"arrow-ipc: $dir has no snapshot $keep to keep from" +
            (if (snaps.isEmpty) " (no snapshot log)"
            else s" — the log records ${snaps.head.id}..${snaps.last.id}")))
      val tail = snaps.filter(_.id > keep)
      val baseState = ArrowSnapshots.resolve(snaps, keep).get
      // every retained snapshot's file set still needs its trash copies.
      // The union of all states ≥ keepFrom is state(keepFrom) ∪ every file
      // ADDED after it (a later-removed file still appears in the state of
      // its add snapshot) — one O(history) pass, where refolding resolve()
      // per retained id would be O(history²) under the commit lock.
      val needed = baseState ++ tail.flatMap(_.adds)
      ArrowSnapshots.writeBase(fs, dirPath,
        ArrowSnapshots.Snapshot(keep, base.tsMillis,
          baseState.toSeq.sorted, Nil))
      (snaps.count(_.id < keep), candidates.filterNot(needed))
    }
    // O(files) DELETES OUTSIDE the lock: once the base has landed, no
    // retained snapshot references a doomed file and every expired id
    // already refuses — nothing can start needing one. Concurrent commits
    // only ADD trash files, which are never in the doomed set.
    doomed.foreach(rel =>
      scala.util.Try(fs.delete(new Path(trashRoot, rel), false)))
    // drop emptied trash directories (incl. the root when history is
    // gone) — best-effort: a concurrent moveToTrash may be minting a
    // directory this instant, and losing the cosmetic cleanup beats
    // failing its rename
    if (fs.exists(trashRoot)) dropEmptyTree(fs, trashRoot)
    ExpireResult(dropped, doomed.size)
  }

  /** Delete crashed-epoch leftovers of the streaming sink: stream-named
    * files with no committed ledger entry, plus stray task temps. Runs
    * automatically at stream start and at [[compact]]; exposed for ops.
    * Same NO CONCURRENT WRITER contract as compaction — an active
    * stream's in-flight epoch is indistinguishable from an orphan. */
  def cleanOrphans(spark: SparkSession, dir: String): Seq[String] = {
    val dirPath = new Path(dir)
    ArrowStreamCommits.cleanOrphans(
      dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration), dirPath)
  }

  /** Finish a commit a dead process left behind — whatever its kind
    * (compaction, COW, equality upsert or fold, publish, metadata delete,
    * restore, merge-on-read delta): every swap-style commit writes the
    * one record [[Intent]], and [[replay]] runs it. True = a record was
    * found and replayed (the directory is whole again); false = nothing
    * to do. */
  def recover(spark: SparkSession, dir: String): Boolean = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val intent = new Path(dirPath, IntentFile)
    // cheap unlocked probe first — recover() runs at the head of every
    // maintenance op and scan-side callers, and the common case is "no
    // intent"; when one exists, re-check and replay under the lock (the
    // dead holder's lock breaks after the staleness window)
    fs.exists(intent) && ArrowOcc.withCommitLock(fs, dirPath) {
      fs.exists(intent) && { replay(fs, dirPath); true }
    }
  }

  // ── metadata-level DELETE ────────────────────────────────────────────────

  /** Outcome of [[deleteWhere]]: whole files dropped / kept untouched. */
  case class DeleteResult(deleted: Int, kept: Int)

  /** Can `deleteWhere(filters)` act on this directory METADATA-ONLY —
    * i.e. does every live file classify as provably-all-match (drop
    * whole) or provably-none-match (keep untouched)? The Iceberg
    * metadata-delete contract re-expressed over this source's stats
    * manifest: no row is ever rewritten, so a `false` here means the
    * caller must rewrite instead (Spark surfaces it as "cannot delete
    * where"). Sound by the manifest's exact-or-invalid discipline —
    * a file without stats, an invalid interval, or a straddling file
    * refuses; refusal is the only failure mode, never a wrong drop.
    *
    * Empty `filters` = unconditional delete (every file matches). A
    * hive-partitioned directory classifies through the same machinery —
    * its partition-key values are spliced into each file's stats view,
    * so `DELETE WHERE key = v` drops exactly the value directories. */
  def canDeleteWhere(spark: SparkSession, dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    classify(spark, dir, filters).isDefined

  /** Execute a provable whole-file delete under the `_SUCCESS` latch with
    * a crash-safe intent record (same recovery discipline as compaction:
    * any crash leaves the marker down and [[recover]] replays to
    * completion). Throws when [[canDeleteWhere]] is false. Same
    * NO CONCURRENT WRITER contract as all maintenance here. */
  def deleteWhere(spark: SparkSession, dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): DeleteResult = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir) // finish any crashed swap before classifying
    // classification is driver-side metadata only (stats lookups), so the
    // WHOLE delete — classify through replay — fits under the commit
    // lock: the doomed set cannot go stale, and no conflict is possible
    ArrowOcc.withCommitLock(fs, dirPath) {
      val (doomed, total) = classify(spark, dir, filters).getOrElse(
        throw new UnsupportedOperationException(
          s"arrow-ipc: cannot delete from $dir by metadata alone — " +
            s"[${filters.mkString(", ")}] does not provably select whole " +
            "files (a file straddles the predicate, or lacks stats); " +
            "rewrite the data instead"))
      if (doomed.isEmpty) DeleteResult(0, total)
      else {
        val rels = doomed.map(p => ArrowSnapshots.relativize(fs, dirPath, p)).sorted
        // a dropped file's deletion vector retires with it — read under
        // the lock, where the live vectors are exactly the snapshot tip's
        commitIntent(fs, dirPath, Intent(olds = rels, kind = "delete",
          dvs = ArrowDeleteVectors.relsFor(fs, dirPath, rels)))
        DeleteResult(doomed.length, total - doomed.length)
      }
    }
  }

  /** Some((doomed paths, live total)) when EVERY file of the live view
    * (every generation of an evolving table) classifies cleanly; None =
    * at least one file straddles or is unprovable. Stats are keyed by
    * file NAME (the manifest's own key — unique across value directories
    * because every name embeds partition id, roll sequence and commit
    * queryId), hive files with their directory values spliced in; a hive
    * file missing from the manifest still classifies on its PARTITION
    * columns alone (rows=1: enough for the nulls==0 / all-null branches,
    * claims no data-column knowledge — a data-column predicate refuses). */
  private def classify(spark: SparkSession, dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[(Seq[Path], Int)] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val view = liveView(spark, dir)
    val manifest = ArrowFileStats.read(fs, dirPath)
    val stats = view.withPartitionStats(manifest ++ view.files.collect {
      case f if f.fields.nonEmpty && !manifest.contains(f.name) =>
        f.name -> FileStats(1L, Map.empty)
    })
    val doomed = view.files.map { f =>
      stats.get(f.name) match {
        case Some(st) if filters.forall(ArrowFileStats.mustMatchAll(_, st)) =>
          Some(f.status.getPath)
        case Some(st) if !filters.forall(ArrowFileStats.canMatch(_, st)) =>
          None // provably untouched
        case None if filters.isEmpty => Some(f.status.getPath) // unconditional
        case _ => return None // straddles, or no stats: refuse
      }
    }
    Some((doomed.flatten, view.files.length))
  }

  /** Remove `names`' entries from the base stats manifest and every
    * shard — envelope rows recompute with the shard rewrite, emptied
    * shards (and their index rows) drop whole. The stats step of a
    * record that retires files without staging any; a fixed point. */
  private def scrubStats(fs: FileSystem, dirPath: Path,
      names: Set[String]): Unit = {
    val base = ArrowFileStats.readBase(fs, dirPath)
    val keptBase = base -- names
    if (keptBase.size != base.size) ArrowFileStats.write(fs, dirPath, keptBase)
    ArrowFileStats.shardIds(fs, dirPath).foreach { qid =>
      val shard = ArrowFileStats.readShard(fs, dirPath, qid)
      val kept = shard -- names
      if (kept.isEmpty && shard.nonEmpty)
        ArrowFileStats.deleteShards(fs, dirPath, Seq(qid))
      else if (kept.size != shard.size)
        ArrowFileStats.writeShard(fs, dirPath, qid, kept)
    }
  }

  // ── snapshot RESTORE (rollback) ──────────────────────────────────────

  /** Outcome of [[restore]]: files brought back from the trash / retired
    * to it, and the id of the restore's own snapshot entry. */
  case class RestoreResult(toSnapshot: Long, restoredFiles: Int,
      removedFiles: Int, newSnapshot: Long)

  /** RESTORE the live table to the exact state of snapshot `toSnapshot`
    * — Iceberg's rollback / Delta Lake's RESTORE re-expressed over this
    * source's snapshot log. History is NEVER rewritten: the restore is
    * ONE new snapshot entry whose resolved state equals the target's
    * (adds = target files currently retired, back from `.trash/`;
    * removes = files added after the target, retired to `.trash/`), so
    * every prior snapshot — including the pre-restore tip — stays
    * time-travelable, the change feed sees the restore as an ordinary
    * adds/removes delta, and a second restore can roll the roll-back
    * back. Deletion-vector rels ride the same entries, so the restored
    * state masks exactly what the target masked.
    *
    * Cost is O(delta) renames + one log append — no data byte is read or
    * written (both directions move between the live tree and `.trash/`,
    * the same retirement discipline every rewrite uses). Crash-safe via
    * the intent/replay discipline ([[recover]] converges a half-restored
    * directory); refuses loudly if the target is unknown or any needed
    * file was expired by [[expireSnapshots]]. Restored streaming-epoch
    * files re-union their commit ids into the stream ledger (visibility
    * is ledger-gated); stats entries of removed files are scrubbed, and
    * a restored file whose entry was scrubbed by the forward path simply
    * reads unpruned until the next rewrite (sound — stats are advisory).
    * CDC idempotency ledgers (`_cdc_applied.json`) are deliberately NOT
    * restored — replaying an already-applied batch version after a
    * restore stays a no-op, Delta's own RESTORE caveat.
    *
    * Concurrency: unlike staged maintenance rewrites, the WHOLE restore
    * (diff, validation, moves, log append) runs under the commit lock —
    * metadata-only, milliseconds held — so it cannot lose a race. A
    * concurrent staged rewrite that commits after it fails olds-live /
    * vector validation and retries; an in-flight append commits its own
    * files AFTER the restore (union state), never torn; in-flight scans
    * of retired files fall back to their `.trash/` copies (openPlanned).
    * Checkpointed append-log STREAMS gate on the restore generation —
    * see [[restoreGen]] and the ignoreRestores read option. */
  def restore(spark: SparkSession, dir: String, toSnapshot: Long,
      dryRun: Boolean = false): RestoreResult = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir) // a half-swapped directory must finish first
    ArrowOcc.withCommitLock(fs, dirPath) {
      val snaps = ArrowSnapshots.read(fs, dirPath)
      val target = ArrowSnapshots.resolve(snaps, toSnapshot).getOrElse(
        throw new IllegalArgumentException(
          s"arrow-ipc: $dir has no snapshot $toSnapshot to restore to" +
            (if (snaps.isEmpty) " (no snapshot log)"
            else s" — the log records ${snaps.head.id}..${snaps.last.id}")))
      val tipId = snaps.last.id
      val tip = ArrowSnapshots.resolve(snaps, tipId).getOrElse(Set.empty)
      // restoring INTO an equality-delete window refuses: the retired
      // data files' commit sequences left the stats manifest with them,
      // so the masking rule could not be reconstructed after the
      // rollback (same contract as the time-travel read's refusal)
      require(!target.exists(_.startsWith(
          ArrowEqualityDeletes.EqDir + "/")),
        s"arrow-ipc: cannot restore $dir to snapshot $toSnapshot — it " +
          "has equality-delete tombstones in force; restore to a " +
          "snapshot at or after their fold instead")
      val adds = (target -- tip).toSeq.sorted
      val removes = (tip -- target).toSeq.sorted
      if (adds.isEmpty && removes.isEmpty)
        RestoreResult(toSnapshot, 0, 0, tipId) // already that state
      else {
        // validate EVERY add is materializable BEFORE mutating anything —
        // a restore must be all-or-nothing, and expiry is the one thing
        // replay cannot converge past
        adds.foreach { rel =>
          require(fs.exists(new Path(dirPath, rel)) ||
              fs.exists(ArrowSnapshots.trashPath(dirPath, rel)),
            s"arrow-ipc: cannot restore $dir to snapshot $toSnapshot — " +
              s"'$rel' is expired (gone from both the live set and the " +
              "trash); expireSnapshots already reclaimed it")
        }
        // DRY RUN: the full diff + materializability validation with
        // NOTHING mutated — "what would this rollback do" answered with
        // the same code path that would do it (newSnapshot = current tip)
        if (dryRun) RestoreResult(toSnapshot, adds.size, removes.size, tipId)
        else {
          commitIntent(fs, dirPath,
            Intent(olds = removes, restores = adds, kind = "restore"))
          RestoreResult(toSnapshot, adds.size, removes.size,
            ArrowSnapshots.currentTip(fs, dirPath))
        }
      }
    }
  }

  /** [[restore]] addressed by WALL CLOCK instead of snapshot id — rolls
    * back to the newest snapshot committed at or before `tsMillis`
    * (`TIMESTAMP AS OF` semantics, made actionable): "restore to 03:00,
    * before the bad run" without reading the log first. Refuses when
    * nothing was committed by then. */
  def restoreAt(spark: SparkSession, dir: String, tsMillis: Long,
      dryRun: Boolean = false): RestoreResult = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = ArrowSnapshots.read(fs, dirPath)
    val id = ArrowSnapshots.resolveAt(snaps, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"arrow-ipc: $dir has no snapshot at or before ${tsMillis} ms" +
          (if (snaps.isEmpty) " (no snapshot log)"
          else s" — the earliest records ${snaps.head.tsMillis} ms")))
    restore(spark, dir, id, dryRun)
  }

  /** The one replay: runs the commit record ([[Intent]]) to completion,
    * whatever its kind. Each step acts only when its fields are non-empty
    * and checks before acting, so any crash-and-replay sequence converges
    * to the committed state. Called under the commit lock, at commit
    * ([[commitIntent]]) or from [[recover]]. */
  private def replay(fs: FileSystem, dirPath: Path): Unit = {
    val intent = readIntent(fs, dirPath)
    val staging = intent.stagingPath(dirPath)
    // the latch FIRST, even when replaying: a crash between intent-write
    // and marker-drop leaves the marker up, and moving files under a live
    // marker would expose readers to the mixed old+new state
    fs.delete(new Path(dirPath, "_SUCCESS"), false)
    // (c) flip staged vectors to their final names, move staged files in
    // (targets may be NESTED: a cow rewrite of a hive-partitioned dataset
    // lands `key=value/part-…` paths, and an UPDATE can mint a value
    // directory that never existed), bring restored files back from the
    // trash
    intent.flips.foreach(f => moveIn(fs, dirPath, intent.kind,
      new Path(dirPath, f.staged), new Path(dirPath, f.fin)))
    intent.moves.toSeq.sortBy(_._1).foreach { case (s, fin) =>
      moveIn(fs, dirPath, intent.kind,
        new Path(new Path(dirPath, intent.staging), s), new Path(dirPath, fin))
    }
    intent.restores.foreach(rel => moveIn(fs, dirPath, intent.kind,
      ArrowSnapshots.trashPath(dirPath, rel), new Path(dirPath, rel)))
    // (d) stats. Manifests key on BARE file names (unique across value
    // directories), so relative paths are stripped to names on both sides.
    val oldNames = intent.olds.map(o => new Path(o).getName)
    staging match {
      case Some(sp) =>
        val movesByName = intent.moves.map { case (k, v) =>
          new Path(k).getName -> new Path(v).getName }
        val staged = ArrowFileStats.read(fs, sp)
          .map { case (k, v) => movesByName.getOrElse(k, k) -> v }
        if (intent.rowDelta) {
          // a statement's inserts land as a SHARD keyed by the staging id:
          // O(1) commit work, the batch append's own discipline (an
          // idempotent overwrite; a deleted staging already landed it)
          if (staged.nonEmpty)
            ArrowFileStats.writeShard(fs, dirPath, intent.staging.stripPrefix("."), staged)
        } else {
          // merged manifest: a fixed point under replay — minus(olds)
          // no-ops once gone, staged stats are constant. SNAPSHOT the shard
          // set first, fold exactly that snapshot into the base, then
          // delete exactly that snapshot: a large commit landing between
          // these lines keeps both its shard and its index row — its stats
          // are never folded-without-deleting or deleted-without-folding
          val shardSnapshot = ArrowFileStats.shardIds(fs, dirPath)
          val onDiskStats = ArrowFileStats.readBase(fs, dirPath) ++
            shardSnapshot.flatMap(ArrowFileStats.readShard(fs, dirPath, _))
          ArrowFileStats.write(fs, dirPath, (onDiskStats -- oldNames) ++ staged)
          ArrowFileStats.deleteShards(fs, dirPath, shardSnapshot)
        }
      case None =>
        if (oldNames.nonEmpty) scrubStats(fs, dirPath, oldNames.toSet)
    }
    // (d') lineage: record new-file → replaced-files so a streaming
    // consumer whose offset already covers the olds can absorb the
    // compacted file WITHOUT re-emitting its rows (idempotent merge —
    // same entries every replay; append-only across compactions so
    // chained lineage resolves transitively). A COW rewrite must NOT
    // claim lineage: its rows CHANGED, so "parents covered ⇒ rows already
    // emitted" would make a streaming consumer silently skip the updated
    // rows — the rewritten files are honestly new data to a stream.
    // lineage entries use BARE NAMES on both sides (names are unique
    // across value directories; the streaming source's offsets are also
    // name-sets) — identity for flat layouts, a strip for hive
    if (intent.kind == "compact")
      writeLineage(fs, dirPath,
        readLineage(fs, dirPath) ++ intent.moves.values.map(v =>
          new Path(v).getName -> oldNames))
    // (e) retire the old files, the vectors retired with them (a rewrite
    // FOLDED them — its staging read masked them; a delete drops them with
    // their files) and the superseded vectors to `.trash/` (time travel
    // finds them there until expiry; the move is idempotent under replay),
    // record ONE snapshot delta for the whole commit, and drop the hive
    // value directories left empty
    val retired = intent.olds ++ intent.dvs ++ intent.flips.flatMap(_.old)
    retired.foreach(r => ArrowSnapshots.moveToTrash(fs, dirPath, r))
    val adds = intent.flips.map(_.fin) ++ intent.moves.values ++ intent.restores
    if (!(intent.fenced && tipReflects(fs, dirPath, adds, retired)))
      ArrowSnapshots.append(fs, dirPath, adds, retired, op = intent.kind)
    dropEmptiedParents(fs, dirPath, intent.olds)
    // the layout claim after staged files land (a row delta leaves it
    // alone): compaction coalesces across keys, destroying any key-grouped
    // claim; a COW rewrite clustered its output on the standing keys, so
    // the claim it recorded is restored; a commit recording no keys drops it
    if (staging.isDefined && !intent.rowDelta) {
      if (intent.kind == "compact" || intent.layoutKeys.isEmpty)
        ArrowLayout.delete(fs, dirPath)
      else ArrowLayout.write(fs, dirPath, intent.layoutKeys)
    }
    // (e') the streaming ledger. Restored stream-epoch files become
    // visible again only through it — union their commit ids back in. A
    // rewrite prunes the committed set down to ids that still name a live
    // file (rewritten outputs are not stream-named, so their visibility no
    // longer rides the ledger); the per-query epoch fence is KEPT — it
    // guards epoch replays, not visibility. Both are fixed points.
    val restoredIds = intent.restores.map(r => new Path(r).getName)
      .filter(ArrowStreamCommits.isStreamName)
      .map(ArrowStreamCommits.commitIdOf).toSet
    if (restoredIds.nonEmpty) {
      val led = ArrowStreamCommits.read(fs, dirPath)
        .getOrElse(ArrowStreamCommits.Ledger(Map.empty, Set.empty))
      if (!restoredIds.subsetOf(led.committed))
        ArrowStreamCommits.write(fs, dirPath,
          led.copy(committed = led.committed ++ restoredIds))
    }
    if (intent.olds.nonEmpty && staging.isDefined)
      ArrowStreamCommits.read(fs, dirPath).foreach { led =>
        val liveIds = ArrowSnapshots.listDataFiles(fs, dirPath)
          .map(rel => new Path(rel).getName)
          .filter(ArrowStreamCommits.isStreamName)
          .map(ArrowStreamCommits.commitIdOf).toSet
        val keep = led.committed.intersect(liveIds)
        if (keep != led.committed)
          ArrowStreamCommits.write(fs, dirPath, led.copy(committed = keep))
      }
    // a restore advances the restore generation to the tip AFTER the log
    // append — monotone and replay-safe (a re-replay reads a tip ≥ the
    // restore entry's id; overshooting only marks MORE polls as
    // restore-affected, never fewer). Streams gate on this: file names
    // CAME BACK.
    if (intent.kind == "restore")
      ArrowOcc.writeAtomic(fs, new Path(dirPath, RestoreGenFile),
        ArrowSnapshots.currentTip(fs, dirPath).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // (e'') CDC idempotency: a tagged statement records its batch version
    // in the SAME replay as its data — a crash anywhere between intent and
    // here replays both together, so a foreachBatch restart can never
    // double-apply. Fixed point (monotone max per app).
    intent.txn.foreach { case (app, ver) =>
      ArrowDeleteVectors.foldCdcLedger(fs, dirPath, app, ver) }
    // (f) restore the latch (unless a live batch append owns it — its
    // commit restores), clear the staging, then the intent
    ArrowOcc.restoreLatch(fs, dirPath)
    staging.foreach(fs.delete(_, true))
    fs.delete(new Path(dirPath, IntentFile), false)
  }

  /** Move `src` in to `dst`, as a fixed point: an already-moved file
    * (source gone, destination present) no-ops and a half-replayed one
    * lets the source win (same bytes by the unique-name contract). A
    * source gone WITHOUT reaching its destination refuses, and the intent
    * stays for a human: the one state a replay must never converge past
    * is silent data loss — retired files without their survivors, a
    * statement's inserts without its deletes, or the reverse. */
  private def moveIn(fs: FileSystem, dirPath: Path, kind: String,
      src: Path, dst: Path): Unit =
    if (fs.exists(src)) {
      val parent = dst.getParent
      if (parent != dirPath && parent != src.getParent) fs.mkdirs(parent)
      fs.delete(dst, false)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"$kind replay: rename $src -> $dst failed")
    } else if (!fs.exists(dst))
      throw new IllegalStateException(
        s"arrow-ipc: $kind replay of $dirPath lost '$src' — gone without " +
          s"reaching '$dst'; refusing to converge past data loss")

  /** Does the snapshot tip already hold this delta (every add in, every
    * remove out)? The log-append fence of [[Intent.fenced]] kinds. */
  private def tipReflects(fs: FileSystem, dirPath: Path,
      adds: Seq[String], removes: Seq[String]): Boolean = {
    val snaps = ArrowSnapshots.read(fs, dirPath)
    val tip = snaps.lastOption
      .flatMap(l => ArrowSnapshots.resolve(snaps, l.id)).getOrElse(Set.empty)
    adds.forall(tip.contains) && !removes.exists(tip.contains)
  }

  // ── the commit record ────────────────────────────────────────────────────

  /** One staged deletion-vector flip: `staged` → `fin` (both under
    * `.dv/`), superseding the file's `old` vector. */
  private[graft] case class DvFlip(staged: String, fin: String,
      old: Option[String] = None)

  /** The ONE commit record: every swap-style commit writes it to
    * `_compaction.json` through [[commitIntent]], and [[replay]] runs it.
    * Paths are RELATIVE to the dataset dir (bare names for flat layouts,
    * `key=value/...` for hive); every field may be empty.
    *  - `olds`: files retired to `.trash/`;
    *  - `staging`, `moves`: the staging dir, and each staged file's name
    *    relative to it → its final name;
    *  - `restores`: files brought back from `.trash/`;
    *  - `flips`: staged deletion vectors, each with the vector it
    *    supersedes;
    *  - `dvs`: the vectors retired with `olds`;
    *  - `kind`, the snapshot op: "compact" records lineage and destroys
    *    the layout claim; "cow" (a copy-on-write row-level rewrite — rows
    *    CHANGED, so no lineage) restores `layoutKeys`, the keys it
    *    clustered its output on; "restore" advances the restore
    *    generation; "mor-delete" / "mor-update" are row deltas
    *    ([[rowDelta]]); "eq-upsert", "eq-fold", "publish" and "delete"
    *    ride the fields alone;
    *  - `txn`: the CDC (app, version) folded in the same replay.
    * A record written before the fields past `txn` existed decodes with
    * them empty (and one without a kind as a compaction). */
  private[graft] case class Intent(
      olds: Seq[String] = Nil, staging: String = "",
      moves: Map[String, String] = Map.empty,
      kind: String = "compact", layoutKeys: Seq[String] = Nil,
      dvs: Seq[String] = Nil, txn: Option[(String, Long)] = None,
      restores: Seq[String] = Nil, flips: Seq[DvFlip] = Nil) {
    def stagingPath(dir: Path): Option[Path] =
      if (staging.isEmpty) None else Some(new Path(dir, staging))

    /** A merge-on-read statement: its staged stats land as a shard, not a
      * manifest fold, and it leaves the layout claim alone. */
    def rowDelta: Boolean = kind.startsWith("mor-")

    /** Skip the log append when the tip already reflects the delta. A
      * restore re-adds names the log already knew, and a row delta's
      * vectors must never reach the change feed twice; every other kind
      * relies on [[ArrowSnapshots.append]]'s own tail check. */
    def fenced: Boolean = rowDelta || kind == "restore"
  }

  private def esc(s: String): String = ArrowFileStats.esc(s)

  private[graft] def writeIntent(fs: FileSystem, dir: Path, intent: Intent): Unit = {
    def str(x: String) = "\"" + esc(x) + "\""
    def arr(xs: Seq[String]) = xs.map(str).mkString("[", ",", "]")
    val sb = new StringBuilder("{\"olds\":").append(arr(intent.olds))
    sb.append(",\"staging\":").append(str(intent.staging))
    sb.append(",\"moves\":").append(intent.moves.toSeq.sorted
      .map { case (k, v) => str(k) + ":" + str(v) }.mkString("{", ",", "}"))
    sb.append(",\"kind\":").append(str(intent.kind))
    sb.append(",\"layoutKeys\":").append(arr(intent.layoutKeys))
    sb.append(",\"dvs\":").append(arr(intent.dvs))
    intent.txn.foreach { case (app, ver) =>
      sb.append(",\"txnApp\":").append(str(app)).append(",\"txnVer\":").append(ver)
    }
    if (intent.restores.nonEmpty)
      sb.append(",\"restores\":").append(arr(intent.restores))
    if (intent.flips.nonEmpty)
      sb.append(",\"flips\":").append(intent.flips.map { f =>
        "{\"staged\":" + str(f.staged) + ",\"final\":" + str(f.fin) +
          f.old.fold("")(o => ",\"old\":" + str(o)) + "}"
      }.mkString("[", ",", "]"))
    sb.append("}")
    // atomic: a crash mid-write must leave NO intent file (a stale
    // staging dir is swept later) rather than a corrupt one that wedges
    // every later recover()
    ArrowOcc.writeAtomic(fs, new Path(dir, IntentFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private[graft] def readIntent(fs: FileSystem, dir: Path): Intent = {
    import org.json4s._
    val o = org.json4s.jackson.JsonMethods.parse(
        ArrowFileStats.readFully(fs, new Path(dir, IntentFile))) match {
      case o: JObject => o
      case other => throw new IllegalStateException(s"bad $IntentFile: $other")
    }
    def str(v: JValue, k: String): Option[String] = v \ k match {
      case JString(s) => Some(s)
      case _ => None
    }
    def strs(k: String): Seq[String] = o \ k match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    def need(v: JValue, k: String): String = str(v, k).getOrElse(
      throw new IllegalStateException(s"bad $IntentFile: no $k in $v"))
    Intent(
      olds = strs("olds"),
      staging = str(o, "staging").getOrElse(""),
      moves = o \ "moves" match {
        case JObject(ms) => ms.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      },
      kind = str(o, "kind").getOrElse("compact"),
      layoutKeys = strs("layoutKeys"),
      dvs = strs("dvs"),
      txn = (o \ "txnApp", o \ "txnVer") match {
        case (JString(app), JInt(v)) => Some((app, v.toLong))
        case (JString(app), JLong(v)) => Some((app, v))
        case _ => None
      },
      restores = strs("restores"),
      flips = o \ "flips" match {
        case JArray(xs) => xs.map(x => DvFlip(need(x, "staged"),
          need(x, "final"), str(x, "old")))
        case _ => Nil
      })
  }

  // ── compaction lineage (`_lineage.json`) ─────────────────────────────────
  //
  // compacted-file name → the file names it replaced. coalesce redistributes
  // rows arbitrarily across the new files, so each new file honestly claims
  // ALL of the run's old files as parents; a chain of compactions yields a
  // DAG (acyclic by construction — output names embed a fresh run id) that
  // [[covered]] resolves recursively. Grows by one generation per
  // compaction run — bounded by maintenance history, not data volume.

  private[graft] def readLineage(fs: FileSystem, dir: Path): Map[String, Seq[String]] = {
    val p = new Path(dir, LineageFile)
    if (!fs.exists(p)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(ArrowFileStats.readFully(fs, p)) match {
        case JObject(fields) => fields.map { case (k, v) =>
          k -> (v match {
            case JArray(xs) => xs.collect { case JString(s) => s }
            case other => throw new IllegalStateException(s"bad $LineageFile entry: $other")
          })
        }.toMap
        case other => throw new IllegalStateException(s"bad $LineageFile: $other")
      }
    }
  }

  private[graft] def writeLineage(
      fs: FileSystem, dir: Path, lineage: Map[String, Seq[String]]): Unit = {
    val body = lineage.toSeq.sortBy(_._1).map { case (k, olds) =>
      "\"" + esc(k) + "\":" +
        olds.sorted.map(o => "\"" + esc(o) + "\"").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // atomic replace: lineage is read LOCK-FREE by streaming absorption —
    // a vanished-file window would make a consumer re-emit a compacted
    // file's rows as new
    ArrowOcc.writeAtomic(fs, new Path(dir, LineageFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** True when every row of `name` was already emitted under `seen`: the
    * name itself is in the seen set, or it is a compacted file ALL of whose
    * parents are (recursively) covered. This is what lets a streaming
    * consumer absorb a compaction without re-emitting rows. */
  private[graft] def covered(
      lineage: Map[String, Seq[String]], seen: Set[String], name: String): Boolean =
    seen.contains(name) || lineage.get(name).exists(olds =>
      olds.nonEmpty && olds.forall(covered(lineage, seen, _)))

  /** True when `name` shares ANY row provenance with `seen` — itself seen,
    * or any ancestor (recursively) seen. `touches && !covered` is the
    * poisoned middle: a compaction folded seen and unseen rows into one
    * file, and no file-granular decision can preserve exactly-once. */
  private[graft] def touches(
      lineage: Map[String, Seq[String]], seen: Set[String], name: String): Boolean =
    seen.contains(name) || lineage.get(name).exists(_.exists(touches(lineage, seen, _)))
}

package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** Offset for the Arrow micro-batch source: the SET of data-file names
  * already emitted, as a sorted JSON array. File names — not a numeric
  * high-watermark — because append jobs name files by (partition,
  * queryId), so new files land at arbitrary lexicographic positions and
  * any count- or name-threshold offset would mis-attribute them. The
  * same design as Spark's own FileStreamSource seen-files log, carried
  * in the offset itself. Round 11 bounds it: once a poll finds every
  * live file seen, the offset COMPACTS to the live set (names of gone
  * files can never matter again — see [[ArrowIpcMicroBatchStream
  * .latestOffset]]), so a drained stream's offset tracks the directory's
  * file count, not its ingest history.
  */
private[graft] case class ArrowFilesOffset(files: Seq[String],
    restoreGen: Long = 0L) extends Offset {
  private def arr: String =
    files.sorted.map(n => "\"" + ArrowFileStats.esc(n) + "\"")
      .mkString("[", ",", "]")
  override def json(): String =
    // legacy bare-array form while no restore ever happened — existing
    // checkpoints stay byte-compatible; the object form appears only on
    // tables that carry a restore generation
    if (restoreGen == 0L) arr
    else s"""{"gen":$restoreGen,"files":$arr}"""
}

private[graft] object ArrowFilesOffset {
  def fromJson(json: String): ArrowFilesOffset = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JArray(xs) => ArrowFilesOffset(xs.collect { case JString(s) => s })
      case o: JObject =>
        val files = (o \ "files") match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        }
        val gen = (o \ "gen") match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case _ => 0L
        }
        ArrowFilesOffset(files, gen)
      case other => throw new IllegalArgumentException(
        s"arrow-ipc stream: bad offset json $other")
    }
  }
}

/** Micro-batch face of the Arrow IPC source: `spark.readStream
  * .format("arrow-ipc").load(dir)` turns a directory other jobs keep
  * appending to (the DSv2 append path) into a Structured Streaming
  * source — the continuous-ingest front end the incremental-dedup
  * operators (`Dedup.incrementalCandidatePairs`) are built to consume.
  *
  * Contract per micro-batch: a batch is the set difference between two
  * directory listings, so every committed file is emitted exactly once
  * (checkpointed offsets carry the seen set; a restart replays only the
  * unprocessed difference). Listings are GATED on the writer's
  * completeness marker: the DSv2 append path drops `_SUCCESS` while a
  * write is in flight and recreates it at commit, so a poll mid-append
  * sees the PREVIOUS committed state rather than a torn directory —
  * no file is emitted until the job that wrote it committed.
  *
  * Compaction-aware: `ArrowMaintenance.compact` records new-file →
  * replaced-files lineage (`_lineage.json`); a compacted file whose every
  * ancestor this stream already emitted is ABSORBED into the offset
  * without re-emitting its rows, so maintenance never duplicates a
  * drained stream. A compaction that folds seen and unseen rows into one
  * file (it ran mid-backlog) fails the poll loudly — no file-granular
  * decision preserves exactly-once there.
  *
  * Stats-based file skipping is wired through (`planInputPartitions`
  * drops new files whose `_stats.json` interval refutes a pushed filter)
  * but is INERT on current Spark: the optimizer's V2 pushdown rules run
  * only on batch `DataSourceV2Relation`s — a micro-batch scan is built at
  * analysis time with the full schema and no filters, so the stream
  * reads every committed file and Spark filters post-scan
  * (ArrowStreamSpec documents this as the observed behavior; if Spark
  * grows streaming pushdown the skip activates unchanged).
  *
  * Merge-on-read deletes ([[ArrowDeleteVectors]]) are NOT applied here,
  * by design: this source is the APPEND LOG — a batch's content is the
  * file as committed, so a checkpointed replay is bit-stable no matter
  * what vectors landed since (masking at poll time would make the same
  * offset window yield different rows before and after a restart). But
  * append-log semantics over a MUTATED table must be a CONSCIOUS choice
  * (Delta's contract: fail on deletes unless the consumer opts in), so
  * a poll that observes LIVE deletion vectors FAILS by default with an
  * instructive error; `option("ignoreDeletes", true)` is the explicit
  * opt-in that masked (e.g. GDPR-erased) rows may flow. A delete-aware
  * consumer reads the CHANGE FEED instead, which emits vector commits
  * as position-exact `delete` events; note a compaction folds vectors
  * physically, so a file absorbed via lineage never re-emits either
  * way — and a fully-compacted table carries no live vectors, so
  * streams over it need no opt-in.
  *
  * Hive-partitioned directories stream too (`hiveFields` non-empty): the
  * listing walks `key=value/` directories, the offset stays a set of bare
  * file NAMES (unique across value dirs by the writer contract, so the
  * offset format — and any standing checkpoint — is layout-independent),
  * and each batch's readers splice the directory-derived partition values
  * back as constants exactly like the batch scan. Combined with the
  * hive-layout sink this closes the loop: a pipeline can stream into a
  * partitioned lake and a downstream pipeline can stream back out of it. */
private[graft] class ArrowIpcMicroBatchStream(
    required: StructType, dir: String,
    filters: Array[org.apache.spark.sql.sources.Filter],
    maxFilesPerTrigger: Option[Int] = None,
    hiveFields: Seq[org.apache.spark.sql.types.StructField] = Nil,
    ignoreDeletes: Boolean = false,
    ignoreRestores: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  private val spark = SparkSession.active
  private val conf = new SerializableHadoopConf(
    spark.sparkContext.hadoopConfiguration)

  /** The live view of the directory (see [[ArrowLiveView]]); keys
    * resolve against the sentinel's schema, read only for hive layouts. */
  private def liveView(): ArrowLiveView =
    ArrowLiveView.load(spark, dir, ArrowInterchange.readSchema(spark, dir))

  /** None = the poll gate is CLOSED (directory absent, or the live-view
    * gate closed): hold the line at the previous offset; the caller must
    * neither admit nor compact. Some(files) = the visible file NAMES
    * (possibly none — a legitimately emptied directory). Names are unique
    * across value directories by the writer contract, which is what lets
    * the offset stay a set of names regardless of layout. */
  private def listCommitted(): Option[Seq[String]] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    if (!fs.exists(dirPath) || ArrowLiveView.gate(fs, dirPath).isEmpty)
      return None
    // IDLE FAST PATH (round 11): every commit to the directory — append,
    // epoch, compaction, delete, COW — advances the snapshot log, so an
    // unchanged (tip id, sentinel mtime) stamp means the previous listing
    // is still exact: a steady-state poll costs a couple of metadata
    // probes, not an O(files) walk + ledger read. Log-less (foreign)
    // directories have no stamp and always list; the sentinel mtime
    // guards the truncate-and-rewrite-to-the-same-tip corner.
    val stamp = scala.util.Try {
      val tip = ArrowSnapshots.currentTip(fs, dirPath)
      if (tip <= 0) None
      else Some((tip,
        fs.getFileStatus(new Path(dirPath, "_schema.arrows"))
          .getModificationTime))
    }.toOption.flatten
    tipCache match {
      case Some((s, cached)) if stamp.contains(s) => return Some(cached)
      case _ => ()
    }
    // live deletion vectors mean this append-log stream would serve
    // rows the table has deleted — fail unless the consumer opted in
    // (checked only on a cache-miss poll: every DV commit advances the
    // snapshot tip, so the stamp cache cannot hide a fresh vector)
    if (!ignoreDeletes && ArrowDeleteVectors.any(fs, dirPath))
      throw new IllegalStateException(
        s"arrow-ipc stream: $dir carries live merge-on-read deletion " +
          "vectors, but this source is an APPEND LOG and would keep " +
          "serving the deleted rows (batches are files as committed, " +
          "bit-stable under replay). Either (a) read the change feed " +
          "(option(\"changeFeed\", true)) for position-exact delete " +
          "events, (b) compact/purge the table to fold its vectors, or " +
          "(c) opt in with option(\"ignoreDeletes\", true) to accept " +
          "that masked rows flow — the same contract as Delta's " +
          "ignoreDeletes.")
    // equality tombstones are deletions too — same append-log contract
    if (!ignoreDeletes && ArrowEqualityDeletes.any(fs, dirPath))
      throw new IllegalStateException(
        s"arrow-ipc stream: $dir carries live equality-delete " +
          "tombstones, but this source is an APPEND LOG and would keep " +
          "serving the masked rows. Either fold them first (CALL " +
          "graft.system.purge_eq) or opt in with " +
          "option(\"ignoreDeletes\", true).")
    // a sink stream's uncommitted epoch files and in-flight appends are
    // invisible — the source emits a file only once it is committed
    val view = liveView()
    if (!view.open) return None
    val listed = view.files.map(_.name).sorted
    tipCache = stamp.map(s => (s, listed))
    Some(listed)
  }

  // (tip id, sentinel mtime) → that committed listing; see listCommitted
  @volatile private var tipCache: Option[((Long, Long), Seq[String])] = None

  override def initialOffset(): Offset = {
    // pin the CURRENT restore generation: restores that predate this
    // stream are history, not a change it observed
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    ArrowFilesOffset(Nil, ArrowMaintenance.restoreGen(fs, dirPath))
  }

  /** Admission control: `option("maxFilesPerTrigger", n)` caps how many
    * NEW files one micro-batch admits, so a backlog (a weekend of appends,
    * a first run over a full directory) drains as bounded batches instead
    * of one giant one — same control as Spark's own file source. The end
    * offset is always `start ∪ admitted`, so a mid-append empty listing
    * can never retract emitted files. */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxFiles)

  /** `Trigger.AvailableNow`: the run must process exactly what exists when
    * it starts and then terminate — later appends belong to the NEXT run.
    * The snapshot taken here bounds every batch's admission below. */
  private var availableNowCap: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(listCommitted().getOrElse(Nil).toSet)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOffset = start.asInstanceOf[ArrowFilesOffset]
    val seen = startOffset.files
    val seenSet = seen.toSet
    // gate closed (absent / mid-append): hold the line — no admission,
    // no offset compaction (an empty gate-listing must never be read as
    // "every file was deleted")
    val listedAll = listCommitted().getOrElse(return start)
    val listed = availableNowCap.fold(listedAll)(cap => listedAll.filter(cap))
    val fresh = listed.filterNot(seenSet).sorted
    // idle short-circuit: nothing new and the offset already equals the
    // live set (fresh empty ⇒ listed ⊆ seen; equal sizes ⇒ equal sets) —
    // skip the set rebuild/sort entirely. Sound across restores too: a
    // restore CHANGES the live file set (or is a no-op), so a poll that
    // lands here observed no effect of it
    if (fresh.isEmpty && availableNowCap.isEmpty && seen.size == listed.size)
      return start
    // RESTORE fence: a restore RE-ADDS previously-removed file names,
    // which breaks this source's offset-compaction soundness argument
    // ("a gone file cannot return") — silently admitting a restored file
    // re-emits rows the stream already delivered, and a restore that only
    // removed files retracts rows an append log cannot retract. Same
    // contract as the deletion-vector gate: fail with the outs, or opt
    // in. The gen is read ONLY on polls that already observed a change.
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    val gen = ArrowMaintenance.restoreGen(fs, dirPath)
    if (gen > startOffset.restoreGen && !ignoreRestores)
      throw new IllegalStateException(
        s"arrow-ipc stream: $dir was RESTOREd (rollback) at snapshot $gen, " +
          s"past this stream's checkpoint (generation " +
          s"${startOffset.restoreGen}) — restored files would re-emit rows " +
          "this stream already delivered, and rolled-back appends cannot " +
          "be retracted from an append log. Either (a) restart the " +
          "consumer from a fresh checkpoint against the restored table, " +
          "or (b) opt in with option(\"ignoreRestores\", true) to accept " +
          "at-least-once delivery across rollbacks — the same contract as " +
          "Delta's streaming behavior on RESTORE.")
    // Compaction lineage: a rewritten file whose every replaced ancestor is
    // already in the offset carries no unseen rows — absorb it into the
    // offset WITHOUT emitting (and without charging the admission cap).
    // Absorption is re-derived from the same append-only lineage record in
    // planInputPartitions, so a checkpoint replay reaches the same split.
    val lineage =
      if (fresh.isEmpty) Map.empty[String, Seq[String]]
      else ArrowMaintenance.readLineage(
        new Path(dir).getFileSystem(conf.value), new Path(dir))
    val (absorbed, emitable) =
      if (lineage.isEmpty) (Nil, fresh)
      else fresh.partition(ArrowMaintenance.covered(lineage, seenSet, _))
    emitable.filter(f => ArrowMaintenance.touches(lineage, seenSet, f)) match {
      case Seq() =>
      case poisoned => throw new IllegalStateException(
        s"arrow-ipc stream: compaction folded already-emitted rows together " +
          s"with unseen rows into ${poisoned.mkString(", ")} while this " +
          "stream had processed only part of the replaced files; exactly-once " +
          "cannot be preserved at file granularity. Drain the stream before " +
          "compacting, or restart it from a fresh checkpoint.")
    }
    val admitted = limit match {
      case mf: ReadMaxFiles => emitable.take(mf.maxFiles)
      case _ => emitable
    }
    val grown = (seen ++ absorbed ++ admitted).sorted
    // OFFSET COMPACTION (round 11): once every live file is in the
    // offset, names of files GONE from disk can never matter again —
    // future lineage parents are live files (all seen), unique names
    // mean a gone file cannot return, and the poison check only fires
    // for unseen live files (none exist here) — so the offset shrinks to
    // the live set. A year-long ingest's checkpoint offsets then track
    // the directory's file count, not its append history. Skipped under
    // an AvailableNow cap (the capped listing is not the live set) and
    // whenever some live file is still unseen (its absorption may need
    // the gone ancestors).
    val compacted =
      if (availableNowCap.isEmpty && {
        val g = grown.toSet; listedAll.forall(g)
      }) {
        val live = listedAll.toSet
        grown.filter(live)
      } else grown
    // the offset carries the generation it has ABSORBED forward — under
    // ignoreRestores the next poll stops re-flagging the same rollback
    ArrowFilesOffset(compacted, math.max(startOffset.restoreGen, gen))
  }

  override def reportLatestOffset(): Offset = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    ArrowFilesOffset(listCommitted().getOrElse(Nil),
      ArrowMaintenance.restoreGen(fs, dirPath))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "arrow-ipc stream implements SupportsAdmissionControl — " +
        "latestOffset(start, limit) is the entry point")

  override def deserializeOffset(json: String): Offset =
    ArrowFilesOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[ArrowFilesOffset].files.toSet
    val stepped = end.asInstanceOf[ArrowFilesOffset].files.filterNot(seen)
    // re-derive the absorbed/emit split latestOffset made: absorbed files
    // sit in the end offset but carry no unseen rows (lineage is
    // append-only, so replay resolves identically)
    val lineage =
      if (stepped.isEmpty) Map.empty[String, Seq[String]]
      else ArrowMaintenance.readLineage(
        new Path(dir).getFileSystem(conf.value), new Path(dir))
    val fresh =
      if (lineage.isEmpty) stepped
      else stepped.filterNot(ArrowMaintenance.covered(lineage, seen, _))
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value)
    // a hive-partitioned directory nests its files under value dirs: map
    // the batch's NAMES back to the view's files (path, generation,
    // partition values). A name the view no longer finds means file-level
    // maintenance ran against the no-concurrent-writer contract mid-stream
    // — fail loudly, don't read a hole.
    val view =
      if (hiveFields.isEmpty || fresh.isEmpty) None
      else Some(liveView())
    val byName = view.fold(Map.empty[String, LiveFile])(
      _.files.map(f => f.name -> f).toMap)
    val stats0 =
      if (filters.isEmpty || fresh.isEmpty) Map.empty[String, FileStats]
      else ArrowFileStats.readForFiles(fs, dirPath, fresh)
    val stats = view.fold(stats0)(_.withPartitionStats(stats0))
    fresh.filter { name =>
      stats.get(name)
        .forall(s => filters.forall(f => ArrowFileStats.canMatch(f, s)))
    }.map { name =>
      if (hiveFields.isEmpty)
        ArrowFilePartition(new Path(dir, name).toString): InputPartition
      else {
        val f = byName.getOrElse(name, throw new IllegalStateException(
          s"arrow-ipc stream: committed file '$name' vanished from $dir — " +
            "file-level maintenance ran concurrently with this stream"))
        if (f.fields.isEmpty) ArrowFilePartition(f.path): InputPartition
        else {
          require(f.fields == hiveFields,
            s"arrow-ipc stream: '${f.rel}' of $dir nests under a partition " +
              "generation this stream did not start with — streaming reads " +
              "serve one; rewrite (CALL cluster) to unify first")
          ArrowHiveFilePartition(f.path, f.values): InputPartition
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // evolution metadata rides the required schema (see the batch scan)
    val req = ArrowInterchange.attachResolutionMeta(required, dir, conf.value)
    if (hiveFields.isEmpty) new ArrowIpcReaderFactory(req, conf)
    else new ArrowIpcHiveReaderFactory(req, hiveFields, conf)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

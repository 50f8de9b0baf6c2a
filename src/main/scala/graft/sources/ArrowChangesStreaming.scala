package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Offset of the change-feed stream: the last snapshot id emitted.
  * Snapshot ids are assigned monotonically by the log ([[ArrowSnapshots]]
  * — ids come from entry filenames), so a single high-watermark is exact:
  * a batch is the net file delta over `(start, end]`. */
private[sources] case class ArrowSnapshotIdOffset(id: Long) extends Offset {
  override def json(): String = s"""{"id":$id}"""
}

private[sources] object ArrowSnapshotIdOffset {
  def fromJson(json: String): ArrowSnapshotIdOffset = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) \ "id" match {
      case JInt(n) => ArrowSnapshotIdOffset(n.toLong)
      case JLong(n) => ArrowSnapshotIdOffset(n)
      case other => throw new IllegalArgumentException(
        s"arrow-ipc change feed: bad offset json $other")
    }
  }
}

/** One changed file of a feed batch: full path (live or trash), the
  * directory-derived partition values (hive layouts), and the change
  * type (`insert` | `delete`) its rows carry. `skip`/`keep` are
  * deletion-vector paths: `skip` masks positions OUT (an insert or
  * old-image read excludes rows already deleted), `keep` masks
  * positions IN (a merge-on-read delete's window delta emits EXACTLY
  * the newly-deleted positions); both ride the columnar path through
  * the row-remapping MaskedColumnVector. */
private[sources] case class ArrowChangePartition(
    file: String, hiveValues: Seq[Option[String]], changeType: String,
    skip: Option[String] = None, keep: Option[String] = None)
    extends InputPartition

/** CHANGE FEED as a STRUCTURED STREAMING SOURCE — `spark.readStream
  * .format("arrow-ipc").option("changeFeed", true).load(dir)`: the
  * incremental consumer that [[ArrowChanges.changeFeed]] serves in batch,
  * made continuous. Offsets are snapshot ids (checkpointed, exactly-once);
  * each micro-batch is the NET file delta over `(start, end]` folded from
  * the snapshot log, served as `insert` rows (read from the live set) and
  * `delete` rows (the old image, read from `.trash/` where a mutation
  * retired it) with a `_change_type` column appended to the table schema.
  *
  * The scale shape matches the batch feed: a batch opens exactly the
  * CHANGED files — never the table — and planning folds log entries
  * (O(window), not O(files)). Copy-on-write rewrite amplification is the
  * standard contract: an UPDATE surfaces as old-image deletes plus
  * new-image inserts; consumers reconcile by key.
  *
  * Bootstrap: `startingSnapshot` 0 (the default) emits the full standing
  * dataset as inserts first — an expired-history prefix is fine because
  * [[ArrowMaintenance.expireSnapshots]] collapses it into an absolute
  * base entry. A non-zero `startingSnapshot` must name a still-recorded
  * snapshot; a window whose trash copies were expired refuses loudly
  * rather than serving a partial delta. `maxSnapshotsPerTrigger` caps how
  * many snapshots one micro-batch folds (admission control), and
  * `Trigger.AvailableNow` drains exactly the log as of run start. */
private[sources] class ArrowChangesMicroBatchStream(
    required: StructType, dir: String,
    hiveFields: Seq[StructField],
    startingSnapshotOpt: Option[Long],
    startingTimestamp: Option[String],
    maxSnapshotsPerTrigger: Option[Int])
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  private val spark = SparkSession.active
  private val conf = new SerializableHadoopConf(
    spark.sparkContext.hadoopConfiguration)

  require(startingSnapshotOpt.isEmpty || startingTimestamp.isEmpty,
    "arrow-ipc change feed: startingSnapshot and startingTimestamp are " +
      "mutually exclusive")
  private val startingSnapshot = startingSnapshotOpt.getOrElse(0L)
  require(startingSnapshot >= 0,
    s"arrow-ipc change feed: startingSnapshot must be >= 0, got $startingSnapshot")

  private def dirPath = new Path(dir)
  private def fs = dirPath.getFileSystem(conf.value)

  /** `startingTimestamp` → the feed emits every change whose snapshot
    * landed AT or AFTER `t` (the Delta-CDF convention): the start offset
    * is the newest snapshot strictly BEFORE `t` (0 when history begins
    * after `t`). Accepts epoch millis or an ISO-8601 instant. */
  private def timestampStart(raw: String): Long = {
    val t = scala.util.Try(raw.trim.toLong).getOrElse(
      scala.util.Try(java.time.Instant.parse(raw.trim).toEpochMilli)
        .getOrElse(throw new IllegalArgumentException(
          s"arrow-ipc change feed: startingTimestamp '$raw' is neither " +
            "epoch millis nor an ISO-8601 instant")))
    ArrowSnapshots.read(fs, dirPath)
      .filter(_.tsMillis < t).map(_.id).maxOption.getOrElse(0L)
  }

  override def initialOffset(): Offset = {
    startingTimestamp.foreach { raw =>
      return ArrowSnapshotIdOffset(timestampStart(raw))
    }
    if (startingSnapshot > 0) {
      val snaps = ArrowSnapshots.read(fs, dirPath)
      require(snaps.exists(_.id == startingSnapshot),
        s"arrow-ipc change feed: $dir has no snapshot $startingSnapshot to " +
          "start from" + (if (snaps.isEmpty) " (no snapshot log)"
          else s" — the log records ${snaps.head.id}..${snaps.last.id}; " +
            "expired history? 0 = since the beginning"))
    }
    ArrowSnapshotIdOffset(startingSnapshot)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxSnapshotsPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxFiles)

  private var availableNowCap: Option[Long] = None

  /** The tip a poll may read up to: 0 (hold the line, nothing admitted
    * this trigger) while the directory is absent or its live-view gate
    * is closed. */
  private def pollTip(f: org.apache.hadoop.fs.FileSystem): Long =
    if (!f.exists(dirPath) || ArrowLiveView.gate(f, dirPath).isEmpty) 0L
    else ArrowSnapshots.currentTip(f, dirPath)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(pollTip(fs))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ArrowSnapshotIdOffset].id
    val f = fs
    // idle-poll fast path: the tip pointer answers "anything new?" in
    // O(1) — a steady-state consumer over a quiet table never lists the
    // log directory at all
    val tip0 = pollTip(f)
    val tip = availableNowCap.fold(tip0)(math.min(tip0, _))
    if (tip <= from) return ArrowSnapshotIdOffset(from)
    // something new: ids are dense and entries are named by id, so the
    // admitted window constructs DIRECTLY — O(delta) per trigger, flat in
    // history depth (round 11; listing the log was O(history) every
    // data-carrying poll, forever). Only a bootstrap (from = 0) or an
    // expired `from` falls back to one full filename listing.
    val ids = ArrowSnapshots.idsAfter(f, dirPath, from, tip).getOrElse(
      ArrowSnapshots.listIds(f, dirPath).filter(id => id > from && id <= tip))
    val admitted = limit match {
      case mf: ReadMaxFiles => ids.take(mf.maxFiles)
      case _ => ids
    }
    val last0 = admitted.lastOption.getOrElse(from)
    // EQUALITY-SPAN INDIVISIBILITY (round 13): an offset, once written
    // to the WAL, MUST be servable — restarts replay it verbatim — so
    // an endpoint with tombstones in force may never be ADMITTED (its
    // deletions have no positional record until the fold). The span
    // upsert→fold is indivisible: admit the LAST net-eq-zero point; if
    // the trigger cap cuts mid-span, look past it (the span is one
    // unit); if no zero point exists yet, hold the line — the stream
    // waits and resumes once the fold lands. Ordinary tables pay one
    // exists() on data-carrying polls only.
    val endId =
      if (last0 <= from || !scala.util.Try(f.exists(new Path(dirPath,
          ArrowEqualityDeletes.EqDir))).getOrElse(false)) last0
      else {
        def lastZero(upTo: Long): Long = {
          val entries = ArrowSnapshots.readRange(f, dirPath, from, upTo,
            "a checkpointed stream")
          var net = Set.empty[String]
          var best = from
          entries.sortBy(_.id).foreach { e =>
            net = net ++ e.adds.filter(_.startsWith(
              ArrowEqualityDeletes.EqDir + "/")) --
              e.removes.filter(_.startsWith(
                ArrowEqualityDeletes.EqDir + "/"))
            if (net.isEmpty) best = e.id
          }
          best
        }
        val within = lastZero(last0)
        if (within > from || last0 >= tip) within.max(from)
        else lastZero(tip).max(from) // span crosses the cap: one unit
      }
    ArrowSnapshotIdOffset(endId)
  }

  override def reportLatestOffset(): Offset =
    ArrowSnapshotIdOffset(pollTip(fs))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "arrow-ipc change feed implements SupportsAdmissionControl — " +
        "latestOffset(start, limit) is the entry point")

  override def deserializeOffset(json: String): Offset =
    ArrowSnapshotIdOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ArrowSnapshotIdOffset].id
    val to = end.asInstanceOf[ArrowSnapshotIdOffset].id
    if (to <= from) return Array.empty
    val f = fs
    // replay safety rides readRange: the admitted window must still be
    // fully recorded — an expired `from` (collapsed below the base entry)
    // refuses loudly rather than silently dropping deltas. O(window)
    // direct-path parses, never an O(history) log read per batch.
    val window = ArrowSnapshots.readRange(f, dirPath, from, to,
      "a checkpointed stream")
    // EQUALITY DELETES, O(window) form of the batch feed's endpoint
    // rule: the stream's offsets only ever land on eq-free states
    // (inductively — this check), so tombstones in force at `to` show
    // up as net-positive `.eq/` adds within the window. A window that
    // fully spans upsert→fold nets to zero and serves correctly (the
    // fold's vector entries carry the deletions position-exactly); one
    // ending mid-equality WAITS — the poll fails until the fold lands,
    // then the stream resumes across it
    val eqNet = {
      val a = window.flatMap(_.adds)
        .filter(_.startsWith(ArrowEqualityDeletes.EqDir + "/")).toSet
      val r = window.flatMap(_.removes)
        .filter(_.startsWith(ArrowEqualityDeletes.EqDir + "/")).toSet
      a -- r
    }
    require(eqNet.isEmpty,
      s"arrow-ipc change-feed stream: window ($from, $to] of $dir ends " +
        "with equality-delete tombstones in force — their deletions " +
        "have no positional record yet; fold them (CALL " +
        "graft.system.purge_eq) and the stream resumes across the fold")
    // deletion vectors ride the same log entries as data files but are
    // MASK metadata: split them out before net-change folding (a dv rel
    // must never be opened as a data file), and fold their own activity
    // into per-file (topAdd, preWindow) pairs below
    val (added, dvAdded) =
      ArrowDeleteVectors.splitResolved(window.flatMap(_.adds).toSet)
    val (removed, dvRemoved) =
      ArrowDeleteVectors.splitResolved(window.flatMap(_.removes).toSet)
    val dvActivity = ArrowDeleteVectors.windowActivity(dvAdded, dvRemoved)
    // net-change semantics: a file added and removed inside the window
    // (a transient epoch a compaction folded away) cancels.
    // MAINTENANCE ABSORPTION: a pure rewrite (compact/cluster) only MOVES
    // rows, and records new-file → replaced-files lineage for exactly this
    // purpose — an added file whose ancestry is fully covered by the
    // window's removed files carries no row change, so neither it (as
    // inserts) nor the ancestors it replaced (as deletes) are emitted. A
    // COW rewrite records NO lineage (rows changed), so UPDATE/MERGE still
    // amplify as delete+insert; a genuine DELETE's file is no compaction
    // ancestor and still emits its old image.
    val netAdds0 = added -- removed
    val netRemoves0 = removed -- added
    val lineage =
      if (netAdds0.isEmpty) Map.empty[String, Seq[String]]
      else ArrowMaintenance.readLineage(fs, dirPath)
    val removedNames = netRemoves0.map(r => new Path(r).getName)
    val absorbedAdds = netAdds0.filter { a =>
      val n = new Path(a).getName
      lineage.contains(n) && ArrowMaintenance.covered(lineage, removedNames, n)
    }
    val absorbedParents: Set[String] = {
      def close(n: String): Set[String] =
        lineage.get(n).fold(Set.empty[String])(ps =>
          ps.toSet ++ ps.flatMap(close))
      absorbedAdds.flatMap(a => close(new Path(a).getName))
    }
    val netAddsAbsorbed = netAdds0 -- absorbedAdds
    val netRemovesAbsorbed =
      netRemoves0.filterNot(r => absorbedParents(new Path(r).getName))

    def resolveRel(rel: String): String =
      ArrowSnapshots.resolveLiveOrTrash(f, dirPath, rel,
        s"change-feed window ($from, $to]").getPath.toString
    def resolveDv(ref: ArrowDeleteVectors.DvRef): String = resolveRel(ref.rel)
    def dvOf(rel: String, side: ((Option[ArrowDeleteVectors.DvRef],
        Option[ArrowDeleteVectors.DvRef])) => Option[ArrowDeleteVectors.DvRef])
        : Option[String] =
      dvActivity.get(new Path(rel).getName).flatMap(side).map(resolveDv)
    def part(rel: String, kind: String, skip: Option[String],
        keep: Option[String] = None): ArrowChangePartition =
      ArrowChangePartition(resolveRel(rel),
        if (hiveFields.isEmpty) Nil
        else ArrowHiveLayout.parseRelPath(hiveFields, rel),
        kind, skip, keep)

    // MERGE-ON-READ deltas: a data file that existed at the window START
    // and still stands at its end (not re-added, not emitted as a
    // whole-file delete) but whose deletion vector ADVANCED in the window
    // emits exactly the newly-deleted positions — keep the top committed
    // gen, skip the gen in force at the window start. A compacted-away
    // file (absorbed above) still emits its delta: the vector and the
    // file both resolve from the trash.
    val addedNames = added.map(r => new Path(r).getName)
    val deleteEmittedNames = netRemovesAbsorbed.map(r => new Path(r).getName)
    val morNames = dvActivity.collect {
      case (name, (Some(top), pre))
          if !addedNames(name) && !deleteEmittedNames(name) =>
        (name, top, pre)
    }.toSeq.sortBy(_._1)
    val relByName: Map[String, String] =
      if (morNames.isEmpty) Map.empty
      else {
        // name → rel (flat: identity; hive: nested): the window's own
        // entries cover touched files, the `to`-state covers files whose
        // ONLY window change is their vector
        val snaps = ArrowSnapshots.read(f, dirPath)
        val state = ArrowSnapshots.resolve(snaps, to).getOrElse(Set.empty)
        (ArrowDeleteVectors.splitResolved(state)._1 ++ added ++ removed)
          .iterator.map(r => new Path(r).getName -> r).toMap
      }
    val morParts = morNames.map { case (name, top, pre) =>
      val rel = relByName.getOrElse(name, throw new IllegalStateException(
        s"arrow-ipc change feed: window ($from, $to] has a deletion " +
          s"vector for $name but no snapshot records the file"))
      part(rel, "delete", skip = pre.map(resolveDv),
        keep = Some(resolveDv(top)))
    }

    // inserts exclude positions already deleted by the window's end;
    // old-image deletes exclude positions already deleted at its start
    (netAddsAbsorbed.toSeq.sorted.map(r => part(r, "insert", dvOf(r, _._1))) ++
      netRemovesAbsorbed.toSeq.sorted.map(r => part(r, "delete", dvOf(r, _._2))) ++
      morParts).map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // evolution metadata rides the required schema (see the batch scan);
    // the _change_type column is no sentinel field and passes untouched
    new ArrowChangeTypeReaderFactory(
      ArrowInterchange.attachResolutionMeta(required, dir, conf.value),
      hiveFields, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Reader factory for change-feed batches: the inner reader decodes the
  * DATA columns (hive partition values spliced as constants where the
  * layout nests), and the partition's change type is appended at the
  * `_change_type` slot as one more constant — columnar and row paths
  * both, same mechanism as the `_file` metadata column. */
private[sources] class ArrowChangeTypeReaderFactory(
    required: StructType, hiveFields: Seq[StructField],
    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {

  private val slot = required.fieldNames.indexOf(ArrowChangesStream.ChangeTypeColumn)
  require(slot >= 0, s"arrow-ipc change feed: schema lost the " +
    s"${ArrowChangesStream.ChangeTypeColumn} column: $required")
  private val dataRequired = StructType(
    required.fields.filter(_.name != ArrowChangesStream.ChangeTypeColumn))
  private val inner: PartitionReaderFactory =
    if (hiveFields.isEmpty) new ArrowIpcReaderFactory(dataRequired, conf)
    else new ArrowIpcHiveReaderFactory(dataRequired, hiveFields, conf)

  private def innerPartition(p: InputPartition): InputPartition = p match {
    case c: ArrowChangePartition =>
      if (hiveFields.isEmpty) ArrowFilePartition(c.file, c.skip, c.keep)
      else ArrowHiveFilePartition(c.file, c.hiveValues, c.skip, c.keep)
    case other => throw new IllegalStateException(
      s"arrow-ipc change feed: unexpected partition $other")
  }

  private def kindOf(p: InputPartition): String =
    p.asInstanceOf[ArrowChangePartition].changeType

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(innerPartition(p))
    val const = UTF8String.fromString(kindOf(p))
    val types = dataRequired.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = in.next()
      override def get(): InternalRow = {
        val row = in.get()
        val vals = new Array[Any](types.length + 1)
        var i = 0
        while (i < vals.length) {
          vals(i) =
            if (i == slot) const
            else if (i < slot) row.get(i, types(i))
            else row.get(i - 1, types(i - 1))
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      override def close(): Unit = in.close()
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    // vector masks read columnar through MaskedColumnVector inside the
    // inner readers — no row-path downgrade for masked batches
    inner.supportColumnarReads(innerPartition(p))

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
    val in = inner.createColumnarReader(innerPartition(p))
    val const = UTF8String.fromString(kindOf(p))
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = in.next()
      override def get(): ColumnarBatch = {
        val b = in.get()
        val vecs = new Array[ColumnVector](b.numCols() + 1)
        var i = 0
        while (i < vecs.length) {
          vecs(i) =
            if (i == slot) {
              val v = new ConstantColumnVector(b.numRows(), StringType)
              v.setUtf8String(const)
              v
            } else if (i < slot) b.column(i)
            else b.column(i - 1)
          i += 1
        }
        new ColumnarBatch(vecs, b.numRows())
      }
      override def close(): Unit = in.close()
    }
  }
}

private[graft] object ArrowChangesStream {
  val ChangeTypeColumn = "_change_type"
}

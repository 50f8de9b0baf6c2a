package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** The streaming-commit ledger (`_stream_commits.json`) — the atomic
  * visibility switch that makes `writeStream.format("arrow-ipc")`
  * exactly-once. The reference's push side is `IBlockOutputStream`
  * (DataStreams/IBlockOutputStream.h): blind `write(block)` calls with no
  * delivery contract; re-expressed on Spark's epoch model the sink must
  * survive two failure shapes a native pull pipeline never sees —
  * a crash BETWEEN task file renames and the epoch commit, and an epoch
  * REPLAY after the sink committed but the checkpoint didn't record it.
  *
  * Protocol (mirrors what Spark's own FileStreamSink does with
  * `_spark_metadata`, re-expressed against this source's sidecar files):
  *
  *  - Every stream-written data file is named
  *    `part-NNNNN[-gSSSS]-e<epoch>-<commit-uuid>.arrows` — the `-e<N>-`
  *    segment marks it as stream-written; the 36-char commit uuid is
  *    deterministic within a run (`nameUUIDFromBytes(runNonce:epoch)`)
  *    and unique across runs (fresh nonce per restart), so a retried
  *    epoch NEVER collides with the files of the attempt it retries.
  *  - Readers treat a stream-named file as INVISIBLE unless its commit
  *    uuid is in this ledger's `committed` set (no ledger → no stream
  *    ever wrote here → nothing filtered). Task renames therefore
  *    publish nothing: visibility flips atomically when the driver's
  *    epoch commit appends the uuid — one small-file write.
  *  - Epoch replay: `queries` maps the STREAMING QUERY id (stable across
  *    restarts — it lives in the checkpoint) to the highest committed
  *    epoch; a commit at or below it discards its files instead of
  *    double-publishing.
  *  - A crash before the ledger append leaves orphans that are invisible
  *    forever; the next run start (or `ArrowMaintenance.cleanOrphans`)
  *    deletes them.
  *
  * The ledger is CORRECTNESS-bearing (unlike the advisory stats
  * manifests): an unparseable ledger fails reads loudly rather than
  * risking duplicate or missing rows. The ledger read-modify-write runs
  * under the directory's [[ArrowOcc]] commit lock — concurrent
  * maintenance (which prunes the committed set after a compaction) and
  * the epoch flip serialize instead of losing updates — and the epoch
  * commit re-validates its files still exist before flipping, so a
  * maintenance sweep that raced the epoch fails the batch loudly (Spark
  * replays it) rather than committing ids that point at deleted files.
  */
private[graft] object ArrowStreamCommits {
  val LedgerFile = "_stream_commits.json"

  private val StreamName =
    """^part-\d+(?:-g\d+)?-e\d+-[0-9a-f\-]{36}\.arrows$""".r

  def isStreamName(name: String): Boolean =
    StreamName.pattern.matcher(name).matches()

  /** Last-36-chars commit uuid of a conforming stream file name. */
  def commitIdOf(name: String): String = {
    val stem = name.stripSuffix(".arrows")
    stem.substring(stem.length - 36)
  }

  case class Ledger(maxEpochs: Map[String, Long], committed: Set[String])

  def read(fs: FileSystem, dir: Path): Option[Ledger] = {
    val p = new Path(dir, LedgerFile)
    if (!fs.exists(p)) None
    else {
      import org.json4s._
      val root = org.json4s.jackson.JsonMethods.parse(
        ArrowFileStats.readFully(fs, p))
      val eps = (root \ "queries") match {
        case JObject(qs) => qs.collect {
          case (q, JInt(n)) => q -> n.toLong
          case (q, JLong(n)) => q -> n
        }.toMap
        case _ => Map.empty[String, Long]
      }
      val committed = (root \ "committed") match {
        case JArray(xs) => xs.collect { case JString(s) => s }.toSet
        case _ => Set.empty[String]
      }
      Some(Ledger(eps, committed))
    }
  }

  def write(fs: FileSystem, dir: Path, ledger: Ledger): Unit = {
    val sb = new StringBuilder("{\"queries\":{")
    sb.append(ledger.maxEpochs.toSeq.sortBy(_._1).map { case (q, e) =>
      "\"" + ArrowFileStats.esc(q) + "\":" + e
    }.mkString(","))
    sb.append("},\"committed\":[")
    sb.append(ledger.committed.toSeq.sorted.map(u =>
      "\"" + ArrowFileStats.esc(u) + "\"").mkString(","))
    sb.append("]}")
    // atomic flip: the ledger is THE visibility switch and is read
    // lock-free by every scan — a torn or vanished window would publish
    // uncommitted epochs
    ArrowOcc.writeAtomic(fs, new Path(dir, LedgerFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Create an empty ledger if absent — MUST happen before any stream
    * file lands, so a first-epoch crash leaves its orphans invisible. */
  def ensure(fs: FileSystem, dir: Path): Unit =
    if (!fs.exists(new Path(dir, LedgerFile)))
      write(fs, dir, Ledger(Map.empty, Set.empty))

  /** Delete PROVABLY-DEAD invisible stream files + stray task temps: an
    * uncommitted stream file younger than [[ArrowOcc.staleMs]] may be a
    * concurrent run's IN-FLIGHT epoch (its commit re-validates existence
    * as a backstop) and is left alone — it is invisible either way, and
    * a later sweep collects it once it is stale. Returns deleted names. */
  def cleanOrphans(fs: FileSystem, dir: Path): Seq[String] = {
    if (!fs.exists(dir)) return Nil
    val ledger = read(fs, dir)
    val now = System.currentTimeMillis()
    val stale = ArrowOcc.staleMs
    // walk nested value directories too (a hive-layout stream lands its
    // epoch files — and crashes its orphans — inside them)
    val orphans = ArrowSnapshots.walk(fs, dir, ArrowSnapshots.notHidden) { st =>
      val n = st.getPath.getName
      ((isStreamName(n) && !ledger.exists(_.committed.contains(commitIdOf(n)))) ||
        (n.startsWith(".part-") && n.endsWith(".tmp"))) &&
        now - st.getModificationTime > stale
    }.map(_._1)
    orphans.foreach(rel => fs.delete(new Path(dir, rel), false))
    orphans
  }
}

/** Epoch-committed streaming face of the arrow-ipc write path:
  * `df.writeStream.format("arrow-ipc").option("checkpointLocation", …)
  * .start(dir)`. Append output mode only (the sink is a file log, like
  * parquet's). Files land under the SAME contract every other writer of
  * this source honors — `_schema.arrows` sentinel, `_SUCCESS`
  * completeness gate, per-file stats into the base manifest or an
  * epoch shard + index envelope, `_layout.json` key declaration — so a
  * directory fed by a stream is indistinguishable to readers from one
  * fed by batch appends, and the curation loop can ingest AND re-emit
  * Arrow without a format detour. Exactly-once rides the
  * [[ArrowStreamCommits]] ledger; see its scaladoc for the protocol. */
private[graft] object ArrowIpcStreamingWrite {
  /** TEST SEAM: runs at epoch-commit start (under the commit lock),
    * before the layout guard — lets a spec inject an evolve INSIDE the
    * factory-to-commit window deterministically. The guard exists for
    * exactly that window: between epochs the per-batch write factory
    * re-reads the standing layout and adapts, so only an intra-epoch
    * evolve can leave an epoch targeting a non-current generation. */
  @volatile private[graft] var beforeCommitHook: () => Unit = () => ()
}

private[sources] class ArrowIpcStreamingWrite(
    schema: StructType, dir: String, codec: Option[String], queryId: String,
    partitionKeys: Seq[String], bloomCols: Set[String] = Set.empty,
    hiveKeys: Seq[String] = Nil,
    autoCompactEvery: Option[Int] = None,
    autoCompactTargetBytes: Option[Long] = None)
    extends StreamingWrite {

  autoCompactEvery.foreach(n => require(n >= 1,
    s"arrow-ipc stream sink: autoCompactEvery must be >= 1, got $n"))

  // SELF-MAINTAINING INGEST (round 11): `option("autoCompactEvery", n)`
  // fires one background, single-flight `ArrowMaintenance.compact` on
  // the sink's own directory at every n-th epoch commit — the flagship
  // loop (streaming ingest + periodic compaction) without an external
  // cron. Keyed on the EPOCH ID (Spark constructs a fresh StreamingWrite
  // per micro-batch, so instance state cannot count; epoch ids are
  // monotonic and survive restarts via the checkpoint) with a JVM-wide
  // per-directory in-flight guard ([[ArrowAutoCompact]]). Safe by
  // construction: the OCC protocol serializes the swap against epoch
  // commits (the round-10 flagship spec), compaction lineage lets any
  // downstream streaming consumer absorb the rewrite without
  // re-emitting, and the rewrite yields to in-flight DML like every
  // maintenance op. Failures (e.g. retry-exhaustion under heavy
  // contention) are logged, never fatal to the stream — a later window
  // simply tries again.
  private def maybeAutoCompact(epochId: Long): Unit =
    autoCompactEvery.foreach { every =>
      if (epochId > 0 && epochId % every == 0)
        ArrowAutoCompact.fire(SparkSession.active, dir,
          autoCompactTargetBytes.getOrElse(128L << 20), queryId)
    }

  // fresh per run (the StreamingWrite is constructed once per query run):
  // commit uuids of a retried epoch can never collide with the crashed
  // attempt's files
  private val runNonce = java.util.UUID.randomUUID().toString

  private def commitUuid(epochId: Long): String =
    java.util.UUID.nameUUIDFromBytes(
      s"$runNonce:$epochId".getBytes("UTF-8")).toString

  private def fsAndDir(): (FileSystem, Path) = {
    val dirPath = new Path(dir)
    (dirPath.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration), dirPath)
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // driver-side, once per run: validate loudly, prepare the directory,
    // and sweep orphans of crashed runs (no epoch is in flight at run
    // start; the single-writer contract excludes everyone else)
    ArrowInterchange.codecType(codec)
    ArrowInterchange.toArrowSchema(schema)
    val spark = SparkSession.active
    val (fs, dirPath) = fsAndDir()
    if (fs.exists(new Path(dirPath, "_schema.arrows"))) {
      val existing = ArrowInterchange.readSchema(spark, dir)
      require(existing == schema,
        s"arrow-ipc stream sink: appending schema $schema to $dir which " +
          s"carries schema $existing — append requires an identical schema")
    }
    hiveKeys.foreach { k =>
      val f = schema.fields.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"arrow-ipc stream sink: hivePartitionKeys column '$k' not in schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
      require(ArrowHiveLayout.supported(f.dataType),
        s"arrow-ipc stream sink: hivePartitionKeys column '$k' has type " +
          s"${f.dataType} — only string/byte/short/int/long/boolean/date " +
          "round-trip a directory name unambiguously")
    }
    require(hiveKeys.isEmpty || hiveKeys.size < schema.size,
      "arrow-ipc stream sink: a hive-partitioned dataset needs at least " +
        "one non-key column")
    if (fs.exists(new Path(dirPath, "_schema.arrows"))) {
      val standing = ArrowHiveLayout.read(fs, dirPath)
      require(standing == hiveKeys,
        s"arrow-ipc stream sink: $dir is laid out with hive keys " +
          s"[${standing.mkString(", ")}] but this stream declares " +
          s"[${hiveKeys.mkString(", ")}] — appends must match the standing layout")
    }
    fs.mkdirs(dirPath)
    // the layout declaration must exist BEFORE the first commit makes
    // nested files visible, or a concurrent reader would glob the flat
    // root and miss them
    if (hiveKeys.nonEmpty) ArrowHiveLayout.write(fs, dirPath, hiveKeys)
    ArrowOcc.withCommitLock(fs, dirPath) {
      ArrowStreamCommits.ensure(fs, dirPath) // before ANY data file exists
      ArrowStreamCommits.cleanOrphans(fs, dirPath)
      // HEAL the snapshot log: a prior run that crashed between its
      // ledger flip (files live) and its snapshot append left committed
      // files history never recorded — fold the log and append the
      // stragglers as one entry, so time travel sees every live committed
      // file. A damaged log skips the heal (travel already refuses
      // loudly); the live path is unaffected either way.
      scala.util.Try {
        val snaps = ArrowSnapshots.read(fs, dirPath)
        val state = snaps.lastOption
          .flatMap(l => ArrowSnapshots.resolve(snaps, l.id)).getOrElse(Set.empty)
        val missing = ArrowLiveView.load(spark, dir, schema).files
          .map(_.rel).filterNot(state)
        if (missing.nonEmpty)
          ArrowSnapshots.append(fs, dirPath, missing, Nil, op = "stream")
      }
      val sentinel = new Path(dirPath, "_schema.arrows")
      if (!fs.exists(sentinel))
        // table creation mints the stable field ids (round 11); the
        // atomic flip keeps lock-free readers from a torn sentinel
        ArrowInterchange.writeSentinelAtomic(fs, dirPath,
          ArrowInterchange.withFieldIds(schema))
      // the empty (or prior) state IS committed — uncommitted epoch files
      // are invisible via the ledger, so the gate can stay green
      // throughout (unless a live batch append holds the latch down)
      ArrowOcc.restoreLatch(fs, dirPath)
    }
    // standing bloom inheritance, like the batch append: an option-less
    // stream keeps blooming the columns the directory already blooms
    val effectiveBlooms =
      if (bloomCols.nonEmpty) bloomCols
      else ArrowFileStats.read(fs, dirPath).values
        .flatMap(_.cols.collect { case (c, s) if s.bloom.isDefined => c })
        .toSet.intersect(schema.fieldNames.toSet) -- hiveKeys
    // epoch files carry the sentinel's stable field ids like any append
    new ArrowIpcStreamingWriterFactory(
      ArrowInterchange.attachResolutionMeta(schema, dir,
        spark.sparkContext.hadoopConfiguration),
      dir, codec, runNonce,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
      partitionKeys, effectiveBlooms, hiveKeys)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (fs, dirPath) = fsAndDir()
    ArrowOcc.withCommitLock(fs, dirPath) {
    val fresh = messages.collect { case ArrowIpcCommitMessage(files) =>
      files.map { case (path, st) => new Path(path).getName -> st }
    }.flatten.toMap
    // conflict backstop: a concurrent maintenance sweep that (wrongly
    // young staleness, operator intervention) deleted an in-flight file
    // must fail the batch HERE — committing its id would put deleted
    // files in the ledger. Spark replays the failed batch from the
    // checkpoint with fresh writes; exactly-once holds.
    val swept = messages.collect { case ArrowIpcCommitMessage(files) =>
      files.collect { case (path, _) if !fs.exists(new Path(path)) => path }
    }.flatten
    if (swept.nonEmpty)
      throw new IllegalStateException(
        s"arrow-ipc stream sink: ${swept.size} file(s) of epoch $epochId " +
          s"vanished before the ledger flip (first: ${swept.head}) — a " +
          "concurrent sweep removed in-flight files; failing the batch " +
          "so the replay rewrites them")
    val ledger = ArrowStreamCommits.read(fs, dirPath).getOrElse(
      throw new IllegalStateException(
        s"arrow-ipc stream sink: ledger ${ArrowStreamCommits.LedgerFile} " +
          s"vanished from $dir mid-run — refusing to commit epoch $epochId"))
    if (ledger.maxEpochs.get(queryId).exists(epochId <= _)) {
      // EPOCH REPLAY: the sink committed this epoch in a previous run but
      // the checkpoint didn't record it. The committed attempt stands;
      // this attempt's files (distinct uuid — never the committed ones)
      // are discarded.
      messages.foreach {
        case ArrowIpcCommitMessage(files) =>
          files.foreach { case (path, _) => fs.delete(new Path(path), false) }
        case _ => ()
      }
      return
    }
    // LAYOUT GUARD (round 16): epoch files nest by the layout validated
    // at RUN start — if the table's partition keys evolved mid-run, this
    // epoch targets a layout that is no longer current. Committing it
    // would feed an old generation indefinitely (starving the
    // incremental unifier's collapse) or, after that generation's
    // collapse, record files no reader discovers. Fail the batch loudly
    // instead: the files stay UNcommitted (invisible via the ledger;
    // cleanOrphans collects them) and the operator restarts the stream
    // with the current keys. This is also what makes the unifier's
    // generation-targeted fence sound against the epoch window where no
    // task file is visible yet: an epoch that would land in a collapsed
    // generation dies HERE, under the same commit lock the collapse took.
    ArrowIpcStreamingWrite.beforeCommitHook()
    val standingNow = ArrowHiveLayout.read(fs, dirPath)
    if (standingNow != hiveKeys)
      throw new IllegalStateException(
        s"arrow-ipc stream sink: $dir evolved its hive layout to " +
          s"[${standingNow.mkString(", ")}] mid-run but this stream " +
          s"nests by [${hiveKeys.mkString(", ")}] — epoch $epochId left " +
          "uncommitted; restart the stream with the current keys")
    val uuid = commitUuid(epochId)
    // stats BEFORE the ledger flip, same ordering as the batch commit's
    // stats-before-_SUCCESS: a reader that can see the files must be able
    // to see their stats. An epoch at/above the shard threshold writes its
    // own `_stats-<uuid>.json` + envelope — a year of minutely epochs
    // stays O(index), not O(all files), at planning.
    if (fresh.nonEmpty) {
      val threshold = SparkSession.active.conf
        .get("spark.graft.arrow.statsShardFiles", "1024").toInt
      if (fresh.size >= threshold)
        ArrowFileStats.writeShard(fs, dirPath, uuid, fresh)
      else
        ArrowFileStats.write(fs, dirPath,
          ArrowFileStats.readBase(fs, dirPath) ++ fresh)
    }
    if (partitionKeys.nonEmpty) {
      val existing = ArrowLayout.read(fs, dirPath)
      if (existing.isEmpty || existing == partitionKeys)
        ArrowLayout.write(fs, dirPath, partitionKeys)
      else ArrowLayout.delete(fs, dirPath)
    }
    // THE visibility flip: one small-file write publishes every file of
    // the epoch at once (and advances the replay fence)
    ArrowStreamCommits.write(fs, dirPath, ArrowStreamCommits.Ledger(
      ledger.maxEpochs + (queryId -> epochId),
      ledger.committed + uuid))
    // snapshot log: each committed epoch is one delta entry (relative
    // paths — nested under a hive layout)
    val rels = messages.collect { case ArrowIpcCommitMessage(files) =>
      files.map { case (path, _) =>
        ArrowSnapshots.relativize(fs, dirPath, new Path(path)) }
    }.flatten
    ArrowSnapshots.append(fs, dirPath, rels.toSeq, Nil, op = "stream")
    ArrowOcc.restoreLatch(fs, dirPath)
    } // withCommitLock
    // OUTSIDE the lock: fire-and-forget maintenance window check
    maybeAutoCompact(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (fs, dirPath) = fsAndDir()
    messages.foreach {
      case ArrowIpcCommitMessage(files) => files.foreach { case (path, _) =>
        fs.delete(new Path(path), false)
      }
      case _ => ()
    }
  }
}

/** Per-epoch writer factory: reuses the batch task writer verbatim —
  * only the file name differs (`-e<epoch>-<commit-uuid>` tail), which is
  * what carries both the stream-visibility marker and the stats-shard
  * membership suffix. */
private[sources] class ArrowIpcStreamingWriterFactory(
    schema: StructType, dir: String, codec: Option[String], runNonce: String,
    conf: SerializableHadoopConf, partitionKeys: Seq[String],
    bloomCols: Set[String] = Set.empty, hiveKeys: Seq[String] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"$runNonce:$epochId".getBytes("UTF-8")).toString
    new ArrowIpcDataWriter(schema, dir, codec, uuid, partitionId, taskId,
      conf, partitionKeys, hiveKeys, epochTag = s"-e$epochId",
      bloomCols = bloomCols)
  }
}

/** JVM-wide single-flight launcher for the streaming sink's background
  * auto-compaction: one concurrent compact per directory, across however
  * many per-epoch StreamingWrite instances Spark constructs. */
private[sources] object ArrowAutoCompact {
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def fire(spark: SparkSession, dir: String, targetBytes: Long,
      queryId: String): Unit =
    if (inFlight.add(dir)) {
      val t = new Thread(() => try {
        ArrowMaintenance.compact(spark, dir, targetBytes = targetBytes)
        ()
      } catch {
        case e: Throwable =>
          System.err.println(
            s"arrow-ipc stream sink: background auto-compact of $dir " +
              s"skipped this window: ${e.getMessage}")
      } finally inFlight.remove(dir),
        s"graft-auto-compact-$queryId")
      t.setDaemon(true)
      t.start()
    }
}

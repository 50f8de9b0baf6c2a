package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** EQUALITY DELETES (round 13): keyed tombstones applied at read — the
  * O(batch) commit path for continuous upsert into an UNCLUSTERED table.
  *
  * The problem this closes: [[ArrowCdcApply]]'s per-micro-batch MERGE
  * pays a find-scan of the candidate files every batch; key-range bounds
  * ([[ArrowCdcApply.keyBounds]]) tame it only on a key-CLUSTERED table.
  * On an unclustered 100 TB target every batch re-scans — the
  * steady-state ingest loop's dominant cost. Iceberg's equality deletes
  * (spec §"Equality delete files") exist for exactly this shape: a
  * delete file lists KEY VALUES, masks matching rows in every data file
  * with a SMALLER sequence number, and commits in O(batch) — no read of
  * the target at all. The read side pays a hash probe per row until a
  * maintenance fold converts the tombstones to positional deletion
  * vectors ([[fold]] → [[ArrowDeleteVectors]]).
  *
  * Layout: tombstones live under `.eq/` as single-column Arrow IPC
  * files named `eq-<id>.s<seq>.k<count>.eq.arrows` — the commit SEQUENCE
  * and key count ride the name, so planning never opens them. `.eq/
  * _meta.json` pins the table's key column; `.eq/_seq` is the monotone
  * sequence counter (assigned under the commit lock — two concurrent
  * upserts can never share a sequence, which would lose their
  * cross-masking). Data files carry their commit sequence in the stats
  * manifest ([[FileStats.seq]]); plain appends are stamped with the
  * counter's current value at commit so later tombstones mask them and
  * earlier ones don't. Files with no seq (pre-equality history,
  * post-fold rewrites) read as 0 — "before every tombstone", which is
  * exactly when they were written.
  *
  * Masking rule (the Iceberg sequence contract): row in file F is
  * masked iff some live tombstone T has T.seq > F.seq and F's key value
  * is in T. A batch's own inserts (stamped seq = the tombstone's) are
  * never masked by it; every older image is.
  *
  * Interop contract — honest and LOUD, not silent: while tombstones are
  * live, COW/MOR row-level DML, compaction, clustering and purge REFUSE
  * (a rewrite would reset its outputs' sequence and resurrect masked
  * rows), time travel and the change feed refuse across equality
  * commits, and aggregate pushdown falls back to a real scan. [[fold]]
  * converts all tombstones to positional vectors and removes them,
  * restoring every deferred capability. Delta Lake has no equality
  * deletes at all (its streaming upsert is MERGE-only); this mirrors
  * Iceberg's restriction that equality deletes are a v2 streaming-write
  * optimization, folded away by maintenance.
  *
  * Beyond-reference by construction: the reference's write side is a
  * blind `IBlockOutputStream::write` with no mutation story
  * (ArrowHouse has no delete/upsert of any kind); the semantics here
  * follow the published Iceberg spec, re-expressed over this source's
  * stats manifest and intent/replay commit. */
object ArrowEqualityDeletes {

  val EqDir = ".eq"
  private val MetaName = "_meta.json"
  private val SeqName = "_seq"

  // ── naming ───────────────────────────────────────────────────────────

  private[sources] def tombName(id: String, seq: Long, keys: Long): String =
    s"eq-$id.s$seq.k$keys.eq.arrows"

  /** (sequence, key count) from a tombstone name; None = not a tombstone. */
  private[sources] def parseName(name: String): Option[(Long, Long)] = {
    if (!name.endsWith(".eq.arrows")) return None
    val core = name.stripSuffix(".eq.arrows")
    val parts = core.split('.')
    if (parts.length < 3) return None
    for {
      s <- parts(parts.length - 2).stripPrefix("s").toLongOption
      k <- parts(parts.length - 1).stripPrefix("k").toLongOption
    } yield (s, k)
  }

  // ── table-state probes (all O(1) or O(tombstones)) ───────────────────

  /** True iff the table has LIVE tombstones — the gate every deferred
    * capability checks (DML, compaction, agg pushdown, time travel). */
  def any(fs: FileSystem, dirPath: Path): Boolean =
    liveTombs(fs, dirPath).nonEmpty

  /** True iff a resolved snapshot set holds tombstones (time travel and
    * the change feed refuse such a snapshot). */
  def inForce(resolved: Set[String]): Boolean =
    resolved.exists(_.startsWith(EqDir + "/"))

  /** Live tombstones as (rel path, sequence), ascending by sequence. */
  def liveTombs(fs: FileSystem, dirPath: Path): Seq[(String, Long)] =
    tombNames(fs, dirPath).map { case (rel, (seq, _)) => (rel, seq) }
      .sortBy(_._2)

  /** Total keys across live tombstones — the executor-resident lookup
    * cost, summed from the names alone (nothing opened). Drives the
    * key-count auto-fold trigger (`vacuumFoldEqKeysAbove`). */
  def liveKeyCount(fs: FileSystem, dirPath: Path): Long =
    tombNames(fs, dirPath).map(_._2._2).sum

  /** The one tombstone listing: each live tombstone's rel path with its
    * parsed name. */
  private def tombNames(fs: FileSystem, dirPath: Path)
      : Seq[(String, (Long, Long))] = {
    val eq = new Path(dirPath, EqDir)
    if (!scala.util.Try(fs.exists(eq)).getOrElse(false)) return Nil
    Option(fs.globStatus(new Path(eq, "eq-*.eq.arrows")))
      .getOrElse(Array.empty).toSeq
      .flatMap(st => parseName(st.getPath.getName)
        .map(p => s"$EqDir/${st.getPath.getName}" -> p))
  }

  /** The declared equality key columns, in declaration order; empty =
    * the table never saw an equality delete. Composite keys (round 14,
    * the Iceberg spec's equality field list — the common CDC shape is
    * (tenant, id)) are stored as `keyCols`; a legacy single-key meta
    * (`keyCol`) reads as a one-element list. */
  def keyColsOf(fs: FileSystem, dirPath: Path): Seq[String] = {
    val p = new Path(dirPath, s"$EqDir/$MetaName")
    if (!scala.util.Try(fs.exists(p)).getOrElse(false)) return Nil
    scala.util.Try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(
        ArrowFileStats.readFully(fs, p))
      j \ "keyCols" match {
        case JArray(vs) => vs.collect { case JString(s) => s }
        case _ => j \ "keyCol" match {
          case JString(s) => Seq(s)
          case _ => Nil
        }
      }
    }.getOrElse(Nil)
  }

  /** Single-key convenience: the first declared key column. */
  def keyColOf(fs: FileSystem, dirPath: Path): Option[String] =
    keyColsOf(fs, dirPath).headOption

  /** Current sequence counter (last assigned; 0 = none yet). Plain
    * appends stamp their files with this value at commit. */
  private[sources] def currentSeq(fs: FileSystem, dirPath: Path): Long = {
    val p = new Path(dirPath, s"$EqDir/$SeqName")
    if (!scala.util.Try(fs.exists(p)).getOrElse(false)) return 0L
    scala.util.Try(ArrowFileStats.readFully(fs, p).trim.toLong).getOrElse(0L)
  }

  private def bumpSeq(fs: FileSystem, dirPath: Path): Long = {
    // call ONLY under the commit lock; write-then-use so a crash after
    // the bump burns the sequence instead of ever reusing it
    val next = currentSeq(fs, dirPath) + 1L
    ArrowOcc.writeAtomic(fs, new Path(dirPath, s"$EqDir/$SeqName"),
      next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    next
  }

  /** Key types the tombstone lookup supports: fixed normalization to
    * java.lang.Long (all integer-backed forms incl. date days and
    * timestamp micros) or String. */
  private[sources] def supportedKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  // ── executor-side tombstone lookup ───────────────────────────────────

  /** A partition's equality-masking spec: the file's own sequence, the
    * applicable tombstones (paths resolved at planning), and the emit
    * polarity (false = drop masked rows, the read path; true = emit ONLY
    * masked rows, [[fold]]'s position-finding read). Serializable —
    * rides the InputPartition; the key SETS load executor-side from the
    * (immutable) tombstone files through a JVM-wide cache. */
  /** `keySchema`: a StructType naming the key column(s) WITH the
    * table's resolution metadata attached (field ids + rename history)
    * — pre-rename files carry the key under an old physical name, and
    * resolving by bare name would silently skip their masks. None (the
    * legacy serialized form) falls back to name matching.
    *
    * Composite keys: `keyCols` lists the declared columns in order; the
    * lookup key is the bare normalized value for a single column and a
    * `List[Any]` of the normalized components for a composite (the SAME
    * construction on the tombstone and data sides). */
  case class EqPart(keyCols: Seq[String], fileSeq: Long,
      tombPaths: Array[String], tombSeqs: Array[Long],
      emitDeleted: Boolean = false,
      keySchema: Option[StructType] = None) extends Serializable

  /** JVM-wide lookup cache: tombstone file names are content-addressed
    * (uuid + sequence, immutable once committed), so a key→maxSeq map
    * built for one set of tombstones is valid forever. Soft refs let the
    * executor shed them under memory pressure. */
  private val lookupCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.lang.ref.SoftReference[java.util.HashMap[Any, java.lang.Long]]]()

  private[sources] def lookupFor(part: EqPart,
      conf: org.apache.hadoop.conf.Configuration)
      : java.util.HashMap[Any, java.lang.Long] = {
    val key = part.tombPaths.sorted.mkString(0.toChar.toString)
    val cached = lookupCache.get(key)
    val hit = if (cached == null) null else cached.get()
    if (hit != null) return hit
    val m = new java.util.HashMap[Any, java.lang.Long]()
    part.tombPaths.zip(part.tombSeqs).foreach { case (p, seq) =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      foreachTombKey(fs, path) { t =>
        // lookup key shape: bare value (single) / List (composite)
        val k = if (t.length == 1) t(0) else t.toList
        val prev = m.get(k)
        if (prev == null || prev.longValue() < seq)
          m.put(k, java.lang.Long.valueOf(seq))
      }
    }
    lookupCache.put(key, new java.lang.ref.SoftReference(m))
    m
  }

  // ── planning-time key pruning (round 14) ────────────────────────────

  /** Sidecar name for a tombstone's key range: `<tomb>.range.json`,
    * holding `{"col","kind","min","max"}` in the stats manifest's
    * canonical string forms. ADVISORY by contract — a missing or
    * unreadable sidecar only disables pruning, never correctness (the
    * read-side mask consults the tombstone file itself). Committed via
    * the same intent moves as its tombstone and retired with it. */
  private[sources] def rangeName(tombRel: String): String =
    tombRel + ".range.json"

  /** A tombstone's key ranges from its sidecar: per key column
    * (col, kind, min, max) in canonical form; empty = no/invalid
    * sidecar (prune nothing). Reads both the round-14 multi-column form
    * (`{"cols":[...]}`) and the original single-object form. */
  private[sources] def rangeOf(fs: FileSystem, dirPath: Path,
      tombRel: String): Seq[(String, String, String, String)] = {
    val p = new Path(dirPath, rangeName(tombRel))
    if (!scala.util.Try(fs.exists(p)).getOrElse(false)) return Nil
    scala.util.Try {
      import org.json4s._
      def one(j: JValue): Option[(String, String, String, String)] =
        (j \ "col", j \ "kind", j \ "min", j \ "max") match {
          case (JString(c), JString(k), JString(mn), JString(mx)) =>
            Some((c, k, mn, mx))
          case _ => None
        }
      val j = org.json4s.jackson.JsonMethods.parse(
        ArrowFileStats.readFully(fs, p))
      j \ "cols" match {
        case JArray(vs) => vs.flatMap(one)
        case _ => one(j).toSeq
      }
    }.getOrElse(Nil)
  }

  /** JVM-wide cache of SMALL tombstones' key sets for planning-time
    * point pruning (tombstone files are immutable — a loaded set is
    * valid forever; soft refs shed under pressure). Planning probes each
    * candidate file's stats interval + bloom with these keys via
    * [[ArrowFileStats.canMatch]], so a 200-key CDC batch prunes the
    * fold/read to files that can actually hold a masked key. */
  private val keysCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.lang.ref.SoftReference[Array[Array[Any]]]]()

  private[sources] def keysOf(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Array[Any]] = {
    val cached = keysCache.get(path)
    val hit = if (cached == null) null else cached.get()
    if (hit != null) return hit
    val p = new Path(path)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    foreachTombKey(p.getFileSystem(conf), p)(buf += _)
    val arr = buf.toArray
    keysCache.put(path, new java.lang.ref.SoftReference(arr))
    arr
  }

  /** Iterate a tombstone file's key tuples (one array per row, columns
    * in file order, each component normalized). Rows with any null
    * component are skipped — the upsert contract forbids them. */
  private def foreachTombKey(fs: FileSystem, p: Path)
      (f: Array[Any] => Unit): Unit = {
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      ArrowSnapshots.openPlanned(fs, p), alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val nc = root.getSchema.getFields.size()
        val gets = Array.tabulate(nc)(c => accessor(root.getVector(c)))
        var i = 0
        val n = root.getRowCount
        while (i < n) {
          val t = new Array[Any](nc)
          var c = 0
          var ok = true
          while (c < nc && ok) {
            t(c) = gets(c)(i)
            if (t(c) == null) ok = false
            c += 1
          }
          if (ok) f(t)
          i += 1
        }
      }
    } finally {
      try reader.close() finally alloc.close()
    }
  }

  /** Normalizing accessor over the supported key vector types — the
    * SAME normalization on the tombstone side and the data side, so a
    * lookup probe compares canonical forms (java.lang.Long / String). */
  private[sources] def accessor(
      v: org.apache.arrow.vector.FieldVector): Int => Any = {
    import org.apache.arrow.vector._
    v match {
      case b: BigIntVector =>
        i => if (b.isNull(i)) null else java.lang.Long.valueOf(b.get(i))
      case b: IntVector =>
        i => if (b.isNull(i)) null else java.lang.Long.valueOf(b.get(i).toLong)
      case b: SmallIntVector =>
        i => if (b.isNull(i)) null else java.lang.Long.valueOf(b.get(i).toLong)
      case b: TinyIntVector =>
        i => if (b.isNull(i)) null else java.lang.Long.valueOf(b.get(i).toLong)
      case b: DateDayVector =>
        i => if (b.isNull(i)) null else java.lang.Long.valueOf(b.get(i).toLong)
      case b: TimeStampVector => // micro/ntz forms share the long payload
        i => if (b.isNull(i)) null else java.lang.Long.valueOf(b.get(i))
      case b: VarCharVector =>
        i => if (b.isNull(i)) null else new String(b.get(i),
          java.nio.charset.StandardCharsets.UTF_8)
      case other =>
        throw new UnsupportedOperationException(
          s"arrow-ipc equality deletes: unsupported key vector " +
            s"${other.getClass.getSimpleName}")
    }
  }

  /** Per-batch drop mask for a loaded VectorSchemaRoot: true at i = row
    * i's key is equality-masked. Null when NOTHING in this batch is
    * masked (the common case once folds keep debt low) — callers skip
    * all per-row work then. Key column resolved by name; a file that
    * predates the key column (schema evolution) has no masked rows. */
  private[sources] def batchMask(part: EqPart,
      lookup: java.util.HashMap[Any, java.lang.Long],
      root: org.apache.arrow.vector.VectorSchemaRoot): Array[Boolean] = {
    if (lookup.isEmpty) return null
    // key slots via the SAME field-id/rename resolution the scan uses —
    // a pre-rename file carries a key column under an old physical name,
    // and a file that predates ANY key column resolves it to -1 (its
    // rows have no complete key, so nothing masks — correct by vacuity,
    // and Iceberg's own null-never-equals rule for missing columns)
    val slots: Array[Int] = part.keySchema match {
      case Some(ks) =>
        scala.util.Try(ArrowInterchange.resolveColumns(
          root.getSchema, ks, "<eq-key>").toArray)
          .getOrElse(Array.fill(part.keyCols.size)(-1))
      case None =>
        val idx = root.getSchema.getFields
        part.keyCols.map { kc =>
          var s = -1
          var j = 0
          while (j < idx.size()) {
            if (idx.get(j).getName == kc) s = j
            j += 1
          }
          s
        }.toArray
    }
    if (slots.exists(_ < 0) || slots.length != part.keyCols.size) return null
    val gets = slots.map(s => accessor(root.getVector(s)))
    val nc = gets.length
    val n = root.getRowCount
    var out: Array[Boolean] = null
    var i = 0
    while (i < n) {
      // same key shape as the lookup build: bare value / List
      var k: Any = null
      if (nc == 1) k = gets(0)(i)
      else {
        val t = new Array[Any](nc)
        var c = 0
        var ok = true
        while (c < nc && ok) {
          t(c) = gets(c)(i)
          if (t(c) == null) ok = false
          c += 1
        }
        if (ok) k = t.toList
      }
      if (k != null) {
        val s = lookup.get(k)
        if (s != null && s.longValue() > part.fileSeq) {
          if (out == null) out = new Array[Boolean](n)
          out(i) = true
        }
      }
      i += 1
    }
    out
  }

  // ── write path: the O(batch) upsert commit ───────────────────────────

  case class EqUpsertResult(applied: Boolean, seq: Long,
      insertedFiles: Int, tombstoneKeys: Long)

  /** Marks [[fold]]'s own positional commit so the MOR guard lets it
    * through while tombstones are still live. */
  private[graft] val foldInProgress = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Apply one upsert batch in O(batch): stage the batch's rows as data
    * files and its DISTINCT key set as one tombstone, then commit both
    * atomically via the standard intent/replay — the target table is
    * never read or listed beyond O(1) metadata. The calling thread's
    * CDC tag ([[ArrowCdcApply.applyBatch]]) rides the intent, so a
    * foreachBatch replay is exactly-once like the MERGE paths.
    *
    * `deleteOnly = true` commits the tombstone WITHOUT the batch's rows
    * — the CDC-delete shape (the batch's key column is still the key
    * source, other columns ignored).
    *
    * Contract: `batch` matches the table schema (upsert form), carries
    * no NULL keys and at most one row per key (fold your batch first —
    * MERGE's own source-match rule); each key column's type must be
    * integer-backed, string, date or timestamp. Hive-partitioned tables
    * are not supported (use the clustered MERGE path — a hive table IS
    * the clustered case this path exists to avoid). */
  def upsertBatch(spark: SparkSession, dir: String, keyCol: String,
      batch: DataFrame, deleteOnly: Boolean = false): EqUpsertResult =
    upsertBatchKeys(spark, dir, Seq(keyCol), batch, deleteOnly)

  /** Composite-key form (the Iceberg spec's equality field list — the
    * common CDC shape is (tenant, id)): the tombstone carries the
    * DISTINCT key TUPLES, and a row is masked when every component
    * matches. Same contract as the single-key form per column. */
  def upsertBatchKeys(spark: SparkSession, dir: String,
      keyCols: Seq[String], batch: DataFrame,
      deleteOnly: Boolean = false): EqUpsertResult = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum, when}
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"arrow-ipc equality upsert: key columns must be non-empty and " +
        s"distinct (got ${keyCols.mkString(",")})")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dirPath, "_schema.arrows")),
      s"arrow-ipc equality upsert: $dir is not an arrow-ipc table")
    require(ArrowHiveLayout.readGenerations(fs, dirPath).forall(_.isEmpty),
      s"arrow-ipc equality upsert: $dir is (or was) hive-partitioned — a " +
        "partitioned table is the key-clustered case; use the MERGE path " +
        "(ArrowCdcApply with keyBounds), which prunes to the batch's keys")
    val tableSchema = ArrowInterchange.readSchema(spark, dir)
    keyCols.foreach { keyCol =>
      val keyField = tableSchema.fields.find(_.name == keyCol).getOrElse(
        throw new IllegalArgumentException(
          s"arrow-ipc equality upsert: $dir has no column '$keyCol'"))
      require(supportedKeyType(keyField.dataType),
        s"arrow-ipc equality upsert: key column '$keyCol' has type " +
          s"${keyField.dataType} — supported: integral, string, date, timestamp")
      require(batch.schema(keyCol).dataType == keyField.dataType,
        s"arrow-ipc equality upsert: batch key type " +
          s"${batch.schema(keyCol).dataType} != table ${keyField.dataType}")
    }
    if (!deleteOnly)
      require(batch.schema.fieldNames.sorted.sameElements(
          tableSchema.fieldNames.sorted),
        s"arrow-ipc equality upsert: batch columns " +
          s"${batch.schema.fieldNames.mkString(",")} do not match table " +
          s"${tableSchema.fieldNames.mkString(",")}")
    // one key LIST per table — but a table whose key was RENAMED (or
    // re-shaped) after a full fold (no tombstones constrain it) may
    // re-declare; the meta rewrite happens under the lock below
    val declared = keyColsOf(fs, dirPath)
    require(declared.isEmpty || declared == keyCols ||
        liveTombs(fs, dirPath).isEmpty,
      s"arrow-ipc equality upsert: $dir's equality key is " +
        s"(${declared.mkString(",")}), not (${keyCols.mkString(",")}) — " +
        "one key list per table (fold first to change it)")

    ArrowMaintenance.recover(spark, dir) // finish any crashed swap first
    // clear staging dirs of upserts that PROVABLY died before recording
    // intent (same discipline as `.compact-*` / `.cow-*`; a young dir
    // may be a concurrent upsert mid-stage and is left alone)
    ArrowOcc.sweepStaleStaging(fs, dirPath, ".equp-*")

    val id = java.util.UUID.randomUUID.toString.take(8)
    val staging = s".equp-$id"
    val stagingPath = new Path(dirPath, staging)

    // STAGE the batch's rows FIRST (skipped for delete-only): an ordinary
    // interchange write into the staging dir — part files + stats,
    // nothing touches the live table. ONE pass over the batch lineage:
    // the contract-check aggregate and the tombstone below read the
    // just-staged local files back instead of re-running the caller's
    // change pipeline (a stream source read, or a whole filter+groupBy
    // over the change table) once per action — the former shape computed
    // that lineage THREE times per commit, the dominant cost of the
    // O(batch) commit this path exists for (guide §1.2 / §5; round-18
    // pass — QueryProfile showed the eq-upsert queries MANY-TINY-JOBS
    // bound with the batch lineage re-run per job). Staged-but-invalid
    // batches delete their staging before the contract error surfaces.
    if (!deleteOnly)
      ArrowInterchange.writeStream(
        batch.select(tableSchema.fieldNames.map(col).toIndexedSeq: _*),
        stagingPath.toString)
    else {
      fs.mkdirs(stagingPath)
    }
    // key source: the staged files (values round-trip the interchange
    // exactly for every supported key type); delete-only stages nothing,
    // so it reads the batch itself — two passes, same as before
    def keySrc = if (deleteOnly) batch.select(keyCols.map(col): _*)
      else spark.read.format("arrow-ipc").load(stagingPath.toString)
        .select(keyCols.map(col): _*)

    // one small aggregate validates the batch contract (empty / null
    // keys / duplicate keys) before anything is committed
    val anyNull = keyCols.map(k => col(k).isNull).reduce(_ || _)
    val check = keySrc.agg(count(lit(1)),
      countDistinct(keyCols.head, keyCols.tail: _*),
      sum(when(anyNull, 1L).otherwise(0L))).head()
    val total = check.getLong(0)
    if (total == 0L) {
      fs.delete(stagingPath, true)
      return EqUpsertResult(applied = false, 0L, 0, 0L)
    }
    def reject(msg: String): Nothing = {
      fs.delete(stagingPath, true)
      throw new IllegalArgumentException(msg)
    }
    if (check.getLong(2) != 0L)
      reject("arrow-ipc equality upsert: batch carries NULL keys — a " +
        "tombstone cannot target null; filter them out")
    if (check.getLong(1) != total)
      reject(s"arrow-ipc equality upsert: batch has $total rows but only " +
        s"${check.getLong(1)} distinct keys — fold the batch to one row " +
        "per key first (MERGE's source-match rule)")

    // STAGE the tombstone: the batch's distinct key tuples as one
    // key-columns-only arrow file inside the staging dir (written
    // through the same interchange writer, then renamed to the staged
    // tomb name so the staged stats never cover it). `coalesce(1)` is a
    // deliberate bound: ONE task writes every distinct key of the batch
    // into one file, so the tombstone write does not scale out with the
    // batch. The path is sized for CDC-sized batches (thousands of keys,
    // not a table's worth).
    val tombTmp = new Path(stagingPath, ".tomb")
    ArrowInterchange.writeStream(keySrc.coalesce(1), tombTmp.toString)
    val tombPart = Option(fs.globStatus(new Path(tombTmp, "part-*.arrows")))
      .getOrElse(Array.empty).headOption.getOrElse(
        throw new IllegalStateException(
          "arrow-ipc equality upsert: tombstone staging produced no file"))
    val tombStaged = s".tomb-$id.eq.arrows"
    if (!fs.rename(tombPart.getPath, new Path(stagingPath, tombStaged)))
      throw new java.io.IOException(
        s"arrow-ipc equality upsert: rename of staged tombstone failed")
    // the tombstone's per-column key RANGES, from the stats the
    // interchange write of the key columns just computed — staged as an
    // advisory sidecar so planning can intersect them with each
    // candidate file's key intervals (the fold-scan pruning of round
    // 14); columns without valid stats are omitted, an empty set means
    // no sidecar (pruning simply stays off for this tombstone)
    val tombRange: Option[String] = {
      val stats = ArrowFileStats.read(fs, tombTmp).values.headOption
      val entries = keyCols.flatMap(k => stats.flatMap(_.cols.get(k))
        .filter(c => c.min.isDefined && c.max.isDefined)
        .map(c => "{\"col\":\"" + ArrowFileStats.esc(k) +
          "\",\"kind\":\"" + ArrowFileStats.esc(c.kind) +
          "\",\"min\":\"" + ArrowFileStats.esc(c.min.get) +
          "\",\"max\":\"" + ArrowFileStats.esc(c.max.get) + "\"}"))
      if (entries.isEmpty) None
      else {
        val name = s".tomb-$id.eq.range.json"
        ArrowOcc.writeAtomic(fs, new Path(stagingPath, name),
          ("{\"cols\":[" + entries.mkString(",") + "]}")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Some(name)
      }
    }
    fs.delete(tombTmp, true)

    val txn = ArrowDeleteVectors.currentCdcTxn()
    ArrowOcc.withCommitLock(fs, dirPath) {
      // CDC idempotency: a replayed batch version commits NOTHING
      if (txn.exists { case (app, ver) =>
          ArrowDeleteVectors.appliedCdcVersion(fs, dirPath, app)
            .exists(_ >= ver) }) {
        fs.delete(stagingPath, true)
        return EqUpsertResult(applied = false, 0L, 0, total)
      }
      // GENERATION RE-CHECK under the lock (round 15 review): the
      // flat-only precheck above ran before staging, and an
      // evolvePartitioning can land in between (its own lock section
      // sees no tombstones YET). Committing here would mint the state
      // every invariant rules out — a multi-generation table with live
      // tombstones — so the statement loses the race loudly; staging is
      // cleaned, the caller may re-issue against the evolved table's
      // MERGE path.
      if (!ArrowHiveLayout.readGenerations(fs, dirPath).forall(_.isEmpty)) {
        fs.delete(stagingPath, true)
        throw new IllegalStateException(
          s"arrow-ipc equality upsert: $dir was hive-partitioned by a " +
            "concurrent evolvePartitioning while this batch staged — " +
            "refusing to commit a tombstone onto a partitioned table; " +
            "use the MERGE path (ArrowCdcApply with keyBounds)")
      }
      if (keyColsOf(fs, dirPath) != keyCols) {
        // legacy single-key field kept alongside for older readers
        val legacy = if (keyCols.size == 1)
          ",\"keyCol\":\"" + ArrowFileStats.esc(keyCols.head) + "\"" else ""
        ArrowOcc.writeAtomic(fs, new Path(dirPath, s"$EqDir/$MetaName"),
          ("{\"keyCols\":[" + keyCols.map(k =>
            "\"" + ArrowFileStats.esc(k) + "\"").mkString(",") +
            "]" + legacy + "}")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      // sequence assigned UNDER the lock: concurrent upserts serialize,
      // so cross-batch masking (last writer wins per key) is total-ordered
      val seq = bumpSeq(fs, dirPath)
      // stamp the staged data files' stats with the batch's sequence —
      // the tombstone masks files with a SMALLER one, so the batch's own
      // inserts survive it and every older image dies
      val stagedStats = ArrowFileStats.read(fs, stagingPath)
        .map { case (n, st) => n -> st.copy(seq = seq) }
      if (stagedStats.nonEmpty)
        ArrowFileStats.write(fs, stagingPath, stagedStats)
      // the interchange writer names files part-0000N.arrows — NOT
      // unique across commits, so the moves mint collision-free final
      // names (upsert id + sequence); the replay's stats fold follows
      // the rename (movesByName)
      val dataMoves = stagedStats.keys.map(n =>
        n -> s"${n.stripSuffix(".arrows")}-equp$seq-$id.arrows").toMap
      val tombFinal = s"$EqDir/${tombName(id, seq, total)}"
      val intent = ArrowMaintenance.Intent(
        olds = Nil, staging = staging,
        moves = dataMoves + (tombStaged -> tombFinal) ++
          tombRange.map(n => n -> rangeName(tombFinal)),
        kind = "eq-upsert", layoutKeys = Nil, dvs = Nil, txn = txn)
      ArrowMaintenance.commitIntent(fs, dirPath, intent)
      EqUpsertResult(applied = true, seq, dataMoves.size, total)
    }
  }

  // ── maintenance: fold tombstones to positional vectors ───────────────

  case class EqFoldResult(tombstones: Int, filesMasked: Int, rows: Long)

  /** Fold every live tombstone into positional deletion vectors and
    * remove them — the maintenance step that restores DML, compaction,
    * time travel and aggregate pushdown, and converts the read-side
    * hash probe into the (cheaper, compactable) positional mask.
    *
    * Distributed shape: ONE scan of the table in `eqEmit=deleted` mode
    * — the readers emit exactly the equality-masked, DV-alive rows as
    * (_file, _pos) — grouped per file and committed through the MOR
    * machinery ([[ArrowDeleteVectors.commitDeletes]]: cumulative
    * vectors, intent/replay, commit lock), one commit per path range of
    * at most `spark.graft.arrow.foldBatchRows` rows. Tombstone removal is a
    * SECOND, separately-crash-safe step: between the two, rows are
    * masked by both artifacts (masking is idempotent), and a re-run
    * finds zero new positions and proceeds straight to removal.
    * Planning prunes to files with seq below some tombstone's, so a
    * mostly-folded table re-folds only its fresh debt. */
  def fold(spark: SparkSession, dir: String): EqFoldResult = {
    import org.apache.spark.sql.functions.{col, collect_list, count, lit, sort_array}
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs = liveTombs(fs, dirPath)
    if (tombs.isEmpty) return EqFoldResult(0, 0, 0L)
    val hits = spark.read.format("arrow-ipc").option("eqEmit", "deleted")
      .load(dir)
      .select(col(ArrowRowLevel.FileColumn), col(ArrowRowLevel.PosColumn))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // `total` (the result's row count) is summed from the per-file
      // counts below — the former separate hits.count() was a whole
      // extra pass over the hits frame just to produce a number the
      // grouping already computes (guide §1.2; round-18 pass). The
      // groupBy job is now also what materializes the persisted hits.
      var total = 0L
      // DRIVER-MEMORY DISCIPLINE (the same class of bug the MOR cap
      // closed in round 11): position lists reach the driver in GROUPS
      // bounded by `spark.graft.arrow.foldBatchRows` (default 10M —
      // ~80 MB of longs), one MOR commit per group, instead of one
      // unbounded collect over a table whose equality debt is exactly
      // what motivated the fold. The per-FILE counts (tiny: one row per
      // masked file), sorted by path, cut the groups: each is a run of
      // paths selected by its first and last (Spark's own binary string
      // order), however many files. `hits` is persisted, so each
      // group's collect re-reads spilled rows, not the table.
      val groupCap = scala.util.Try(spark.conf
        .get("spark.graft.arrow.foldBatchRows", "10000000").toLong)
        .getOrElse(10000000L)
      // STREAMING gather (round 15): the per-file counts arrive one row
      // per masked file — tiny at any realistic debt, but a pathological
      // million-masked-file backlog would make a .collect() a ~100 MB
      // driver materialization. `toLocalIterator` over the executor-side
      // sort streams one partition at a time into the group builder, so
      // driver residency is one partition of (path, count) pairs plus
      // the groups' (first, last) path bounds.
      val groups = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var first: String = null
      var last: String = null
      var curRows = 0L
      hits.groupBy(ArrowRowLevel.FileColumn)
        .agg(count(lit(1)).as("n"))
        .orderBy(col(ArrowRowLevel.FileColumn))
        .toLocalIterator()
        .forEachRemaining { r =>
          val (f, n) = (r.getString(0), r.getLong(1))
          total += n
          if (first != null && curRows + n > groupCap) {
            groups += first -> last; first = null; curRows = 0L
          }
          if (first == null) first = f
          last = f; curRows += n
        }
      if (first != null) groups += first -> last
      var filesMasked = 0
      groups.foreach { case (lo, hi) =>
        val perFile = hits.filter(col(ArrowRowLevel.FileColumn).between(lo, hi))
          .groupBy(ArrowRowLevel.FileColumn)
          .agg(sort_array(collect_list(col(ArrowRowLevel.PosColumn))).as("pos"))
          .collect()
          .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
        if (perFile.nonEmpty) {
          foldInProgress.set(true)
          try ArrowDeleteVectors.commitDeletes(spark, dir, perFile)
          finally foldInProgress.set(false)
          filesMasked += perFile.length
        }
      }
      // REMOVE the tombstones through the intent/replay machinery so the
      // retirement is CONVERGENT: trash moves and the snapshot entry are
      // one replayable unit — a crash between them is finished by
      // recover(), never a state where the files are gone but every
      // later snapshot still resolves them in (which would wedge time
      // travel and the change feed forever, since a re-run fold would
      // see no live tombstones and log nothing). Range sidecars retire
      // with their tombstones.
      ArrowOcc.withCommitLock(fs, dirPath) {
        val stillLive = liveTombs(fs, dirPath).filter(tombs.contains)
        if (stillLive.nonEmpty) {
          val sidecars = stillLive.map(t => rangeName(t._1)).filter(r =>
            scala.util.Try(fs.exists(new Path(dirPath, r))).getOrElse(false))
          val foldStaging = s".eqfold-${java.util.UUID.randomUUID.toString.take(8)}"
          fs.mkdirs(new Path(dirPath, foldStaging))
          ArrowMaintenance.commitIntent(fs, dirPath, ArrowMaintenance.Intent(
            olds = stillLive.map(_._1) ++ sidecars, staging = foldStaging,
            moves = Map.empty, kind = "eq-fold", layoutKeys = Nil,
            dvs = Nil, txn = None))
        }
      }
      EqFoldResult(tombs.size, filesMasked, total)
    } finally hits.unpersist(blocking = false)
  }
}

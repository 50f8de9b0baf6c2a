package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hive-style partitioned-directory layout for arrow-ipc datasets
  * (`key=value/` subdirectories — the layout every data lake actually
  * has). Declared by `_hive_layout.json` at the dataset root; data files
  * live under one nested value directory per partition-key tuple and DO
  * NOT store the partition columns — the path carries them, the scan
  * reconstructs them as constants.
  *
  * The 100 TB payoff is directory-grain pruning: a static filter on a
  * partition key skips whole value directories BEFORE their files are
  * ever listed (planning cost O(matching dirs), not O(files)), and a
  * runtime (DPP) key set prunes partition files through the same
  * synthesized single-value stats the flat layout's manifest pruning
  * uses. The reference has no analog (its scans take explicit file
  * lists); this is the Spark-native discovery layer over the same
  * Arrow IPC file format.
  *
  * Partition-key types are restricted to the forms that round-trip a
  * directory name unambiguously: string, byte/short/int/long, boolean,
  * date (ISO `yyyy-MM-dd` in the path). NULL encodes as the conventional
  * `__HIVE_DEFAULT_PARTITION__`.
  */
private[graft] object ArrowHiveLayout {
  val FileName = "_hive_layout.json"
  val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** CURRENT partition keys — what new writes nest by. */
  def read(fs: FileSystem, dir: Path): Seq[String] = {
    val p = new Path(dir, FileName)
    if (!fs.exists(p)) Nil
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(ArrowFileStats.readFully(fs, p)) \
        "hiveKeys" match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case other => throw new IllegalStateException(s"bad $FileName: $other")
      }
    }
  }

  /** PARTITION EVOLUTION (round 13): every key list the table has ever
    * been declared with, oldest first, CURRENT last — distinct,
    * consecutive no-ops collapsed. A layout file written before
    * evolution existed parses as the single-generation history; no
    * layout file = the flat generation only. Readers union the
    * generations' file sets — since round 14
    * [[ArrowMaintenance.evolvePartitioning]] admits N standing HIVE
    * generations (hive→hive′ with standing dirs is a metadata-only
    * commit), so the union is flat ∪ every standing hive generation,
    * each side pruned by its own mechanism. Rewrites (compaction, COW
    * DML) and streaming reads refuse mid-evolution until the table is
    * unified back to one generation via `cluster` (whole-table) or
    * `CALL unify_generation` (round 15 — drains one standing generation
    * per call, [[ArrowMaintenance.unifyGeneration]]). */
  def readGenerations(fs: FileSystem, dir: Path): Seq[Seq[String]] = {
    val p = new Path(dir, FileName)
    if (!fs.exists(p)) return Seq(Nil)
    import org.json4s._
    val root = org.json4s.jackson.JsonMethods.parse(
      ArrowFileStats.readFully(fs, p))
    val current = root \ "hiveKeys" match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case other => throw new IllegalStateException(s"bad $FileName: $other")
    }
    val history = root \ "history" match {
      case JArray(gens) => gens.collect {
        case JArray(xs) => xs.collect { case JString(s) => s }
      }
      case _ => Nil
    }
    val all = (history :+ current)
    all.foldLeft(Vector.empty[Seq[String]]) { (acc, g) =>
      if (acc.lastOption.contains(g)) acc else acc :+ g
    }
  }

  /** The hive generations that currently HOLD files (their first key's
    * value directories exist), oldest first — the set a reader must
    * union and a rewrite must unify. One glob per distinct generation. */
  def standingHiveGens(fs: FileSystem, dir: Path): Seq[Seq[String]] =
    readGenerations(fs, dir).filter(_.nonEmpty).distinct.filter { g =>
      Option(fs.globStatus(new Path(dir, escape(g.head) + "=*")))
        .getOrElse(Array.empty).exists(_.isDirectory)
    }

  /** Declare `keys` as the current layout. PRESERVES the existing
    * generation history (an append's idempotent re-declaration must not
    * forget a standing flat generation); a table with no layout file
    * starts with empty history — a spurious flat generation is never
    * invented. [[reset]] collapses history after a unifying rewrite. */
  def write(fs: FileSystem, dir: Path, keys: Seq[String]): Unit = {
    val prior: Seq[Seq[String]] =
      if (scala.util.Try(fs.exists(new Path(dir, FileName)))
          .getOrElse(false)) readGenerations(fs, dir)
      else Nil
    writeRaw(fs, dir, keys, prior)
  }

  /** Declare `keys` with NO history — for whole-table rewrites that
    * physically unified the layout (and fresh tables). */
  def reset(fs: FileSystem, dir: Path, keys: Seq[String]): Unit =
    writeRaw(fs, dir, keys, Nil)

  /** Drop `gen` from the declared HISTORY (round 15 — the incremental
    * unifier's bookkeeping): called after a rewrite drained every file
    * the generation held, so readers stop walking its (now empty)
    * discovery. The current keys are untouched; when the last history
    * entry collapses, the layout degenerates to a single generation and
    * rewrites/streaming resume. Idempotent — collapsing an absent entry
    * is a no-op write. */
  def collapseGeneration(fs: FileSystem, dir: Path, gen: Seq[String]): Unit = {
    val gens = readGenerations(fs, dir)
    writeRaw(fs, dir, gens.last, gens.init.filterNot(_ == gen))
  }

  /** EVOLVE to `keys`: the full standing history — INCLUDING the
    * implicit flat generation of a table that never had a layout file —
    * is recorded, so existing files stay readable under their own
    * layout. Metadata-only; [[ArrowMaintenance.evolvePartitioning]] is
    * the validated entry point. */
  def declareEvolved(fs: FileSystem, dir: Path, keys: Seq[String]): Unit =
    writeRaw(fs, dir, keys, readGenerations(fs, dir))

  private def writeRaw(fs: FileSystem, dir: Path, keys: Seq[String],
      history: Seq[Seq[String]]): Unit = {
    def arr(ks: Seq[String]): String =
      ks.map(k => "\"" + ArrowFileStats.esc(k) + "\"")
        .mkString("[", ",", "]")
    val hist0 = history.foldLeft(Vector.empty[Seq[String]]) { (acc, g) =>
      if (acc.lastOption.contains(g)) acc else acc :+ g
    }
    val hist1 = if (hist0.lastOption.contains(keys)) hist0.init else hist0
    val hist =
      if (hist1.isEmpty) ""
      else s""","history":${hist1.map(arr).mkString("[", ",", "]")}"""
    val body = s"""{"hiveKeys":${arr(keys)}$hist}"""
    ArrowOcc.writeAtomic(fs, new Path(dir, FileName),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Types a partition value can take without ambiguity in a path. */
  def supported(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType => true
    case _ => false
  }

  // ── path-segment escaping ────────────────────────────────────────────
  // Escape the characters that break path semantics (separator, glob
  // metacharacters, '=', '%', control chars) as %XX — reversible, stable,
  // and compatible in spirit with Hive's escapePathName.
  private val reserved: Set[Char] =
    Set('/', '\\', ':', '*', '?', '"', '<', '>', '|', '=', '%', '#',
      '{', '}', '[', ']', '\'')

  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach { c =>
      if (c < ' ' || reserved(c)) b.append(f"%%${c.toInt}%02X")
      else b.append(c)
    }
    b.toString
  }

  def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Directory segment for one key's INTERNAL value (null allowed). */
  def dirSegment(field: StructField, internal: Any): String = {
    val v =
      if (internal == null) NullDir
      else field.dataType match {
        case StringType => escape(internal.toString) // UTF8String.toString
        case DateType => java.time.LocalDate
          .ofEpochDay(internal.asInstanceOf[Int].toLong).toString
        case BooleanType => internal.toString
        case _ => internal.toString // integral family
      }
    s"${escape(field.name)}=$v"
  }

  /** Parse a `key=value` segment: canonical stat string (None = NULL).
    * Throws on a segment whose key half doesn't match `field`. */
  def parseSegment(field: StructField, segment: String): Option[String] = {
    val eq = segment.indexOf('=')
    require(eq > 0, s"arrow-ipc hive layout: malformed directory '$segment'")
    require(unescape(segment.substring(0, eq)) == field.name,
      s"arrow-ipc hive layout: expected key '${field.name}' but found " +
        s"directory '$segment'")
    val raw = segment.substring(eq + 1)
    if (raw == NullDir) None
    else Some(field.dataType match {
      case StringType => unescape(raw)
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toString
      case BooleanType => if (raw == "true") "1" else "0"
      case _ => java.lang.Long.parseLong(raw).toString // validates integral
    })
  }

  /** Parse a nested RELATIVE path's `key=value/` segments against the
    * declared fields (canonical stat strings, None = NULL) — the shared
    * reconstruction for snapshot paths, change feeds, and archived files. */
  def parseRelPath(fields: Seq[StructField], rel: String): Seq[Option[String]] = {
    val segs = rel.split('/')
    require(segs.length == fields.length + 1,
      s"arrow-ipc: path '$rel' does not match the declared hive layout " +
        s"(${fields.map(_.name).mkString("/")})")
    fields.zipWithIndex.map { case (f, i) => parseSegment(f, segs(i)) }
  }

  private def kindName(dt: DataType): String =
    if (dt == StringType) "string" else "long"

  /** Synthesized per-key ColStats for a partition value — every row in the
    * directory carries exactly this value, so min==max (or all-null),
    * which plugs partition pruning AND single-valuedness proofs into the
    * same [[ArrowFileStats.canMatch]] machinery the flat manifest uses. */
  def colStats(field: StructField, canon: Option[String], rows: Long): ColStats =
    canon match {
      case Some(v) => ColStats(kindName(field.dataType), Some(v), Some(v), 0)
      case None => ColStats(kindName(field.dataType), None, None, math.max(rows, 1))
    }

  /** A one-key FileStats for DIRECTORY-level pruning (rows unknown → 1,
    * only the all-null interval logic consults it). */
  def dirStats(field: StructField, canon: Option[String]): FileStats =
    FileStats(1, Map(field.name -> colStats(field, canon, 1)))

  /** Internal-form value for one canonical partition string. */
  def internalValue(dt: DataType, canon: Option[String]): Any = canon match {
    case None => null
    case Some(s) if dt == StringType => UTF8String.fromString(s)
    case Some(s) => ArrowFileStats.internalFromCanonical(dt, s)
  }
}

/** One data file of a hive-partitioned dataset plus its directory-derived
  * partition values (canonical stat strings, None = NULL partition).
  * `fields`: the key NAMES the values align to — empty means the
  * factory's default (current) generation; non-empty names an OLD
  * partition generation (round 14: N-generation reads), whose keys the
  * factory splices instead. */
private[sources] case class ArrowHiveFilePartition(
    file: String, values: Seq[Option[String]],
    dv: Option[String] = None,
    keep: Option[String] = None,
    fields: Seq[String] = Nil) extends InputPartition

/** Reader factory for hive-partitioned directories: inner readers decode
  * only the DATA columns present in the files; the partition columns are
  * spliced back as constants from the directory name — never stored,
  * never decoded. Columnar path uses [[org.apache.spark.sql.execution
  * .vectorized.ConstantColumnVector]], the same mechanism Spark's file
  * sources use for partition values. `table` as in
  * [[ArrowIpcReaderFactory]], less each generation's keys; `rows` too —
  * its columns are never partition keys, so the inner readers test them
  * on the data. */
private[sources] class ArrowIpcHiveReaderFactory(
    required: StructType, hiveFields: Seq[StructField],
    conf: SerializableHadoopConf, limit: Int = -1,
    posSlot: Int = -1, extraGens: Seq[Seq[StructField]] = Nil,
    table: StructType = null, rows: Option[ArrowRowFilter] = None)
    extends PartitionReaderFactory {

  /** One partition GENERATION's splice plan: required-position →
    * Left(data ordinal) | Right(key ordinal), and the data columns the
    * inner reader decodes. `required` never contains `_pos` (the scan
    * strips metadata columns) — when posSlot >= 0 the OUTPUT row has
    * one extra slot carrying the inner reader's physical position.
    * Round 14: a partition naming an OLD generation's keys
    * ([[ArrowHiveFilePartition.fields]]) splices THOSE from its path
    * and reads the current keys from its data like any other column. */
  private case class GenPlan(fields: Seq[StructField],
      slots: Array[Either[Int, Int]], dataRequired: StructType,
      dataTable: StructType) {
    def internals(values: Seq[Option[String]]): Array[Any] =
      fields.zipWithIndex.map { case (f, i) =>
        ArrowHiveLayout.internalValue(f.dataType, values(i))
      }.toArray
  }

  private def planFor(fields: Seq[StructField]): GenPlan = {
    val names = fields.map(_.name)
    var d = -1
    val slots: Array[Either[Int, Int]] = required.fields.map { f =>
      val h = names.indexOf(f.name)
      if (h >= 0) Right(h) else { d += 1; Left(d) }
    }
    def data(s: StructType) =
      if (s == null) null else StructType(s.fields.filter(f => !names.contains(f.name)))
    GenPlan(fields, slots, data(required), data(table))
  }

  private val defaultPlan = planFor(hiveFields)
  private val plansByNames: Map[Seq[String], GenPlan] =
    (extraGens :+ hiveFields).map(g => g.map(_.name) -> planFor(g)).toMap

  private def planOf(fieldNames: Seq[String]): GenPlan =
    if (fieldNames.isEmpty) defaultPlan
    else plansByNames.getOrElse(fieldNames,
      throw new IllegalStateException(
        s"arrow-ipc hive layout: partition names keys " +
          s"(${fieldNames.mkString(",")}) of no declared generation"))

  private def maskOf(dv: Option[String]): java.util.BitSet =
    dv.fold(null: java.util.BitSet) { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      ArrowDeleteVectors.readBitSet(path.getFileSystem(conf.value), path)
    }

  private def rowReader(file: String, values: Seq[Option[String]],
      dv: Option[String] = None,
      keep: Option[String] = None,
      plan: GenPlan = defaultPlan): PartitionReader[InternalRow] = {
    import plan.{slots, dataRequired}
    val inner = new ArrowIpcPartitionReader(file, dataRequired, conf, limit,
      skip = maskOf(dv), keepOnly = maskOf(keep), table = plan.dataTable,
      rows = rows.orNull)
    val consts = plan.internals(values)
    val types = required.fields.map(_.dataType)
    val out = slots.length + (if (posSlot >= 0) 1 else 0)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val in = inner.get()
        val vals = new Array[Any](out)
        var i = 0
        while (i < out) {
          val s = if (posSlot >= 0 && i > posSlot) i - 1 else i
          vals(i) =
            if (i == posSlot) java.lang.Long.valueOf(inner.lastPos)
            else slots(s) match {
              case Left(d) => in.get(d, types(s))
              case Right(h) => consts(h)
            }
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      override def close(): Unit = inner.close()
    }
  }

  private def columnarReader(file: String, values: Seq[Option[String]],
      dv: Option[String] = None, keep: Option[String] = None,
      plan: GenPlan = defaultPlan)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
    import plan.{slots, dataRequired}
    val inner = new ArrowIpcColumnarReader(file, dataRequired, conf, limit,
      skip = maskOf(dv), keepOnly = maskOf(keep), table = plan.dataTable,
      rows = rows.orNull)
    val consts = plan.internals(values)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): ColumnarBatch = {
        val in = inner.get()
        val vecs: Array[ColumnVector] = slots.zipWithIndex.map {
          case (Left(d), _) => in.column(d)
          case (Right(h), i) =>
            val dt = required.fields(i).dataType
            val v = new ConstantColumnVector(in.numRows(), dt)
            consts(h) match {
              case null => v.setNull()
              case s: UTF8String => v.setUtf8String(s)
              case b: java.lang.Boolean => v.setBoolean(b)
              case b: java.lang.Byte => v.setByte(b)
              case s: java.lang.Short => v.setShort(s)
              case x: java.lang.Integer => v.setInt(x)
              case l: java.lang.Long => v.setLong(l)
              case other => throw new IllegalStateException(
                s"arrow-ipc hive layout: unsupported constant $other")
            }
            v
        }
        new ColumnarBatch(vecs, in.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  /** Partition evolution: a FLAT-generation file on an evolved table
    * carries every column (including the new partition keys) in its
    * data — the plain readers serve it inside this hive scan. */
  private lazy val plainFactory =
    new ArrowIpcReaderFactory(required, conf, limit, posSlot, table, rows)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: ArrowFilePartition => plainFactory.createReader(p)
      case p: ArrowHiveFilePartition =>
        rowReader(p.file, p.values, p.dv, p.keep, planOf(p.fields))
      case k: ArrowKeyedPartition =>
        // a storage-partitioned key group over a hive directory: chain the
        // splicing readers, each file with its own directory values
        new ChainedPartitionReader[((String, Seq[Option[String]]), Option[String]),
            InternalRow](
          k.files.zip(k.hiveValues).zip(k.dvOrNone),
          fv => rowReader(fv._1._1, fv._1._2, fv._2))
    }

  // deletion vectors read columnar through the row-remapping
  // MaskedColumnVector (applied inside ArrowIpcColumnarReader), so the
  // scan stays uniformly columnar whether or not masks exist
  override def supportColumnarReads(partition: InputPartition): Boolean =
    posSlot < 0

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case p: ArrowFilePartition => plainFactory.createColumnarReader(p)
      case p: ArrowHiveFilePartition =>
        columnarReader(p.file, p.values, p.dv, p.keep, planOf(p.fields))
      case k: ArrowKeyedPartition =>
        new ChainedPartitionReader[((String, Seq[Option[String]]), Option[String]),
            org.apache.spark.sql.vectorized.ColumnarBatch](
          k.files.zip(k.hiveValues).zip(k.dvOrNone),
          fv => columnarReader(fv._1._1, fv._1._2, fv._2))
    }
}

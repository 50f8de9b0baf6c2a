package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics for Arrow IPC directories — the Arrow analog
  * of parquet row-group stats, and the substrate for the reference's scan
  * pruning (the reference prunes parquet row groups through KeyCondition
  * over `ParquetBlockInputStream`, DataStreams/ParquetBlockInputStream
  * .cpp:33-38; raw IPC files carry no embedded stats, so this source
  * persists its own at commit time).
  *
  * Write side: each DSv2 task writer folds its rows through an
  * [[ArrowStatsCollector]]; the per-file result rides the task's
  * `WriterCommitMessage` to the driver, which persists all of them as one
  * `_stats.json` next to `_SUCCESS` (appends merge with the existing
  * file). Read side: [[ArrowFileStats.canMatch]] evaluates pushed v1
  * `Filter`s against a file's interval — a file is SKIPPED only when the
  * stats PROVE no row can match, so pruning is advisory (the same
  * contract as parquet row-group skipping). Exact semantics come from
  * the rows: the readers evaluate [[ArrowFileStats.exact]]'s filters
  * themselves, and Spark's post-scan Filter evaluates the rest.
  *
  * Soundness notes, encoded as "invalid ⇒ never prune":
  *  - doubles: a NaN anywhere invalidates that column's interval (NaN
  *    breaks ordering);
  *  - strings: compared as Java Strings on the read side but collected in
  *    UTF-8 byte order on the write side — the two orders agree only on
  *    the BMP, so any supplementary character (or a value > 256 chars,
  *    where we refuse to store payload-sized stats) invalidates the
  *    column;
  *  - a column absent from the stats (unsupported type, or a file written
  *    by the pre-stats function-style writer) never prunes;
  *  - a file absent from `_stats.json` is always kept.
  */
private[graft] case class ColStats(
    kind: String,               // "long" | "double" | "string" | "decimal" | "binary"
    min: Option[String],        // canonical string form; None = interval invalid
    max: Option[String],
    nulls: Long,
    // exact per-file SUM of non-null values, for the EXACT-summable kinds
    // only: integral (wrapping 64-bit two's-complement — associative, so
    // file partials merge to precisely what a full scan computes under
    // Spark's non-ANSI sum) and decimal (BigDecimal, exact). None for
    // double/float (rounding is order-dependent), string/binary, all-null
    // files, or manifests written before this field existed.
    sum: Option[String] = None,
    // optional per-file Bloom filter over the column's non-null values
    // (opt-in via the write option `bloomColumns`) — the point-lookup
    // pruning substrate intervals can't provide; see [[ArrowBloom]]
    bloom: Option[BloomStats] = None)

/** `seq`: the file's COMMIT SEQUENCE for equality-delete masking
  * ([[ArrowEqualityDeletes]]) — a tombstone with sequence T masks
  * matching rows only in files whose seq < T, so a batch's own inserts
  * (stamped with the tombstone's seq) survive it while every older image
  * is masked. 0 = "predates every tombstone" (files written before the
  * table saw equality deletes, and rewrites of already-folded state —
  * both correctly maskable by any later tombstone). */
private[graft] case class FileStats(rows: Long, cols: Map[String, ColStats],
    seq: Long = 0L)

private[graft] object ArrowFileStats {
  val FileName = "_stats.json"

  // ── kind mapping ───────────────────────────────────────────────────────

  /** Stats kind for a Spark type: 1=long-backed, 2=double, 3=string,
    * 4=decimal, 5=binary, 0=no stats (nested — never pruned). Date/
    * timestamp ride their internal long forms (days / µs), so filter
    * evaluation stays integer arithmetic. Decimals canonicalize as plain
    * decimal strings compared NUMERICALLY (the column's scale is fixed,
    * but "9.50" vs "10.00" still sorts wrong as text — the reference
    * treats decimal128 as a first-class comparable, switch_type.h:78-91).
    * Binary canonicalizes as lowercase hex, where LEXICOGRAPHIC hex order
    * equals unsigned byte order (2 chars per byte, prefix-preserving) —
    * the reference compares fixed-size binary the same way
    * (CompositeKey.h:175-252). */
  def kindOf(dt: DataType): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType |
         _: DayTimeIntervalType => 1
    case FloatType | DoubleType => 2
    case StringType => 3
    case _: DecimalType => 4
    case BinaryType => 5
    case _ => 0
  }

  private[sources] def toHex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  private[sources] def fromHex(s: String): Array[Byte] = {
    require(s.length % 2 == 0, s"bad hex stat: $s")
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(i * 2, i * 2 + 2), 16).toByte)
  }

  /** Normalize a v1 Filter's external value to the column's stats kind.
    * None = can't interpret → never prune on it. */
  private[sources] def norm(kind: String, v: Any): Option[Any] = (kind, v) match {
    case (_, null) => None
    case ("long", x) => internalLong(x)
    case ("double", x: java.lang.Number) =>
      val d = x.doubleValue()
      if (d.isNaN) None else Some(d)
    case ("string", x: String) => Some(x)
    case ("decimal", x: java.math.BigDecimal) => Some(x)
    case ("decimal", x: scala.math.BigDecimal) => Some(x.bigDecimal)
    case ("binary", x: Array[Byte]) => Some(toHex(x)) // canonical hex form
    case _ => None
  }

  /** The first day (and µs) from which a `java.sql.Date`/`Timestamp`
    * literal converts back to the plan's value: Spark makes those
    * (java8API off) by rebasing to the hybrid Julian calendar, which maps
    * the proleptic days 1582-10-05..14 onto 10-15..24, so no inverse
    * recovers a literal before the switch. 1582-10-25 leaves a margin for
    * time-zone offsets. */
  private val HybridExactDays = java.time.LocalDate.of(1582, 10, 25).toEpochDay
  private val HybridExactMicros = HybridExactDays * 86400L * 1000000L

  /** The Catalyst-internal long of a long-backed external value
    * (integral, boolean, date, timestamp, day-time interval), through
    * Spark's own inverses of the conversions that made it — the one
    * conversion stats pruning and exact evaluation share. None = not
    * such a value, or a `java.sql` date or timestamp before
    * [[HybridExactDays]]: that filter neither prunes nor is evaluated by
    * the readers, and Spark's own Filter applies it. */
  private[sources] def internalLong(v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case x: Byte => Some(x.toLong)
      case x: Short => Some(x.toLong)
      case x: Int => Some(x.toLong)
      case x: Long => Some(x)
      case x: Boolean => Some(if (x) 1L else 0L)
      case d: java.sql.Date =>
        Some(DateTimeUtils.fromJavaDate(d).toLong).filter(_ >= HybridExactDays)
      case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toLong)
      case t: java.sql.Timestamp =>
        Some(DateTimeUtils.fromJavaTimestamp(t)).filter(_ >= HybridExactMicros)
      case t: java.time.Instant => Some(DateTimeUtils.instantToMicros(t))
      case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: naive µs at UTC
        Some(DateTimeUtils.localDateTimeToMicros(t))
      case d: java.time.Duration =>
        Some(Math.addExact(Math.multiplyExact(d.getSeconds, 1000000L),
          (d.getNano / 1000).toLong))
      case _ => None
    }
  }

  private def cmp(kind: String, a: String, b: Any): Int = kind match {
    case "long" => java.lang.Long.compare(a.toLong, b.asInstanceOf[Long])
    case "double" => java.lang.Double.compare(a.toDouble, b.asInstanceOf[Double])
    case "string" => a.compareTo(b.asInstanceOf[String])
    case "decimal" =>
      new java.math.BigDecimal(a).compareTo(b.asInstanceOf[java.math.BigDecimal])
    case "binary" => a.compareTo(b.asInstanceOf[String]) // both canonical hex
  }

  /** Canonical-vs-canonical order for one kind — the comparison the
    * manifest-aggregate extremes use (numeric for decimal; text order is
    * correct for string AND hex-binary). */
  private[sources] def ltCanonical(kind: String, a: String, b: String): Boolean =
    kind match {
      case "long" => a.toLong < b.toLong
      case "double" => a.toDouble < b.toDouble
      case "decimal" => new java.math.BigDecimal(a)
        .compareTo(new java.math.BigDecimal(b)) < 0
      case _ => a.compareTo(b) < 0
    }

  // ── pruning ────────────────────────────────────────────────────────────

  /** Could ANY row of a file with these stats satisfy `f`? True on any
    * doubt (unknown column, invalid interval, unsupported filter shape). */
  def canMatch(f: Filter, stats: FileStats): Boolean = f match {
    case And(l, r) => canMatch(l, stats) && canMatch(r, stats)
    case Or(l, r) => canMatch(l, stats) || canMatch(r, stats)
    case IsNull(a) => stats.cols.get(a).forall(_.nulls > 0)
    case IsNotNull(a) =>
      stats.cols.get(a).forall(c => c.nulls < stats.rows || stats.rows == 0)
    case EqualTo(a, v) => pointMatch(a, v, stats)
    case EqualNullSafe(a, null) => canMatch(IsNull(a), stats)
    case EqualNullSafe(a, v) => canMatch(EqualTo(a, v), stats)
    case GreaterThan(a, v) => interval(a, stats) { (c, _, mx) =>
      norm(c.kind, v).forall(x => cmp(c.kind, mx, x) > 0)
    }
    case GreaterThanOrEqual(a, v) => interval(a, stats) { (c, _, mx) =>
      norm(c.kind, v).forall(x => cmp(c.kind, mx, x) >= 0)
    }
    case LessThan(a, v) => interval(a, stats) { (c, mn, _) =>
      norm(c.kind, v).forall(x => cmp(c.kind, mn, x) < 0)
    }
    case LessThanOrEqual(a, v) => interval(a, stats) { (c, mn, _) =>
      norm(c.kind, v).forall(x => cmp(c.kind, mn, x) <= 0)
    }
    case In(a, vs) => vs.exists(v => pointMatch(a, v, stats))
    case StringStartsWith(a, p) => interval(a, stats) { (c, mn, mx) =>
      c.kind != "string" ||
        (mx.compareTo(p) >= 0 && mn.take(p.length).compareTo(p) <= 0)
    }
    case Not(g) => !mustMatchAll(g, stats) // all-rows-match g ⇒ none match ¬g
    case _: AlwaysFalse => false
    case _ => true
  }

  private def interval(a: String, stats: FileStats)
      (ok: (ColStats, String, String) => Boolean): Boolean =
    stats.cols.get(a) match {
      case Some(c) if c.min.isDefined && c.max.isDefined =>
        // an all-null column has no interval rows to match non-null
        // predicates — but min/max are only stored when a value existed
        ok(c, c.min.get, c.max.get)
      case Some(c) if c.nulls >= stats.rows && stats.rows > 0 => false
      case _ => true
    }

  /** Could any row equal `v`? Interval AND Bloom tests, each independently
    * advisory (either may be absent/invalid — only a PRESENT, VALID
    * structure refutes). The bloom is consulted even when the interval is
    * invalid: a >256-byte string column has no interval but its bloom —
    * which has no payload-size limit — still refutes point lookups. */
  private def pointMatch(a: String, v: Any, stats: FileStats): Boolean =
    stats.cols.get(a) match {
      case Some(c) =>
        if (c.nulls >= stats.rows && stats.rows > 0) false // all-null file
        else {
          val iv = for { mn <- c.min; mx <- c.max; x <- norm(c.kind, v) }
            yield cmp(c.kind, mn, x) <= 0 && cmp(c.kind, mx, x) >= 0
          val bl = for {
            b <- c.bloom
            x <- norm(c.kind, v)
            key <- ArrowBloom.keyOf(c.kind, x)
          } yield ArrowBloom.mightContain(b, key)
          iv.getOrElse(true) && bl.getOrElse(true)
        }
      case None => true
    }

  /** Does EVERY row of a file with these stats satisfy `f`? False on any
    * doubt — the dual of [[canMatch]], and the proof obligation behind
    * METADATA-LEVEL DELETE (a file may be dropped whole only when this
    * holds; a file may be kept untouched only when canMatch fails). The
    * same trick Iceberg's metadata-delete plays with manifest partition
    * summaries: strict bounds ⇒ whole-file action, anything else refuses.
    *
    * Soundness leans on the manifest's exact-or-invalid discipline: a
    * stored interval is EXACT (string extremes whole, never truncated),
    * so `nulls == 0 && min == max == v` really does prove every row
    * equals v, and `min > v` really does prove every row exceeds v.
    * NULL rows fail every non-IsNull predicate, so value predicates also
    * require `nulls == 0`. */
  def mustMatchAll(f: Filter, stats: FileStats): Boolean =
    if (stats.rows == 0) true // vacuous: nothing to mis-delete
    else f match {
      case And(l, r) => mustMatchAll(l, stats) && mustMatchAll(r, stats)
      case Or(l, r) => mustMatchAll(l, stats) || mustMatchAll(r, stats)
      case Not(g) => !canMatch(g, stats) // canMatch=false is a no-row PROOF
      case IsNull(a) => stats.cols.get(a).exists(_.nulls >= stats.rows)
      case IsNotNull(a) => stats.cols.get(a).exists(_.nulls == 0)
      case EqualTo(a, v) => allEqual(a, v, stats)
      case EqualNullSafe(a, null) => mustMatchAll(IsNull(a), stats)
      case EqualNullSafe(a, v) => allEqual(a, v, stats)
      case In(a, vs) => vs.exists(v => allEqual(a, v, stats))
      case GreaterThan(a, v) => bound(a, v, stats)((c, mn, _, x) =>
        cmp(c.kind, mn, x) > 0)
      case GreaterThanOrEqual(a, v) => bound(a, v, stats)((c, mn, _, x) =>
        cmp(c.kind, mn, x) >= 0)
      case LessThan(a, v) => bound(a, v, stats)((c, _, mx, x) =>
        cmp(c.kind, mx, x) < 0)
      case LessThanOrEqual(a, v) => bound(a, v, stats)((c, _, mx, x) =>
        cmp(c.kind, mx, x) <= 0)
      case StringStartsWith(a, p) => bound(a, p, stats)((c, mn, mx, _) =>
        // both extremes carry the prefix ⇒ every value between does too
        // (their first p.length chars are pinched between two copies of p)
        c.kind == "string" && mn.startsWith(p) && mx.startsWith(p))
      case _: AlwaysTrue => true
      case _ => false
    }

  private def allEqual(a: String, v: Any, stats: FileStats): Boolean =
    bound(a, v, stats)((c, mn, mx, x) =>
      mn == mx && cmp(c.kind, mn, x) == 0)

  /** Valid interval + zero nulls + interpretable value, or no proof. */
  private def bound(a: String, v: Any, stats: FileStats)
      (ok: (ColStats, String, String, Any) => Boolean): Boolean =
    stats.cols.get(a) match {
      case Some(c) if c.nulls == 0 && c.min.isDefined && c.max.isDefined =>
        norm(c.kind, v).exists(x => ok(c, c.min.get, c.max.get, x))
      case _ => false
    }

  /** Filters worth carrying to the scan (everything [[canMatch]] can act
    * on — others would be dead weight in the explain output). */
  def prunable(f: Filter): Boolean = f match {
    case And(l, r) => prunable(l) || prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case Not(g) => prunable(g)
    case _: IsNull | _: IsNotNull | _: EqualTo | _: EqualNullSafe |
         _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: In | _: StringStartsWith => true
    case _ => false
  }

  // ── exact evaluation ───────────────────────────────────────────────────

  /** A compiled exact filter: row `i` of one batch's filter columns (a
    * `ColumnVector` per field of the schema it was compiled against) →
    * 1 TRUE, 0 FALSE, -1 NULL — SQL's three-valued logic, where only
    * TRUE keeps the row. Literals are held in Catalyst-internal form,
    * converted once on the driver. */
  type RowTest = (Array[ColumnVector], Int) => Int

  /** The filters the arrow-ipc readers evaluate EXACTLY, compiled against
    * `schema`: `EqualTo`, `EqualNullSafe`, `<`, `<=`, `>`, `>=`, `In`,
    * `IsNull`, `IsNotNull` and `And`/`Or`/`Not` of these, on top-level
    * boolean, integral, date, timestamp/timestamp_ntz and string columns
    * (UTF-8 binary order), with literals of either
    * `spark.sql.datetime.java8API.enabled` class. None = not in the set
    * (float, double, decimal, binary or nested columns, a column `schema`
    * lacks, a literal of another class, a `java.sql` date or timestamp
    * before the 1582 calendar switch): the filter stays residual and
    * Spark keeps its post-scan Filter for it. Literals convert through
    * [[internalLong]], the conversion stats pruning uses. */
  def exact(f: Filter, schema: StructType): Option[RowTest] = {
    def field(a: String): Option[(Int, DataType)] =
      Some(schema.fieldNames.indexOf(a)).filter(_ >= 0)
        .map(i => (i, schema.fields(i).dataType))
    /** A value of `dt`, as a long (integral, boolean, date, timestamp)
      * or as UTF-8 bytes (string); None = not a value of that type. */
    def lit(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (BooleanType, _: Boolean) |
           (ByteType | ShortType | IntegerType | LongType,
             _: Byte | _: Short | _: Int | _: Long) |
           (DateType, _: java.sql.Date | _: java.time.LocalDate) |
           (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) |
           (TimestampNTZType, _: java.time.LocalDateTime) => internalLong(v)
      case (StringType, s: String) => Some(UTF8String.fromString(s))
      case _ => None
    }
    /** Row `i`'s non-null value of column `c` in `lit`'s form. */
    def value(dt: DataType): Option[(ColumnVector, Int) => Any] = dt match {
      case BooleanType => Some((v, i) => if (v.getBoolean(i)) 1L else 0L)
      case ByteType => Some((v, i) => v.getByte(i).toLong)
      case ShortType => Some((v, i) => v.getShort(i).toLong)
      case IntegerType | DateType => Some((v, i) => v.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType => Some((v, i) => v.getLong(i))
      case StringType => Some((v, i) => v.getUTF8String(i))
      case _ => None
    }
    // a function value, not a method: the compiled tests travel to the
    // executors and must capture nothing but serializable values
    val order: (Any, Any) => Int = {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (s: UTF8String, t: UTF8String) => s.binaryCompare(t)
    }
    /** Three-valued `column op literal`; NULL on a null row. */
    def compare(a: String, x: Any)(op: Int => Boolean): Option[RowTest] =
      for {
        (c, dt) <- field(a)
        get <- value(dt)
        l <- lit(dt, x)
      } yield (v: Array[ColumnVector], i: Int) =>
        if (v(c).isNullAt(i)) -1 else if (op(order(get(v(c), i), l))) 1 else 0
    f match {
      case And(l, r) => for (p <- exact(l, schema); q <- exact(r, schema))
        yield (v: Array[ColumnVector], i: Int) => {
          val x = p(v, i)
          if (x == 0) 0 else { val y = q(v, i); if (y == 0) 0 else math.min(x, y) }
        }
      case Or(l, r) => for (p <- exact(l, schema); q <- exact(r, schema))
        yield (v: Array[ColumnVector], i: Int) => {
          val x = p(v, i)
          if (x == 1) 1 else { val y = q(v, i); if (y == 1) 1 else math.min(x, y) }
        }
      case Not(g) => exact(g, schema).map(p =>
        (v: Array[ColumnVector], i: Int) => { val x = p(v, i); if (x < 0) x else 1 - x })
      case IsNull(a) => field(a).filter(t => value(t._2).isDefined).map { case (c, _) =>
        (v: Array[ColumnVector], i: Int) => if (v(c).isNullAt(i)) 1 else 0 }
      case IsNotNull(a) => exact(IsNull(a), schema).map(p =>
        (v: Array[ColumnVector], i: Int) => 1 - p(v, i))
      case EqualNullSafe(a, null) => exact(IsNull(a), schema)
      case EqualNullSafe(a, x) => compare(a, x)(_ == 0).map(p =>
        (v: Array[ColumnVector], i: Int) => math.max(p(v, i), 0))
      case EqualTo(a, x) => compare(a, x)(_ == 0)
      case GreaterThan(a, x) => compare(a, x)(_ > 0)
      case GreaterThanOrEqual(a, x) => compare(a, x)(_ >= 0)
      case LessThan(a, x) => compare(a, x)(_ < 0)
      case LessThanOrEqual(a, x) => compare(a, x)(_ <= 0)
      case In(a, xs) if xs.nonEmpty =>
        // a NULL in the list makes a miss NULL instead of FALSE
        val hasNull = xs.contains(null)
        for {
          (c, dt) <- field(a)
          get <- value(dt)
          ls = xs.filter(_ != null).map(lit(dt, _))
          if ls.forall(_.isDefined)
        } yield {
          val set = ls.flatten.toSet
          (v: Array[ColumnVector], i: Int) =>
            if (v(c).isNullAt(i)) -1
            else if (set.contains(get(v(c), i))) 1
            else if (hasNull) -1 else 0
        }
      case _ => None
    }
  }

  // ── persistence (`_stats.json`) ────────────────────────────────────────

  /** Shared JSON string escaper (stats manifest, compaction intent,
    * streaming offsets) — one correctness envelope, incl. control chars. */
  private[graft] def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** Serialize file→stats as JSON. min/max ride as STRINGS regardless of
    * kind — JSON numbers would lose longs past 2^53 and double
    * round-trips; the `kind` field tells the reader how to compare. */
  def toJson(files: Map[String, FileStats]): String = {
    val sb = new StringBuilder("{\"files\":{")
    var firstF = true
    files.toSeq.sortBy(_._1).foreach { case (name, fsT) =>
      if (!firstF) sb.append(','); firstF = false
      sb.append('"').append(esc(name)).append("\":{\"rows\":")
        .append(fsT.rows)
      if (fsT.seq != 0L) sb.append(",\"seq\":").append(fsT.seq)
      sb.append(",\"cols\":{")
      var firstC = true
      fsT.cols.toSeq.sortBy(_._1).foreach { case (col, c) =>
        if (!firstC) sb.append(','); firstC = false
        sb.append('"').append(esc(col)).append("\":{\"kind\":\"").append(c.kind)
          .append("\",\"nulls\":").append(c.nulls)
        c.min.foreach(m => sb.append(",\"min\":\"").append(esc(m)).append('"'))
        c.max.foreach(m => sb.append(",\"max\":\"").append(esc(m)).append('"'))
        c.sum.foreach(m => sb.append(",\"sum\":\"").append(esc(m)).append('"'))
        c.bloom.foreach(b => sb.append(",\"bloom\":{\"k\":").append(b.k)
          .append(",\"b64\":\"").append(ArrowBloom.toB64(b)).append("\"}"))
        sb.append('}')
      }
      sb.append("}}")
    }
    sb.append("}}").toString
  }

  def parse(json: String): Map[String, FileStats] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(json)
    (root \ "files") match {
      case JObject(files) => files.map { case (name, jf) =>
        val rows = (jf \ "rows") match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case _ => 0L
        }
        val cols = (jf \ "cols") match {
          case JObject(cs) => cs.map { case (col, jc) =>
            def str(k: String): Option[String] = (jc \ k) match {
              case JString(s) => Some(s)
              case _ => None
            }
            val nulls = (jc \ "nulls") match {
              case JInt(n) => n.toLong
              case JLong(n) => n
              case _ => 0L
            }
            val bloom = (jc \ "bloom") match {
              case JObject(_) =>
                val k = (jc \ "bloom" \ "k") match {
                  case JInt(n) => n.toInt
                  case JLong(n) => n.toInt
                  case _ => -1
                }
                (jc \ "bloom" \ "b64") match {
                  case JString(s) => ArrowBloom.fromB64(k, s)
                  case _ => None
                }
              case _ => None
            }
            col -> ColStats(str("kind").getOrElse("long"), str("min"),
              str("max"), nulls, str("sum"), bloom)
          }.toMap
          case _ => Map.empty[String, ColStats]
        }
        val seq = (jf \ "seq") match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case _ => 0L
        }
        name -> FileStats(rows, cols, seq)
      }.toMap
      case _ => Map.empty
    }
  }

  /** Canonical stat string → the value's Catalyst-internal form for
    * `dataType` (strings stay String here — callers box to UTF8String at
    * the row boundary). Shared by the manifest-only aggregate pushdown and
    * the key-grouped partition keys. */
  private[sources] def internalFromCanonical(dt: DataType, s: String): Any = dt match {
    case ByteType => s.toLong.toByte
    case ShortType => s.toLong.toShort
    case IntegerType | DateType => s.toLong.toInt
    case BooleanType => s.toLong != 0L
    case FloatType => s.toDouble.toFloat
    case DoubleType => s.toDouble
    case StringType => s // UTF8String in the reader
    case d: DecimalType => Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    case BinaryType => fromHex(s)
    case _ => s.toLong // Long / Timestamp(NTZ) / DayTimeInterval internal form
  }

  /** Is this file PROVABLY single-valued on `col`? `None` = no proof (no
    * stats, invalid interval, or genuinely multi-valued). `Some(None)` =
    * every row is NULL; `Some(Some(v))` = every row equals canonical `v`.
    * The proof is sound because stats are exact-or-invalid: string
    * extremes are stored whole (never truncated — >256 bytes or
    * supplementary planes invalidate instead), numeric extremes are exact,
    * so `nulls == 0 && min == max` admits exactly one value. */
  private[sources] def singleValue(st: FileStats, col: String): Option[Option[String]] =
    st.cols.get(col).flatMap { c =>
      if (c.nulls >= st.rows && st.rows > 0) Some(None)
      else (c.min, c.max) match {
        case (Some(mn), Some(mx)) if c.nulls == 0 && mn == mx => Some(Some(mn))
        case _ => None
      }
    }

  /** Drain a small metadata file to a UTF-8 string (manifest, intent). */
  private[graft] def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Base manifest only (`_stats.json`) — the merge target for small
    * commits. Most callers want [[read]], which also folds in shards. */
  def readBase(fs: FileSystem, dir: Path): Map[String, FileStats] = {
    val p = new Path(dir, FileName)
    if (!fs.exists(p)) Map.empty
    else parse(readFully(fs, p))
  }

  /** FULL manifest: base + every shard. File names are unique across
    * commits (they embed the commit's queryId), so the union is a plain
    * map merge. */
  def read(fs: FileSystem, dir: Path): Map[String, FileStats] =
    readBase(fs, dir) ++ shardIds(fs, dir).flatMap(readShard(fs, dir, _))

  def write(fs: FileSystem, dir: Path, files: Map[String, FileStats]): Unit =
    ArrowOcc.writeAtomic(fs, new Path(dir, FileName),
      toJson(files).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ── sharded manifests (`_stats-<queryId>.json` + `_stats_index.json`) ──
  //
  // At 100 TB a directory holds ~10^6 files; a monolithic manifest is a
  // driver-side bottleneck at every planning. Large commits instead write
  // their OWN shard plus one envelope row (the commit-wide column
  // intervals, same JSON schema keyed by queryId) in the index. Planning
  // reads the small index; a shard whose envelope PROVES no row matches
  // the pushed filters prunes every file of that commit WITHOUT loading
  // its per-file stats — membership is derivable from the file name,
  // which ends with `-<queryId>.arrows`. The same trick Iceberg plays
  // with manifest-list partition summaries, re-expressed for this
  // source's flat layout. Shard loads that do happen stay O(matching
  // commits); for time-ordered appends (the streaming-ingest shape) a
  // time filter touches a handful of shards out of thousands.

  val IndexFile = "_stats_index.json"
  def shardFile(queryId: String) = s"_stats-$queryId.json"

  /** queryIds of all shards present in the directory. */
  /** Re-key column stats across every stats structure (base manifest +
    * shards; shard envelopes recompute on write) — `ALTER COLUMN
    * RENAME`'s metadata migration, run under the table's commit lock so
    * pruning stays keyed to the current name with no gap. Cost is
    * O(manifest) driver work for a rare DDL statement. */
  def renameColumns(fs: FileSystem, dir: Path,
      renames: Map[String, String]): Unit = {
    def rekey(m: Map[String, FileStats]): Map[String, FileStats] =
      m.map { case (file, st) => file -> st.copy(cols =
        st.cols.map { case (c, cs) => renames.getOrElse(c, c) -> cs }) }
    val base = readBase(fs, dir)
    if (base.exists(_._2.cols.keys.exists(renames.contains)))
      write(fs, dir, rekey(base))
    shardIds(fs, dir).foreach { qid =>
      val shard = readShard(fs, dir, qid)
      if (shard.exists(_._2.cols.keys.exists(renames.contains)))
        writeShard(fs, dir, qid, rekey(shard))
    }
  }

  def shardIds(fs: FileSystem, dir: Path): Seq[String] =
    Option(fs.globStatus(new Path(dir, "_stats-*.json")))
      .getOrElse(Array.empty).toSeq
      .map(_.getPath.getName.stripPrefix("_stats-").stripSuffix(".json"))

  def readShard(fs: FileSystem, dir: Path, queryId: String): Map[String, FileStats] = {
    val p = new Path(dir, shardFile(queryId))
    if (!fs.exists(p)) Map.empty else parse(readFully(fs, p))
  }

  /** Envelope index: queryId → commit-wide FileStats (rows summed, column
    * intervals merged with the same exact-or-invalid discipline the
    * per-file stats carry). */
  def readIndex(fs: FileSystem, dir: Path): Map[String, FileStats] = {
    val p = new Path(dir, IndexFile)
    if (!fs.exists(p)) Map.empty else parse(readFully(fs, p))
  }

  /** Merge per-file stats into one commit-wide envelope. A column's
    * interval merges only from files that HAVE one; a file with non-null
    * rows but no interval (invalid) invalidates the envelope — the shard
    * can then never be skipped on that column. Exact sums merge the same
    * way (wrapping-long / BigDecimal, the per-file partials' own algebra),
    * so a GLOBAL aggregate can answer from envelopes alone — a file with
    * non-null rows but no recorded sum drops the envelope sum instead of
    * mis-summing. */
  def envelope(shard: Map[String, FileStats]): FileStats = {
    val rows = shard.valuesIterator.map(_.rows).sum
    val colNames = shard.valuesIterator.flatMap(_.cols.keysIterator).toSet
    val cols = colNames.iterator.map { name =>
      val per = shard.valuesIterator.map(st => (st, st.cols.get(name))).toSeq
      val kind = per.collectFirst { case (_, Some(c)) => c.kind }.getOrElse("long")
      val nulls = per.iterator.map(_._2.fold(0L)(_.nulls)).sum
      // a file where the column is absent counts as unknown → invalid
      // envelope unless the file is empty
      var invalid = false
      var sumInvalid = false
      val intervals = per.flatMap {
        case (st, Some(c)) => (c.min, c.max) match {
          case (Some(mn), Some(mx)) => Some((mn, mx))
          case _ if c.nulls >= st.rows => None // all-null: no interval rows
          case _ => invalid = true; None       // invalid interval
        }
        case (st, None) => if (st.rows > 0) invalid = true; None
      }
      val sums = per.flatMap {
        case (st, Some(c)) if c.nulls < st.rows => c.sum match {
          case s @ Some(_) => s
          case None => sumInvalid = true; None // non-null rows, no partial
        }
        case _ => None // all-null or empty file: contributes nothing
      }
      val mm: Option[(String, String)] =
        if (invalid || intervals.isEmpty) None
        else Some((
          intervals.map(_._1).reduce((a, b) => if (ltCanonical(kind, a, b)) a else b),
          intervals.map(_._2).reduce((a, b) => if (ltCanonical(kind, a, b)) b else a)))
      val sum: Option[String] =
        if (sumInvalid || sums.isEmpty) None
        else kind match {
          case "long" => Some(sums.map(_.toLong).sum.toString) // wrapping
          case "decimal" => Some(sums.map(new java.math.BigDecimal(_))
            .reduce(_.add(_)).toPlainString)
          case _ => None
        }
      // envelope bloom: only when EVERY file with non-null rows for the
      // column carries one (else a missing file's values could slip the
      // union → wrong commit-level skip); geometry mismatches make
      // ArrowBloom.merge refuse
      var bloomInvalid = false
      val blooms = per.flatMap {
        case (st, Some(c)) if c.nulls < st.rows && st.rows > 0 => c.bloom match {
          case b @ Some(_) => b
          case None => bloomInvalid = true; None
        }
        case _ => None // all-null or empty file contributes no values
      }
      val bloom: Option[BloomStats] =
        if (bloomInvalid || blooms.isEmpty) None
        else ArrowBloom.merge(blooms)
      name -> ColStats(kind, mm.map(_._1), mm.map(_._2), nulls, sum, bloom)
    }.toMap
    FileStats(rows, cols)
  }

  /** Persist one commit's stats as a shard + its envelope row in the
    * index. The index read-modify-write is driver-side at commit and is
    * last-writer-wins — CONCURRENT COMMITS to one directory can drop each
    * other's envelope row (the same single-writer contract
    * [[ArrowMaintenance]] states for compaction applies to writers too).
    * A dropped row degrades SAFELY: the shard file itself survives, so
    * the full [[read]] still sees its stats; only envelope-level skipping
    * and the envelope-assisted aggregate push lose that commit (they
    * refuse, never mis-answer, because shard membership is re-derived
    * from live `_stats-*.json` files, not the index alone). */
  def writeShard(fs: FileSystem, dir: Path, queryId: String,
      shard: Map[String, FileStats]): Unit = {
    ArrowOcc.writeAtomic(fs, new Path(dir, shardFile(queryId)),
      toJson(shard).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val idx = readIndex(fs, dir) + (queryId -> envelope(shard))
    ArrowOcc.writeAtomic(fs, new Path(dir, IndexFile),
      toJson(idx).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Stats for a SPECIFIC file set: base manifest + only the shards one
    * of the named files belongs to (name suffix match). The streaming
    * source's per-poll read — a poll over a thousand-commit directory
    * parses the couple of shards its fresh files came from, not the
    * whole history. */
  def readForFiles(fs: FileSystem, dir: Path,
      names: Iterable[String]): Map[String, FileStats] = {
    val ids = shardIds(fs, dir)
      .filter(q => names.exists(_.endsWith(s"-$q.arrows")))
    readBase(fs, dir) ++ ids.flatMap(readShard(fs, dir, _))
  }

  /** Drop a SPECIFIC set of shards and their index rows (compaction
    * consolidates exactly the shards it snapshot-read into the base
    * manifest — a shard committed AFTER the snapshot keeps its FILE, so
    * its per-file stats survive). The index survives with its remaining
    * rows; it is deleted only when empty. NOTE the index RMW here shares
    * [[writeShard]]'s last-writer-wins limitation: maintenance assumes a
    * single writer (the [[ArrowMaintenance]] contract) — a commit racing
    * this call keeps its shard file but may lose or resurrect an index
    * row, which every index consumer tolerates by re-deriving membership
    * from live shard files. */
  def deleteShards(fs: FileSystem, dir: Path, ids: Seq[String]): Unit = {
    ids.foreach(q => fs.delete(new Path(dir, shardFile(q)), false))
    val remaining = readIndex(fs, dir) -- ids
    if (remaining.isEmpty) fs.delete(new Path(dir, IndexFile), false)
    else ArrowOcc.writeAtomic(fs, new Path(dir, IndexFile),
      toJson(remaining).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Streaming min/max/null-count collector a task writer folds its rows
  * through; O(columns) per row, no allocation on the fast path (string
  * candidates are cloned only on a new extreme — `InternalRow` buffers are
  * reused by Spark, so holding an un-cloned `UTF8String` would read
  * whatever the NEXT row leaves there). */
private[graft] class ArrowStatsCollector(schema: StructType,
    bloomCols: Set[String] = Set.empty) {
  private val n = schema.length
  private val kinds = schema.fields.map(f => ArrowFileStats.kindOf(f.dataType))
  private val dts = schema.fields.map(_.dataType)
  private val valid = Array.fill(n)(true)
  private val nulls = new Array[Long](n)
  private val seen = new Array[Boolean](n)
  private val lmin = new Array[Long](n); private val lmax = new Array[Long](n)
  private val dmin = new Array[Double](n); private val dmax = new Array[Double](n)
  private val smin = new Array[UTF8String](n); private val smax = new Array[UTF8String](n)
  private val gmin = new Array[java.math.BigDecimal](n)
  private val gmax = new Array[java.math.BigDecimal](n)
  private val bmin = new Array[Array[Byte]](n); private val bmax = new Array[Array[Byte]](n)
  // exact sums: wrapping 64-bit for integral columns (associative — file
  // partials merge to the full-scan answer), BigDecimal for decimal.
  // Only genuinely SUMMABLE types participate (sum over a date/timestamp/
  // boolean/duration is not a pushable Spark aggregate).
  private val summable: Array[Boolean] = schema.fields.map(_.dataType match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
    case _ => false
  })
  private val lsum = new Array[Long](n)
  private val gsum: Array[java.math.BigDecimal] =
    Array.fill(n)(java.math.BigDecimal.ZERO)
  private var rows = 0L
  // opt-in per-column Bloom builders (point-lookup pruning). Doubles are
  // refused at construction (see ArrowBloom's -0.0 hazard). Bloom
  // recording is INDEPENDENT of interval validity — a >256-byte string
  // invalidates the interval but its bloom still covers every value, so
  // the two refutation channels degrade separately.
  private val bloomB: Array[ArrowBloom.Builder] = schema.fields.map { f =>
    val k = ArrowFileStats.kindOf(f.dataType)
    if (bloomCols.contains(f.name) && k != 0 && k != 2) new ArrowBloom.Builder
    else null
  }

  private def updLong(c: Int, v: Long): Unit = {
    if (summable(c)) lsum(c) += v // wrapping, like Spark's non-ANSI sum
    if (!seen(c)) { lmin(c) = v; lmax(c) = v; seen(c) = true }
    else { if (v < lmin(c)) lmin(c) = v; if (v > lmax(c)) lmax(c) = v }
  }

  private def updDouble(c: Int, v: Double): Unit =
    if (v.isNaN) valid(c) = false
    else if (!seen(c)) { dmin(c) = v; dmax(c) = v; seen(c) = true }
    else { if (v < dmin(c)) dmin(c) = v; if (v > dmax(c)) dmax(c) = v }

  private def updDecimal(c: Int, v: java.math.BigDecimal): Unit = {
    gsum(c) = gsum(c).add(v) // exact
    if (!seen(c)) { gmin(c) = v; gmax(c) = v; seen(c) = true }
    else {
      if (v.compareTo(gmin(c)) < 0) gmin(c) = v
      if (v.compareTo(gmax(c)) > 0) gmax(c) = v
    }
  }

  /** Unsigned lexicographic byte order — the order hex canonicals sort in.
    * Same 256-byte payload-size refusal as strings. `v` arrives owned
    * (getBinary copies). */
  private def updBinary(c: Int, v: Array[Byte]): Unit = {
    def lt(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    if (v.length > 256) valid(c) = false
    else if (!seen(c)) { bmin(c) = v; bmax(c) = v; seen(c) = true }
    else {
      if (lt(v, bmin(c))) bmin(c) = v
      if (lt(bmax(c), v)) bmax(c) = v
    }
  }

  private def updString(c: Int, v: UTF8String): Unit =
    if (v.numBytes > 256) valid(c) = false
    else if (!seen(c)) {
      smin(c) = v.clone(); smax(c) = v.clone(); seen(c) = true
    } else {
      if (v.compareTo(smin(c)) < 0) smin(c) = v.clone()
      if (v.compareTo(smax(c)) > 0) smax(c) = v.clone()
    }

  def update(row: InternalRow): Unit = {
    rows += 1
    var c = 0
    while (c < n) {
      if (kinds(c) != 0) {
        if (row.isNullAt(c)) nulls(c) += 1
        else if (valid(c) || bloomB(c) != null) kinds(c) match {
          case 1 =>
            val v = dts(c) match {
              case ByteType => row.getByte(c).toLong
              case ShortType => row.getShort(c).toLong
              case IntegerType | DateType => row.getInt(c).toLong
              case BooleanType => if (row.getBoolean(c)) 1L else 0L
              case _ => row.getLong(c)
            }
            if (bloomB(c) != null) bloomB(c).add(v.toString)
            if (valid(c)) updLong(c, v)
          case 2 =>
            if (valid(c)) updDouble(c, dts(c) match {
              case FloatType => row.getFloat(c).toDouble
              case _ => row.getDouble(c)
            })
          case 3 =>
            val s = row.getUTF8String(c)
            if (bloomB(c) != null) bloomB(c).add(s.toString)
            if (valid(c)) updString(c, s)
          case 4 =>
            val d = dts(c).asInstanceOf[DecimalType]
            val bd = row.getDecimal(c, d.precision, d.scale).toJavaBigDecimal
            if (bloomB(c) != null)
              bloomB(c).add(bd.stripTrailingZeros.toPlainString)
            if (valid(c)) updDecimal(c, bd)
          case 5 =>
            val b = row.getBinary(c)
            if (bloomB(c) != null) bloomB(c).add(ArrowFileStats.toHex(b))
            if (valid(c)) updBinary(c, b)
          case _ => ()
        }
      }
      c += 1
    }
  }

  def result(): FileStats = {
    val cols = (0 until n).flatMap { c =>
      if (kinds(c) == 0) None
      else {
        val kind = kinds(c) match {
          case 1 => "long"; case 2 => "double"; case 3 => "string"
          case 4 => "decimal"; case _ => "binary"
        }
        val mm: Option[(String, String)] =
          if (!valid(c) || !seen(c)) None
          else kinds(c) match {
            case 1 => Some((lmin(c).toString, lmax(c).toString))
            case 2 => Some((dmin(c).toString, dmax(c).toString))
            case 4 =>
              // toPlainString: exact, scientific-notation-free, reparses
              // to the identical BigDecimal — internal rows carry the
              // column's fixed scale so a single-valued file's min==max
              // string equality holds
              Some((gmin(c).toPlainString, gmax(c).toPlainString))
            case 5 => Some((ArrowFileStats.toHex(bmin(c)),
              ArrowFileStats.toHex(bmax(c))))
            case _ =>
              val (a, b) = (smin(c).toString, smax(c).toString)
              // UTF-8 byte order == String order only on the BMP; refuse
              // stats when a supplementary character makes them diverge
              if (a.codePoints.anyMatch(_ > 0xFFFF) ||
                  b.codePoints.anyMatch(_ > 0xFFFF)) None
              else Some((a, b))
          }
        val sum: Option[String] =
          if (!summable(c) || !valid(c) || !seen(c)) None
          else kinds(c) match {
            case 1 => Some(lsum(c).toString)
            case 4 => Some(gsum(c).toPlainString)
            case _ => None
          }
        val bloom: Option[BloomStats] =
          Option(bloomB(c)).flatMap(_.result())
        Some(schema.fields(c).name ->
          ColStats(kind, mm.map(_._1), mm.map(_._2), nulls(c), sum, bloom))
      }
    }.toMap
    FileStats(rows, cols)
  }
}

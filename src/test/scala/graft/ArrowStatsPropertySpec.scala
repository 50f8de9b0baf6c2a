package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowFileStats, ArrowStatsCollector}

/** SOUNDNESS property for the stats pruner — the correctness-critical
  * invariant every file-skipping path (static pushdown, runtime DPP,
  * streaming plan, aggregate refusal) leans on:
  *
  *   if `canMatch(filter, stats(rows)) == false`
  *   then NO row in `rows` satisfies `filter`.
  *
  * Seeded exhaustive-random check in the repo's PropertySpec style: 2000
  * generated (row-set, filter) pairs per run, adversarial values included
  * (nulls, NaN, empty strings, >256-char strings, supplementary-plane
  * strings, empty row sets, And/Or nesting). Completeness (canMatch true
  * when a row does match) is NOT asserted — pruning is advisory by
  * design; only the skip direction can corrupt results. Rows are
  * generated in external form (the form `sat` judges) and fed to the
  * collector in Catalyst internal form, the form every writer folds. */
class ArrowStatsPropertySpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("g", DecimalType(6, 2)),
    StructField("b", BinaryType)))

  private val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
  private def internal(row: Row): InternalRow = toInternal(row).asInstanceOf[InternalRow]

  private def genRow(r: scala.util.Random): Row = {
    def ln: Any = if (r.nextInt(8) == 0) null else (r.nextInt(21) - 10).toLong
    def dn: Any = r.nextInt(10) match {
      case 0 => null
      case 1 => Double.NaN
      case _ => (r.nextInt(21) - 10) / 2.0
    }
    def sn: Any = r.nextInt(12) match {
      case 0 => null
      case 1 => ""
      case 2 => "x" * 300                 // >256: invalidates the interval
      case 3 => new String(Character.toChars(0x1F600)) + "a" // non-BMP
      case _ => ("" + ('a' + r.nextInt(4)).toChar) * (1 + r.nextInt(3))
    }
    def gn: Any = r.nextInt(10) match {
      case 0 => null
      // varying scale: "9.5" vs "9.50" must still compare numerically
      case 1 => java.math.BigDecimal.valueOf((r.nextInt(41) - 20).toLong, 1)
      case _ => java.math.BigDecimal.valueOf((r.nextInt(401) - 200).toLong, 2)
    }
    def bn: Any = r.nextInt(12) match {
      case 0 => null
      case 1 => Array.emptyByteArray
      case 2 => Array.fill(300)(0x7f.toByte) // >256: invalidates the interval
      case 3 => Array(0xff.toByte)           // sign-bit adversary: unsigned order
      case _ => Array.fill(1 + r.nextInt(3))(r.nextInt(4).toByte)
    }
    Row(ln, dn, sn, gn, bn)
  }

  private def genValue(r: scala.util.Random, col: String): Any = col match {
    case "l" => (r.nextInt(25) - 12).toLong
    case "d" => if (r.nextInt(12) == 0) Double.NaN else (r.nextInt(25) - 12) / 2.0
    case "g" => java.math.BigDecimal.valueOf((r.nextInt(481) - 240).toLong,
      if (r.nextBoolean()) 2 else 1)
    case "b" =>
      if (r.nextInt(8) == 0) Array(0xfe.toByte)
      else Array.fill(r.nextInt(4))(r.nextInt(5).toByte)
    case _ => ("" + ('a' + r.nextInt(5)).toChar) * (1 + r.nextInt(3))
  }

  private def genFilter(r: scala.util.Random, depth: Int): Filter = {
    val col = Seq("l", "d", "s", "g", "b")(r.nextInt(5))
    r.nextInt(if (depth > 0) 12 else 10) match {
      case 0 => EqualTo(col, genValue(r, col))
      case 1 => GreaterThan(col, genValue(r, col))
      case 2 => GreaterThanOrEqual(col, genValue(r, col))
      case 3 => LessThan(col, genValue(r, col))
      case 4 => LessThanOrEqual(col, genValue(r, col))
      case 5 => In(col, Array.fill(1 + r.nextInt(3))(genValue(r, col)))
      case 6 => IsNull(col)
      case 7 => IsNotNull(col)
      case 8 => StringStartsWith("s", ("" + ('a' + r.nextInt(5)).toChar) * (1 + r.nextInt(2)))
      case 9 => EqualNullSafe(col, if (r.nextBoolean()) null else genValue(r, col))
      case 10 => And(genFilter(r, depth - 1), genFilter(r, depth - 1))
      case _ => Or(genFilter(r, depth - 1), genFilter(r, depth - 1))
    }
  }

  /** Row-level truth of a v1 Filter, SQL three-valued logic collapsed to
    * "does this row SATISFY the predicate" (unknown = no) — the semantics
    * Spark's post-scan Filter applies. */
  private def sat(f: Filter, row: Row): Boolean = {
    val idx = Map("l" -> 0, "d" -> 1, "s" -> 2, "g" -> 3, "b" -> 4)
    def v(c: String): Any = row.get(idx(c))
    def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    def cmp(c: String, x: Any): Option[Int] = (v(c), x) match {
      case (null, _) | (_, null) => None
      case (a: java.lang.Long, b: java.lang.Long) => Some(a.compareTo(b))
      case (a: java.lang.Double, b: java.lang.Double) =>
        if (a.isNaN || b.isNaN) Some(java.lang.Double.compare(a, b)) else Some(a.compareTo(b))
      case (a: String, b: String) => Some(a.compareTo(b))
      case (a: java.math.BigDecimal, b: java.math.BigDecimal) => Some(a.compareTo(b))
      case (a: Array[Byte], b: Array[Byte]) => Some(cmpBytes(a, b))
      case _ => None
    }
    f match {
      case And(a, b) => sat(a, row) && sat(b, row)
      case Or(a, b) => sat(a, row) || sat(b, row)
      case IsNull(c) => v(c) == null
      case IsNotNull(c) => v(c) != null
      case EqualTo(c, x) => cmp(c, x).contains(0)
      case EqualNullSafe(c, null) => v(c) == null
      case EqualNullSafe(c, x) => cmp(c, x).contains(0)
      case GreaterThan(c, x) => cmp(c, x).exists(_ > 0)
      case GreaterThanOrEqual(c, x) => cmp(c, x).exists(_ >= 0)
      case LessThan(c, x) => cmp(c, x).exists(_ < 0)
      case LessThanOrEqual(c, x) => cmp(c, x).exists(_ <= 0)
      case In(c, xs) => xs.exists(x => cmp(c, x).contains(0))
      case StringStartsWith(c, p) =>
        v(c) != null && v(c).asInstanceOf[String].startsWith(p)
      case other => fail(s"generator produced unevaluated filter $other")
    }
  }

  test("a pruned file can NEVER contain a matching row (2000 seeded cases)") {
    val r = new scala.util.Random(0xA77C)
    var pruned = 0
    for (_ <- 0 until 2000) {
      val rows = Seq.fill(r.nextInt(40))(genRow(r))
      val collector = new ArrowStatsCollector(schema)
      rows.foreach(x => collector.update(internal(x)))
      val stats = collector.result()
      val filter = genFilter(r, 2)
      if (!ArrowFileStats.canMatch(filter, stats)) {
        pruned += 1
        val witnesses = rows.filter(sat(filter, _))
        assert(witnesses.isEmpty,
          s"UNSOUND SKIP: filter=$filter stats=$stats witnesses=$witnesses")
      }
    }
    // the check must actually exercise the skip branch, not pass vacuously
    assert(pruned > 200, s"only $pruned/2000 cases pruned — generator too weak")
  }

  test("a shard skipped by its ENVELOPE can never contain a matching row (1000 seeded cases)") {
    // the commit-level analog of the per-file property: random rows split
    // into random "files", per-file stats merged into the commit envelope
    // (ArrowFileStats.envelope — the _stats_index.json row); if the
    // envelope refutes a filter, NO row in ANY file may match. This is
    // the exact soundness the shard-skip planning path leans on.
    val r = new scala.util.Random(0x5AAD)
    var skipped = 0
    for (_ <- 0 until 1000) {
      val rows = Seq.fill(r.nextInt(60))(genRow(r))
      val files = rows.grouped(1 + r.nextInt(7)).zipWithIndex.map {
        case (chunk, i) =>
          val c = new ArrowStatsCollector(schema)
          chunk.foreach(x => c.update(internal(x)))
          s"part-$i-q.arrows" -> c.result()
      }.toMap
      if (files.nonEmpty) {
        val env = ArrowFileStats.envelope(files)
        // envelope bookkeeping must agree with the data
        assert(env.rows === rows.size.toLong)
        val filter = genFilter(r, 2)
        if (!ArrowFileStats.canMatch(filter, env)) {
          skipped += 1
          val witnesses = rows.filter(sat(filter, _))
          assert(witnesses.isEmpty,
            s"UNSOUND SHARD SKIP: filter=$filter env=$env witnesses=$witnesses")
        }
      }
    }
    assert(skipped > 100, s"only $skipped/1000 envelopes refuted — generator too weak")
  }

  test("per-file SUM partials merge to the direct sum (wrapping long + exact decimal)") {
    val r = new scala.util.Random(0x5C77)
    for (_ <- 0 until 300) {
      val rows = Seq.fill(r.nextInt(50))(genRow(r))
      val perFile = rows.grouped(1 + r.nextInt(5)).map { chunk =>
        val c = new ArrowStatsCollector(schema)
        chunk.foreach(x => c.update(internal(x)))
        c.result()
      }.toSeq
      // long column "l": wrapping add of partials == wrapping direct sum
      val directL = rows.flatMap(x => Option(x.get(0))).map(_.asInstanceOf[Long]).sum
      val partialsL = perFile.flatMap(_.cols("l").sum).map(_.toLong)
      if (rows.exists(_.get(0) != null))
        assert(partialsL.sum === directL)
      // decimal column "g": BigDecimal partials add to the exact total
      val directG = rows.flatMap(x => Option(x.get(3)))
        .map(_.asInstanceOf[java.math.BigDecimal])
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val partialsG = perFile.flatMap(_.cols("g").sum)
        .map(new java.math.BigDecimal(_))
      if (rows.exists(_.get(3) != null))
        assert(partialsG.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          .compareTo(directG) === 0)
      // string/binary/double columns never carry sums
      perFile.foreach { st =>
        assert(st.cols("s").sum.isEmpty && st.cols("b").sum.isEmpty &&
          st.cols("d").sum.isEmpty)
      }
    }
  }
}

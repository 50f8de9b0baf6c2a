package graft.perfbench

import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-insensitive summary of one output column.
  *
  * Kinds, and what is summed over the non-null values (sums wrap mod 2^64):
  *  - `i` integral, boolean (0/1), date (epoch days), timestamp (epoch µs):
  *    `s` = Σ v, `h` = Σ mix64(v);
  *  - `f` float, double, decimal: `fs` = Σ v and `fa` = Σ |v| over the
  *    non-NaN values, `nan` = NaN count;
  *  - `s` string, binary: `s` = Σ byte length, `h` = Σ crc32(bytes);
  *  - `x` array, map, struct: `h` = Σ of a structural hash (JVM only).
  *
  * `oracle/make_expected.py` computes the same summary from DuckDB
  * results; keep the two in step. */
final case class ColSum(name: String, kind: Char, n: Long, s: Long, h: Long,
    fs: Double, fa: Double, nan: Long) {
  def merge(o: ColSum): ColSum =
    copy(n = n + o.n, s = s + o.s, h = h + o.h, fs = fs + o.fs, fa = fa + o.fa,
      nan = nan + o.nan)
}

final case class Digest(rows: Long, cols: Vector[ColSum]) {
  def merge(o: Digest): Digest =
    Digest(rows + o.rows, cols.zip(o.cols).map { case (a, b) => a.merge(b) })
  def col(name: String): ColSum = cols.find(_.name == name.toLowerCase)
    .getOrElse(sys.error(s"no column $name in ${cols.map(_.name).mkString(",")}"))
}

object Digest {
  /** Relative tolerance on float sums, as a share of Σ|v| (plus the same
    * value absolute): the engines add in different orders. */
  val FloatTol = 1e-9

  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def kindOf(dt: DataType): Char = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => 'i'
    case FloatType | DoubleType | _: DecimalType => 'f'
    case _: StringType | BinaryType => 's'
    case _ => 'x'
  }

  def empty(schema: StructType): Digest = Digest(0L, schema.fields.toVector.map(f =>
    ColSum(f.name.toLowerCase, kindOf(f.dataType), 0L, 0L, 0L, 0.0, 0.0, 0L)))

  private def longOf(row: InternalRow, i: Int, dt: DataType): Long = dt match {
    case BooleanType => if (row.getBoolean(i)) 1L else 0L
    case ByteType => row.getByte(i).toLong
    case ShortType => row.getShort(i).toLong
    case IntegerType | DateType => row.getInt(i).toLong
    case _ => row.getLong(i)
  }

  private def doubleOf(row: InternalRow, i: Int, dt: DataType): Double = dt match {
    case FloatType => row.getFloat(i).toDouble
    case DoubleType => row.getDouble(i)
    case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toDouble
  }

  private def bytesOf(row: InternalRow, i: Int, dt: DataType): Array[Byte] = dt match {
    case BinaryType => row.getBinary(i)
    case _ => row.getUTF8String(i).getBytes
  }

  /** Structural hash of a nested value; position-sensitive inside it. */
  private def deepHash(v: Any, dt: DataType): Long = dt match {
    case a: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      var h = mix64(arr.numElements().toLong)
      var j = 0
      while (j < arr.numElements()) {
        val e = if (arr.isNullAt(j)) 0x5bd1e995L else deepHash(arr.get(j, a.elementType), a.elementType)
        h = mix64(h ^ e) + j
        j += 1
      }
      h
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      mix64(deepHash(md.keyArray(), ArrayType(m.keyType)) ^
        (deepHash(md.valueArray(), ArrayType(m.valueType)) * 31))
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      st.fields.indices.foldLeft(mix64(st.size.toLong)) { (h, j) =>
        mix64(h ^ (if (r.isNullAt(j)) 0x5bd1e995L else deepHash(r.get(j, st(j).dataType), st(j).dataType)))
      }
    case _ => kindOf(dt) match {
      case 'i' => mix64(v match {
        case b: Boolean => if (b) 1L else 0L
        case n: java.lang.Number => n.longValue()
      })
      case 'f' => mix64(java.lang.Double.doubleToLongBits(v match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: java.lang.Number => n.doubleValue()
      }))
      case _ =>
        val c = new CRC32
        c.update(v match {
          case b: Array[Byte] => b
          case s => s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        })
        mix64(c.getValue)
    }
  }

  /** Fold every column of every row of one partition. */
  def ofRows(schema: StructType, it: Iterator[InternalRow]): Digest = {
    val fields = schema.fields
    val k = fields.length
    val n, s, h, nan = new Array[Long](k)
    val fs, fa = new Array[Double](k)
    val kinds = fields.map(f => kindOf(f.dataType))
    val crc = new CRC32
    var rows = 0L
    while (it.hasNext) {
      val row = it.next()
      rows += 1
      var i = 0
      while (i < k) {
        if (!row.isNullAt(i)) {
          n(i) += 1
          val dt = fields(i).dataType
          kinds(i) match {
            case 'i' =>
              val v = longOf(row, i, dt)
              s(i) += v; h(i) += mix64(v)
            case 'f' =>
              val v = doubleOf(row, i, dt)
              if (java.lang.Double.isNaN(v)) nan(i) += 1
              else { fs(i) += v; fa(i) += math.abs(v) }
            case 's' =>
              val b = bytesOf(row, i, dt)
              crc.reset(); crc.update(b)
              s(i) += b.length; h(i) += crc.getValue
            case _ =>
              h(i) += deepHash(row.get(i, dt), dt)
          }
        }
        i += 1
      }
    }
    Digest(rows, fields.indices.toVector.map(i =>
      ColSum(fields(i).name.toLowerCase, kinds(i), n(i), s(i), h(i), fs(i), fa(i), nan(i))))
  }

  /** Drain `df`: run its own physical plan, unchanged, as one SQL
    * execution, and fold every column of every row into a digest. Unlike
    * `count()`, which lets the optimizer prune every column no count
    * needs, this reads the plan's full output. */
  def drain(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench.drain")) {
      qe.executedPlan.execute()
        .mapPartitions(it => Iterator(ofRows(schema, it)))
        .collect()
        .foldLeft(empty(schema))(_ merge _)
    }
  }

  /** [[drain]], also bringing the rows to the driver for checks that
    * need them (pairs, components, top-k lists). */
  def drainCollect(df: DataFrame): Drained = {
    val qe = df.queryExecution
    val schema = df.schema
    val rows = SQLExecution.withNewExecutionId(qe, Some("perfbench.drain")) {
      qe.executedPlan.executeCollect()
    }
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    Drained(ofRows(schema, rows.iterator), rows.map(r => conv(r).asInstanceOf[Row]))
  }

  /** Mismatch description, or None when `got` matches `want`. Columns
    * are matched by name; float sums within [[FloatTol]]. */
  def compare(got: Digest, want: Digest): Option[String] = {
    if (got.rows != want.rows) return Some(s"rows ${got.rows} != ${want.rows}")
    val gotNames = got.cols.map(_.name).sorted
    val wantNames = want.cols.map(_.name).sorted
    if (gotNames != wantNames) return Some(s"columns $gotNames != $wantNames")
    want.cols.iterator.map { w =>
      val g = got.col(w.name)
      if (g.kind != w.kind) Some(s"${w.name}: kind ${g.kind} != ${w.kind}")
      else if (g.n != w.n) Some(s"${w.name}: non-null ${g.n} != ${w.n}")
      else w.kind match {
        case 'f' =>
          val tol = FloatTol * math.max(1.0, math.max(g.fa, w.fa))
          if (g.nan != w.nan) Some(s"${w.name}: NaN ${g.nan} != ${w.nan}")
          else if (math.abs(g.fs - w.fs) > tol) Some(s"${w.name}: sum ${g.fs} != ${w.fs}")
          else if (math.abs(g.fa - w.fa) > tol) Some(s"${w.name}: abs sum ${g.fa} != ${w.fa}")
          else None
        case _ =>
          if (g.s != w.s || g.h != w.h) Some(s"${w.name}: value digest differs")
          else None
      }
    }.collectFirst { case Some(m) => m }
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowDeleteVectors, ArrowDml, ArrowEqualityDeletes, Sinks}

/** Exact filter pushdown in the arrow-ipc scan: the filters the readers
  * evaluate themselves (`ArrowFileStats.exact`) plan no post-scan
  * `Filter` and inline no literal into generated code, and every result
  * equals the same filter applied by Spark to the collected table — per
  * supported type and operator, with nulls, both java8API settings,
  * evolved columns, deletion vectors, equality tombstones, `limit`,
  * `_pos` reads, hive and key-grouped tables. */
class ArrowExactFilterSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ArrowCatalog].getName)
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def load(dir: String): DataFrame = spark.read.format("arrow-ipc").load(dir)

  private def postScanFilters(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case f: LogicalFilter => f }.size

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** `table.filter(e)` against the same filter run by Spark over the
    * collected rows (an in-memory relation, no arrow-ipc scan). */
  private def assertExact(table: DataFrame, e: Column, pushed: Boolean = true): Unit = {
    val all = table.collect().toSeq
    val want = spark.createDataFrame(
      java.util.Arrays.asList(all: _*), table.schema).filter(e).collect().toSeq
    val df = table.filter(e)
    assert(sorted(df.collect().toSeq) === sorted(want), s"filter $e")
    if (pushed) assert(postScanFilters(df) === 0,
      s"filter $e left a post-scan Filter:\n${df.queryExecution.optimizedPlan}")
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Every supported type with nulls, plus a double (residual): 240 rows
    * over 4 files, dates and timestamps spanning 1400–2400, strings with
    * multi-byte and supplementary characters and one stats-invalidating
    * 300-byte value. */
  private def typedTable(dir: String): Unit = {
    def nul(k: Int, c: Column): Column = when(col("id") % 7 === k, lit(null)).otherwise(c)
    val strs = Seq("", "a", "ab", "B", "é", "�", "😀", "zz", "z" * 300)
    spark.range(0, 240).select(
      col("id"),
      nul(0, col("id") % 2 === 0).as("b"),
      nul(1, (col("id") % 50 - 25).cast("byte")).as("y"),
      nul(2, (col("id") * 37 % 1000 - 500).cast("short")).as("s"),
      nul(3, (col("id") * 101 % 5000 - 2500).cast("int")).as("i"),
      nul(4, when(col("id") === 5, lit(Long.MinValue)).when(col("id") === 6, lit(Long.MaxValue))
        .otherwise(col("id") * 1000003L - 100000000L)).as("l"),
      nul(5, expr("date_add(date'1400-01-01', cast(id * 1499 as int))")).as("d"),
      nul(6, expr("timestamp_micros(id * 150000000000123 - 20000000000000000)")).as("t"),
      nul(0, expr("cast(timestamp_micros(id * 150000000000123 - 20000000000000000) as timestamp_ntz)")).as("n"),
      nul(1, element_at(array(strs.map(lit): _*), (col("id") % strs.size + 1).cast("int"))).as("str"),
      nul(2, col("id") * 0.5).as("f"))
      .repartition(4).write.format("arrow-ipc").mode("overwrite").save(dir)
  }

  /** The operator set over column `c` at literals `a` < `b` (table values). */
  private def operators(c: String, a: Any, b: Any): Seq[Column] = {
    val x = col(c)
    Seq(x === a, x <=> a, x <=> lit(null), x < b, x <= a, x > a, x >= b,
      x.isin(a, b), x.isin(a, null), !x.isin(a, null), x.isNull, x.isNotNull,
      !(x < b), x < a || x > b, x >= a && x < b, !(x === a) || x.isNull)
  }

  test("range scan plans no Filter, a double comparison keeps it, and a new literal compiles no code") {
    val dir = tmp("graft_exact_plan")
    spark.range(0, 2000).select(col("id").as("key"), (col("id") * 0.5).as("f"), (col("id") % 7).as("g"))
      .repartitionByRange(4, col("key"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    def range(a: Long, b: Long) = load(dir).filter(col("key") >= a && col("key") < b)

    assert(postScanFilters(range(10, 50)) === 0)
    assert(range(10, 50).collect().map(_.getLong(0)).sorted.toSeq === (10L until 50L))
    assert(postScanFilters(load(dir).filter(col("f") > 1.5)) === 1)
    assert(load(dir).filter(col("f") > 1.5).count() === 1996)

    range(100, 300).collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = range(700, 1200).collect().map(_.getLong(0)).sorted.toSeq
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "a range scan differing only in its literals compiled new code")
    assert(got === (700L until 1200L))
  }

  test("every supported type and operator equals Spark's own filter, nulls included, under both java8API settings") {
    val dir = tmp("graft_exact_types")
    typedTable(dir)
    Seq("false", "true").foreach { java8 =>
      withConf("spark.sql.datetime.java8API.enabled", java8) {
        val table = load(dir)
        val rows = table.orderBy("id").collect()
        Seq("b", "y", "s", "i", "l", "d", "t", "n", "str").foreach { c =>
          val ordered = table.select(c).where(col(c).isNotNull).distinct()
            .orderBy(c).collect().map(_.get(0))
          val (a, b) = (ordered(ordered.length / 3), ordered(2 * ordered.length / 3 max 1))
          assert(rows.exists(_.getAs[Any](c) == null))
          operators(c, a, b).foreach(e => assertExact(table, e))
        }
        // a literal outside every file's range, and conjunctions across columns
        assertExact(table, col("l") > Long.MaxValue - 1 || col("y") === 24.toByte)
        assertExact(table, col("str") > "�" && col("i") < 0)
        assertExact(table, col("f") > 10.0 && col("i") >= 0, pushed = false)
      }
    }
  }

  test("dates and timestamps around the 1582 calendar switch filter exactly under both java8API settings") {
    // With java8API off Spark pushes java.sql.Date/Timestamp literals,
    // rebased to the hybrid calendar, which maps the proleptic days
    // 1582-10-05..14 onto 10-15..24: such a literal must stay residual.
    // Rows compare by `id`, since collecting a gap date as java.sql.Date
    // shifts it the same way.
    val dir = tmp("graft_exact_gap")
    val src = spark.range(0, 60).select(col("id"),
      expr("date_add(date'1582-09-30', cast(id / 2 as int))").as("d"),
      expr("timestamp'1582-09-30 00:00:00' + make_dt_interval(0, cast(id * 12 as int), 0, 0)").as("t"))
    src.repartition(2).write.format("arrow-ipc").mode("overwrite").save(dir)
    def ids(df: DataFrame): Seq[Long] = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    Seq("false", "true").foreach { java8 =>
      withConf("spark.sql.datetime.java8API.enabled", java8) {
        val table = load(dir)
        assert(ids(src.filter(col("d") === expr("date'1582-10-10'"))) === Seq(20L, 21L))
        Seq("1582-10-04", "1582-10-10", "1582-10-20", "1582-11-01").foreach { day =>
          val residual = java8 == "false" && day < "1582-10-25"
          Seq(col("d") === expr(s"date'$day'"), col("d") >= expr(s"date'$day'"),
            col("d").isin(expr(s"date'$day'"), expr("date'1582-10-28'")),
            col("t") < expr(s"timestamp'$day 06:00:00'"),
            col("t") === expr(s"timestamp'$day 12:00:00'")).foreach { e =>
            val df = table.filter(e)
            assert(ids(df) === ids(src.filter(e)), s"filter $e (java8API=$java8)")
            assert((postScanFilters(df) > 0) === residual, s"filter $e (java8API=$java8)")
          }
        }
      }
    }
  }

  test("added, widened and renamed columns filter exactly across generations") {
    val dir = tmp("graft_exact_evo")
    spark.range(0, 100).select(col("id").cast("int").as("id"),
      (col("id") % 9).cast("string").as("old_name"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN old_name TO name")
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN extra STRING")
    spark.range(100, 160).select(col("id"), (col("id") % 9).cast("string").as("name"),
      when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("e"), col("id"))).as("extra"))
      .write.format("arrow-ipc").mode("append").save(dir)
    val table = load(dir)
    Seq(col("id") >= 40L && col("id") < 130L, col("id") === 99L, col("name") === "3",
      col("name").isin("1", "8") && col("id") > 90L, col("extra").isNull,
      col("extra") >= "e120", col("extra").isNotNull && col("name") < "4").foreach(assertExact(table, _))
    // the row reader (forced by `_pos`) agrees, with the filter columns projected away
    val viaRows = load(dir).filter(col("extra") >= "e120").select(col("_pos"))
    assert(viaRows.collect().length === load(dir).collect().count(r => !r.isNullAt(2) && r.getString(2) >= "e120"))
  }

  test("deletion vectors, equality tombstones and limit count survivors only") {
    val dir = tmp("graft_exact_masks")
    spark.range(0, 400).select(col("id").as("key"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("key"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowDeleteVectors.deleteMor(spark, dir, "key >= 90 AND key < 130")
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.range(120, 160).select(col("id").as("key"), lit(-1L).as("v")))
    val table = load(dir)
    assert(table.count() === 400 - 30)
    Seq(col("key") >= 80L && col("key") < 170L, col("v") === -1L, col("v") > 300L,
      col("key").isin(95L, 125L, 150L, 390L)).foreach(assertExact(table, _))
    val limited = load(dir).filter(col("key") >= 85L).limit(7).collect()
    assert(limited.length === 7 && limited.forall(_.getLong(0) >= 85L))
    assert(limited.forall(r => r.getLong(0) < 90L || r.getLong(0) >= 120L))
  }

  test("merge-on-read delete and update with a range condition keep _pos physical") {
    val dir = tmp("graft_exact_pos")
    spark.range(0, 300).select(col("id").as("key"), col("id").as("v"))
      .repartitionByRange(3, col("key"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val posAll = load(dir).select(col("key"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val posCut = load(dir).filter(col("key") >= 40L && col("key") < 250L)
      .select(col("key"), col("_pos")).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(posCut.length === 210 && posCut.forall { case (k, p) => posAll(k) === p })

    assert(ArrowDeleteVectors.deleteMor(spark, dir, "key >= 50 AND key < 70").deletedRows === 20L)
    withConf("spark.graft.arrow.updateMode", "mor") {
      ArrowDml.update(spark, dir, "v = v + 1000", Some("key >= 200 AND key < 230"))
    }
    val got = load(dir).collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val want = (0L until 300L).filterNot(k => k >= 50 && k < 70)
      .map(k => k -> (if (k >= 200 && k < 230) k + 1000 else k))
    assert(got === want)
  }

  test("hive and key-grouped tables: data columns filter exactly, hive keys stay residual") {
    val hive = tmp("graft_exact_hive")
    spark.range(0, 200).select(col("id").as("key"), (col("id") % 4).cast("string").as("part"))
      .write.format("arrow-ipc").option("hivePartitionKeys", "part")
      .mode("overwrite").save(hive)
    val h = load(hive)
    assertExact(h, col("key") >= 30L && col("key") < 120L)
    assertExact(h, col("part") === "2", pushed = false)
    assertExact(h, col("part") === "1" && col("key") > 100L, pushed = false)
    assert(h.filter(col("part") === "1" && col("key") > 100L)
      .queryExecution.optimizedPlan.collect { case f: LogicalFilter => f.condition.references.map(_.name) }
      .flatten.toSet === Set("part"))

    val keyed = tmp("graft_exact_keyed")
    Sinks.writeKeyGrouped(spark.range(0, 300).select((col("id") % 11).as("k"), col("id").as("v")),
      keyed, Seq("k"), partitions = 3)
    withConf("spark.sql.sources.v2.bucketing.enabled", "true") {
      val kt = load(keyed)
      assertExact(kt, col("v") >= 25L && col("v") < 140L)
      assertExact(kt, col("k").isin(2L, 7L) && col("v") < 200L)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Aggregates

/** GROUP BY overflow row (reference max_rows_to_group_by + OverflowMode::ANY)
  * and the UDAF extension point. */
class AggregatesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 100 rows over 10 keys (0..9), 10 rows each, value = key.
  private lazy val grouped = (0 until 100).map(i => (i % 10, i % 10))
    .toDF("k", "v").groupBy("k")
    .agg(count(lit(1)).as("cnt"), sum($"v").as("sv"))

  test("overflow row: smallest maxGroups keys kept, rest merged under null key") {
    val out = Aggregates.withOverflowRow(grouped, "k", 3,
      Seq(sum($"cnt").as("cnt"), sum($"sv").as("sv")))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
        r.getLong(1), r.getLong(2))).toSet
    assert(out === Set(
      (Some(0), 10L, 0L), (Some(1), 10L, 10L), (Some(2), 10L, 20L),
      // keys 3..9: 70 rows, sum v = 10*(3+…+9) = 420
      (None, 70L, 420L)))
  }

  test("no overflow row when groups fit the cap") {
    val out = Aggregates.withOverflowRow(grouped, "k", 100,
      Seq(sum($"cnt").as("cnt"), sum($"sv").as("sv")))
    assert(out.count() === 10)
    assert(out.filter($"k".isNull).count() === 0)
  }

  test("UDAF registration: graft_any_long returns a member value") {
    val df = Seq((1, 10L), (1, 20L), (2, 30L)).toDF("g", "x")
    df.createOrReplaceTempView("anyt")
    val rows = spark.sql("SELECT g, graft_any_long(x) AS a FROM anyt GROUP BY g")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(Set(10L, 20L).contains(rows(1)))
    assert(rows(2) === 30L)
  }

  test("approximate aggregates land within sketch error of exact") {
    val df = (1 to 5000).map(i => (i % 997, i.toDouble)).toDF("k", "v")
    val r = df.agg(
      approx_count_distinct($"k").as("nd"),
      expr("approx_percentile(v, 0.5, 1000)").as("p50")).head()
    assert(math.abs(r.getLong(0) - 997) < 60)          // HLL++ ~2% std error
    assert(math.abs(r.getDouble(1) - 2500.0) < 150.0)  // mid quantile
  }

  test("overflow row: NULL group key is retained once, never double-counted") {
    import graft.ops.Aggregates
    val grouped = Seq(
      (Option(1L), 10L), (Option(2L), 20L), (Option.empty[Long], 30L)
    ).toDF("k", "s")
    // under the cap: output must equal input — no spurious overflow row
    val under = Aggregates.withOverflowRow(grouped, "k", 5, Seq(sum($"s").as("s")))
    assert(under.count() === 3)
    assert(under.agg(sum($"s")).head().getLong(0) === 60L, "no double count")
    // over the cap: NULL sorts first and is retained; overflow row holds
    // ONLY the dropped key's aggregates
    val over = Aggregates.withOverflowRow(grouped, "k", 2, Seq(sum($"s").as("s")))
      .collect().map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
        r.getAs[Long]("s"))).toSet
    // kept: NULL (30) and 1 (10); overflow: key 2 folded (20) under NULL key
    assert(over === Set((None, 30L), (Some(1L), 10L), (None, 20L)))
  }

  test("HLL sketch-merge: merged estimate within error of exact, equals direct sketch") {
    import graft.ops.Aggregates
    // 3 "shards" per group g (the shard key simulates per-day builds);
    // values overlap across shards so the union actually deduplicates.
    val df = (0 until 30000).map(i => (i % 3, i % 500 + (i % 3) * 250, i % 5))
      .toDF("g", "v", "shard")
    val shards = Aggregates.hllSketches(df, Seq("g", "shard"), "v")
    assert(shards.count() === 15)
    val merged = Aggregates.hllMergeEstimate(shards, Seq("g"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exact = df.groupBy($"g").agg(count_distinct($"v").as("nd"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, nd) =>
      assert(math.abs(merged(g) - nd).toDouble / nd < 0.05,
        s"g=$g merged=${merged(g)} exact=$nd")
    }
    // sketch algebra: union of shard sketches estimates the same set as one
    // sketch over the union (not bit-identical — the union operator keeps
    // its own register representation — but both sit inside sketch error)
    val direct = Aggregates.hllMergeEstimate(
      Aggregates.hllSketches(df, Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, nd) =>
      assert(math.abs(merged(g) - direct(g)).toDouble / nd < 0.04,
        s"g=$g merged=${merged(g)} direct=${direct(g)}")
    }
  }

  test("sortWithinPartitions orders every partition without a shuffle") {
    val df = (0 until 1000).map(i => (i * 37 % 1000)).toDF("x").repartition(4)
    val parts = graft.ops.Sorts.sortWithinPartitions(df,
      Seq(graft.ops.Sorts.SortKey("x")))
      .rdd.glom().collect()
    parts.foreach { p =>
      val xs = p.map(_.getInt(0)).toSeq
      assert(xs === xs.sorted)
    }
  }

  test("UDAF skips nulls like the reference 'any'") {
    val df = Seq((1, Option.empty[Long]), (1, Some(7L))).toDF("g", "x")
    df.createOrReplaceTempView("anyn")
    val r = spark.sql("SELECT graft_any_long(x) FROM anyn GROUP BY g").head()
    assert(r.getLong(0) === 7L)
  }

  test("generic any UDAF: double and string instantiations, all-null group -> null") {
    Seq((1, Option(1.5), Option("a")), (1, Option(2.5), Option("b")),
        (2, Option.empty[Double], Option.empty[String]))
      .toDF("g", "d", "s").createOrReplaceTempView("anyg")
    val rows = spark.sql(
      "SELECT g, graft_any_double(d) AS ad, graft_any_string(s) AS astr FROM anyg GROUP BY g")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(Set(1.5, 2.5).contains(rows(1).getDouble(1)))
    assert(Set("a", "b").contains(rows(1).getString(2)))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("generic any UDAF: every atomic instantiation keeps a member, nulls skipped") {
    // Two non-null rows + one all-null row per group; parameterized over the
    // full instantiation table (the reference's SingleValueData template is
    // type-generic, AggregateFunctionMinMaxAny.h:18-159). Each column's
    // group-1 result must be one of its two input values; group 2 is all
    // null and must yield null through every encoder.
    val df = spark.sql(
      """SELECT * FROM VALUES
           (1, true,  CAST(1 AS TINYINT), CAST(10 AS SMALLINT), 100, 1000L,
            CAST(1.5 AS FLOAT), 2.5D, CAST(12.34 AS DECIMAL(10,2)),
            DATE'2024-01-01', TIMESTAMP'2024-01-01 00:00:00', X'AB'),
           (1, false, CAST(2 AS TINYINT), CAST(20 AS SMALLINT), 200, 2000L,
            CAST(3.5 AS FLOAT), 4.5D, CAST(56.78 AS DECIMAL(10,2)),
            DATE'2025-06-15', TIMESTAMP'2025-06-15 12:00:00', X'CD'),
           (2, CAST(NULL AS BOOLEAN), CAST(NULL AS TINYINT), CAST(NULL AS SMALLINT),
            CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS FLOAT),
            CAST(NULL AS DOUBLE), CAST(NULL AS DECIMAL(10,2)), CAST(NULL AS DATE),
            CAST(NULL AS TIMESTAMP), CAST(NULL AS BINARY))
         AS t(g, b, i8, i16, i32, i64, f32, f64, dec, d, ts, bin)""")
    df.createOrReplaceTempView("any_atomic")
    val cols = Seq("boolean" -> "b", "byte" -> "i8", "short" -> "i16",
      "int" -> "i32", "long" -> "i64", "float" -> "f32", "double" -> "f64",
      "decimal" -> "dec", "date" -> "d", "timestamp" -> "ts", "binary" -> "bin")
    val sel = cols.map { case (sfx, c) => s"graft_any_$sfx($c) AS $c" }.mkString(", ")
    val out = spark.sql(s"SELECT g, $sel FROM any_atomic GROUP BY g ORDER BY g")
      .collect()
    val members = df.filter($"g" === 1).collect()
    cols.zipWithIndex.foreach { case ((sfx, c), i) =>
      val got = out(0).get(i + 1)
      assert(got != null, s"graft_any_$sfx returned null for non-null group")
      val ok = members.exists { m =>
        (m.get(i + 1), got) match {
          case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
          case (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
            a.compareTo(b) == 0
          case (a, b) => a == b
        }
      }
      assert(ok, s"graft_any_$sfx: $got is not a member value of column $c")
      assert(out(1).isNullAt(i + 1), s"graft_any_$sfx: all-null group must be null")
    }
  }

  test("bottom-k-by-hash UDAF: deterministic, partition-invariant, bounded") {
    val df = (0L until 500L).map(i => (i % 5, i)).toDF("g", "v")
    def run(parts: Int) = df.repartition(parts).createOrReplaceTempView("bk") match {
      case _ => spark.sql("SELECT g, graft_bottom_k(v) AS s FROM bk GROUP BY g")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    val a = run(2); val b = run(17)
    assert(a === b, "sample must not depend on partitioning")
    assert(a.values.forall(_.size === 3))
    assert(a.values.forall(s => s.toSet.size === 3))
    // sample members belong to their group (v % 5 == g)
    a.foreach { case (g, s) => s.foreach(v => assert(v % 5 === g)) }
  }

  test("OverflowMode.BREAK keeps the smallest keys fully aggregated, drops the rest") {
    val out = Aggregates.withGroupLimit(grouped, "k", 3, Aggregates.OverflowMode.Break)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((0, 10L, 0L), (1, 10L, 10L), (2, 10L, 20L)))
  }

  test("OverflowMode.THROW raises past the cap, passes under it") {
    val ok = Aggregates.withGroupLimit(grouped, "k", 10, Aggregates.OverflowMode.Throw)
    assert(ok.count() === 10)
    val bad = Aggregates.withGroupLimit(grouped, "k", 3, Aggregates.OverflowMode.Throw)
    val e = intercept[Exception] { bad.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("OverflowMode.THROW")))
  }
}

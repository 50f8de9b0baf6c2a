package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sorts
import graft.ops.Sorts.SortKey

/** Property-level checks for the null-handling/ordering laws the reference
  * fixes by construction (SURVEY §5): nulls-first sort, null-key grouping,
  * sum-empty→null, two-phase invariance, salted dedup equivalence.
  * Seeded random cases (deterministic) — the scalatest/scalacheck bridge is
  * not in the offline dependency cache. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def cases[A](n: Int)(gen: scala.util.Random => A): Seq[A] =
    (0 until n).map(_ => gen(rnd))

  private def optInts(r: scala.util.Random): List[Option[Int]] =
    List.fill(r.nextInt(30))(if (r.nextBoolean()) Some(r.nextInt(100) - 50) else None)

  test("sum over any nullable set: null iff no non-null values") {
    cases(8)(optInts).foreach { xs =>
      val r = xs.toDF("x").agg(sum($"x".cast("long"))).head()
      val vals = xs.flatten.map(_.toLong)
      if (vals.isEmpty) assert(r.isNullAt(0), s"input $xs")
      else assert(r.getLong(0) === vals.sum, s"input $xs")
    }
  }

  test("groupBy partitions rows exactly: sizes sum to count, nulls grouped") {
    cases(8)(optInts).filter(_.nonEmpty).foreach { xs =>
      val counts = xs.toDF("k").groupBy("k").count().collect()
      assert(counts.map(_.getLong(1)).sum === xs.size)
      assert(counts.length === xs.distinct.size)
    }
  }

  test("sort is a permutation with nulls first") {
    cases(8)(optInts).foreach { xs =>
      val sorted = Sorts.sort(xs.toDF("x"), Seq(SortKey("x"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      val expected = xs.sortBy(o => (o.isDefined, o.getOrElse(0)))
      assert(sorted.toSeq === expected)
    }
  }

  test("two-phase invariance: groupBy result independent of partitioning") {
    cases(6)(r => (List.fill(r.nextInt(50) + 1)((r.nextInt(5), r.nextInt(100))),
      r.nextInt(7) + 1)).foreach { case (xs, parts) =>
      val a = xs.toDF("k", "v").repartition(parts, $"k")
        .groupBy("k").agg(sum($"v".cast("long")))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val b = xs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.toLong).sum }
      assert(a === b, s"parts=$parts")
    }
  }

  test("salted replace-dedup ≡ plain replace-dedup for any salt count") {
    cases(6)(r => (List.fill(r.nextInt(60) + 1)(
      (r.nextInt(4), r.nextInt(10), r.nextInt(1000))), r.nextInt(15) + 1))
      .foreach { case (rows, salts) =>
        val df = rows.toDF("k", "snap", "uid")
        val keys = Seq(SortKey("snap", ascending = false), SortKey("uid", ascending = false))
        val plain = Sorts.replaceDedup(df, Seq("k"), keys)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
        val salted = Sorts.replaceDedupSalted(df, Seq("k"), keys, salts)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
        assert(salted === plain, s"salts=$salts rows=$rows")
      }
  }

  test("zipColumns: positional zip preserves both sides (MergeBatchColumns)") {
    val a = Seq(1L, 2L, 3L).toDF("x").coalesce(1)
    val b = Seq("a", "b", "c").toDF("s").coalesce(1)
    val out = Sorts.zipColumns(a, b).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("extension-injected SQL functions run through the PRODUCTION builders") {
    // The test session is built by Engine.session, which installs
    // GraftExtensions: these resolve through the production builders.
    assert(spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) === 11.0)
    assert(spark.sql(
      "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d'))")
      .head().getLong(0) === 2L)
    val fp = spark.sql("SELECT simhash64('hello world hello')").head().getString(0)
    assert(fp.length === 16 && fp.matches("[0-9a-f]+"))
    val sm = spark.sql("SELECT shingle_minhash('hello world', 4, 8).sz").head().getLong(0)
    assert(sm === 8L) // "hello world" has 8 distinct 4-grams
    // production builder enforces literal width/k and arity
    val e1 = intercept[Exception](
      spark.sql("SELECT shingle_minhash('x', length('ab'), 8)").collect())
    assert(e1.getMessage.contains("integer literal"))
    val e2 = intercept[Exception](spark.sql("SELECT simhash64()").collect())
    assert(e2.getMessage.contains("simhash64(text)"))
  }

  test("rebalanceForCompute widens narrow scans and no-ops at scale width") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = (0 until 100).toDF("x").coalesce(1)
    assert(Engine.rebalanceForCompute(narrow).rdd.getNumPartitions === target,
      "a 1-split input must widen to the session's parallelism")
    // at-scale shape: input already wider than the session — must pass
    // through untouched (no repartition exchange inserted)
    val wide = (0 until 100).toDF("x").repartition(target + 5)
    val out = Engine.rebalanceForCompute(wide)
    assert(out.rdd.getNumPartitions === target + 5)
    assert(out.queryExecution.executedPlan.toString ===
      wide.queryExecution.executedPlan.toString, "no-op must not change the plan")
    // a frame with an upstream exchange is returned untouched WITHOUT
    // probing .rdd (under AQE the probe would execute the shuffle stages
    // at construction time, then the action would re-run them)
    val shuffled = (0 until 100).map(i => (i % 5, i)).toDF("k", "v")
      .groupBy("k").count()
    assert(Engine.rebalanceForCompute(shuffled) eq shuffled,
      "exchange-bearing plans must pass through identically")
  }
}

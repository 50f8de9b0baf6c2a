package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QuantileSketches._

/** KLL quantile sketch columns: exact order statistics below k retained
  * values, bounded rank error above, build≡merge equivalence, NULL and
  * SQL contracts. */
class QuantileSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("n <= k: quantiles are exact order statistics (INCLUSIVE rank)") {
    // 100 distinct values 1..100 with k=200: the sketch retains all of
    // them, so kll_quantile(q) must be the smallest v with rank(v) >= q.
    val df = spark.range(1, 101).select(col("id").cast("double").as("v"))
    val sk = df.agg(kllSketch(col("v"), k = 200).as("s"))
    val got = sk.select(
      kllQuantile(col("s"), lit(0.5)).as("p50"),
      kllQuantile(col("s"), lit(0.95)).as("p95"),
      kllQuantile(col("s"), lit(0.0)).as("p0"),
      kllQuantile(col("s"), lit(1.0)).as("p100")).head()
    assert(got.getDouble(0) === 50.0)
    assert(got.getDouble(1) === 95.0)
    assert(got.getDouble(2) === 1.0)  // inclusive rank 0 → min
    assert(got.getDouble(3) === 100.0)
  }

  test("building one sketch ≡ merging per-shard sketches (n <= k keeps it exact)") {
    val df = spark.range(1, 151).select(
      (col("id") % 3).as("shard"), col("id").cast("double").as("v"))
    val whole = df.agg(kllSketch(col("v")).as("s"))
      .select(kllQuantile(col("s"), lit(0.5))).head().getDouble(0)
    val merged = df.groupBy("shard").agg(kllSketch(col("v")).as("s"))
      .agg(kllMerge(col("s")).as("m"))
      .select(kllQuantile(col("m"), lit(0.5))).head().getDouble(0)
    assert(whole === merged)
    assert(whole === 75.0)
  }

  test("estimation mode: rank error within bound at 100k values") {
    // uniform 0..99999 with k=200 → normalized rank error ~0.8%; assert
    // the returned quantile's true rank is within 4x that bound.
    val n = 100000
    val df = spark.range(n).select(col("id").cast("double").as("v"))
    val p50 = df.agg(kllSketch(col("v")).as("s"))
      .select(kllQuantile(col("s"), lit(0.5))).head().getDouble(0)
    val trueRank = p50 / n // value v has rank v/n in uniform 0..n-1
    val bound = 4 * 1.65 / 200
    assert(math.abs(trueRank - 0.5) < bound, s"p50=$p50 rank=$trueRank")

    // Adversarial stream orders (the EDBT 2023 quantile-sketch study's
    // sorted / reversed / zoom-in / shuffled inputs) over the same values,
    // each fed in order through ONE partition. Every order must hold the
    // same bound at p1..p99, for one sketch and for a merge of per-shard
    // sketches over contiguous slices of the stream.
    val sorted = (0 until n).map(_.toDouble)
    val zoomIn = (0 until n).map(i => if (i % 2 == 0) i / 2 else n - 1 - i / 2)
      .map(_.toDouble)
    val orders = Seq(
      "sorted" -> sorted,
      "reversed" -> sorted.reverse,
      "zoom-in" -> zoomIn,
      "shuffled" -> new scala.util.Random(17).shuffle(sorted))
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    def within(label: String, sketch: org.apache.spark.sql.DataFrame): Unit = {
      val got = sketch.select(qs.map(q => kllQuantile(col("s"), lit(q))): _*).head()
      qs.zipWithIndex.foreach { case (q, i) =>
        val rank = got.getDouble(i) / n
        assert(math.abs(rank - q) < bound, s"$label q=$q got=${got.getDouble(i)}")
      }
    }
    orders.foreach { case (name, values) =>
      assert(values.sorted == sorted, s"$name must permute 0..n-1")
      val stream = spark.sparkContext
        .parallelize(values.zipWithIndex.map { case (v, i) => (v, i * 8 / n) }, 1)
        .toDF("v", "shard")
      within(s"$name build", stream.agg(kllSketch(col("v")).as("s")))
      within(s"$name merge", stream.groupBy("shard")
        .agg(kllSketch(col("v")).as("s")).agg(kllMerge(col("s")).as("s")))
    }
  }

  test("NULL contracts: null inputs skipped; empty sketch quantile is NULL") {
    val got = Seq(Some(5.0), None, Some(15.0)).toDF("v")
      .agg(kllSketch(col("v")).as("s"))
      .select(kllQuantile(col("s"), lit(1.0))).head().getDouble(0)
    assert(got === 15.0)
    val empty = spark.range(0).select(col("id").cast("double").as("v"))
      .agg(kllSketch(col("v")).as("s"))
      .select(kllQuantile(col("s"), lit(0.5))).head()
    assert(empty.isNullAt(0))
  }

  test("SQL registration: kll functions compose in spark.sql") {
    spark.range(1, 101).select((col("id") % 4).as("g"), col("id").cast("double").as("v"))
      .createOrReplaceTempView("kll_in")
    val out = spark.sql("""
      SELECT kll_quantile(kll_merge_agg(s), 0.5d) AS p50
      FROM (SELECT g, kll_sketch_agg(v, 400) AS s FROM kll_in GROUP BY g)""")
      .head().getDouble(0)
    assert(out === 50.0)
    // a BARE decimal literal (parsed DECIMAL(1,1)) must coerce to double,
    // not ClassCastException — the documented SQL surface writes 0.5
    val bare = spark.sql("""
      SELECT kll_quantile(kll_sketch_agg(v), 0.5) AS p50 FROM kll_in""")
      .head().getDouble(0)
    assert(bare === 50.0)
  }

  test("merge/scalar over a wrong-typed column fails at analysis, not mid-job") {
    val df = spark.range(3).select(col("id").cast("string").as("s"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(kllMerge(col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("binary"))
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(kllQuantile(col("s"), lit(0.5))).collect()
    }
  }
}

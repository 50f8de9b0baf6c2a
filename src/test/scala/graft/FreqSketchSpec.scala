package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FreqSketches._

/** Frequent-items sketch columns: exact counts below map capacity (no
  * purge), build≡merge equivalence, honest bounds above capacity, NULL
  * and SQL contracts. */
class FreqSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // skewed stream: item k_i appears (10 - i) * 10 times for i in 0..9
  private lazy val skewed = spark.range(10).select(
    col("id"), ((lit(10) - col("id")) * 10).as("cnt"))
    .select(explode(expr("array_repeat(concat('k', id), cast(cnt as int))")).as("item"))

  test("below capacity: counts are exact and sorted by frequency") {
    val items = skewed.agg(freqSketch(col("item")).as("s"))
      .select(explode(freqItems(col("s"))).as("f"))
      .select(col("f.item"), col("f.estimate"), col("f.lower"), col("f.upper"))
      .collect()
    assert(items.length === 10)
    val est = items.map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 10).foreach(i => assert(est(s"k$i") === (10 - i) * 10L, s"k$i"))
    // no purge happened → bounds collapse to the exact count
    assert(items.forall(r => r.getLong(2) === r.getLong(1) && r.getLong(3) === r.getLong(1)))
    // sorted by estimate descending
    val ests = items.map(_.getLong(1)).toSeq
    assert(ests === ests.sortBy(-_))
  }

  test("building one sketch ≡ merging per-shard sketches (exact regime)") {
    val sharded = skewed.withColumn("shard", pmod(xxhash64(col("item")), lit(4)))
    val merged = sharded.groupBy("shard").agg(freqSketch(col("item")).as("s"))
      .agg(freqMerge(col("s")).as("m"))
      .select(explode(freqItems(col("m"))).as("f"))
      .select(col("f.item"), col("f.estimate"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = skewed.agg(freqSketch(col("item")).as("s"))
      .select(explode(freqItems(col("s"))).as("f"))
      .select(col("f.item"), col("f.estimate"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === whole)
  }

  test("above capacity: heavy hitter survives with honest bounds") {
    // 20k distinct light items + one heavy item at 5k occurrences, map
    // size 256 → purges happen, but NO_FALSE_NEGATIVES must keep the
    // heavy item and its true count must lie within [lower, upper].
    val heavy = spark.range(5000).select(lit("HEAVY").as("item"))
      .unionAll(spark.range(20000).select(concat(lit("light"), col("id")).as("item")))
    val items = heavy.agg(freqSketch(col("item"), maxMapSize = 256).as("s"))
      .select(explode(freqItems(col("s"))).as("f"))
      .select(col("f.item"), col("f.lower"), col("f.upper"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(items.contains("HEAVY"), s"heavy hitter purged: ${items.keys.take(5)}")
    val (lo, hi) = items("HEAVY")
    assert(lo <= 5000L && 5000L <= hi, s"true count outside [$lo, $hi]")

    // Adversarial stream orders (the EDBT 2023 sketch study's sorted /
    // reversed / zoom-in / shuffled inputs) over the same items, each fed
    // in order through ONE partition. Sorted puts every HEAVY first,
    // reversed puts them last, zoom-in splits them between the ends.
    val sorted = (Seq.fill(5000)("HEAVY") ++ (0 until 20000).map(i => s"light$i")).sorted
    val m = sorted.length
    val zoomIn = (0 until m).map(i => if (i % 2 == 0) sorted(i / 2) else sorted(m - 1 - i / 2))
    val orders = Seq(
      "sorted" -> sorted,
      "reversed" -> sorted.reverse,
      "zoom-in" -> zoomIn,
      "shuffled" -> new scala.util.Random(17).shuffle(sorted))
    orders.foreach { case (name, stream) =>
      assert(stream.sorted == sorted, s"$name must permute the items")
      val got = spark.sparkContext.parallelize(stream, 1).toDF("item")
        .agg(freqSketch(col("item"), maxMapSize = 256).as("s"))
        .select(explode(freqItems(col("s"))).as("f"))
        .select(col("f.item"), col("f.lower"), col("f.upper"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.contains("HEAVY"), s"$name: heavy hitter purged")
      val (l, h) = got("HEAVY")
      assert(l <= 5000L && 5000L <= h, s"$name: true count outside [$l, $h]")
    }
  }

  test("NULL items are skipped") {
    val est = Seq(Some("a"), None, Some("a"), Some("b")).toDF("item")
      .agg(freqSketch(col("item")).as("s"))
      .select(explode(freqItems(col("s"))).as("f"))
      .select(col("f.item"), col("f.estimate"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 2L, "b" -> 1L))
  }

  test("SQL registration: freq functions compose in spark.sql") {
    skewed.createOrReplaceTempView("freq_in")
    val top = spark.sql("""
      SELECT f.item, f.estimate
      FROM (SELECT explode(freq_items(freq_sketch_agg(item, 64))) AS f FROM freq_in)
      ORDER BY f.estimate DESC, f.item LIMIT 1""").head()
    assert(top.getString(0) === "k0" && top.getLong(1) === 100L)
  }
}

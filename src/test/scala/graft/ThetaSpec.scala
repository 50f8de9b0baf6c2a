package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ThetaSketches._

/** Theta sketch set algebra: exact below nominal entries (what makes the
  * declared query oracle-checkable), bounded error above, merge/partition
  * invariance, NULL contracts, SQL registration. */
class ThetaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Two overlapping id sets: A = [0, 6000), B = [4000, 10000).
  // |A| = 6000, |B| = 6000, |A∩B| = 2000, |A∪B| = 10000, |A\B| = 4000 —
  // all below 2^14 nominal entries, so every theta result is EXACT.
  private lazy val tagged = spark.range(10000).select(
    col("id"),
    when(col("id") < 6000, "a").otherwise(null).as("in_a"),
    when(col("id") >= 4000, "b").otherwise(null).as("in_b"))

  private def sketchOf(side: String) = {
    val c = if (side == "a") "in_a" else "in_b"
    tagged.filter(col(c).isNotNull).agg(thetaSketch(col("id")).as("s"))
      .head().getAs[Array[Byte]]("s")
  }

  test("exact mode: union, intersection and difference match exact set counts") {
    val sketches = tagged
      .select(explode(array(
        when(col("in_a").isNotNull, struct(lit("a").as("g"), col("id"))),
        when(col("in_b").isNotNull, struct(lit("b").as("g"), col("id"))))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.g"), col("e.id"))
      .groupBy("g").agg(thetaSketch(col("id")).as("s"))
    val merged = sketches.agg(
      thetaEstimate(thetaUnion(col("s"))).as("u"),
      thetaEstimate(thetaIntersect(col("s"))).as("i")).head()
    assert(merged.getDouble(0) === 10000.0) // |A∪B|
    assert(merged.getDouble(1) === 2000.0)  // |A∩B|
    val (a, b) = (sketchOf("a"), sketchOf("b"))
    val diff = Seq((a, b)).toDF("a", "b")
      .select(thetaEstimate(thetaDifference(col("a"), col("b")))).head().getDouble(0)
    assert(diff === 4000.0) // |A\B|
  }

  test("sketches are partition-invariant and merge is associative") {
    def est(parts: Int): Double =
      spark.range(5000).repartition(parts)
        .agg(thetaEstimate(thetaSketch(col("id")))).head().getDouble(0)
    assert(est(1) === 5000.0)
    assert(est(1) === est(7) && est(7) === est(32))
  }

  test("estimation mode: error within 5x the configured RSE at 300k distinct") {
    val n = 300000L
    val est = spark.range(n).agg(thetaEstimate(thetaSketch(col("id"))))
      .head().getDouble(0)
    val rse = 1.0 / math.sqrt(1 << 14)
    assert(math.abs(est - n) / n < 5 * rse, s"estimate $est for $n")

    // Adversarial stream orders (the EDBT 2023 sketch study's sorted /
    // reversed / zoom-in / shuffled inputs) over the same values, each fed
    // in order through ONE partition: every order holds the same bound.
    val sorted = (0L until n).toVector
    val zoomIn = (0L until n).map(i => if (i % 2 == 0) i / 2 else n - 1 - i / 2)
    val orders = Seq(
      "sorted" -> sorted,
      "reversed" -> sorted.reverse,
      "zoom-in" -> zoomIn,
      "shuffled" -> new scala.util.Random(17).shuffle(sorted))
    orders.foreach { case (name, values) =>
      assert(values.sorted == sorted, s"$name must permute 0..n-1")
      val got = spark.sparkContext.parallelize(values, 1).toDF("id")
        .agg(thetaEstimate(thetaSketch(col("id")))).head().getDouble(0)
      assert(math.abs(got - n) / n < 5 * rse, s"$name: estimate $got for $n")
    }
  }

  test("string sketches hash UTF-8 bytes: same ids as strings intersect exactly") {
    val a = spark.range(1000).select(concat(lit("k"), col("id")).as("k"))
      .agg(thetaSketch(col("k")).as("s")).head().getAs[Array[Byte]](0)
    val b = spark.range(500, 1500).select(concat(lit("k"), col("id")).as("k"))
      .agg(thetaSketch(col("k")).as("s")).head().getAs[Array[Byte]](0)
    val i = Seq(a, b).toDF("s").agg(thetaEstimate(thetaIntersect(col("s"))))
      .head().getDouble(0)
    assert(i === 500.0)
  }

  test("NULL contracts: null values skipped; empty intersection group is NULL") {
    val est = Seq(Some(1L), None, Some(2L), None).toDF("v")
      .agg(thetaEstimate(thetaSketch(col("v")))).head().getDouble(0)
    assert(est === 2.0)
    val row = Seq.empty[Array[Byte]].toDF("s")
      .agg(thetaIntersect(col("s")).as("i")).head()
    assert(row.isNullAt(0), "intersection over zero sketches has no universe")
  }

  test("SQL registration: theta functions compose in spark.sql") {
    spark.range(100).select(col("id"), (col("id") % 2).as("g"))
      .createOrReplaceTempView("theta_in")
    val out = spark.sql("""
      SELECT theta_estimate(theta_union_agg(s)) AS u,
             theta_estimate(theta_intersect_agg(s)) AS i
      FROM (SELECT g, theta_sketch_agg(id, 12) AS s FROM theta_in GROUP BY g)""")
      .head()
    assert(out.getDouble(0) === 100.0)
    assert(out.getDouble(1) === 0.0) // odd and even ids are disjoint
  }
}

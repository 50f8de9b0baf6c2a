package graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate over the ENTIRE declared query surface: no
  * query may plan a cartesian product or a broadcast-nested-loop join
  * unless it is on the explicit allowlist of intentional scalar/small-side
  * cross joins. A range predicate accidentally written as a raw theta-join,
  * or a lost equi-join key, fails here long before it melts a cluster.
  * It also pins the plan shapes that the IVF and substring-dedup
  * optimizations rely on, so they need no checked-in explain dumps.
  */
class PlanGuardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose cross join is BY DESIGN a broadcast of a provably tiny
    * side (a scalar count or an nlist/k-sized frame), documented at the
    * call site. */
  private val allowedNlj: Set[String] = Set(
    "ann_brute_topk",   // corpus × broadcast(query set) — the brute-force contract
    "ann_ivf_topk",     // corpus × broadcast(nlist centroids), queries × broadcast(centroids)
    "ann_ivf_stored",   // same probe tail: queries × broadcast(stored nlist centroids)
    // agg_overflow left the list in round 8: the overflow-row emptiness
    // probe became a count column inside the merge aggregation, so the
    // query no longer plans any nested-loop join
    "contamination",    // corpus × broadcast(1-row benchmark hash set)
    "text_bm25",        // corpus × broadcast(1-row BM25 corpus stats)
    "embed_kmeans",     // corpus × broadcast(k centroids) per Lloyd pass
    "dedup_semantic",   // the same kmeans Lloyd pass (its pair join is
                        // an equi-join on the cluster id, never NLJ)
    "zorder_values",    // scan × broadcast(1-row min/max stats)
    "ann_quantized_topk",     // corpus × broadcast(query set) — brute contract
    "sample_cluster_balance", // the kmeans Lloyd pass (corpus × broadcast(k centroids))
    "ann_ivf_quantized",      // corpus × broadcast(nlist centroids) + float probe head
    "ann_ivf_stored_q8",      // same probe head over the stored int8 index
    "ann_ivf_q8_refined",     // the quantized candidate stage's probe head;
    "ann_ivf_compacted")      // build/append assignment + probe head: every
                              // cross join is × broadcast(nlist centroids)
                              // the float re-rank itself is an equi-join

  test("no query plans a cartesian product or unlisted nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      val cartesian = plan.contains("CartesianProduct")
      val nlj = plan.contains("BroadcastNestedLoopJoin")
      if (cartesian) Some(s"$name: CartesianProduct")
      else if (nlj && !allowedNlj(name)) Some(s"$name: BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, s"plan smells:\n${offenders.mkString("\n")}")
  }

  test("subquery shapes decorrelate: EXISTS→semi, NOT EXISTS→anti, scalar agg→join") {
    // Q21 shape: BOTH correlated predicates must leave the plan as join
    // operators over lineitem — a surviving subquery expression would mean
    // a per-outer-row rescan, the plan that dies at scale.
    val q21 = SparkEntry.queries("q21_last_shipper")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(q21.contains("LeftSemi"), s"expected a left-semi join:\n$q21")
    assert(q21.contains("LeftAnti"), s"expected a left-anti join:\n$q21")

    // Q22 shape: the NOT EXISTS is an anti join; the two scalar
    // thresholds stay as one-row subqueries evaluated ONCE (not
    // correlated — no outer reference may survive into them).
    val q22 = SparkEntry.queries("q22_idle_customers")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(q22.contains("LeftAnti"), s"expected a left-anti join:\n$q22")
    assert(!q22.contains("outer("), s"correlated reference survived:\n$q22")

    // Q2 shape: the correlated scalar MIN must decorrelate to an
    // aggregate-then-join (no correlated predicate left in the plan).
    val q2 = SparkEntry.queries("q2_min_per_group")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(!q2.toString.contains("outer("),
      s"correlated reference survived decorrelation:\n$q2")
    val joins = q2.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, s"expected the decorrelated min-join:\n$q2")
  }

  test("Q3 top-k plans TakeOrderedAndProject; Q17/Q20 decorrelate; Q15 scalar stays uncorrelated") {
    // Q3: ORDER BY revenue LIMIT 10 must run as per-partition top-k —
    // a global Sort before the limit is the plan that dies at scale.
    val q3 = SparkEntry.queries("q3_shipping_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q3.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k, got a global sort:\n$q3")

    // Q17: the correlated per-part AVG must decorrelate to an aggregate
    // joined back — a surviving outer reference means a per-row rescan.
    val q17 = SparkEntry.queries("q17_small_qty")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(!q17.toString.contains("outer("),
      s"correlated avg survived decorrelation:\n$q17")
    assert(q17.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty,
      s"expected the decorrelated avg-join:\n$q17")

    // Q20: the grouped IN subquery becomes a semi join; its HAVING scalar
    // is uncorrelated and must not retain an outer reference either.
    val q20 = SparkEntry.queries("q20_promo_suppliers")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(q20.contains("LeftSemi"), s"expected a left-semi join:\n$q20")
    assert(!q20.contains("outer("), s"correlated reference survived:\n$q20")

    // Q15: the MAX-over-view comparison is an uncorrelated one-row scalar
    // evaluated once, not a per-row subquery.
    val q15 = SparkEntry.queries("q15_top_supplier")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!q15.contains("outer("), s"correlated reference survived:\n$q15")
  }

  /** The query's physical plan as planned before execution, with only
    * explicit `broadcast()` hints allowed to broadcast — so a join that
    * broadcasts here does so because the code asks for it, at any scale. */
  private def hintOnlyPlan(name: String): SparkPlan = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def onCid(keys: Seq[Expression]): Boolean =
    keys.exists(_.references.exists(_.name == "cid"))

  private def cellsScans(p: SparkPlan): Seq[BatchScanExec] =
    collect(p) { case b: BatchScanExec if b.simpleString(200).contains("/cells") => b }

  private def windows(p: SparkPlan): Int = collect(p) {
    case _: WindowExec => 1
    case m: InMemoryTableScanExec => windows(m.relation.cachedPlan)
  }.sum

  test("inline IVF: the probe⋈cells join on cid is a broadcast hash join, never a sort-merge join") {
    for (q <- Seq("ann_ivf_topk", "ann_ivf_quantized", "ann_ivf_q8_refined")) {
      val plan = hintOnlyPlan(q)
      val cidBhj = collect(plan) { case j: BroadcastHashJoinExec if onCid(j.leftKeys) => j }
      val cidSmj = collect(plan) { case j: SortMergeJoinExec if onCid(j.leftKeys) => j }
      assert(cidBhj.nonEmpty, s"$q: no broadcast hash join on cid:\n$plan")
      assert(cidSmj.isEmpty, s"$q: sort-merge join on cid:\n$plan")
    }
  }

  test("stored IVF: the broadcast side of the cid join is the probe frame, never the cells") {
    for (q <- Seq("ann_ivf_stored", "ann_ivf_stored_q8", "ann_ivf_compacted")) {
      val plan = hintOnlyPlan(q)
      val cidBhj = collect(plan) { case j: BroadcastHashJoinExec if onCid(j.leftKeys) => j }
      assert(cidBhj.nonEmpty, s"$q: no broadcast hash join on cid:\n$plan")
      cidBhj.foreach { j =>
        val (build, streamed) =
          if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
        assert(cellsScans(build).isEmpty, s"$q: cells on the build side:\n$plan")
        assert(cellsScans(streamed).nonEmpty, s"$q: cells scan does not stream:\n$plan")
      }
      val broadcastCells = collect(plan) {
        case b: BroadcastExchangeExec if cellsScans(b).nonEmpty => b }
      assert(broadcastCells.isEmpty, s"$q: a broadcast exchange holds the cells scan:\n$plan")
    }
  }

  test("substring dedup plans one lead() window per read of the shared grams frame") {
    // Four reads of the persisted grams frame, one WindowExec in each: the
    // gram boundary comes from lead(tok, k-1), so no per-doc count window.
    for (q <- Seq("dedup_substring", "dedup_substring_apply")) {
      val plan = hintOnlyPlan(q)
      assert(windows(plan) === 4, s"$q:\n$plan")
    }
  }
}

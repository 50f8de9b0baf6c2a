package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** `olap`: the read-only reference-surface queries that have oracle SQL,
  * over the generated sf0.1 tables. Each round runs every query once, in
  * a seeded order; each result is drained in full and its digest compared
  * with the committed DuckDB digest. `checkOracle = false` (the
  * self-test's small tables, for which no digests exist) skips that
  * comparison. */
final class Olap(ctx: Ctx, checkOracle: Boolean = true) extends Workload {
  val name = "olap"
  private val dir = ctx.dataDir
  private lazy val expected: Map[String, Digest] =
    Olap.loadExpected(s"${ctx.benchDir}/oracle/olap_expected.json")

  /** Open every table afresh: schema read and analyzed frame. */
  def prepare(): Unit = {
    graft.Engine.clearTableCache()
    DataGen.OlapTables.foreach(t => graft.Engine.table(ctx.spark, dir, t))
  }

  /** One untimed, checked execution of every query. A query's first
    * execution in the JVM pays for class loading, JIT compilation and
    * whole-stage code generation, about 40 % of a cold round at sf0.1;
    * timed rounds then measure the engine, not its warm-up. (Warming up
    * over sf0.01 tables instead saved only a quarter of the time and left
    * the timed round 10 % slower.) */
  def warmup(): Unit = {
    val clock = new Clock
    Olap.Queries.zipWithIndex.foreach { case (q, i) =>
      Main.runOp(ctx, this, OpSpec(q, read = true), -1 - i, clock).error
        .foreach(e => sys.error(s"olap warm-up: $e"))
    }
  }

  def round(r: Int): Seq[OpSpec] = Olap.round(ctx.seed, r)

  def stage(op: OpSpec, index: Int): Step = {
    Step(() => Some(graft.SparkEntry.queries(op.kind)(ctx.spark, dir)), collect = false, {
      case None => Some("no result")
      case Some(_) if !checkOracle => None
      case Some(d) => expected.get(op.kind).fold(Option("no oracle digest"))(
        Digest.compare(d.digest, _))
    })
  }
}

object Olap {
  /** Scale factor of the committed oracle digests. */
  val OracleSf = 0.1

  /** The oracle-checked read-only surface: scan / filter / project (with
    * the SSA program), GROUP BY with partial and final phases, sort,
    * top-k, k-way merge, replace-dedup, union, and the TPC-H joins. One
    * query per family where the reference surface has several, so that a
    * round fits the run's time budget. */
  val Queries: Seq[String] = Seq(
    "scan_project", "filter_pushdown", "ssa_program", "expr_arith",
    "q1_agg", "agg_two_phase", "agg_rollup", "agg_cube", "agg_count_distinct",
    "sort_desc", "topk", "merge_sorted", "replace_dedup", "union_all",
    "q3_shipping_topk", "q5_region_revenue", "q6_selective_agg", "q10_returned",
    "q12_priority_counts", "q18_big_orders",
    // the kernels of functions/: MinHash and SimHash, vector dot
    "dedup_minhash_sig", "dedup_simhash", "ann_brute_topk")

  def round(seed: Long, r: Int): Seq[OpSpec] =
    new scala.util.Random(seed * 1000003L + r).shuffle(Queries).map(q => OpSpec(q, read = true))

  def loadExpected(path: String): Map[String, Digest] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val js = parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def d(v: JValue): Double = v match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JDecimal(x) => x.toDouble
      case _ => 0.0
    }
    def l(v: JValue): Long = v match {
      case JString(x) => java.lang.Long.parseUnsignedLong(x)
      case JInt(x) => x.toLong
      case _ => 0L
    }
    (js \ "queries") match {
      case JObject(fields) => fields.map { case (q, v) =>
        val cols = (v \ "cols") match {
          case JArray(cs) => cs.toVector.map(c => ColSum(
            (c \ "name").asInstanceOf[JString].s, (c \ "kind").asInstanceOf[JString].s.head,
            l(c \ "n"), l(c \ "s"), l(c \ "h"), d(c \ "fs"), d(c \ "fa"), l(c \ "nan")))
          case _ => Vector.empty
        }
        q -> Digest(l(v \ "rows"), cols)
      }.toMap
      case _ => sys.error(s"$path has no queries")
    }
  }
}

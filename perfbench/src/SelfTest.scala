package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The harness's own checks, run on small inputs:
  *  1. the drain computes every output column of each olap query, where
  *     `count()` does not (q1_agg);
  *  2. a seed names one operation stream and one set of lake batches;
  *     another seed names others;
  *  3. a lake read checked against a deliberately wrong model fails;
  *  4. in a traced run the self times of each operation's spans add up
  *     to its wall time. */
object SelfTest {
  private var failures = 0

  private def expect(cond: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  /** Attributes some operator of `plan` produces. */
  private def produced(plan: LogicalPlan) =
    plan.collect { case p => p.output.map(_.exprId) }.flatten.toSet

  private def aggNames(plan: LogicalPlan): Set[String] = plan.collect { case p =>
    p.expressions.flatMap(_.collect { case a: AggregateExpression => a.aggregateFunction.prettyName })
  }.flatten.toSet

  /** Does the plan that `drainOf(df)` optimizes still compute every output
    * column and every aggregate function of `df`? */
  private def computesAll(df: DataFrame, drained: DataFrame): Boolean = {
    val want = df.queryExecution.analyzed
    val got = drained.queryExecution.optimizedPlan
    want.output.map(_.exprId).toSet.subsetOf(produced(got)) && aggNames(want).subsetOf(aggNames(got))
  }

  def run(o: Main.Opts): Boolean = {
    val spark = Main.session()
    val ctx = Ctx(spark, o.work, o.benchDir, o.seed, sf = 0.01)

    // 1. drain every column
    // no oracle digests at this scale: sections 1 and 4 check plans and spans
    val olap = new Olap(ctx, checkOracle = false)
    DataGen.write(spark, ctx.dataDir, DataGen.OlapTables, ctx.sf)
    olap.prepare()
    val dir = ctx.dataDir
    Olap.Queries.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      expect(computesAll(df, df) &&
        df.queryExecution.executedPlan.output.map(_.name) == df.columns.toSeq,
        s"drain of $q computes every output column")
      val d = Digest.drain(df)
      expect(d.cols.map(_.name) == df.columns.map(_.toLowerCase).toSeq, s"digest of $q covers every column")
    }
    val q1 = graft.SparkEntry.queries("q1_agg")(spark, dir)
    expect(!computesAll(q1, q1.groupBy().count()),
      "count() of q1_agg prunes its aggregates (the case the drain exists for)")

    // 2. seed determinism
    def olapStream(seed: Long) = (0 until 3).flatMap(Olap.round(seed, _)).mkString(";")
    def lakeStream(seed: Long) = (0 until 5).flatMap(Lake.round(seed, _, 1500)).mkString(";")
    def lakeBatches(seed: Long) = (0 until 5).flatMap(Lake.round(seed, _, 1500))
      .filter(_.kind == "append").map(op => Lake.batch(op.args(2), op.args(0) until op.args(0) + op.args(1)))
      .mkString(";")
    Seq[(String, Long => String)]("olap operation list" -> olapStream,
      "lake operation list" -> lakeStream, "lake append batches" -> lakeBatches).foreach { case (what, f) =>
      val a = f(o.seed).getBytes("UTF-8")
      expect(java.util.Arrays.equals(a, f(o.seed).getBytes("UTF-8")), s"$what: same seed, same bytes")
      expect(!java.util.Arrays.equals(a, f(o.seed + 1).getBytes("UTF-8")), s"$what: another seed differs")
    }

    // 3. a wrong lake model is caught
    val lake = new Lake(ctx)
    lake.prepare()
    lake.warmup()
    val clock = new Clock
    val ops = lake.round(0)
    val results = ops.zipWithIndex.map { case (op, i) => Main.runOp(ctx, lake, op, i, clock) }
    results.filterNot(_.ok).foreach(s => println(s"[selftest] lake: ${s.error.get}"))
    expect(results.forall(_.ok), s"lake round of ${ops.size} operations matches the model")
    val key = lake.model.rows.firstKey
    val scan = OpSpec("scan", read = true, Seq(key.longValue, key + 100))
    expect(Main.runOp(ctx, lake, scan, ops.size, clock).ok, "scan matches the true model")
    val (status, cents) = lake.model.rows.get(key)
    lake.model.put(key, status, cents + 1)
    expect(!Main.runOp(ctx, lake, scan, ops.size + 1, clock).ok, "scan against a wrong model fails")

    // 4. span self times add up to each operation's wall time
    val rec = new Recorder(spark.sparkContext)
    Trace.register(rec, spark)
    val env = Env.start()
    val traced = Olap.round(o.seed, 0).take(4).zipWithIndex.map { case (op, i) =>
      Main.runOp(ctx, olap, op, i, clock) }
    rec.settle()
    val opts = o.copy(workload = "selftest", trace = true)
    Layers.compute(opts, olap, traced, rec, ctx.cores, 1.0, env)
    val spans = Files.readAllLines(Paths.get(o.work, "trace", s"selftest-seed${o.seed}.jsonl")).asScala
      .map(org.json4s.jackson.JsonMethods.parse(_))
    import org.json4s._
    def num(v: JValue): Double = v match { case JDouble(x) => x; case JInt(x) => x.toDouble; case _ => 0.0 }
    val byId = spans.map(s => num(s \ "id").toInt -> s).toMap
    def rootOf(id: Int): Int = { val p = num(byId(id) \ "parent").toInt; if (p < 0) id else rootOf(p) }
    val roots = spans.filter(s => num(s \ "parent") < 0)
    roots.foreach { r =>
      val id = num(r \ "id").toInt
      val selfSum = spans.filter(s => rootOf(num(s \ "id").toInt) == id).map(s => num(s \ "self_ms")).sum
      val names = spans.filter(s => rootOf(num(s \ "id").toInt) == id).map(s => (s \ "name").values.toString).toSet
      expect(math.abs(selfSum - num(r \ "dur_ms")) < 0.01 && names.contains("build") &&
        names.exists(_.startsWith("catalyst.")) && names.contains("job"),
        f"op ${(r \ "attrs" \ "type").values}: self times $selfSum%.3f ms add up to ${num(r \ "dur_ms")}%.3f ms")
    }

    println(s"""{"selftest":"${if (failures == 0) "pass" else "fail"}","failures":$failures}""")
    failures == 0
  }
}

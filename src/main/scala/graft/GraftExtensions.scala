package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CityHash64Expr, FreqItems, FreqMergeAgg, FreqSketchAgg,
  FreqSketches, KllMergeAgg, KllQuantile, KllSketchAgg,
  QuantileSketches, ShingleMinhash, SimHash64, SortedArrayIntersectSize,
  ThetaDifference, ThetaEstimate, ThetaIntersectAgg, ThetaSketchAgg,
  ThetaSketches, ThetaUnionAgg, VectorDot, WyHash64Expr, XxHash32Expr,
  XxHash64RawExpr, Xxh3Expr}
import org.apache.spark.sql.catalyst.expressions.Literal

/** SparkSessionExtensions hook: registers the engine's native expressions as
  * SQL functions — the analog of the reference registering "ch.*" kernels in
  * the arrow FunctionRegistry (tests/ut_aggregator.cpp:20-31).
  *
  * Use: `Engine.session(...)` installs it (as does
  * `spark.sql.extensions=graft.GraftExtensions`); then
  * `SELECT vec_dot(a, b)`, `SELECT sorted_intersect_size(x, y)` work in SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

/** The registered (identifier, info, builder) triples — exposed so tests
  * exercise the PRODUCTION builders (incl. their arity/literal checks)
  * through a plain functionRegistry, not a parallel re-implementation. */
object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot(a, b)")
        VectorDot(args(0), args(1))
      }),
    (FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedArrayIntersectSize].getName, "sorted_intersect_size"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_size(a, b)")
        SortedArrayIntersectSize(args(0), args(1))
      }),
    // Bit-exact reference hash family (FunctionsHashing.h:42-116) —
    // n-ary by design (reference combineHashes).
    (FunctionIdentifier("city_hash64"),
      new ExpressionInfo(classOf[CityHash64Expr].getName, "city_hash64"),
      (args: Seq[Expression]) => CityHash64Expr(args)),
    (FunctionIdentifier("xx_hash32"),
      new ExpressionInfo(classOf[XxHash32Expr].getName, "xx_hash32"),
      (args: Seq[Expression]) => XxHash32Expr(args)),
    (FunctionIdentifier("xx_hash64_raw"),
      new ExpressionInfo(classOf[XxHash64RawExpr].getName, "xx_hash64_raw"),
      (args: Seq[Expression]) => XxHash64RawExpr(args)),
    (FunctionIdentifier("xxh3_64"),
      new ExpressionInfo(classOf[Xxh3Expr].getName, "xxh3_64"),
      (args: Seq[Expression]) => Xxh3Expr(args)),
    (FunctionIdentifier("wy_hash64"),
      new ExpressionInfo(classOf[WyHash64Expr].getName, "wy_hash64"),
      (args: Seq[Expression]) => WyHash64Expr(args)),
    // Doc-local dedup kernels: shingle_minhash(text, width, k) →
    // struct(shset, sz, mh); simhash64(text) → 16-hex fingerprint.
    // Width/k must be integer literals (they shape the kernel).
    (FunctionIdentifier("shingle_minhash"),
      new ExpressionInfo(classOf[ShingleMinhash].getName, "shingle_minhash"),
      (args: Seq[Expression]) => {
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"shingle_minhash: $name must be an integer literal, got $other")
        }
        require(args.length == 3, "shingle_minhash(text, width, k)")
        ShingleMinhash(args(0), intLit(args(1), "width"), intLit(args(2), "k"))
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(text)")
        SimHash64(args.head)
      }),
    // Theta sketch set algebra (build / union / intersect aggregates +
    // estimate / difference scalars) — the mergeable-sketch family with
    // INTERSECTION, which HLL lacks. lgK must be an integer literal.
    (FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2, "theta_sketch_agg(value[, lgK])")
        val lgK = if (args.length == 2) args(1) match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"theta_sketch_agg: lgK must be an integer literal, got $other")
        } else ThetaSketches.DefaultLgK
        ThetaSketchAgg(args.head, lgK).toAggregateExpression()
      }),
    (FunctionIdentifier("theta_union_agg"),
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "theta_union_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_union_agg(sketch)")
        ThetaUnionAgg(args.head).toAggregateExpression()
      }),
    (FunctionIdentifier("theta_intersect_agg"),
      new ExpressionInfo(classOf[ThetaIntersectAgg].getName, "theta_intersect_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_intersect_agg(sketch)")
        ThetaIntersectAgg(args.head).toAggregateExpression()
      }),
    (FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_estimate(sketch)")
        ThetaEstimate(args.head)
      }),
    (FunctionIdentifier("theta_difference"),
      new ExpressionInfo(classOf[ThetaDifference].getName, "theta_difference"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "theta_difference(a, b)")
        ThetaDifference(args(0), args(1))
      }),
    // KLL quantile sketch columns (build / merge aggregates + quantile
    // scalar) — storable, mergeable quantile state; k must be a literal.
    (FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2, "kll_sketch_agg(value[, k])")
        KllSketchAgg(args.head, intLitArg(args, 1, "k", QuantileSketches.DefaultK))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("kll_merge_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2, "kll_merge_agg(sketch[, k])")
        KllMergeAgg(args.head, intLitArg(args, 1, "k", QuantileSketches.DefaultK))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kll_quantile(sketch, q)")
        KllQuantile(args(0), args(1))
      }),
    // Frequent-items sketch columns (heavy hitters; string items).
    (FunctionIdentifier("freq_sketch_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "freq_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2, "freq_sketch_agg(item[, maxMapSize])")
        FreqSketchAgg(args.head, intLitArg(args, 1, "maxMapSize", FreqSketches.DefaultMaxMapSize))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("freq_merge_agg"),
      new ExpressionInfo(classOf[FreqMergeAgg].getName, "freq_merge_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2, "freq_merge_agg(sketch[, maxMapSize])")
        FreqMergeAgg(args.head, intLitArg(args, 1, "maxMapSize", FreqSketches.DefaultMaxMapSize))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[FreqItems].getName, "freq_items"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "freq_items(sketch)")
        FreqItems(args.head)
      }))

  private def intLitArg(args: Seq[Expression], idx: Int, name: String,
      default: Int): Int =
    if (args.length <= idx) default
    else args(idx) match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name must be an integer literal, got $other")
    }
}

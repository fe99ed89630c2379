package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, Decimal, IntegerType, LongType, NumericType,
  ShortType}

import org.apache.spark.sql.graft.{CmsEstimate, CmsMergeAgg, CmsSketchAgg, CosineSimilarity,
  DotProduct, JaroWinkler, L2Distance, PackSortedVarint, PackedIntersectSize, RankLimitRule,
  SortedIntersectSize, TDigestMergeAgg, TDigestQuantile, TDigestSketch, TopKPerKeyStrategy,
  UnpackSortedVarint}

/**
 * graft's SparkSessionExtensions — the analog of the reference's plugin entry point
 * (gazelle_plugin: native-sql-engine/core/src/main/scala/com/intel/oap/GazellePlugin.scala:1,
 * which injects ColumnarOverrides rules + strategy overrides to swap every physical operator
 * for a native one).
 *
 * graft deliberately injects much less: stock Catalyst/Tungsten already provides the
 * vectorized/codegen execution layer Gazelle was re-implementing, so the extensions are only
 * the genuinely missing pieces:
 *  - one planner strategy, for the bounded-heap top-k-per-key operator;
 *  - two optimizer rules: the rank-filter pre-limit and the materialized-view rewrite;
 *  - one AQE runtime-optimizer rule, [[SmallSortRule]], which runs a global sort over a
 *    measured input that fits one partition in one task, without a range exchange;
 *  - native expressions (vector math, string similarity, packed sets, sketches), so SQL
 *    text can call what the DataFrame API (graft.functions.VectorFunctions) calls. They
 *    come from one table, [[GraftExtensions.functions]]: each row is a function's name,
 *    its `DESCRIBE FUNCTION` info, the argument counts it takes and its builder. The
 *    registered builder checks the argument count, and the literal arguments of
 *    `tdigest_sketch` and `cms_sketch`, before it builds, so a bad call fails at analysis
 *    with an error that names the function and the argument.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator route: logical TopKPerKeyNode plans to partial/final bounded-heap execs
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    // plan-rewrite route: rank/row_number <= k filters run on the native pre-limit operator
    ext.injectOptimizerRule(_ => RankLimitRule)
    // materialized-view route: derivable aggregates over registered bases are rewritten
    // onto their (freshness-checked) pre-aggregated views
    ext.injectOptimizerRule(_ => MaterializedViews.MvRewriteRule)
    // runtime route: a global sort over a measured, one-partition-sized input drops its
    // range exchange and runs in one task
    ext.injectRuntimeOptimizerRule(_ => SmallSortRule)
    GraftExtensions.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.checked)))
  }
}

object GraftExtensions {

  /** A SQL function. `build` may assume the argument count is in `arity` and that each
    * argument at a key of `literals` is a literal of its kind, because SQL reaches it
    * only through [[checked]]. */
  private[graft] final case class SqlFunction(name: String, info: ExpressionInfo,
      arity: Seq[Int], literals: Map[Int, (String, Boolean)],
      build: Seq[Expression] => Expression) {

    /** Argument `i`, named `arg`, must be a literal integer (`integral`) or number. */
    def literal(i: Int, arg: String, integral: Boolean): SqlFunction =
      copy(literals = literals + (i -> (arg, integral)))

    /** The builder SQL calls: it checks the argument count and the literal arguments,
      * naming the function and the argument in the error, then builds. */
    def checked(args: Seq[Expression]): Expression = {
      if (!arity.contains(args.size)) throw new IllegalArgumentException(
        s"$name takes ${arity.mkString(" or ")} argument(s), got ${args.size}")
      for ((i, (arg, integral)) <- literals if i < args.size) {
        // foldable and dataType can throw on a not-yet-resolved child: not a literal either
        val ok = try args(i).foldable && args(i).eval() != null && (args(i).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _: NumericType => !integral
          case _ => false
        }) catch { case _: Exception => false }
        if (!ok) throw new IllegalArgumentException(
          s"$name: $arg must be a literal ${if (integral) "integer" else "number"}, got ${args(i)}")
      }
      build(args)
    }
  }

  private def fn[T <: Expression : ClassTag](name: String, arity: Int*)(
      build: Seq[Expression] => Expression): SqlFunction =
    SqlFunction(name, FunctionRegistryBase.expressionInfo[T](name, None), arity, Map.empty, build)

  /** The value of an argument [[SqlFunction.checked]] passed as a literal. */
  private def number(e: Expression): Double = e.eval() match {
    case d: Decimal => d.toDouble
    case n => n.asInstanceOf[Number].doubleValue()
  }

  /** The native functions SQL text can call. */
  private[graft] val functions: Seq[SqlFunction] = Seq(
    fn[CosineSimilarity]("cosine_similarity", 2)(a => CosineSimilarity(a(0), a(1))),
    fn[DotProduct]("dot_product", 2)(a => DotProduct(a(0), a(1))),
    fn[L2Distance]("l2_distance", 2)(a => L2Distance(a(0), a(1))),
    fn[SortedIntersectSize]("sorted_intersect_size", 2)(a => SortedIntersectSize(a(0), a(1))),
    fn[PackSortedVarint]("pack_sorted_varint", 1)(a => PackSortedVarint(a(0))),
    fn[PackedIntersectSize]("packed_intersect_size", 2)(a => PackedIntersectSize(a(0), a(1))),
    fn[UnpackSortedVarint]("unpack_sorted_varint", 1)(a => UnpackSortedVarint(a(0))),
    fn[JaroWinkler]("jaro_winkler", 2)(a => JaroWinkler(a(0), a(1))),
    // mergeable quantile sketch: build / merge aggregates + scalar read-out
    fn[TDigestSketch]("tdigest_sketch", 1, 2)(a =>
      if (a.size == 1) TDigestSketch(a(0)) else TDigestSketch(a(0), number(a(1))))
      .literal(1, "compression", integral = false),
    fn[TDigestMergeAgg]("tdigest_merge", 1)(a => TDigestMergeAgg(a(0))),
    fn[TDigestQuantile]("tdigest_quantile", 2)(a => TDigestQuantile(a(0), a(1))),
    // mergeable point-frequency sketch: build / merge aggregates + scalar read-out
    fn[CmsSketchAgg]("cms_sketch", 1, 3)(a =>
      if (a.size == 1) CmsSketchAgg(a(0))
      else CmsSketchAgg(a(0), number(a(1)).toInt, number(a(2)).toInt))
      .literal(1, "depth", integral = true).literal(2, "width", integral = true),
    fn[CmsMergeAgg]("cms_merge", 1)(a => CmsMergeAgg(a(0))),
    fn[CmsEstimate]("cms_estimate", 2)(a => CmsEstimate(a(0), a(1))))
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.Expression

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
 *  - native expressions (vector math, string similarity, packed sets, sketches), registered
 *    here so both the DataFrame API (graft.functions.VectorFunctions) and SQL text can use
 *    them.
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
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      FunctionRegistryBase.expressionInfo[CosineSimilarity]("cosine_similarity", None),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      FunctionRegistryBase.expressionInfo[DotProduct]("dot_product", None),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("l2_distance"),
      FunctionRegistryBase.expressionInfo[L2Distance]("l2_distance", None),
      (children: Seq[Expression]) => L2Distance(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      FunctionRegistryBase.expressionInfo[SortedIntersectSize]("sorted_intersect_size", None),
      (children: Seq[Expression]) => SortedIntersectSize(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("pack_sorted_varint"),
      FunctionRegistryBase.expressionInfo[PackSortedVarint]("pack_sorted_varint", None),
      (children: Seq[Expression]) => PackSortedVarint(children(0))))
    ext.injectFunction((
      FunctionIdentifier("packed_intersect_size"),
      FunctionRegistryBase.expressionInfo[PackedIntersectSize]("packed_intersect_size", None),
      (children: Seq[Expression]) => PackedIntersectSize(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("unpack_sorted_varint"),
      FunctionRegistryBase.expressionInfo[UnpackSortedVarint]("unpack_sorted_varint", None),
      (children: Seq[Expression]) => UnpackSortedVarint(children(0))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      FunctionRegistryBase.expressionInfo[JaroWinkler]("jaro_winkler", None),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))))
    // native mergeable quantile sketch: build / merge aggregates + scalar read-out
    ext.injectFunction((
      FunctionIdentifier("tdigest_sketch"),
      FunctionRegistryBase.expressionInfo[TDigestSketch]("tdigest_sketch", None),
      (children: Seq[Expression]) => children match {
        case Seq(v) => TDigestSketch(v)
        case Seq(v, c) =>
          TDigestSketch(v, c.eval().asInstanceOf[Number].doubleValue())
        case other => throw new IllegalArgumentException(
          s"tdigest_sketch takes (value[, compression]), got ${other.size} args")
      }))
    ext.injectFunction((
      FunctionIdentifier("tdigest_merge"),
      FunctionRegistryBase.expressionInfo[TDigestMergeAgg]("tdigest_merge", None),
      (children: Seq[Expression]) => TDigestMergeAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("tdigest_quantile"),
      FunctionRegistryBase.expressionInfo[TDigestQuantile]("tdigest_quantile", None),
      (children: Seq[Expression]) => TDigestQuantile(children(0), children(1))))
    // native mergeable point-frequency sketch: build / merge aggregates + scalar read-out
    ext.injectFunction((
      FunctionIdentifier("cms_sketch"),
      FunctionRegistryBase.expressionInfo[CmsSketchAgg]("cms_sketch", None),
      (children: Seq[Expression]) => children match {
        case Seq(v) => CmsSketchAgg(v)
        case Seq(v, d, w) =>
          // depth/width must be literal ints: a column reference here would surface as
          // an opaque NPE/ClassCastException from eval() at plan time. foldable itself
          // can throw on a not-yet-resolved child, so treat that as not-a-literal too.
          def lit(e: Expression, arg: String): Int = {
            val fold = try e.foldable catch { case _: Exception => false }
            if (!fold) throw new IllegalArgumentException(
              s"cms_sketch: $arg must be a literal integer, got $e")
            e.eval() match {
              case n: Number => n.intValue()
              case other => throw new IllegalArgumentException(
                s"cms_sketch: $arg must be a literal integer, got $other")
            }
          }
          CmsSketchAgg(v, lit(d, "depth"), lit(w, "width"))
        case other => throw new IllegalArgumentException(
          s"cms_sketch takes (value[, depth, width]), got ${other.size} args")
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_merge"),
      FunctionRegistryBase.expressionInfo[CmsMergeAgg]("cms_merge", None),
      (children: Seq[Expression]) => CmsMergeAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("cms_estimate"),
      FunctionRegistryBase.expressionInfo[CmsEstimate]("cms_estimate", None),
      (children: Seq[Expression]) => CmsEstimate(children(0), children(1))))
  }
}

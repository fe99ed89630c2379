package graft.tools

import graft.GraftSession

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.ReusedSubqueryExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/**
 * Plan lint: sweep EVERY SparkEntry query's executed plan for shapes that are fine at
 * test SF but wrong at 100 TB — unexpected cartesian products, and nested-loop joins
 * whose broadcast side can GROW with the data. A BroadcastNestedLoopJoin is NOT flagged
 * when its build side is provably bounded at any scale: the subtree aggregates with no
 * grouping keys (a 1-row totals/stats frame — Spark's lowering of
 * `crossJoin(broadcast(agg))`, constant-size at 100 TB). Everything else needs either a
 * fix or an entry in the allow-lists below with a written justification.
 * Run ad hoc after plan-affecting changes: `sbt "runMain graft.tools.PlanLint [sfDir]"`.
 */
object PlanLint {

  // queries whose plan is INTENTIONALLY the flagged shape (documented in their Scaladoc)
  private val allowCartesian = Set(
    "q_cross", // the CartesianProduct demonstration itself (dims only)
    "dedup_embedding_exact", // the O(n²) oracle twin, deliberately demoted
    "tpch_q15", "q_scalar_subquery", "tpch_q22", // 1-row scalar frame cross joins
    "q_math" // single-row aggregate
  )
  // BNLJ over a MULTI-row but bounded-by-construction broadcast frame: the non-stream
  // side's cardinality is fixed by the algorithm (query set, centroid count, class
  // count), not by the data volume — it broadcasts at ANY corpus size. The 1-row
  // scalar-frame case needs no entry here: it is proven from the plan itself.
  private val allowNestedLoop = Set(
    "q_join_nonequi", // the BNLJ demonstration
    "tpch_q19", // disjunctive-predicate join (BNLJ over broadcast part is the right plan)
    "q_cross", // crossJoin of two broadcastable dims plans as broadcast-NLJ
    "ann_bruteforce", // broadcast query set x corpus scan IS the brute-force design
    "ann_mmr", // MMR re-rank: bounded top-k candidate frame per query
    "dedup_embedding_exact", // the O(n²) oracle twin (crossJoin + filter lowers to BNLJ)
    "ann_quantized", "ann_rrf", // bounded query-set frames re-ranked per corpus row
    "dedup_semantic_fixed", // broadcast fixed-centroid frame
    "text_nb_lang", // class-cardinality totals frame (|languages| rows)
    // distributedCumSum's carry frame: a triangular non-equi self-join over the
    // one-row-PER-PARTITION totals (<= numRanges = 32 rows) — bounded by the
    // partitioning config, not the data (AnalyticsOps.distributedCumSum). q_rfm
    // rides the same carry frame three times (was masked by the pre-r9 lint's
    // any-descendant-aggregate loophole; the frame itself was always bounded).
    "q_abc", "q_concurrency", "q_ks_drift", "corpus_overlap_minhash", "q_rfm",
    // skyline phase 2: broadcast anti-join of the partition-pruned candidate
    // frontier against itself — quadratic only on ~O(frontier) survivors
    "q_skyline",
    // the derived DS star's inventory GENERATOR: a deliberate
    // calendar x warehouse x part grid (TpcdsRealQueries prefix); the broadcast
    // side is calendar-weeks x the <=10-row nation-derived warehouse dim —
    // bounded by the calendar span and dim caps, never by fact volume
    "tpcds_q21", "tpcds_q22", "tpcds_q22a", "tpcds_q39a", "tpcds_q39b",
    "tpcds_q72", "tpcds_q82"
  )

  /** Full traversal that descends through AQE stage/reuse wrappers and subqueries. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val through: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case r: ReusedSubqueryExec    => Seq(r.child)
      case _                        => p.children
    }
    p +: through.flatMap(walk)
  }

  /** True when the subtree's OUTPUT cardinality is DATA-INDEPENDENT, so broadcasting
    * it is never a scale risk. Structural, root-down — a bounding operator must
    * DOMINATE the output (sit between the root and every data-reading leaf), not
    * merely exist somewhere in the subtree (bigTable JOIN scalarAgg contains a global
    * aggregate, but its root output scales with bigTable):
    *  - a grouping-less (global) aggregate bounds everything below it to 1 row;
    *  - a global limit / top-N bounds everything below it to its literal k
    *    (LocalLimit does NOT: k rows PER PARTITION scales with the partition count);
    *  - leaves: LocalTableScan / Range are code-constant frames; file/table scans
    *    are the data itself;
    *  - every other operator is bounded only if ALL its inputs are (a join's output
    *    scales with either input; a union's with their sum). */
  private def boundedFrame(p: SparkPlan): Boolean = p match {
    // AQE / reuse wrappers: look through
    case a: AdaptiveSparkPlanExec => boundedFrame(a.executedPlan)
    case q: QueryStageExec        => boundedFrame(q.plan)
    case r: ReusedExchangeExec    => boundedFrame(r.child)
    case r: ReusedSubqueryExec    => boundedFrame(r.child)
    // bounding operators: cut off the subtree below
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec            => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec  => true
    case _: org.apache.spark.sql.execution.CollectLimitExec           => true
    // data-reading leaves: unbounded by definition
    case _: org.apache.spark.sql.execution.FileSourceScanExec            => false
    case _: org.apache.spark.sql.execution.RowDataSourceScanExec         => false
    case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec  => false
    // code-constant leaves: cardinality fixed by the program, not the data
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: org.apache.spark.sql.execution.RangeExec          => true
    // Generate MULTIPLIES: a bounded input does not bound the output —
    // explode(collect_list(x)) above a global aggregate is 1 row in,
    // data-cardinality rows out. Bounded only when the generator expands
    // LITERALS (explode(sequence(DATE…, DATE…)): the calendar frame), where the
    // fan-out per row is fixed by the program; attribute-fed generators are
    // unbounded no matter how bounded the input frame is.
    case g: org.apache.spark.sql.execution.GenerateExec =>
      g.generator.children.forall(_.foldable) && g.children.forall(boundedFrame)
    // everything else (joins, unions, projects, grouped aggregates, generates…):
    // output is bounded only when every input is; unknown LEAVES stay conservative
    case other => other.children.nonEmpty && other.children.forall(boundedFrame)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get("local[8]", 8)
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        // execute the df's OWN QueryExecution so AQE finalizes THIS plan (a noop write
        // would run a separate QE and leave df's executedPlan at isFinalPlan=false)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        val plan = df.queryExecution.executedPlan
        val planStr = plan.toString
        val nodes = walk(plan)
        // The BUILD side is what gets broadcast: an unbounded build side is a scale
        // killer no matter how small the stream side is (the advice round-8 case:
        // broadcasting an unbounded frame while streaming a bounded one passed).
        val riskyBnlj = nodes.collect {
          case b: BroadcastNestedLoopJoinExec
            if !boundedFrame(b.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
              case _                                                 => b.right
            }) => b
        }
        val issues = Seq(
          (planStr.contains("CartesianProduct") && !allowCartesian(name)) ->
            "unexpected CartesianProduct",
          (riskyBnlj.nonEmpty && !allowNestedLoop(name)) ->
            "BroadcastNestedLoopJoin with an unbounded (non-scalar-frame) side"
        ).collect { case (true, msg) => msg }
        if (issues.nonEmpty) {
          flagged += 1
          println(s"[planlint] FLAG $name: ${issues.mkString("; ")}")
        }
      } catch {
        case e: Throwable =>
          flagged += 1
          val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
            .getOrElse(e.getClass.getName)
          println(s"[planlint] ERROR $name: $msg")
      }
    }
    println(s"[planlint] done: $flagged flagged of ${graft.SparkEntry.queries.size}")
    spark.stop()
  }
}

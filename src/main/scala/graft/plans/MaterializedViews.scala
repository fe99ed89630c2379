package graft.plans

import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Coalesce,
  Divide, EqualTo, Expression, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average,
  Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.TableIO

/**
 * Materialized aggregate views with AUTOMATIC query rewrite — the Calcite/BigQuery/
 * Snowflake MV behavior self-hosted on parquet and a Catalyst optimizer rule: a
 * registered view pre-aggregates (cnt, and per value column cnt_/sum_/min_/max_) by
 * its group columns; any later `base.groupBy(G).agg(...)` whose G is a SUBSET of the
 * view's group columns and whose aggregates are derivable (sum = sum of partial sums,
 * count(*) = sum of partial counts, count(col) = sum of partial non-null counts,
 * min/max = min/max of partials, avg = Σsum_col/Σcnt_col — the per-COLUMN non-null
 * count, so NULL-bearing value columns average correctly) is rewritten to scan the
 * KB-to-MB-scale view instead of the full base table — transparently, preserving
 * output names, exprIds and types exactly.
 *
 * VALUE determinism caveat (the one place "exactly" is bit-qualified): rewriting
 * `sum(double)`/`avg(double)` re-associates floating-point addition (partial sums are
 * added in view-row order, not base-row order), so a rewritten double aggregate can
 * differ from the base scan in the last ULP — the same contract every industrial MV
 * engine ships. Integer/long aggregates are bit-identical; decimal inputs are
 * excluded outright (partial-sum precision widening would change the result TYPE).
 *
 * STALENESS IS A CORRECTNESS GATE, not advisory: [[create]] records the digest of the
 * listing its own base read made — `TableIO.listingDigest`, graft's one freshness rule
 * (path, length, mtime of every file the read listed; the listing is recursive, so a
 * new `part=…/` partition of a hive-partitioned base changes it). The rule rewrites a
 * scan only when that scan's relation listed exactly those files, and otherwise leaves
 * the base scan in place. A rewrite therefore answers for exactly the files the
 * unrewritten plan would scan — a frame read before an append and a refresh keeps its
 * own rows — and the decision makes no listing of its own. [[ResultCache]] and
 * `sources.StarCache` key on the same digest.
 *
 * Scope guards (bail -> no rewrite, never a wrong plan): a filter between the
 * aggregate and the scan rewrites ONLY when it references group columns exclusively
 * (value-uniform within a fine group, so filtering view rows filters exactly the
 * same base rows); no distinct aggregates, no decimal inputs, and the rewritten
 * plan's schema must equal the original's exactly — checked, not assumed.
 *
 * REGISTRATIONS PERSIST: `create` writes the definition (base path, group/value
 * columns) to `_mv_def` next to the view data; a NEW session re-enables the rewrite
 * with `attach(spark, mvPath)` — one call, no re-materialization (the staleness gate
 * still applies, so an attach over a changed base, or of a view stamped by an older
 * binary, simply never rewrites until `refresh`). The in-memory registry itself is
 * process-local by design: an optimizer rule consulting remote state on every plan
 * would be a scale bug, not a feature.
 *
 * Scale: this is the 100 TB pattern where it matters most — a dashboard aggregate
 * over an append-mostly fact table runs against gigabytes of view instead of the
 * full scan, and the rewrite decision costs a digest of the listing the query's own
 * read already made.
 */
object MaterializedViews {

  /** Registered view: base path -> (view path, group cols, value cols, the listing
    * digest of the base read the view was built from). */
  private case class MvDef(mvPath: String, groupCols: Seq[String], valueCols: Seq[String],
      listing: String)

  private val registry = TrieMap.empty[String, MvDef]

  private def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  private def metaPath(mvPath: String) = new Path(s"$mvPath/_mv_meta")
  private def defPath(mvPath: String) = new Path(s"$mvPath/_mv_def")

  private def writeFile(spark: SparkSession, p: Path, content: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readFile(spark: SparkSession, p: Path): String = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  /**
   * Materialize (or re-materialize) the view: one partial-aggregate pass over the base
   * producing `cnt` + `cnt_/sum_/min_/max_<col>` per group, then register it for
   * rewrite and persist the definition next to the view data.
   */
  def create(spark: SparkSession, basePath: String, mvPath: String,
      groupCols: Seq[String], valueCols: Seq[String]): Unit = {
    // deregister during the build: the build's own aggregate must scan the BASE, never
    // the view it is about to overwrite (read-your-own-overwrite would race the job)
    registry.remove(norm(basePath))
    val base = TableIO.parquet(spark, basePath)
    // the stamp is the listing this very read made: the aggregate below scans exactly
    // those files, so a write landing after the read can never be stamped as included
    val listing = TableIO.listingOf(base)
      .getOrElse(throw new IllegalArgumentException(s"$basePath has no file listing"))
    val aggs = count(lit(1)).as("cnt") +: valueCols.flatMap(c => Seq(
      count(col(c)).as(s"cnt_$c"), // per-column NON-NULL count: avg's true divisor
      sum(col(c)).as(s"sum_$c"), min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    writeFile(spark, metaPath(mvPath), listing)
    // persisted definition: one line per field, tab-joined column lists
    writeFile(spark, defPath(mvPath), Seq(norm(basePath),
      groupCols.mkString("\t"), valueCols.mkString("\t")).mkString("\n"))
    registry.put(norm(basePath), MvDef(mvPath, groupCols, valueCols, listing))
  }

  /** Re-enable the rewrite in a NEW session from the definition [[create]] persisted
    * at `mvPath` — no re-materialization; staleness is still re-checked per query. */
  def attach(spark: SparkSession, mvPath: String): Unit = {
    val lines = readFile(spark, defPath(mvPath)).split("\n", -1).toSeq
    require(lines.length == 3, s"malformed _mv_def at $mvPath")
    val split = (s: String) => if (s.isEmpty) Seq.empty[String] else s.split("\t").toSeq
    registry.put(lines(0), MvDef(mvPath, split(lines(1)), split(lines(2)),
      readFile(spark, metaPath(mvPath)))): Unit
  }

  /** Alias of [[create]] — re-materializes after base changes. */
  def refresh(spark: SparkSession, basePath: String): Unit = {
    val d = registry.getOrElse(norm(basePath),
      throw new IllegalArgumentException(s"no MV registered for $basePath"))
    create(spark, norm(basePath), d.mvPath, d.groupCols, d.valueCols)
  }

  /** Drop a registration (the files stay; only the rewrite stops). */
  def deregister(basePath: String): Unit = registry.remove(norm(basePath)): Unit

  // ------------------------------------------------------------------ the rule

  /** Optimizer rule: rewrite derivable aggregates over registered bases onto their
    * fresh materialized views. Injected via [[GraftExtensions]]. */
  object MvRewriteRule extends Rule[LogicalPlan] {

    private def pathOf(plan: LogicalPlan): Option[(String, LogicalPlan)] = plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(p => norm(p.toString)).distinct match {
          case Seq(single) if registry.contains(single) => Some((single, plan))
          case _ => None
        }
      case _ => None
    }

    private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[Attribute]) => stripProjects(c)
      case o => o
    }

    /** Match `[Project?] [Filter?] [Project?] scan-of-registered-base`, returning the
      * base path, the scan and the (optional) filter condition. A filter is rewritable
      * only if it references GROUP columns exclusively — every row of a fine group
      * shares those values, so filtering the view's group rows filters exactly the same
      * base rows — and is deterministic. */
    private def basePathOf(plan: LogicalPlan)
        : Option[(String, LogicalPlan, Option[Expression])] =
      stripProjects(plan) match {
        case Filter(cond, c) =>
          pathOf(stripProjects(c)).map { case (p, scan) => (p, scan, Some(cond)) }
        case other => pathOf(other).map { case (p, scan) => (p, scan, None) }
      }

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty) plan
      else plan.transformUp {
        case agg @ Aggregate(_, _, child, _) =>
          basePathOf(child).flatMap { case (base, scan, cond) =>
            // Bail, never a wrong plan OR a broken one: any defect in the view's
            // on-disk state (data deleted under a surviving _mv_meta, an attach()ed
            // _mv_def whose columns disagree with the actual view schema) must fall
            // back to the base scan, not fail the user's query inside the optimizer.
            try tryRewrite(agg, scan, cond, registry(base))
            catch { case scala.util.control.NonFatal(_) => None }
          }.getOrElse(agg)
      }

    private def tryRewrite(agg: Aggregate, scan: LogicalPlan, cond: Option[Expression],
        d: MvDef): Option[Aggregate] = {
      val spark = SparkSession.active
      // grouping must be plain columns forming a subset of the view's group columns
      val groupAttrs = agg.groupingExpressions.map {
        case a: Attribute => a
        case _ => return None
      }
      if (!groupAttrs.forall(a => d.groupCols.contains(a.name))) return None
      // a filter must touch only group columns (value-uniform within a fine group)
      cond.foreach { c =>
        if (!c.deterministic) return None
        if (!c.references.forall(a => d.groupCols.contains(a.name))) return None
      }
      // the view answers only for the files this scan listed: a stale view never answers
      if (!TableIO.listingDigest(scan).contains(d.listing)) return None

      val mvPlan = TableIO.parquet(spark, d.mvPath).queryExecution.analyzed
      val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
      // older views (pre cnt_<col>) lack the avg/count(col) divisor columns; the
      // attr lookup bails those rewrites rather than failing analysis
      def mv(name: String): Attribute = mvAttr(name)
      def reAgg(f: Expression): Expression = AggregateExpression(
        f.asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction],
        Complete, isDistinct = false)

      def rewriteNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
        case a: Attribute if d.groupCols.contains(a.name) =>
          Some(Alias(mv(a.name), a.name)(exprId = a.exprId))
        case al @ Alias(AggregateExpression(fn, _, false, _, _), name) =>
          val rewritten: Option[Expression] = fn match {
            case Sum(x: Attribute, _) if d.valueCols.contains(x.name) &&
                !x.dataType.isInstanceOf[DecimalType] =>
              Some(reAgg(Sum(mv(s"sum_${x.name}"))))
            case Min(x: Attribute) if d.valueCols.contains(x.name) =>
              Some(reAgg(Min(mv(s"min_${x.name}"))))
            case Max(x: Attribute) if d.valueCols.contains(x.name) =>
              Some(reAgg(Max(mv(s"max_${x.name}"))))
            case Count(Seq(Literal(1, _))) =>
              // count(*): sum of partial counts; Coalesce keeps the non-null type
              Some(Coalesce(Seq(reAgg(Sum(mv("cnt"))), Literal(0L))))
            case Count(Seq(x: Attribute)) if d.valueCols.contains(x.name) &&
                mvAttr.contains(s"cnt_${x.name}") =>
              // count(col): sum of partial NON-NULL counts
              Some(Coalesce(Seq(reAgg(Sum(mv(s"cnt_${x.name}"))), Literal(0L))))
            case Average(x: Attribute, _) if d.valueCols.contains(x.name) &&
                al.dataType == DoubleType && mvAttr.contains(s"cnt_${x.name}") =>
              // avg ignores NULLs: divide by the per-COLUMN non-null count, and
              // return NULL (not 0/0 = NaN) for an all-NULL group, exactly as the
              // base-scan Average does
              val sumCnt = reAgg(Sum(mv(s"cnt_${x.name}")))
              Some(If(EqualTo(Coalesce(Seq(sumCnt, Literal(0L))), Literal(0L)),
                Literal(null, DoubleType),
                Divide(
                  Cast(reAgg(Sum(mv(s"sum_${x.name}"))), DoubleType),
                  Cast(sumCnt, DoubleType))))
            case _ => None
          }
          rewritten.map(e => Alias(e, name)(exprId = al.exprId))
        case _ => None
      }

      val newAggExprs = agg.aggregateExpressions.map(ne => rewriteNamed(ne) match {
        case Some(r) => r
        case None => return None // any non-derivable output bails the whole rewrite
      })
      val newGrouping = groupAttrs.map(a => mv(a.name))
      val newChild = cond match {
        case Some(c) =>
          Filter(c.transform { case a: Attribute => mv(a.name) }, mvPlan)
        case None => mvPlan
      }
      val newAgg = Aggregate(newGrouping, newAggExprs, newChild, None)
      // hard guard: the rewritten plan must expose the IDENTICAL schema
      val same = newAgg.schema.fields.map(f => (f.name, f.dataType))
        .sameElements(agg.schema.fields.map(f => (f.name, f.dataType)))
      if (same) Some(newAgg) else None
    }
  }

  /** Convenience: run `df`'s aggregate with the rewrite visible in this session
    * (the rule is always injected; this just documents the entry point). */
  def explainRewrite(df: DataFrame): String = df.queryExecution.optimizedPlan.toString
}

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
 * STALENESS IS A CORRECTNESS GATE, not advisory: the view records the base's file
 * inventory (count, max mtime, total bytes over a RECURSIVE listing — so
 * hive-partitioned bases with files under `part=…/` subdirectories are stamped by
 * their leaf data files, and appending a new partition changes the stamp) at
 * materialization; the rule re-checks that inventory before every rewrite and
 * silently falls back to the base scan when the base has changed. A stale view can
 * therefore never serve a wrong answer — the same contract as [[ResultCache]],
 * enforced the same way (file-inventory comparison, driver-side, metadata-class cost).
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
 * still applies, so an attach over a changed base simply never rewrites until
 * `refresh`). The in-memory registry itself is process-local by design: an optimizer
 * rule consulting remote state on every plan would be a scale bug, not a feature.
 *
 * Scale: this is the 100 TB pattern where it matters most — a dashboard aggregate
 * over an append-mostly fact table runs against gigabytes of view instead of the
 * full scan, and the rewrite decision costs one driver file listing.
 */
object MaterializedViews {

  /** Registered view: base path -> (view path, group cols, value cols). */
  private case class MvDef(mvPath: String, groupCols: Seq[String], valueCols: Seq[String])

  private val registry = TrieMap.empty[String, MvDef]

  private def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  /** Base-table inventory stamp: (n files, max mtime, total bytes) over a RECURSIVE
    * listing — any append, overwrite, delete, or new/changed PARTITION changes it.
    * (A non-recursive listing would see only directories under a hive-partitioned
    * root and stamp every state identically — defeating the staleness gate for
    * exactly the layout a 100 TB fact table uses.)
    *
    * Cost control: the listing is O(files in the base) per call. By default every
    * rewrite decision re-lists (strict freshness). On a very large base set
    * `spark.graft.mv.stampTtlMs` to a small positive value to reuse a stamp for that
    * many milliseconds — bounded staleness ≤ TTL, the standard trade metadata caches
    * make; [[create]]/[[refresh]] invalidate the cache for their base uncondition-
    * ally, so the engine's own re-materializations are always seen immediately. */
  private val stampCache = TrieMap.empty[String, (Long, String)]

  private def cachedStamp(spark: SparkSession, basePath: String): String = {
    val ttl = spark.conf.getOption("spark.graft.mv.stampTtlMs").map(_.toLong).getOrElse(0L)
    if (ttl <= 0L) stamp(spark, basePath)
    else {
      val now = System.currentTimeMillis()
      stampCache.get(basePath) match {
        case Some((at, s)) if now - at < ttl => s
        case _ =>
          val s = stamp(spark, basePath)
          stampCache.put(basePath, (now, s))
          s
      }
    }
  }

  private def stamp(spark: SparkSession, basePath: String): String = {
    val p = new Path(basePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0L; var maxM = 0L; var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        n += 1
        if (st.getModificationTime > maxM) maxM = st.getModificationTime
        bytes += st.getLen
      }
    }
    s"$n:$maxM:$bytes"
  }

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
    val base = spark.read.parquet(basePath)
    val aggs = count(lit(1)).as("cnt") +: valueCols.flatMap(c => Seq(
      count(col(c)).as(s"cnt_$c"), // per-column NON-NULL count: avg's true divisor
      sum(col(c)).as(s"sum_$c"), min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    writeFile(spark, metaPath(mvPath), stamp(spark, basePath))
    // persisted definition: one line per field, tab-joined column lists
    writeFile(spark, defPath(mvPath), Seq(norm(basePath),
      groupCols.mkString("\t"), valueCols.mkString("\t")).mkString("\n"))
    stampCache.remove(norm(basePath))
    registry.put(norm(basePath), MvDef(mvPath, groupCols, valueCols))
  }

  /** Re-enable the rewrite in a NEW session from the definition [[create]] persisted
    * at `mvPath` — no re-materialization; staleness is still re-checked per query. */
  def attach(spark: SparkSession, mvPath: String): Unit = {
    val lines = readFile(spark, defPath(mvPath)).split("\n", -1).toSeq
    require(lines.length == 3, s"malformed _mv_def at $mvPath")
    val split = (s: String) => if (s.isEmpty) Seq.empty[String] else s.split("\t").toSeq
    registry.put(lines(0), MvDef(mvPath, split(lines(1)), split(lines(2)))): Unit
  }

  /** Alias of [[create]] — re-materializes after base changes. */
  def refresh(spark: SparkSession, basePath: String): Unit = {
    val d = registry.getOrElse(norm(basePath),
      throw new IllegalArgumentException(s"no MV registered for $basePath"))
    create(spark, norm(basePath), d.mvPath, d.groupCols, d.valueCols)
  }

  /** Drop a registration (the files stay; only the rewrite stops). */
  def deregister(basePath: String): Unit = registry.remove(norm(basePath)): Unit

  private def fresh(spark: SparkSession, basePath: String, d: MvDef): Boolean =
    try readFile(spark, metaPath(d.mvPath)) == cachedStamp(spark, basePath)
    catch { case scala.util.control.NonFatal(_) => false }

  // ------------------------------------------------------------------ the rule

  /** Optimizer rule: rewrite derivable aggregates over registered bases onto their
    * fresh materialized views. Injected via [[GraftExtensions]]. */
  object MvRewriteRule extends Rule[LogicalPlan] {

    private def pathOf(plan: LogicalPlan): Option[String] = plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(p => norm(p.toString)).distinct match {
          case Seq(single) if registry.contains(single) => Some(single)
          case _ => None
        }
      case _ => None
    }

    private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[Attribute]) => stripProjects(c)
      case o => o
    }

    /** Match `[Project?] [Filter?] [Project?] scan-of-registered-base`, returning the
      * base path and the (optional) filter condition. A filter is rewritable only if
      * it references GROUP columns exclusively — every row of a fine group shares
      * those values, so filtering the view's group rows filters exactly the same base
      * rows — and is deterministic. */
    private def basePathOf(plan: LogicalPlan): Option[(String, Option[Expression])] =
      stripProjects(plan) match {
        case Filter(cond, c) => pathOf(stripProjects(c)).map(p => (p, Some(cond)))
        case other => pathOf(other).map(p => (p, None))
      }

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty) plan
      else plan.transformUp {
        case agg @ Aggregate(_, _, child, _) =>
          basePathOf(child).flatMap { case (base, cond) =>
            // Bail, never a wrong plan OR a broken one: any defect in the view's
            // on-disk state (data deleted under a surviving _mv_meta, an attach()ed
            // _mv_def whose columns disagree with the actual view schema) must fall
            // back to the base scan, not fail the user's query inside the optimizer.
            try tryRewrite(agg, base, cond, registry(base))
            catch { case scala.util.control.NonFatal(_) => None }
          }.getOrElse(agg)
      }

    private def tryRewrite(agg: Aggregate, basePath: String, cond: Option[Expression],
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
      if (!fresh(spark, basePath, d)) return None // stale view must never answer

      val mvPlan = graft.sources.TableIO.parquet(spark, d.mvPath).queryExecution.analyzed
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

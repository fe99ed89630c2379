package graft

import scala.util.Random

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, NullsFirst, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Frames
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO

/** `SmallSortRule`: a global sort over a measured input that fits one partition runs in
  * one task, with the same rows in the same order; past its gate it keeps its range
  * exchange. */
class SmallSortSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def compareKey(o: SortOrder)(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => if (o.nullOrdering == NullsFirst) -1 else 1
    case (_, null) => if (o.nullOrdering == NullsFirst) 1 else -1
    case _ =>
      val c = x.asInstanceOf[Comparable[Any]].compareTo(y)
      if (o.direction == Ascending) c else -c
  }

  /** Collects `df`, whose analyzed plan holds one global sort over output columns, and
    * checks it returns the rows of its unsorted plan in the order a plain-Scala sort of
    * them gives: the same key sequence (tied rows may come in any order) and the same
    * rows. Returns the plan that ran: AQE's final plan, or the static one with AQE off. */
  private def collectSorted(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val sorts = plan.collect { case s: Sort if s.global => s }
    assert(sorts.size == 1, s"expected one global sort in\n$plan")
    val keys = sorts.head.order.map { o =>
      val i = plan.output.indexWhere(_.exprId == o.child.asInstanceOf[Attribute].exprId)
      assert(i >= 0, s"sort key ${o.child} is not an output column")
      (i, o)
    }
    val unsorted = Frames.ofPlan(spark, plan.transform { case s: Sort if s.global => s.child })
      .collect().toSeq
    val expected = unsorted.sortWith { (a, b) =>
      keys.iterator.map { case (i, o) => compareKey(o)(a.get(i), b.get(i)) }
        .find(_ != 0).exists(_ < 0)
    }
    val got = df.collect().toSeq
    def keyRows(rows: Seq[Row]) = rows.map(r => keys.map { case (i, _) => r.get(i) })
    assert(keyRows(got) == keyRows(expected), "rows come back out of order")
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      expected.groupBy(identity).view.mapValues(_.size).toMap, "the sorted rows differ")
    assert(got.nonEmpty)
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def hasRangeExchange(plan: String) = plan.toLowerCase.contains("rangepartitioning")

  private val queries = Seq("tpch_q1", "tpch_q5", "ssb_q2_1")

  test("tpch_q1, tpch_q5 and ssb_q2_1 sort in one task: plain-Scala order, no range exchange") {
    for (name <- queries) {
      val plan = collectSorted(SparkEntry.queries(name)(spark, sf))
      assert(!hasRangeExchange(plan), s"$name still plans a range exchange:\n$plan")
      // AQE drops the sort of a one-row result (tpch_q5 at this scale) altogether
      assert(!plan.contains("Sort [") || plan.contains("Coalesce 1"),
        s"$name does not sort in one task:\n$plan")
    }
  }

  test("a seeded frame with ties, nulls, desc and nulls_last keys sorts in one task") {
    import spark.implicits._
    val rnd = new Random(17)
    val rows = (0 until 400).map { id =>
      (id.toLong,
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(5)),
        if (rnd.nextInt(7) == 0) None else Some(s"s${rnd.nextInt(4)}"),
        rnd.nextInt(3) * 0.5)
    }
    // the shuffle makes the sort's input a measured query stage
    val df = rows.toDF("id", "a", "b", "c").repartition(3)
      .orderBy(col("a").desc, col("b").asc_nulls_last, col("c").desc_nulls_first)
    val plan = collectSorted(df)
    assert(!hasRangeExchange(plan), s"the seeded sort still plans a range exchange:\n$plan")
  }

  test("tpch_q1, tpch_q5 and ssb_q2_1 each start a fixed number of jobs on collect") {
    val got = queries.map { name =>
      val df = SparkEntry.queries(name)(spark, sf) // built, and its star warmed, outside the count
      name -> JobCounter.count(spark.sparkContext)(df.collect())
    }.toMap
    // with a range exchange (tpch_q1 4, ssb_q2_1 11) its sampling job and its map stage
    // ran too; tpch_q5's one-row result is not sorted at all, so its count stays
    assert(got == Map("tpch_q1" -> 2, "tpch_q5" -> 7, "ssb_q2_1" -> 9), s"jobs: $got")
  }

  test("past the gate the sort keeps its range exchange and still sorts") {
    val plan = withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      collectSorted(SparkEntry.queries("tpch_q1")(spark, sf))
    }
    assert(hasRangeExchange(plan), s"a sort past the gate lost its range exchange:\n$plan")
  }

  test("a sort directly over a file scan keeps its range exchange") {
    val df = TableIO.nation(spark, sf).select("n_name", "n_regionkey")
      .orderBy(col("n_regionkey").desc, col("n_name"))
    val plan = collectSorted(df)
    assert(hasRangeExchange(plan), s"a sort over a scan lost its range exchange:\n$plan")
    assert(!plan.contains("Coalesce 1"), s"a sort over its own range stage was rewritten:\n$plan")
  }

  test("with AQE off the sort keeps its range exchange") {
    val plan = withConf("spark.sql.adaptive.enabled", "false") {
      collectSorted(SparkEntry.queries("tpch_q1")(spark, sf))
    }
    assert(hasRangeExchange(plan), s"a sort without AQE lost its range exchange:\n$plan")
  }
}

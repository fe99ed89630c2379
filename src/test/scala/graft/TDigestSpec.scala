package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{tdigestMerge, tdigestQuantile, tdigestSketch}

/** Native t-digest aggregate: rank-error bounds vs exact order statistics, merge
  * consistency, SQL registration, degenerate inputs. */
class TDigestSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  /** Fraction of values strictly below est — the rank the estimate actually lands at. */
  private def rankOf(sorted: Array[Double], est: Double): Double = {
    val below = sorted.count(_ < est)
    below.toDouble / sorted.length
  }

  // deterministic skewed data: exp-ish tail via x^3 growth, plus heavy duplication
  private val values: Array[Double] =
    (0 until 20000).map { i => val u = (i * 2654435761L % 20000) / 20000.0; u * u * u * 1000 }
      .toArray
  private lazy val sorted = values.sorted

  test("quantile estimates land within 2% rank error across the range, 0.5% at the tails") {
    val df = values.toSeq.toDF("v").repartition(8)
    val sk = df.agg(tdigestSketch(col("v")).as("sk"))
    val qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99, 0.999)
    val row = sk.select(qs.map(q => tdigestQuantile(col("sk"), lit(q)).as(s"q$q")): _*)
      .head()
    qs.zipWithIndex.foreach { case (q, i) =>
      val err = math.abs(rankOf(sorted, row.getDouble(i)) - q)
      val bound = if (q <= 0.01 || q >= 0.99) 0.005 else 0.02
      assert(err <= bound, s"q=$q est=${row.getDouble(i)} rank err $err > $bound")
    }
  }

  test("merged per-chunk sketches answer like a direct sketch (rollup serving)") {
    val df = values.toSeq.zipWithIndex.map { case (v, i) => (i % 4, v) }.toDF("part", "v")
    val perPart = df.groupBy(col("part")).agg(tdigestSketch(col("v")).as("sk"))
    val merged = perPart.agg(tdigestMerge(col("sk")).as("sk"))
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val row = merged.select(qs.map(q => tdigestQuantile(col("sk"), lit(q)).as(s"q$q")): _*)
      .head()
    qs.zipWithIndex.foreach { case (q, i) =>
      val err = math.abs(rankOf(sorted, row.getDouble(i)) - q)
      assert(err <= 0.02, s"merged q=$q rank err $err")
    }
  }

  test("tdigest functions are SQL-registered (extension injection)") {
    values.take(1000).toSeq.toDF("v").createOrReplaceTempView("td_vals")
    val med = spark.sql(
      "SELECT tdigest_quantile(tdigest_sketch(v), 0.5d) AS m FROM td_vals").head().getDouble(0)
    val exact = values.take(1000).sorted.apply(500)
    assert(math.abs(rankOf(values.take(1000).sorted, med) - 0.5) < 0.03,
      s"SQL median $med vs exact-ish $exact")
    val merged = spark.sql(
      """SELECT tdigest_quantile(tdigest_merge(sk), 0.9d) FROM
        |  (SELECT v % 7 AS g, tdigest_sketch(v, 200.0d) AS sk FROM td_vals GROUP BY 1)
        |""".stripMargin).head().getDouble(0)
    assert(!merged.isNaN)
  }

  test("tdigest_sketch refuses a column or a NULL compression, naming the argument") {
    Seq((1.0, 100.0), (2.0, 50.0)).toDF("v", "c").createOrReplaceTempView("td_args")
    for (compression <- Seq("c", "NULL", "CAST(NULL AS DOUBLE)")) {
      val e = intercept[Exception](
        spark.sql(s"SELECT tdigest_sketch(v, $compression) FROM td_args").collect())
      assert(e.getMessage.contains("tdigest_sketch: compression must be a literal number"),
        s"$compression: ${e.getMessage}")
    }
    val e = intercept[Exception](spark.sql("SELECT tdigest_sketch(v, 100, 1) FROM td_args").collect())
    assert(e.getMessage.contains("tdigest_sketch takes 1 or 2 argument(s), got 3"), e.getMessage)
    // a decimal literal is a number too
    assert(spark.sql("SELECT tdigest_quantile(tdigest_sketch(v, 200.0), 0.5d) FROM td_args")
      .head().getDouble(0) == 1.5)
    spark.catalog.dropTempView("td_args")
  }

  test("degenerate inputs: single value, constant column, empty input") {
    val one = Seq(42.0).toDF("v").agg(tdigestQuantile(tdigestSketch(col("v")), lit(0.9)))
      .head().getDouble(0)
    assert(one === 42.0)
    val const = Seq.fill(500)(7.0).toDF("v")
      .agg(tdigestQuantile(tdigestSketch(col("v")), lit(0.01))).head().getDouble(0)
    assert(const === 7.0)
    val empty = Seq.empty[Double].toDF("v")
      .agg(tdigestQuantile(tdigestSketch(col("v")), lit(0.5))).head().getDouble(0)
    assert(empty.isNaN, "empty sketch reads NaN, not a crash")
    // decimal runtime class is not java.lang.Number — the update path must convert it
    val dec = Seq("1.5", "2.5", "3.5").toDF("s")
      .selectExpr("CAST(s AS DECIMAL(10,2)) AS v")
      .agg(tdigestQuantile(tdigestSketch(col("v")), lit(0.5))).head().getDouble(0)
    assert(dec === 2.5, s"decimal input median: $dec")
  }

  test("q_tdigest serves per-source and merged-global rows") {
    val rows = graft.pipeline.Profiling.qTdigest(spark, SparkTestBase.sf).collect()
    assert(rows.length > 1 && rows.exists(_.getString(0) == "__all__"))
    rows.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3),
        s"p50<=p95<=p99 must hold: $r")
    }
  }
}

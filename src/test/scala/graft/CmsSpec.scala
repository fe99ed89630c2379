package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cmsEstimate, cmsMerge, cmsSketch}

/** Native count-min sketch aggregate: one-sided guarantee vs exact counts, εN error
  * bound, split-merge identity, SQL registration, degenerate inputs. */
class CmsSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  // deterministic Zipf-ish stream: item k appears ~N/k times, 400 distinct items
  private val items: Seq[String] =
    (1 to 400).flatMap(k => Seq.fill(2000 / k)(s"item_$k"))
  private lazy val exact: Map[String, Long] =
    items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("estimates are one-sided (est >= exact for EVERY item) and within εN") {
    val df = items.toDF("tok").repartition(8)
    val sk = df.agg(cmsSketch(col("tok"), depth = 5, width = 256).as("sk"))
    val probes = exact.keys.toSeq.sorted
    val row = sk.select(probes.map(p => cmsEstimate(col("sk"), lit(p)).as(p)): _*).head()
    val n = items.size.toLong
    val epsN = math.ceil(math.E / 256 * n).toLong // ε = e/width
    // one-sidedness is a THEOREM (est >= exact always); the εN bound is per-item
    // probabilistic (holds with prob >= 1−δ, δ = e^−5 ≈ 0.0067, so ~2.7 expected
    // misses over 400 probes) — assert it for >= 99% of probes, not each one, so the
    // test isn't pinned to this exact corpus/width/seed combination
    var withinEps = 0
    probes.zipWithIndex.foreach { case (p, i) =>
      val est = row.getLong(i)
      assert(est >= exact(p), s"$p: est $est < exact ${exact(p)} — one-sided bound broken")
      if (est <= exact(p) + epsN) withinEps += 1
    }
    assert(withinEps >= (probes.size * 0.99).toInt,
      s"εN bound held for only $withinEps/${probes.size} probes (expect >= 99%)")
  }

  test("degenerate shapes fail at build time with a clear message") {
    val ex = intercept[IllegalArgumentException] {
      cmsSketch(col("tok"), depth = 0, width = 0)
    }
    assert(ex.getMessage.contains("depth > 0 and width > 0"))
    // SQL front door: non-literal depth/width is rejected at registration, not as an NPE
    val ex2 = intercept[Exception] {
      Seq("a").toDF("tok").createOrReplaceTempView("cms_bad")
      spark.sql("SELECT cms_sketch(tok, length(tok), 64) FROM cms_bad").collect()
    }
    assert(ex2.getMessage.contains("literal integer"))
    spark.catalog.dropTempView("cms_bad")
  }

  test("SQL front door: a bad cms_sketch call names the function and the argument") {
    Seq("a").toDF("tok").createOrReplaceTempView("cms_args")
    for ((call, msg) <- Seq(
        "cms_sketch(tok, 5)" -> "cms_sketch takes 1 or 3 argument(s), got 2",
        "cms_sketch(tok, NULL, 64)" -> "cms_sketch: depth must be a literal integer",
        "cms_sketch(tok, 5, 1.5)" -> "cms_sketch: width must be a literal integer")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM cms_args").collect())
      assert(e.getMessage.contains(msg), s"$call: ${e.getMessage}")
    }
    spark.catalog.dropTempView("cms_args")
  }

  test("an uncollided sketch is exact; an absent item reads 0 on it") {
    val df = Seq("a", "a", "a", "b").toDF("tok")
    val sk = df.agg(cmsSketch(col("tok")).as("sk")) // default 5x2048: no collisions here
    val row = sk.select(
      cmsEstimate(col("sk"), lit("a")).as("a"),
      cmsEstimate(col("sk"), lit("b")).as("b"),
      cmsEstimate(col("sk"), lit("zzz")).as("z")).head()
    assert(row.getLong(0) == 3L && row.getLong(1) == 1L && row.getLong(2) == 0L)
  }

  test("merge of per-split sketches equals the whole-corpus sketch bit-for-bit") {
    val df = items.zipWithIndex.map { case (t, i) => (i % 4, t) }.toDF("part", "tok")
    val whole = df.agg(cmsSketch(col("tok")).as("sk")).head().getAs[Array[Byte]]("sk")
    val merged = df.groupBy(col("part")).agg(cmsSketch(col("tok")).as("sk"))
      .agg(cmsMerge(col("sk")).as("sk")).head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(whole, merged),
      "elementwise-add merge must be exactly the whole-build table")
  }

  test("SQL front door: cms_sketch/cms_merge/cms_estimate are registered") {
    items.toDF("tok").createOrReplaceTempView("cms_in")
    val est = spark.sql(
      """SELECT cms_estimate(cms_merge(sk), 'item_1') AS est
        |FROM (SELECT cms_sketch(tok, 5, 512) AS sk FROM cms_in GROUP BY abs(hash(tok)) % 3)
        |""".stripMargin).head().getLong(0)
    assert(est >= exact("item_1"))
    spark.catalog.dropTempView("cms_in")
  }

  test("nulls are skipped; the all-null group yields an empty (zero) sketch") {
    val df = Seq(Some("x"), None, Some("x"), None).toDF("tok")
    val sk = df.agg(cmsSketch(col("tok")).as("sk"))
    val row = sk.select(cmsEstimate(col("sk"), lit("x")).as("x")).head()
    assert(row.getLong(0) == 2L)
    val empty = Seq.empty[String].toDF("tok").agg(cmsSketch(col("tok")).as("sk"))
      .select(cmsEstimate(col("sk"), lit("x")).as("x")).head()
    assert(empty.getLong(0) == 0L)
  }

  test("q_cms_rollup: 20 probe rows, every estimate >= its exact count") {
    val rows = pipeline.Profiling.qCmsRollup(spark, SparkTestBase.sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"${r.getString(0)}: cms_est ${r.getLong(2)} < exact ${r.getLong(1)}")
    }
    // deterministic: a second run returns the identical frame
    val again = pipeline.Profiling.qCmsRollup(spark, SparkTestBase.sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }
}

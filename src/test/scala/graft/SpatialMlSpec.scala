package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.SpatialOps
import graft.pipeline.{Clustering, Regression}

class SpatialMlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  // ------------------------------------------------------------ geo radius join

  /** The epsilon-grid must be lossless: compare against the exhaustive cross form
    * computed in Spark itself (same haversine), on the full sf0.001 tables. */
  test("grid radius join finds exactly the exhaustive within-radius pair set") {
    import graft.sources.TableIO
    val c = TableIO.customer(spark, sf).select(
      col("c_custkey").as("id"),
      ((col("c_custkey") * 7919L % 12000L) / 100.0 - 60.0).as("lat"),
      ((col("c_custkey") * 104729L % 36000L) / 100.0 - 180.0).as("lon"))
    val s = TableIO.supplier(spark, sf).select(
      col("s_suppkey").as("sid"),
      ((col("s_suppkey") * 7919L % 12000L) / 100.0 - 60.0).as("slat"),
      ((col("s_suppkey") * 104729L % 36000L) / 100.0 - 180.0).as("slon"))
    val exhaustive = c.crossJoin(s)
      .withColumn("dist",
        SpatialOps.haversineKm(col("lat"), col("lon"), col("slat"), col("slon")))
      .filter(col("dist") <= 500.0)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_near"), round(min(col("dist")), 3).as("min_km"))
    val got = SpatialOps.qGeoRadiusJoin(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(exhaustive).isEmpty && exhaustive.exceptAll(got).isEmpty)
  }

  test("geo knn ranks at most 3 suppliers per customer, nearest first") {
    val rows = SpatialOps.qGeoKnn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.length))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(identity).toSeq)
      assert(g.length <= 3)
    }
  }

  // ------------------------------------------------------------------- k-means

  test("k-means is deterministic, partitions all vectors, and 2nd round helps") {
    val out = Clustering.qKmeans(spark, sf).collect()
    val total = graft.sources.TableIO.embeddings(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == total) // every vector assigned exactly once
    assert(out.map(_.getLong(0)).toSet.size == out.length) // distinct cluster ids
    val again = Clustering.qKmeans(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq) // bit-stable rerun
  }

  test("sq_dist_long equals a plain-Scala squared distance, null on length mismatch") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions.sqDistLong
    // reference: sum of (x - y)^2 in a long accumulator; null when the lengths differ
    // or either side holds a null element
    def reference(a: Seq[Option[Long]], b: Seq[Option[Long]]): Option[Long] =
      if (a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
      else Some(a.flatten.zip(b.flatten).map { case (x, y) => (x - y) * (x - y) }.sum)
    for (seed <- Seq(71L, 171L, 271L)) {
      val rnd = new scala.util.Random(seed)
      def vec(n: Int) = Seq.fill(n) {
        if (rnd.nextInt(50) == 0) None else Some(rnd.nextInt(4001).toLong - 2000)
      }
      val rows = Seq.tabulate(500) { i =>
        val n = 16
        // ~1 row in 10 gets a length mismatch
        (i.toLong, vec(n), vec(if (rnd.nextInt(10) == 0) n + 1 - 2 * rnd.nextInt(2) else n))
      }
      val got = rows.toDF("id", "a", "b")
        .select(col("id"), sqDistLong(col("a"), col("b")))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      rows.foreach { case (id, a, b) =>
        assert(got(id) == reference(a, b), s"seed $seed row $id")
      }
      assert(got.values.exists(_.isEmpty) && got.values.exists(_.nonEmpty), s"seed $seed")
    }
  }

  test("sq_dist_long is null on mismatched non-nullable arrays, codegen and interpreted") {
    import org.apache.spark.sql.graft.VectorExpressions.sqDistLong
    // array(...) over the non-nullable range id: neither input is nullable and nothing
    // folds at plan time, so the expression's own nullability decides the output
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    for ((mode, wholeStage) <- modes) {
      val prev = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        .map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        val rows = spark.range(4).select(col("id"),
            sqDistLong(array(col("id"), lit(2L)), array(lit(1L))).as("mism"),
            sqDistLong(array(col("id")), array(lit(1L))).as("same"))
          .collect()
        rows.foreach { r =>
          val id = r.getLong(0)
          assert(r.isNullAt(1), s"$mode id $id: length mismatch must be null")
          assert(r.getLong(2) == (id - 1) * (id - 1), s"$mode id $id")
        }
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  // ----------------------------------------------------------------------- OLS

  test("closed-form OLS reproduces hand-planted coefficients exactly") {
    import spark.implicits._
    // y = 7 + 3*x1 - 2*x2 exactly, in the quantized units qLinreg uses
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { _ =>
      val x1 = rnd.nextInt(50) + 1
      val x2 = rnd.nextInt(11)
      (x1.toDouble, x2 / 100.0, (7 + 3 * x1 - 2 * x2) / 100.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("linreg").toString
    rows.toDF("l_quantity", "l_discount", "l_extendedprice").write
      .mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Regression.qLinreg(spark, dir).collect().head
    assert(r.getLong(0) == 400)
    assert(math.abs(r.getDouble(1) - 7.0) < 1e-6) // a0 (cents)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-6) // a1 per quantity unit
    assert(math.abs(r.getDouble(3) - (-2.0)) < 1e-6) // a2 per discount pct
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9) // exact fit -> R^2 = 1
  }
}

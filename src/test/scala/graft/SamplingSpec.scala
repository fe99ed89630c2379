package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Sampling
import graft.sources.TableIO

/** Sampling/mixture + sketch-aggregate properties. */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.01"

  test("uniform sample is deterministic and near the nominal rate") {
    val docs = TableIO.documents(spark, sf)
    val total = docs.count().toDouble
    val s1 = Sampling.sampledUniform(docs)
    val n1 = s1.count()
    assert(n1 == Sampling.sampledUniform(docs).count(), "sample must be reproducible")
    val rate = n1 / total
    assert(rate > 0.07 && rate < 0.25, s"~15% nominal rate, got $rate")
  }

  test("stratified sample downsamples en below the default strata") {
    val docs = TableIO.documents(spark, sf)
    val byLang = TableIO.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Sampling.sampledStratified(docs).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = sampled("en").toDouble / byLang("en")
    val esRate = sampled.getOrElse("es", 0L).toDouble / byLang("es")
    assert(enRate < 0.45, s"en downsampled to ~25%, got $enRate")
    assert(esRate > 0.8, s"es kept ~whole, got $esRate")
  }

  test("mixture weighting upsamples src0 ~2.5x and downsamples src1 ~0.5x") {
    val docs = TableIO.documents(spark, sf)
    val before = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Sampling.mixtureWeighted(docs).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r0 = after("src0").toDouble / before("src0")
    val r1 = after("src1").toDouble / before("src1")
    assert(r0 > 2.0 && r0 < 3.0, s"src0 weight 2.5, got $r0")
    assert(r1 > 0.25 && r1 < 0.75, s"src1 weight 0.5, got $r1")
    assert(after("src2") == before("src2"), "unweighted sources pass through 1:1")
  }

  test("mixture copies are distinguishable via copy_id") {
    val docs = TableIO.documents(spark, sf)
    val m = Sampling.mixtureWeighted(docs)
    assert(m.select("doc_id", "copy_id").distinct().count() == m.count(),
      "(doc_id, copy_id) must be unique")
  }

  test("per-key cap keeps at most k rows per key on the native TopKPerKey plan") {
    val docs = TableIO.documents(spark, sf)
    val capped = Sampling.sampleKPerKey(docs, Seq("source"), 2)
    capped.collect()
    assert(capped.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "the cap must ride the native bounded-heap operator")
    val bySource = capped.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.values.forall(_ <= 2), s"cap violated: $bySource")
    assert(capped.columns.toSeq == docs.columns.toSeq, "input columns preserved")
    // deterministic: same rows on recomputation
    val a = Sampling.sampleKPerKey(docs, Seq("source"), 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.sampleKPerKey(docs, Seq("source"), 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "per-key sample must be retry-reproducible")
  }

  test("split assignment is total, disjoint, deterministic, and roughly proportioned") {
    val docs = TableIO.documents(spark, sf)
    val assigned = Sampling.splitAssigned(docs)
    assert(assigned.count() == docs.count(), "every doc gets exactly one split")
    val counts = assigned.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    val n = docs.count().toDouble
    assert(counts("train") / n > 0.8, s"train should dominate: $counts")
    assert(counts.getOrElse("test", 0L) > 0 && counts.getOrElse("val", 0L) > 0, s"$counts")
    // determinism: the same doc lands in the same split on a fresh computation
    val a = Sampling.splitAssigned(docs).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.splitAssigned(docs).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split assignment must be retry-reproducible")
  }

  test("jsonl shard export round-trips, matches shuffle assignment, is deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toFile.getAbsolutePath + "/out"
    val docs = TableIO.documents(spark, sf).select("doc_id", "text", "source")
    Sampling.exportJsonlShards(docs, dir, numShards = 4)
    val back = spark.read.json(dir)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").exceptAll(docs.select("doc_id")).isEmpty)
    // shard membership matches the canonical shuffle assignment
    val want = Sampling.shuffleAssigned(docs, 4).collect()
      .map(r => r.getLong(0) -> (r.getInt(1) % 4 + 4) % 4).toMap
    back.select("doc_id", "shard").collect().foreach { r =>
      assert(want(r.getLong(0)) == r.getAs[Number](1).intValue)
    }
    // in-file order is the skey order: re-export produces byte-identical shard files
    val dir2 = java.nio.file.Files.createTempDirectory("jsonl2").toFile.getAbsolutePath + "/out"
    Sampling.exportJsonlShards(docs, dir2, numShards = 4)
    def shardLines(d: String) = (0 until 4).map { s =>
      val f = new java.io.File(s"$d/shard=$s")
      f.listFiles().filter(_.getName.endsWith(".json")).sorted
        .flatMap(x => scala.io.Source.fromFile(x).getLines().toSeq).toSeq
    }
    assert(shardLines(dir) == shardLines(dir2))
  }

  test("shuffle positions are long: no shard size overflows an int") {
    import org.apache.spark.sql.types.LongType
    val pos = Sampling.shuffleAssigned(TableIO.documents(spark, sf)).schema("pos")
    assert(pos.dataType == LongType, s"pos is ${pos.dataType}")
  }

  test("grouped split is group-atomic: every source maps to exactly one fold") {
    val docs = TableIO.documents(spark, sf)
    val assigned = Sampling.splitAssignedGrouped(docs, "source")
    assert(assigned.count() == docs.count())
    val foldsPerGroup = assigned.groupBy("source")
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("k"))
      .collect().map(_.getLong(1))
    assert(foldsPerGroup.nonEmpty && foldsPerGroup.forall(_ == 1L),
      "a group must never straddle folds")
  }

  test("shuffle-shard export is a deterministic permutation with dense in-shard positions") {
    val docs = TableIO.documents(spark, sf)
    val n = docs.count()
    val a = Sampling.shuffleAssigned(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // a permutation: every doc exactly once, shards in range
    assert(a.length == n && a.map(_._1).distinct.length == n)
    assert(a.forall { case (_, s, _) => s >= 0 && s < 8 })
    // positions are dense 1..|shard| within each shard (readers can seek by offset)
    a.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length), s"shard $s positions not dense")
    }
    // no shard starves (md5 spreads uniformly; 500 docs over 8 shards)
    assert(a.groupBy(_._2).size == 8, "all 8 shards populated")

    // retry-reproducible; a different seed yields a different order
    val b = Sampling.shuffleAssigned(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq, "same seed must reproduce")
    val c = Sampling.shuffleAssigned(docs, seed = "other").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq != c.sortBy(_._1).toSeq, "seed must change the permutation")
  }

  test("approx_count_distinct and approx_percentile land within tolerance of exact") {
    val li = TableIO.lineitem(spark, sf)
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("d"),
      expr("percentile(l_quantity, 0.5)").as("p")).head()
    val approx = li.agg(
      approx_count_distinct(col("l_partkey")).as("d"),
      expr("approx_percentile(l_quantity, 0.5)").as("p")).head()
    val dErr = math.abs(approx.getLong(0) - exact.getLong(0)).toDouble / exact.getLong(0)
    assert(dErr < 0.05, s"HLL++ relative error < 5%, got $dErr")
    val pErr = math.abs(approx.getDouble(1) - exact.getDouble(1)) /
      math.max(1.0, math.abs(exact.getDouble(1)))
    assert(pErr < 0.05, s"approx_percentile within 5% of exact, got $pErr")
  }

  test("globalRowIds assigns dense 1..N in key order across many partitions") {
    import org.apache.spark.sql.functions.col
    // ids deliberately unsorted and skewed across input partitions; numParts larger
    // than needed leaves some range partitions empty — offsets must still be correct
    val df = spark.range(0, 1000).select((col("id") * 2654435761L % 1000003L).as("k"))
      .repartition(7)
    val got = Sampling.globalRowIds(df, "k", numParts = 16)
      .orderBy(col("rid")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1000)
    assert(got.map(_._2).sameElements(1L to 1000L), "rids must be dense 1..N")
    assert(got.map(_._1).sameElements(got.map(_._1).sorted), "rid order must equal key order")
  }

  test("weightedSample is deterministic, without replacement, and weight-monotone in aggregate") {
    val docs = graft.sources.TableIO.documents(spark, sf)
    val s1 = Sampling.weightedSample(docs, "n_chars", 20).collect()
    val s2 = Sampling.weightedSample(docs, "n_chars", 20).collect()
    assert(s1.map(_.getLong(0)).sameElements(s2.map(_.getLong(0))), "must be reproducible")
    assert(s1.map(_.getLong(0)).distinct.length == 20, "without replacement: all distinct")
    // length-weighted draws should skew long: sample mean length > corpus mean length
    import org.apache.spark.sql.functions.{avg, col}
    val corpusMean = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    val sampleMean = s1.map(_.getLong(1)).sum.toDouble / s1.length
    assert(sampleMean > corpusMean, s"weighted sample mean $sampleMean <= corpus mean $corpusMean")
  }

  test("Poisson bootstrap replicates are deterministic, near-N sized, and unbiased-ish") {
    val docs = TableIO.documents(spark, sf)
    val n = docs.count()
    val r1 = Sampling.bootstrapStats(docs, "n_chars", 20).orderBy(col("rep")).collect()
    val r2 = Sampling.bootstrapStats(docs, "n_chars", 20).orderBy(col("rep")).collect()
    assert(r1.map(_.toString).sameElements(r2.map(_.toString)), "must be reproducible")
    assert(r1.length == 20)
    // each replicate's resample size is Poisson-sum distributed around N (sd = sqrt N)
    val tol = 5 * math.sqrt(n.toDouble)
    r1.foreach { r =>
      assert(math.abs(r.getLong(1) - n) < tol, s"replicate ${r.getInt(0)} size ${r.getLong(1)} vs $n")
    }
    // the replicate means straddle the corpus mean (variance estimation has signal)
    val corpusMean = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    val means = r1.map(_.getDouble(2))
    assert(means.min < corpusMean && corpusMean < means.max,
      s"corpus mean $corpusMean outside replicate range [${means.min}, ${means.max}]")
  }
}

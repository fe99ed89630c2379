package graft

import java.nio.file.Files

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CorpusStreaming

class CorpusStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  case class Doc(doc_id: Long, text: String)

  test("streaming ingest admits only documents novel across and within batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ingest").toString
    val (indexDir, outDir, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    val stream = MemoryStream[Doc]
    val q = CorpusStreaming.dedupIngest(stream.toDF(), indexDir, outDir, ckpt)
    try {
      stream.addData(
        Doc(1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        Doc(2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1 (same batch)
        Doc(3L, "completely different content about spark query engines and planning"))
      q.processAllAvailable()
      val afterBatch1 = spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(afterBatch1 == Set(1L, 3L), s"got $afterBatch1")

      stream.addData(
        Doc(11L, "the quick brown fox jumps over the lazy dog near the river bed"), // near-dup of admitted 1
        Doc(12L, "yet another unrelated document mentioning distributed joins only"),
        Doc(13L, "completely different content about spark query engines and planning")) // exact dup of admitted 3
      q.processAllAvailable()
      val afterBatch2 = spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(afterBatch2 == Set(1L, 3L, 12L), s"got $afterBatch2")
    } finally q.stop()
  }

  test("gram-less short documents dedup via the content-hash lane") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft_ingest_s").toString + "/index"
    // 2 tokens -> no 3-gram shingles -> no LSH bands; only the content lane can catch it
    val b1 = Seq((1L, "hello world")).toDF("doc_id", "text")
    assert(CorpusStreaming.admitBatch(b1, indexDir).count() == 1)
    val b2 = Seq(
      (2L, "hello world"), // cross-batch exact dup of admitted 1
      (3L, "hi"), // novel short doc
      (4L, "hi")  // within-batch exact dup of 3 -> keep-min keeps 3
    ).toDF("doc_id", "text")
    val admitted = CorpusStreaming.admitBatch(b2, indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(3L), s"got $admitted")
  }

  test("compactIndex rewrites the band index without changing gate decisions") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft_ingest_c").toString + "/index"
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    CorpusStreaming.admitBatch(b1, indexDir).count()
    val before = spark.read.parquet(indexDir).collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    CorpusStreaming.compactIndex(spark, indexDir, targetFiles = 2)
    val after = spark.read.parquet(indexDir).collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(after == before, "compaction must preserve the index content")
    // a near-dup of doc 1 must still be rejected against the compacted index
    val b2 = Seq((2L, "alpha beta gamma delta epsilon zeta eta theta iota mu"))
      .toDF("doc_id", "text")
    assert(CorpusStreaming.admitBatch(b2, indexDir).count() == 0)
  }

  test("admitBatch is usable standalone for incremental batch ingestion") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft_ingest_b").toString + "/index"
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    assert(CorpusStreaming.admitBatch(b1, indexDir).count() == 2)
    val b2 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
      (4L, "fresh words entirely unlike anything admitted before today")).toDF("doc_id", "text")
    val admitted = CorpusStreaming.admitBatch(b2, indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(4L), s"got $admitted")
  }

  test("one batch mixing every gate path admits exactly the novel docs and indexes them") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft_ingest_m").toString + "/index"
    val b1 = Seq[(Long, String)](
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "hello world")).toDF("doc_id", "text")
    assert(CorpusStreaming.admitBatch(b1, indexDir).count() == 2)
    def indexRows(): Set[(Long, Int, Long)] = spark.read.parquet(indexDir)
      .select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = indexRows()
    // a near-dup chain: J(15,16) = J(16,17) = 0.87 but J(15,17) = 0.75, so only
    // connected components puts 17 with 15
    val chainA = "river stone maple cedar harbor lantern meadow copper willow falcon " +
      "granite orchard thistle beacon canyon ember glacier hollow juniper kestrel " +
      "lagoon marble nettle opal prairie quarry rowan saffron"
    val b2 = Seq[(Long, String)](
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // bands hit doc 1
      (12L, "hello world"), // content lane hits doc 2
      (13L, "one two three four five six seven eight nine ten"),
      (14L, "one two three four five six seven eight nine ten"), // exact dup of 13
      (15L, s"$chainA tundra umber"),
      (16L, s"$chainA violet walnut"),
      (17L, s"xenon yarrow ${chainA.split(" ").drop(2).mkString(" ")} violet walnut"),
      (18L, null), // null text: content lane of the empty string
      (19L, "hi there"), // short: no bands, content lane only
      (20L, "fresh words entirely unlike anything admitted before today"))
      .toDF("doc_id", "text")
    val admitted = CorpusStreaming.admitBatch(b2, indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(13L, 15L, 18L, 19L, 20L), s"got $admitted")

    val grown = indexRows() -- before
    assert(indexRows().size == before.size + grown.size, "the index only grows")
    val contentHash = b2.select(col("doc_id"), xxhash64(coalesce(col("text"), lit(""))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shingled = Set(13L, 15L, 20L) // >= 3 tokens: 32 LSH bands each
    assert(grown.size == 32 * shingled.size + admitted.size, s"grew by ${grown.size} rows")
    grown.groupBy(_._1).foreach { case (id, rows) =>
      assert(admitted(id), s"index rows for non-admitted doc $id")
      assert(rows.filter(_._2 == -1).map(_._3) == Set(contentHash(id)), s"content lane of $id")
      val bands = rows.map(_._2) - -1
      assert(bands == (if (shingled(id)) (0 until 32).toSet else Set.empty[Int]), s"bands of $id")
    }
    assert(grown.map(_._1) == admitted)
  }

  test("admitBatch leaves only its admitted frame persisted") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft_ingest_l").toString + "/index"
    def checkpointIds(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val chain = "river stone maple cedar harbor lantern meadow copper willow falcon " +
      "granite orchard thistle beacon canyon ember glacier hollow juniper kestrel " +
      "lagoon marble nettle opal prairie quarry rowan saffron"
    val batches = Seq(
      Seq((1L, s"$chain tundra umber"), (2L, s"$chain violet walnut"), // verified pair
        (3L, "one two three four five six seven eight nine ten")) -> Set(1L, 3L),
      Seq((4L, "one two three four five six seven eight nine ten"), // content lane hit
        (5L, "fresh words entirely unlike anything admitted before today"),
        (6L, "hi there")) -> Set(5L, 6L))
    // the first batch runs with no index, the second against the first one's
    for (((rows, expected), i) <- batches.zipWithIndex) {
      var admitted: DataFrame = null
      val left = SparkTestBase.pinsLeftBy {
        admitted = CorpusStreaming.admitBatch(rows.toDF("doc_id", "text"), indexDir)
      }
      assert(left.rdds == checkpointIds(admitted) && left.cached.isEmpty, s"batch $i left $left")
      val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == expected, s"batch $i admitted $ids")
    }
  }

  test("reading the band and segment indexes starts no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ingest_j").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    CorpusStreaming.admitBatch(docs, s"$dir/bands").count()
    CorpusStreaming.admitSegmentsBatch(docs, s"$dir/segs", k = 2).count()
    val sc = spark.sparkContext
    for ((index, schema) <- Seq("bands" -> CorpusStreaming.BandIndexSchema,
        "segs" -> CorpusStreaming.SegmentIndexSchema)) {
      val path = s"$dir/$index"
      var read: Option[DataFrame] = None
      assert(JobCounter.count(sc) { read = CorpusStreaming.readIndex(spark, path, schema) } == 0)
      // inferring the schema instead, as a bare read does, is one job
      var inferred: DataFrame = null
      assert(JobCounter.count(sc) { inferred = spark.read.parquet(path) } == 1)
      assert(read.get.schema.map(_.name) == inferred.schema.map(_.name))
      assert(read.get.collect().toSet == inferred.collect().toSet, index)
    }
    assert(CorpusStreaming.readIndex(spark, s"$dir/none", CorpusStreaming.BandIndexSchema).isEmpty)
  }

  test("segment gate dedups across batches, within batches, and over a live stream") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft_seg_b").toString + "/index"
    // k=2 segments. batch 1: doc 1 = [a b][c d], doc 2 = [c d][e f] (within-batch
    // repeat of [c d] -> doc 1 pos 2 wins)
    val b1 = Seq((1L, "a b c d"), (2L, "c d e f")).toDF("doc_id", "text")
    val got1 = CorpusStreaming.admitSegmentsBatch(b1, indexDir, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got1(1L) == ((2, 2, "a b c d")) && got1(2L) == ((2, 1, "e f")), s"got $got1")
    assert(spark.read.parquet(indexDir).count() == 3, "index = 3 distinct segments")

    // batch 2: doc 3 reuses [a b] and [e f] across batches, brings fresh [x y];
    // doc 4 is entirely admitted segments -> visible with n_kept 0
    val b2 = Seq((3L, "a b x y e f"), (4L, "c d a b")).toDF("doc_id", "text")
    val got2 = CorpusStreaming.admitSegmentsBatch(b2, indexDir, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got2(3L) == ((3, 1, "x y")) && got2(4L) == ((2, 0, null)), s"got $got2")
    assert(spark.read.parquet(indexDir).count() == 4, "index grew by [x y] only")

    // replay safety: re-running a batch with ITS OWN batchId (a foreachBatch retry after
    // the index append) must re-derive the identical decision, not drop everything
    val rDir = Files.createTempDirectory("graft_seg_r").toString + "/index"
    val rb = Seq((7L, "p q r s")).toDF("doc_id", "text")
    val first = CorpusStreaming.admitSegmentsBatch(rb, rDir, k = 2, batchId = 5L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(3))).toSeq
    val retry = CorpusStreaming.admitSegmentsBatch(rb, rDir, k = 2, batchId = 5L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(3))).toSeq
    assert(retry == first && first == Seq((7L, 2, "p q r s")),
      s"retry must reproduce the decision: $first vs $retry")
    // but the NEXT batch still dedups against batch 5's segments
    val next = CorpusStreaming.admitSegmentsBatch(
        Seq((8L, "p q z z")).toDF("doc_id", "text"), rDir, k = 2, batchId = 6L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(3))).head
    assert(next == ((8L, 1, "z z")), s"got $next")

    // same contract through the streaming wiring
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_seg_s").toString
    val stream = MemoryStream[Doc]
    val q = CorpusStreaming.segmentIngest(stream.toDF(), s"$dir/index", s"$dir/out",
      s"$dir/ckpt", k = 2)
    try {
      stream.addData(Doc(1L, "a b c d"))
      q.processAllAvailable()
      stream.addData(Doc(2L, "c d n o")) // [c d] admitted in batch 1 -> dropped
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out").collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(out == Map(1L -> "a b c d", 2L -> "n o"), s"got $out")
    } finally q.stop()
  }
}

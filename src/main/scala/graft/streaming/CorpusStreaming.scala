package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pins
import graft.pipeline.Dedup

/**
 * Streaming corpus ingestion with an INCREMENTAL near-duplicate gate: documents arrive in
 * micro-batches; each batch admits only documents that are not duplicates (exact or near)
 * of anything already admitted across previous batches, nor of each other.
 *
 * Mechanics (the production pattern for continuous training-data pipelines):
 *  - The admitted corpus is represented by its LSH BAND INDEX plus a CONTENT-HASH lane —
 *    (band, bh) rows with band = -1 carrying xxhash64 of the text. ~33 longs per admitted
 *    doc, persisted as parquet and appended per batch, never rewritten. The content lane
 *    exactly catches re-arrivals of docs too short to shingle (< 3 tokens), which have no
 *    bands; null text is treated as empty text in the lane.
 *  - Per batch, inside `foreachBatch`: the batch is read once, and an exact keep-min
 *    window on its content hash runs on that read (exact duplicates share bands and
 *    hash, so they need neither). Gram sets and LSH bands (map-only typed kernels) are
 *    computed for the survivors only. One semi-join against the index drops cross-batch
 *    collisions, then the verified pair + connected-components pass dedups the rest
 *    WITHIN the batch (same policy as the batch engine's `Dedup.dedupedCorpus`).
 *    Admitted docs' index rows append last. Each of these frames is pinned once and
 *    released before the pass returns; only the admitted frame stays, for the caller.
 *  - The cross-batch near-dup drop is CANDIDATE-level (band collision, not verified
 *    jaccard): verifying would require storing gram sets for every admitted doc. With 32
 *    bands of 4 rows, a band collision implies high estimated similarity (the s-curve at
 *    j=0.8 fires with p > 0.999998), so false drops are rare and the trade is documented
 *    — the bounded-state stance every streaming dedup takes.
 *
 * Failure semantics: admitted rows are written to the OUTPUT before the index append
 * (see [[dedupIngest]]), so a foreachBatch retry can duplicate output rows
 * (at-least-once, the normal file-sink contract) but can never lose documents — the
 * reverse order would let a retry see the batch's own index rows and drop everything.
 */
object CorpusStreaming {

  private val ContentLaneBand = -1
  /** The band index (LSH bands plus the content lane) and the segment index each carry
    * one fixed schema, so reading them starts no schema-inference job. */
  private[graft] val BandIndexSchema = "doc_id BIGINT, band INT, bh BIGINT"
  private[graft] val SegmentIndexSchema = "h BIGINT, batch_id BIGINT"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The index at `dir` read with its fixed `schema`; None before the first append. */
  private[graft] def readIndex(spark: SparkSession, dir: String,
      schema: String): Option[DataFrame] =
    if (fs(spark, dir).exists(new Path(dir))) Some(spark.read.schema(schema).parquet(dir))
    else None

  /** Index rows for docs (carrying their content hash `__ch`) and their LSH bands. */
  private def indexRows(docs: DataFrame, bands: DataFrame): DataFrame =
    bands.unionByName(docs.select(
      col("doc_id"), lit(ContentLaneBand).as("band"), col("__ch").as("bh")))

  /**
   * One gate pass; also usable standalone for incremental BATCH ingestion. Returns the
   * admitted rows of `batch` (all columns preserved, already materialized). `persist`
   * runs on the admitted frame BETWEEN the decision and the index append — sinks MUST go
   * through it (not after the call): output-first ordering is what makes a retry
   * duplicate rows instead of losing them.
   *
   * The batch is read once. The exact keep-min window runs on that read, and its
   * survivors are pinned (checkpointed) with their content hash; their gram sets, their
   * index rows (LSH bands + content lane) and, against an existing index, the ids that
   * collide with it are pinned next. The pair graph, the admitted frame and the index
   * append read only those pinned frames. Every frame the call pins, the
   * connected-components labels included, is freed before it returns (`Pins.scoped`);
   * the returned admitted frame is the one checkpoint left, and it belongs to the
   * caller.
   */
  def admitBatch(batch: DataFrame, indexDir: String, threshold: Double = 0.8,
      updateIndex: Boolean = true, persist: DataFrame => Unit = _ => ()): DataFrame =
      Pins.scoped {
    val spark = batch.sparkSession
    // within-batch, same policy as Dedup.dedupedCorpus: exact keep-min first (catches
    // gram-less short/empty docs), then verified near-dup components keep-min. The
    // window runs first, on the one read of the batch: an exact duplicate shares its
    // keeper's bands and content hash, so it collides with the index exactly when its
    // keeper does, and nothing else needs its grams.
    val kept = Pins.checkpoint(batch.withColumn("__ch", xxhash64(coalesce(col("text"), lit(""))))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("__ch"))))
      .filter(col("doc_id") === col("keeper"))
      .drop("keeper"))
    val g = Pins.checkpoint(Dedup.gramHashSets(kept))
    val lanes = Pins.checkpoint(indexRows(kept, Dedup.lshBands(Dedup.minhashSignatures(g))))
    // cross-batch: the kept docs whose band or content hash is already in the index
    val collided = readIndex(spark, indexDir, BandIndexSchema).map(idx =>
      Pins.checkpoint(lanes.join(idx, Seq("band", "bh"), "left_semi").select(col("doc_id"))))
    def fresh(df: DataFrame) = collided.fold(df)(c => df.join(c, Seq("doc_id"), "left_anti"))
    val labels = Dedup.connectedComponents(Dedup.minhashPairsFrom(
        fresh(g), fresh(lanes.filter(col("band") =!= ContentLaneBand)), threshold)
      .select(col("a_id"), col("b_id")))
    // MATERIALIZE the decision before the index grows and before the frames it reads
    // are freed. `collided` is pinned for the same reason: read lazily after the
    // append, the index would hold the batch's own rows and drop every doc as a
    // collision with itself.
    val admitted = Pins.checkpoint(fresh(kept)
      .join(labels.filter(col("doc_id") =!= col("component")).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .drop("__ch"))
    persist(admitted)
    if (updateIndex)
      lanes.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(indexDir)
    admitted
  }

  /**
   * Compact the append-only index: per-batch appends accumulate one small file per batch
   * per partition (the classic streaming small-files problem — at one batch/minute a day
   * leaves ~1.4k file groups and listing cost starts to dominate the semi-join's scan).
   * Rewrites into `targetFiles` files sorted by (band, bh) so row-group min/max stats
   * line up with probe keys. Uses the Hadoop FileSystem API (works on hdfs/s3a/local);
   * stale `.compact`/`.old` leftovers from a crashed prior run are cleared first, and the
   * promotion is rename-based — NOT atomic with concurrent writers, so run it from the
   * maintenance path while the ingest query is stopped (the discipline any file-format
   * compaction without a table format requires). If a crash lands between the two
   * renames, the index survives intact at `<indexDir>.old` — restore by renaming back;
   * with no index at `indexDir` the call does nothing, so a rerun never deletes it.
   */
  def compactIndex(spark: SparkSession, indexDir: String, targetFiles: Int = 8): Unit =
    readIndex(spark, indexDir, BandIndexSchema).foreach { idx =>
      val hfs = fs(spark, indexDir)
      val dir = new Path(indexDir)
      val tmp = new Path(indexDir + ".compact")
      val bak = new Path(indexDir + ".old")
      if (hfs.exists(tmp)) hfs.delete(tmp, true)
      if (hfs.exists(bak)) hfs.delete(bak, true)
      idx.repartition(targetFiles, col("band"))
        .sortWithinPartitions(col("band"), col("bh"))
        .write.mode("overwrite").parquet(tmp.toString)
      require(hfs.rename(dir, bak), s"could not move $indexDir aside")
      require(hfs.rename(tmp, dir), s"could not promote $tmp; index preserved at $bak")
      hfs.delete(bak, true)
    }

  /** Wire the gate onto a stream: admitted rows land in `outDir` BEFORE the band index
    * grows in `indexDir` (retries duplicate output, never lose it), one gate pass per
    * micro-batch. */
  def dedupIngest(docsStream: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitBatch(batch, indexDir, threshold,
          persist = _.write.mode("append").parquet(outDir))
        ()
      }
      .start()

  /**
   * Incremental SEGMENT-level gate — the streaming counterpart of
   * [[graft.pipeline.Dedup.segmentDedup]]: per micro-batch, drop every k-token segment
   * already admitted by ANY earlier batch (or earlier in this batch, by (doc_id, pos)
   * order) and reassemble each document from its surviving segments. This is how a
   * continuous pipeline keeps C4-style line dedup exact across arrivals without
   * reprocessing the corpus.
   *
   * State is one (xxhash64, batch_id) row per distinct admitted segment, append-only
   * parquet. REPLAY SAFETY: index rows are tagged with the writing batch id and the
   * anti-join EXCLUDES rows the current batch id wrote, so a foreachBatch retry after a
   * crash between the index append and the checkpoint commit re-derives the IDENTICAL
   * decision and re-emits the same output rows — at-least-once duplicates, never the
   * contradictory all-dropped rows an untagged index would produce. The decision frame
   * is still pinned (checkpointed) before the append so the returned plan cannot
   * lazily re-read the index it just grew, and output persists before the index grows.
   *
   * Returns (doc_id, n_segs, n_kept, dedup_text) for every batch doc — fully-duplicate
   * docs stay visible with n_kept 0. `batchId` < 0 (the standalone default) disables the
   * self-exclusion: sequential batch callers have no replay to guard against.
   */
  def admitSegmentsBatch(batch: DataFrame, indexDir: String, k: Int = 8,
      batchId: Long = -1L, updateIndex: Boolean = true,
      persist: DataFrame => Unit = _ => ()): DataFrame = Pins.scoped {
    val spark = batch.sparkSession
    val segs = Dedup.segmentedDocs(batch, k).withColumn("h", xxhash64(col("seg")))
    val fresh = Pins.cache(readIndex(spark, indexDir, SegmentIndexSchema) match {
      case Some(idx0) =>
        val idx = if (batchId >= 0) idx0.filter(col("batch_id") =!= batchId) else idx0
        segs.join(idx.select(col("h")), Seq("h"), "left_anti")
      case None => segs
    })
    val out = Pins.checkpoint(Dedup.reassembleSegments(batch, fresh, k))
    persist(out)
    if (updateIndex)
      fresh.select(col("h")).distinct()
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(indexDir)
    out
  }

  /** Wire the segment gate onto a stream (output-before-index, batch-id replay guard). */
  def segmentIngest(docsStream: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, k: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitSegmentsBatch(batch, indexDir, k, batchId,
          persist = _.write.mode("append").parquet(outDir))
        ()
      }
      .start()
}

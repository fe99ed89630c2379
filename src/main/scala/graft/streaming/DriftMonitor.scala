package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.Pins
import graft.pipeline.FeatureStats

/**
 * Continuous distribution-drift monitoring: every micro-batch's value distribution is
 * tested against a FROZEN reference sample with the exact two-sample KS statistic
 * (FeatureStats.twoSampleKs — the batch `q_ks_drift` machinery re-used verbatim), and
 * an alarm row is emitted when D exceeds `threshold`. This is the production guard a
 * training-data ingest runs next to the pipeline: a source whose doc-length/quality
 * distribution silently shifts is caught at the batch grain, before it pollutes a mix.
 *
 * Scale shape: the reference collapses ONCE to per-value counts (distinct-value-sized,
 * cached); each batch adds one groupBy over the batch plus the KS plan over the union
 * grid — work bounded by value cardinality, not stream length. foreachBatch keeps the
 * sink transactional per Spark's epoch contract; the monitor frame is append-only
 * (batch_id, n_ref, n_batch, ks, alarm).
 */
object DriftMonitor {

  /**
   * Attach a KS drift monitor to a streaming single-column value frame. `onResult` is
   * called once per non-empty micro-batch with (batchId, nRef, nBatch, ks, alarm).
   * Returns the started query. The cached reference belongs to the stream: it is freed
   * when the query terminates, so call this outside any `Pins.scoped` block.
   */
  def monitor(values: DataFrame, reference: DataFrame, threshold: Double)(
      onResult: (Long, Long, Long, Double, Boolean) => Unit): StreamingQuery = {
    val ref = Pins.cache(reference.toDF("v"))
    ref.count() // pin the frozen reference once
    val query = values.toDF("v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val r = FeatureStats.twoSampleKs(ref, batch.toDF()).collect()(0)
          val ks = r.getDouble(2)
          onResult(batchId, r.getLong(0), r.getLong(1), ks, ks > threshold)
        }
      }
      .start()
    values.sparkSession.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) { Pins.release(ref); query.sparkSession.streams.removeListener(this) }
    })
    if (!query.isActive) Pins.release(ref) // it ended before the listener was added
    query
  }
}

package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * The one owner of graft's pins: the eager local checkpoints and the CacheManager
 * entries an operator makes so several consumers read one materialization.
 *
 * The rule every operator follows: it frees what its result does not read, and a
 * frame that comes back still pinned belongs to the caller, who frees it with
 * [[release]] once the frame has run. [[scoped]] applies the rule: a pin made inside
 * it ([[checkpoint]], [[cache]], or a pin a nested operator handed back) is freed when
 * the scope returns unless the returned frame reads it; the pins it does read pass to
 * the enclosing scope, or to the caller when there is none. On an exception every pin
 * of the scope is freed.
 *
 * Scopes nest per thread, so an operator that composes other operators owns whatever
 * their results hand back. A streaming `foreachBatch` body runs on the stream's own
 * thread and opens its own scopes.
 */
object Pins {
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[DataFrame]]](() => Nil)
  private def track(pin: DataFrame): DataFrame = { open.get.headOption.foreach(_ += pin); pin }

  /** Eager `localCheckpoint`: the frame is computed now and read back from its blocks. */
  def checkpoint(df: DataFrame): DataFrame = track(df.localCheckpoint())

  /** `cache()`: the first action that reads the frame fills it. */
  def cache(df: DataFrame): DataFrame = track(df.cache())

  /** Free every pin `df`'s plan reads: the blocks of its checkpointed (`LogicalRDD`)
    * leaves and each CacheManager entry one of its subplans is served from. Freeing a
    * pin twice is a no-op. */
  def release(df: DataFrame): Unit = {
    val spark = castToImpl(df.sparkSession)
    val cm = spark.sharedState.cacheManager
    val plans = nodes(df)
    plans.collect { case r: LogicalRDD => r.rdd }.filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))
    if (!cm.isEmpty) plans.flatMap(cm.lookupCachedData(spark, _)).distinct
      .foreach(cd => cm.uncacheQuery(spark, cd.plan, cascade = false, blocking = false))
  }

  /** Run `body` in a scope; see the object doc for what it frees. */
  def scoped[T](body: => T): T = {
    val pins = ArrayBuffer.empty[DataFrame]
    val outer = open.get
    open.set(pins :: outer)
    val out = try body catch { case e: Throwable => pins.foreach(free); throw e }
      finally open.set(outer)
    val read = out match { case df: Dataset[_] => nodes(df.toDF()); case _ => Nil }
    val (kept, dropped) =
      pins.partition(p => read.exists(_.sameResult(p.queryExecution.analyzed)))
    dropped.foreach(free)
    outer.headOption.foreach(_ ++= kept)
    out
  }

  /** Frees the pin itself, never the pins its own plan reads. */
  private def free(pin: DataFrame): Unit =
    if (pin.storageLevel != StorageLevel.NONE) pin.unpersist(blocking = false)
    else pin.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  private def nodes(df: DataFrame): Seq[LogicalPlan] =
    df.queryExecution.analyzed.collectWithSubqueries { case p => p }
}

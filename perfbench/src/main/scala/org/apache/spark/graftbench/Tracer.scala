package org.apache.spark.graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are nanoseconds on the harness's `System.nanoTime` clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, var end: Long,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/**
 * In-memory span recorder. Harness spans are opened and closed from the calling thread;
 * job and stage spans come from a SparkListener and are tied to the harness span that
 * was current when the job started, through the `graftbench.span` local property.
 * The listener lives in this package only to reach `listenerBus.waitUntilEmpty`, so
 * the counters of an operation are complete before the harness reads them.
 */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private var sc: SparkContext = _
  // epoch-ms <-> nanoTime anchor, for listener events that carry wall-clock times
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def nsOf(epochMs: Long): Long = anchorNs + (epochMs - anchorMs) * 1000000L

  def open(parent: Long, kind: String, name: String): Span = synchronized {
    val s = Span(nextId.getAndIncrement(), parent, kind, name, System.nanoTime(), -1L)
    spans += s
    s
  }
  def close(s: Span): Unit = s.end = System.nanoTime()

  /** Run `f` inside a span, with jobs it launches attributed to that span. */
  def span[T](parent: Long, kind: String, name: String)(f: Span => T): T = {
    val s = open(parent, kind, name)
    val prev = if (sc != null) sc.getLocalProperty(Tracer.Key) else null
    if (sc != null) sc.setLocalProperty(Tracer.Key, s.id.toString)
    try f(s) finally {
      close(s)
      if (sc != null) sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toLong).getOrElse(0L)
      val s = Span(nextId.getAndIncrement(), parent, "job", s"job ${e.jobId}", nsOf(e.time), -1L)
      spans += s
      jobSpan(e.jobId) = s
      e.stageIds.foreach(id => stageJob(id) = s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.end = nsOf(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageJob.get(info.stageId).foreach { job =>
          val t = info.submissionTime.getOrElse(System.currentTimeMillis())
          val s = Span(nextId.getAndIncrement(), job.id, "stage", s"stage ${info.stageId}",
            nsOf(t), -1L)
          s.attrs("tasks") = info.numTasks.toDouble
          spans += s
          stageSpan((info.stageId, info.attemptNumber())) = s
          add(job, "stages", 1); add(job, "tasks", info.numTasks)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageSpan.remove((info.stageId, info.attemptNumber())).foreach { s =>
          s.end = nsOf(info.completionTime.getOrElse(System.currentTimeMillis()))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).foreach { job =>
        add(job, "task_busy_ms", m.executorRunTime)
        add(job, "gc_ms", m.jvmGCTime)
        add(job, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add(job, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add(job, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(job, "input_b", m.inputMetrics.bytesRead)
      }
    }
  }

  private def add(s: Span, k: String, v: Double): Unit = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v

  def attach(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(listener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (sc != null) sc.listenerBus.waitUntilEmpty()

  def detach(): Unit = if (sc != null) {
    drain()
    sc.removeSparkListener(listener)
    synchronized { jobSpan.clear(); stageSpan.clear(); stageJob.clear() }
    sc = null
  }
}

object Tracer { val Key = "graftbench.span" }

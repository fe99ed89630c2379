package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.{Span, Tracer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.{GraftSession, SparkEntry}
import graft.sources.VersionedTable
import graft.streaming.CorpusStreaming

/**
 * Benchmark harness for one workload in one JVM: a closed loop, one client, operations
 * issued back to back through graft's public entry points.
 *
 * Usage: Harness key=value ... with keys
 *   data     generated input directory (the program reads nothing else)
 *   out      run directory; every session gets fresh tmp, warehouse and local dirs here
 *   ops      comma-separated SparkEntry.queries names
 *   seconds  length of the timed window
 *   setups   session starts, each followed by one untimed first pass
 *   cpus     local[cpus]
 *   trace    1 records spans (SparkListener attached), 0 records none
 *
 * When data/ingest.parquet exists, every pass also ingests it after the operations.
 * Writes out/result.json (and out/spans.json when tracing). The first setup pass writes
 * every operation's output to out/outputs/<op> for the oracle check.
 */
object Harness {

  final case class Conf(data: String, out: String, ops: Seq[String],
                        seconds: Double, setups: Int, cpus: Int, trace: Boolean) {
    /** The micro-batch every pass ingests, when the inputs have one. */
    val ingest: String = s"$data/ingest.parquet"
    val hasIngest: Boolean = new File(ingest).exists
  }

  private def parse(args: Array[String]): Conf = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    Conf(kv("data"), kv("out"),
      kv("ops").split(',').filter(_.nonEmpty).toSeq,
      kv("seconds").toDouble, kv("setups").toInt, kv("cpus").toInt,
      kv("trace") == "1")
  }

  private val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def record(kind: String, fields: (String, Any)*): Unit =
    rows += (Map[String, Any]("kind" -> kind) ++ fields)

  private def ms(ns: Long): Double = ns / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (driver, tasks, JIT and GC threads). */
  private def cpuNs(): Long = os.getProcessCpuTime

  private var tracer: Option[Tracer] = None
  private def span[T](parent: Long, kind: String, name: String)(f: Long => T): T = tracer match {
    case Some(t) => t.span(parent, kind, name)(s => f(s.id))
    case None => f(0L)
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    tracer = if (c.trace) Some(new Tracer) else None
    Files.writeString(Paths.get(c.out, "oracle_sql.json"), Json.render(
      c.ops.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val fns = c.ops.map(n => n -> SparkEntry.queries(n))
    val runSpan = tracer.map(_.open(0, "run", "run"))
    val runId = runSpan.map(_.id).getOrElse(0L)

    // Every setup starts a fresh session with empty dirs and an empty codegen cache.
    // The first also pays the JVM's own warm-up (class loading, JIT); the median of the
    // setups is a session start in a running JVM.
    var spark: SparkSession = null
    for (i <- 1 to c.setups) {
      if (spark != null) {
        tracer.foreach(_.detach())
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        clearCodegenCache()
      }
      isolate(s"${c.out}/session$i")
      val compile0 = codegenCompiles()
      val compileNs0 = compileNs()
      val t0 = System.nanoTime()
      spark = span(runId, "setup", s"setup $i") { sid =>
        val s = span(sid, "session", "session start") { _ => GraftSession.get(s"local[${c.cpus}]", c.cpus) }
        s.sparkContext.setLogLevel("ERROR")
        tracer.foreach(_.attach(s.sparkContext))
        pass(s, c, fns, s"setup$i", 0, sid, write = i == 1)
        s
      }
      record("setup", "setup" -> i, "s" -> (System.nanoTime() - t0) / 1e9,
        "codegen_compiles" -> (codegenCompiles() - compile0),
        "codegen_compile_ms" -> ms(compileNs() - compileNs0))
    }

    calibrate(spark, "start")
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    var n = 0
    var midDone = false
    while (n == 0 || elapsed < c.seconds) {
      n += 1
      span(runId, "pass", s"pass $n") { pid => pass(spark, c, fns, "pass", n, pid, write = false) }
      if (!midDone && elapsed >= c.seconds / 2) { calibrate(spark, "middle"); midDone = true }
    }
    calibrate(spark, "end")
    record("window", "passes" -> n, "s" -> elapsed)
    if (c.hasIngest) checkIngest(spark, c)
    tracer.foreach(_.detach())
    spark.stop()
    runSpan.foreach(s => tracer.get.close(s))

    Files.writeString(Paths.get(c.out, "result.json"), Json.render(rows.toSeq))
    tracer.foreach { t =>
      Files.writeString(Paths.get(c.out, "spans.json"), Json.render(t.spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs.toMap)
      }))
    }
  }

  /** Fresh tmp (StarCache keeps its stars under java.io.tmpdir), warehouse and local dirs. */
  private def isolate(dir: String): Unit = {
    Seq("tmp", "warehouse", "local").foreach(d => new File(dir, d).mkdirs())
    System.setProperty("java.io.tmpdir", s"$dir/tmp")
    System.setProperty("spark.sql.warehouse.dir", s"$dir/warehouse")
    System.setProperty("spark.local.dir", s"$dir/local")
  }

  /** Generated classes are cached JVM-wide; a later session would otherwise skip the
    * compiles a fresh process pays. */
  private def clearCodegenCache(): Unit =
    try {
      val cls = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      val f = cls.getDeclaredField("cache")
      f.setAccessible(true)
      val cache = f.get(cls.getField("MODULE$").get(null))
      cache.getClass.getMethod("invalidateAll").invoke(cache)
    } catch { case NonFatal(_) => () }

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  private def calibrate(spark: SparkSession, at: String): Unit = {
    def q(): Unit = spark.range(0L, 4000000L, 1L, 4).selectExpr("sum(hash(id) % 1000)").collect()
    if (at == "start") { q(); q() }
    val t = System.nanoTime()
    q()
    record("calib", "at" -> at, "ms" -> ms(System.nanoTime() - t))
  }

  /** Stars StarCache has published under this session's tmpdir. */
  private def starDirs(): Int =
    Option(new File(System.getProperty("java.io.tmpdir"), "graft_star").list())
      .map(_.count(!_.contains(".build-"))).getOrElse(0)

  private def clearAllPersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Heap in use just after the latest collection, summed over the heap's pools. */
  private def heapAfterGc(): Long = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case g: com.sun.management.GarbageCollectorMXBean => g }
      .flatMap(g => Option(g.getLastGcInfo)).sortBy(_.getEndTime).lastOption
    last.map(_.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum).getOrElse(0L)
  }

  /** Persisted RDDs and storage memory an operation left behind, read before they are
    * cleared, and the heap live after the latest GC. */
  private def probe(spark: SparkSession): Seq[(String, Any)] = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.size
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
    clearAllPersisted(spark)
    Seq("persisted_left" -> left, "storage_b" -> storage, "heap_live_b" -> heapAfterGc())
  }

  private def pass(spark: SparkSession, c: Conf, fns: Seq[(String, (SparkSession, String) => DataFrame)],
                   phase: String, n: Int, parent: Long, write: Boolean): Unit = {
    for ((name, fn) <- fns) {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      var tb, tp = t0
      var phases = Map.empty[String, Double]
      var starBuilt = false
      val err = try {
        span(parent, "op", name) { oid =>
          val stars = starDirs()
          val df = span(oid, "build", name) { _ => fn(spark, c.data) }
          tb = System.nanoTime()
          starBuilt = starDirs() > stars
          val qe = df.queryExecution
          if (write) {
            tp = tb
            span(oid, "exec", "write") { _ =>
              df.coalesce(1).write.mode("overwrite").parquet(s"${c.out}/outputs/$name")
            }
          } else {
            span(oid, "plan", "plan") { _ => qe.executedPlan }
            tp = System.nanoTime()
            span(oid, "exec", "exec") { _ =>
              SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
            }
          }
          phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        }
        ""
      } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val t1 = System.nanoTime()
      val c1 = cpuNs()
      tracer.foreach(_.drain())
      val state = span(parent, "probe", "probe") { _ => probe(spark) }
      record("op", (Seq[(String, Any)]("phase" -> phase, "pass" -> n, "op" -> name,
        "star_built" -> starBuilt, "ms" -> ms(t1 - t0), "cpu_ms" -> ms(c1 - c0),
        "build_ms" -> ms(tb - t0), "plan_ms" -> ms(tp - tb), "exec_ms" -> ms(t1 - tp), "error" -> err,
        "analysis_ms" -> phases.getOrElse("analysis", 0.0),
        "optimizer_ms" -> phases.getOrElse("optimization", 0.0),
        "planning_ms" -> phases.getOrElse("planning", 0.0)) ++ state): _*)
    }
    if (c.hasIngest) ingest(spark, c, phase, n, parent)
  }

  /**
   * One micro-batch of the corpus goes through CorpusStreaming.admitBatch, whose admitted
   * rows are committed with VersionedTable.commitAppend; then the band index is compacted.
   * Every pass starts from empty index and table dirs, which are checked after the window.
   */
  private def ingest(spark: SparkSession, c: Conf, phase: String, n: Int, parent: Long): Unit = {
    val rel = s"ingest/$phase-$n"
    val dir = s"${c.out}/$rel"
    val batch = spark.read.parquet(c.ingest)
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    var commitNs = 0L
    var admitted: DataFrame = null
    val errors = mutable.ArrayBuffer.empty[String]
    try span(parent, "batch", "batch") { bid =>
      admitted = span(bid, "admit", "admitBatch") { aid =>
        CorpusStreaming.admitBatch(batch, s"$dir/index", persist = a => {
          val tc = System.nanoTime()
          span(aid, "commit", "commitAppend") { _ => VersionedTable.commitAppend(a, s"$dir/table") }
          commitNs = System.nanoTime() - tc
        })
      }
    } catch { case NonFatal(e) => errors += s"admit: ${e.getMessage}".take(300) }
    val t1 = System.nanoTime()
    val c1 = cpuNs()
    try span(parent, "compact", "compactIndex") { _ => CorpusStreaming.compactIndex(spark, s"$dir/index") }
    catch { case NonFatal(e) => errors += s"compact: ${e.getMessage}".take(300) }
    val compactNs = System.nanoTime() - t1
    val compactCpuNs = cpuNs() - c1
    // the admitted frame is a local checkpoint, gone once the probe clears persisted RDDs
    val ids = if (admitted == null) Seq.empty[Long]
      else admitted.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val state = span(parent, "probe", "probe") { _ => probe(spark) }
    record("batch", (Seq[(String, Any)]("phase" -> phase, "pass" -> n, "dir" -> rel,
      "ms" -> ms(t1 - t0), "cpu_ms" -> ms(c1 - c0), "commit_ms" -> ms(commitNs),
      "compact_ms" -> ms(compactNs), "compact_cpu_ms" -> ms(compactCpuNs),
      "admitted_ids" -> ids, "errors" -> errors.toSeq) ++ state): _*)
  }

  /**
   * Checks of every pass's ingest, after the timed window: the committed table reads back
   * exactly the admitted rows, no two admitted docs share a content hash, and what the
   * pass wrote under its index and table dirs.
   */
  private def checkIngest(spark: SparkSession, c: Conf): Unit = {
    val batch = spark.read.parquet(c.ingest)
    val offered = batch.count()
    val textBytes = batch.selectExpr("sum(octet_length(text))").collect()(0).getLong(0)
    def files(d: String): Seq[File] = {
      val f = new File(d)
      if (f.isDirectory) f.listFiles().toSeq.flatMap(x => files(x.getPath)) else if (f.exists) Seq(f) else Nil
    }
    for (b <- rows.toList if b("kind") == "batch") {
      val dir = s"${c.out}/${b("dir")}"
      val admitted = b("admitted_ids").asInstanceOf[Seq[Long]]
      val errors = mutable.ArrayBuffer.empty[String]
      try {
        val t = VersionedTable.readLatest(spark, s"$dir/table")
        val got = t.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        if (got != admitted) errors += s"table has ${got.size} rows, admitted ${admitted.size}"
        val hashes = t.select(xxhash64(col("text"))).distinct().count()
        if (hashes != got.size) errors += s"${got.size - hashes} admitted docs share a content hash"
      } catch { case NonFatal(e) => errors += s"readback: ${e.getMessage}".take(300) }
      val written = files(s"$dir/index") ++ files(s"$dir/table")
      record("ingest", "phase" -> b("phase"), "pass" -> b("pass"), "offered" -> offered,
        "errors" -> errors.toSeq, "text_bytes" -> textBytes,
        "bytes_written" -> written.map(_.length()).sum, "files_written" -> written.size,
        "index_files" -> files(s"$dir/index").count(_.getName.endsWith(".parquet")))
    }
  }
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case o => quote(o.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }.mkString("\"", "", "\"")
}

package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.commons.codec.digest.DigestUtils
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.graft.{FileListing, Frames}

/**
 * Loaders for the generated test tables (see TESTDATA.md).
 *
 * Mirrors the reference's arrow-data-source read path (gazelle_plugin:
 * arrow-data-source/standard/src/main/scala/com/intel/oap/spark/sql/ArrowWriteExtension.scala
 * and .../execution/ArrowFileSourceScanExec) — in graft the vectorized parquet reader plus
 * Catalyst column pruning / filter pushdown provide the same columnar scan. Specs assert
 * the pushdown actually reaches the scan (PushedFilters / ReadSchema).
 *
 * [[table]], [[events]], [[registerAll]], `ResultCache.run` and the `MaterializedViews`
 * rewrite read through [[parquet]], which resolves a path once per file listing. A bare
 * `spark.read.parquet` infers the schema with a one-task Spark job that reads a footer
 * (~30 ms of wall time for ~3 ms of work), and even with a given schema it resolves a
 * data source: a service lookup, Hadoop and `JobConf` clones and a file index (2-3 ms).
 * What a read lists: the path's files, once the session has resolved the path by
 * Spark's own listing call without a file index ([[listNow]]); a miss lists again
 * through Spark's file index. What it reuses: while that listing (the path, length and
 * mtime of every file) digests the same as when the session last resolved the path,
 * under the same session confs, the session's resolved relation, with fresh attribute
 * ids; and a temp view that [[bindView]] finds already holding the same result over the
 * same listing. A rewritten, added or removed file resolves the path again, so reads are
 * exactly as fresh as a bare `spark.read.parquet`; there is deliberately no TTL and no
 * option. The reuse took the
 * sql_star entry layer from ~90 to ~33 ms a pass (`bench_entry_reuse.json`). The same
 * digest, [[listingDigest]], is the one freshness rule of StarCache, the
 * MaterializedViews rewrite and ResultCache.
 */
object TableIO {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The relation a session last resolved for a path, the conf digest it was resolved
    * under and the listing its file index made. */
  private final case class Resolved(session: SparkSession, confs: String, listing: String,
                                    relation: LogicalRelation)

  /** JVM-wide, one entry per path read through [[parquet]]: the session that read it last
    * replaces the entry, and a context's entries are dropped when it stops, so the map
    * keeps no stopped session reachable. A live session that nothing else holds stays
    * reachable until another session reads its paths. Each entry keeps its file index,
    * which holds the status of every file under the path (~680 B a file; the first read
    * of a 1301-file table retained ~1.7 MiB, Spark's shared file-status cache included).
    * A hit adds nothing, where each bare `spark.read.parquet` of that table adds ~0.9 MiB
    * to the shared cache, up to `spark.sql.hive.filesourcePartitionFileCacheSize`
    * (`bench_entry_reuse.json`). */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** The contexts a [[ForgetOnEnd]] listens to. */
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** Drops every entry of `sc`'s sessions when `sc` stops. */
  private[graft] final class ForgetOnEnd(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      resolved.values.removeIf(_.session.sparkContext eq sc)
      watched.remove(sc)
    }
  }

  /**
   * `spark.read.parquet(path)`, resolved once per file listing. A hit needs the session
   * that last read the path, the same confs, and a listing of the path now ([[listNow]])
   * that digests as the one its relation was resolved over; it returns that relation
   * with fresh attribute ids, so self-joins resolve as before, and starts no job, builds
   * no file index and makes no data-source lookup. Anything else is a bare
   * `spark.read.parquet(path)`, whose relation replaces the entry.
   */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val confs = confDigest(spark)
    Option(resolved.get(path))
      .filter(r => (r.session eq spark) && r.confs == confs &&
        listNow(r.relation).contains(r.listing))
      .map(r => Frames.ofPlan(spark, r.relation.newInstance()))
      .getOrElse {
        val df = spark.read.parquet(path)
        remember(spark, path, confs, df)
        df
      }
  }

  /** Stores `df`'s relation for `path` when its one root is the path itself: a glob's
    * roots are its matches when read, and a listing of them would not see a new match. */
  private def remember(spark: SparkSession, path: String, confs: String, df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if fs.location.rootPaths ==
          Seq(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(new Path(path))) =>
        listingOf(df).foreach { l =>
          val sc = spark.sparkContext
          if (watched.add(sc)) sc.addSparkListener(new ForgetOnEnd(sc))
          resolved.put(path, Resolved(spark, confs, l, lr))
        }
      case _ => ()
    }

  /** [[listingDigest]] of the files under `relation`'s roots as they are now
    * (`FileListing.leafFiles`); None if they cannot be listed. Where that listing holds
    * more than the file index does (a `mapreduce.input.pathFilter.class`), the digests
    * differ and the read only resolves again. */
  private[graft] def listNow(relation: LogicalRelation): Option[String] =
    relation.relation match {
      case fs: HadoopFsRelation => Try(digest(FileListing.leafFiles(fs))).toOption
      case _ => None
    }

  /** Every conf the session sets, since inference reads confs across several Spark
    * classes (footer type mapping, case sensitivity, char/varchar handling) and that set
    * moves between releases. graft's own `spark.graft.*` keys, which Spark never reads
    * and StarCache sets per session, are left out. */
  private def confDigest(spark: SparkSession): String =
    DigestUtils.md5Hex(spark.conf.getAll.toSeq.filterNot(_._1.startsWith("spark.graft."))
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))

  /**
   * The one freshness rule every graft cache keys on: MD5 of the listing that the file
   * relations in `plan` (subqueries included) made when they were read — path, length
   * and mtime of every file. Reading it starts no job and makes no filesystem call: it
   * is the listing each relation's `InMemoryFileIndex` already holds, so it names
   * exactly the files the plan scans. None when the plan has no leaf or some leaf has
   * no listed file index (an in-memory frame, Range, Arrow/V2 or streaming source):
   * such a plan has no file listing to be fresh against.
   */
  private[graft] def listingDigest(plan: LogicalPlan): Option[String] = {
    val listings = plan.collectWithSubqueries { case leaf if leaf.children.isEmpty =>
      leaf match {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
          case index: PartitioningAwareFileIndex => Some(index.allFiles())
          case _ => None
        }
        case _ => None
      }
    }
    if (listings.isEmpty || listings.contains(None)) None
    else Some(digest(listings.flatten.flatten))
  }

  private def digest(files: Seq[FileStatus]): String =
    DigestUtils.md5Hex(files.map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
      .sorted.mkString("\n"))

  /** [[listingDigest]] of `df`'s analyzed plan. */
  private[graft] def listingOf(df: DataFrame): Option[String] =
    listingDigest(df.queryExecution.analyzed)

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /**
   * events.ts normalizes to Spark's session-timezone TIMESTAMP whatever the file
   * carries: older driver drops wrote TIMESTAMP(NANOS) (read as LongType nanos under
   * spark.sql.legacy.parquet.nanosAsLong), the current drop writes timezone-naive
   * micros (read as TIMESTAMP_NTZ, which watermarks/windows reject). The session
   * timezone is pinned to UTC (GraftSession), so the NTZ cast is value-preserving and
   * DuckDB reading the same file naively sees identical wall-clock values.
   */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register all tables as temp views so spark.sql(...) queries can reference them.
    * `events` is registered with the SAME normalized timestamp the Scala loaders expose —
    * a SQL user must not see raw nanos longs where the API sees timestamps. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      bindView(spark, n, if (n == "events") events(spark, sfDir) else table(spark, sfDir, n))
    }

  /** `df.createOrReplaceTempView(name)`, skipped when the view already holds the same
    * result over the same file listing ([[listingDigest]]): the view keeps its stored
    * plan, and no view command (a SQL execution of its own) runs. */
  def bindView(spark: SparkSession, name: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    val kept = spark.sessionState.catalog.getTempView(name).exists { view =>
      listingDigest(plan).exists(listingDigest(view).contains) && view.sameResult(plan)
    }
    if (!kept) df.createOrReplaceTempView(name)
  }

  /** Read Arrow-IPC (`.arrow` / Feather v2) files — the reference's namesake
    * arrow-data-source format. One file per task; schema from the file footer.
    * See org.apache.spark.sql.graft.ArrowSourceV2 for the mechanism. */
  def readArrow(spark: SparkSession, path: String): DataFrame =
    // DataSourceV2 path: column pruning reaches the scan, batches deliver columnar
    spark.read.format(classOf[org.apache.spark.sql.graft.ArrowSourceV2].getName).load(path)

  /**
   * Fan a narrow scan out to all cores before CPU-heavy per-row compute (regex scoring,
   * shingling, hashing). A small table arrives as ONE parquet split and would pin
   * everything before the first shuffle to a single thread; at production scale the scan
   * already has >= defaultParallelism splits and this is a no-op — no extra exchange.
   */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}

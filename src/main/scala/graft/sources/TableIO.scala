package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

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
 * rewrite read through [[parquet]], which resolves a path's schema once per file listing.
 * A bare `spark.read.parquet` infers the schema with a one-task Spark job that reads a
 * footer (~30 ms of wall time for ~3 ms of work), so a query reading six tables started
 * six jobs before it ran. The reuse rule: a schema inferred for a path is reused only
 * while the path's file listing (the path, length and mtime of every file) digests the
 * same as when it was inferred, under the same session confs. Each read still lists the
 * path as before, so reads are exactly as fresh as a bare `spark.read.parquet`; there is
 * deliberately no TTL and no option. The same digest, [[listingDigest]], is the one
 * freshness rule of StarCache, the MaterializedViews rewrite and ResultCache.
 */
object TableIO {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The schema last inferred for a path, the conf digest it was inferred under and the
    * listing it saw. */
  private final case class Resolved(confs: String, listing: String, schema: StructType)

  /** JVM-wide, one entry per path ever read through [[parquet]]; an entry is replaced,
    * never evicted. Sessions with equal confs share it; a read under other confs infers
    * again and replaces it. */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /**
   * `spark.read.parquet(path)` without the schema-inference job when the path's files
   * are unchanged. A hit reads with the cached schema, then compares the listing that
   * this read's own file index just made; if a file was rewritten, added or removed it
   * infers again, as a bare read would, and replaces the entry. Each call returns a new
   * relation with fresh attribute ids, so self-joins resolve as before.
   */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val confs = confDigest(spark)
    Option(resolved.get(path)).filter(_.confs == confs)
      .map(r => (r, spark.read.schema(r.schema).parquet(path)))
      .collect { case (r, df) if listingOf(df).contains(r.listing) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        // CHAR/VARCHAR fields (inferred under spark.sql.preserveCharVarcharTypeInfo) are
        // refused in a given schema, so such a schema is inferred on every read
        if (!CharVarcharUtils.hasCharVarchar(df.schema))
          listingOf(df).foreach(l => resolved.put(path, Resolved(confs, l, df.schema)))
        df
      }
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
    else Some(DigestUtils.md5Hex(listings.flatten.flatten
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted.mkString("\n")))
  }

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
      val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
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

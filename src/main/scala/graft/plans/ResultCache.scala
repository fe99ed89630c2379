package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.TableIO

/**
 * Query-result cache keyed by plan fingerprint — the Snowflake/BigQuery result-cache
 * behavior self-hosted on parquet: a deterministic query over unchanged inputs is
 * served from its materialized previous answer instead of re-executing.
 *
 * The fingerprint hashes (a) the CANONICALIZED analyzed plan (Spark's alias/exprId
 * normalization, so two syntactically different but semantically identical builds of
 * the same query share an entry) and (b) `TableIO.listingDigest` of the plan, graft's
 * one freshness rule: the (path, length, modificationTime) of every file its relations
 * listed when they were read, which are exactly the files the plan scans. Any data
 * change seen by a new read rotates the key (old entries orphan; retention is an
 * operational `vacuum`, not a correctness concern). `MaterializedViews` and
 * `sources.StarCache` key on the same digest.
 *
 * Soundness contract: the plan must be DETERMINISTIC — no rand()/now()/uuid(). That is
 * the same contract Snowflake's result reuse imposes; queries in this repo keep it
 * deliberately (every sampling decision is hash-based for exactly this reason).
 *
 * Scale: the fingerprint makes no listing and no filesystem call of its own; a hit
 * replaces the whole job with a parquet scan of the answer; a miss pays one extra
 * write of the result it was going to produce anyway.
 */
object ResultCache {

  /**
   * Cacheable = every leaf is a relation over a listed file index. A LocalRelation's
   * ROWS are not part of any plan rendering (two in-memory frames with the same schema
   * but different data print identically), and Range, streaming and DataSourceV2 leaves
   * (the Arrow source among them) have no file listing either — for those the
   * fingerprint would survive a rewrite of their data, so the cache BYPASSES them
   * instead of risking a silently-wrong served answer.
   */
  def cacheable(df: DataFrame): Boolean = TableIO.listingOf(df).isDefined

  /** Stable content key for `df`'s current plan over its current inputs; None when `df`
    * is not [[cacheable]]. */
  def fingerprint(df: DataFrame): Option[String] = TableIO.listingOf(df).map { listing =>
    val spark = df.sparkSession
    // Lossless rendering: plan toString truncates attribute/expression lists past
    // spark.sql.debug.maxToStringFields (default 25), so two wide projections
    // differing only past the 25th field would otherwise share a key. Raise the
    // limit for the duration of the render (SQLConf is thread-local-session scoped).
    val key = "spark.sql.debug.maxToStringFields"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    val plan =
      try df.queryExecution.analyzed.canonicalized.toString
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    org.apache.commons.codec.digest.DigestUtils.md5Hex(plan + "\n--\n" + listing)
  }

  /** True if `df`'s answer is already materialized under `cacheDir`. */
  def isCached(df: DataFrame, cacheDir: String): Boolean = fingerprint(df).exists { fp =>
    val p = new Path(s"$cacheDir/$fp/_SUCCESS")
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).exists(p)
  }

  /**
   * Serve `df` from the cache, computing and materializing it on first sight.
   * For cacheable (all-file-input) plans the returned frame always reads the
   * materialized parquet — identical rows on hit and miss, so callers cannot observe
   * which path ran. Non-cacheable plans (in-memory, Range or V2 leaves) pass through
   * untouched: correctness first, caching only where the key is sound.
   */
  def run(df: DataFrame, cacheDir: String): DataFrame = fingerprint(df).fold(df) { fp =>
    val spark = df.sparkSession
    val entry = s"$cacheDir/$fp"
    val success = new Path(s"$entry/_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(success)) {
      // overwrite: a previous partial write (no _SUCCESS) is debris, not an answer
      df.write.mode("overwrite").parquet(entry)
    }
    TableIO.parquet(spark, entry)
  }
}

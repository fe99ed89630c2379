package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pins
import graft.sources.TableIO

/**
 * Deterministic sampling and source-mixture weighting for training-data curation — the
 * operations a 100 TB corpus pipeline runs between dedup and tokenization.
 *
 * All sampling decisions hash the stable document id (md5 hex prefix compared against a
 * threshold), never `rand()`: the sample is reproducible run-to-run, independent of
 * partitioning/task retries, and expressible in ANSI SQL, so every query here is
 * hash-checked against the DuckDB oracle. Each decision is a narrow per-row expression —
 * no shuffle until the final summary aggregation; the row-level operators (`sampled*`,
 * `mixtureWeighted`) compose into downstream pipelines shuffle-free at any scale.
 */
object Sampling {

  /** Keep rows whose md5(doc_id) 2-hex-digit prefix sorts below `hexThreshold` (e.g. "26" ~ 38/256 ~ 14.8%). */
  private def hashKeep(hexThreshold: String): Column =
    substring(md5(col("doc_id").cast("string")), 1, 2) < hexThreshold

  /** Row-level deterministic ~15% uniform sample of `documents`. */
  def sampledUniform(docs: DataFrame): DataFrame = docs.filter(hashKeep("26"))

  /** `sample_uniform`: per-lang counts of the deterministic uniform sample. */
  def sampleUniform(spark: SparkSession, dir: String): DataFrame =
    sampledUniform(TableIO.documents(spark, dir))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("lang"))

  val sampleUniformSql: String =
    """SELECT lang, count(*) AS n_sampled FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '26'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- stratified ----------------------------------------------------------------------

  /** Per-lang keep thresholds: downsample dominant languages, keep the tail whole. */
  private val strataThreshold: Map[String, String] =
    Map("en" -> "40" /* ~25% */, "de" -> "80" /* ~50% */, "fr" -> "80")
  private val strataDefault = "ff" // ~keep (all but prefix "ff")

  /** Row-level stratified sample: per-stratum deterministic rates. */
  def sampledStratified(docs: DataFrame): DataFrame = {
    val threshold = strataThreshold.foldLeft(lit(strataDefault)) { case (acc, (lang, t)) =>
      when(col("lang") === lang, lit(t)).otherwise(acc)
    }
    docs.filter(substring(md5(col("doc_id").cast("string")), 1, 2) < threshold)
  }

  /** `sample_stratified`: per-lang counts after stratified downsampling. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    sampledStratified(TableIO.documents(spark, dir))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("lang"))

  val sampleStratifiedSql: String =
    """SELECT lang, count(*) AS n_sampled FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE lang WHEN 'en' THEN '40' WHEN 'de' THEN '80' WHEN 'fr' THEN '80' ELSE 'ff' END
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- mixture weighting ---------------------------------------------------------------

  /**
   * Source mixture weights for the training blend. w > 1 upsamples by deterministic
   * replication (floor(w) copies + one more with probability frac(w)); w < 1 downsamples.
   */
  private val mixtureWeights: Map[String, Double] = Map("src0" -> 2.5, "src1" -> 0.5)

  /** Hex threshold for the fractional part of a weight (2 hex digits of 256 buckets). */
  private def fracHex(w: Double): String =
    f"${math.min(255, math.round(math.floor((w - math.floor(w)) * 256))).toInt}%02x"

  /**
   * Row-level mixture weighting with caller-supplied per-source weights: emits
   * floor(w)+Bernoulli(frac(w)) deterministic copies of each row (`copy_id` distinguishes
   * them; sources not in `weights` get `defaultWeight`). Replication happens AFTER
   * filters/dedup in a real pipeline, so the explode multiplies only surviving rows.
   * Internal working columns are collision-checked so arbitrary user schemas are safe.
   */
  def mixtureWeighted(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame = {
    require(!docs.columns.contains("copy_id") && !docs.columns.contains("n_copies"),
      "input already carries a copy_id/n_copies column — rename it before mixture weighting")
    def copyExpr(w: Double): Column =
      lit(math.floor(w).toInt) + when(hashKeep(fracHex(w)), 1).otherwise(0)
    val copies = weights.foldLeft(copyExpr(defaultWeight)) { case (acc, (src, w)) =>
      when(col("source") === src, copyExpr(w)).otherwise(acc)
    }
    docs.withColumn("n_copies", copies)
      .filter(col("n_copies") > 0)
      .withColumn("copy_id", explode(sequence(lit(1), col("n_copies"))))
      .drop("n_copies")
  }

  /** Test-corpus mixture (the driver query's fixed blend). */
  def mixtureWeighted(docs: DataFrame): DataFrame = mixtureWeighted(docs, mixtureWeights)

  /** `sample_mixture`: rows per source after mixture weighting (src0 up, src1 down). */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame =
    mixtureWeighted(TableIO.documents(spark, dir))
      .groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("source"))

  val sampleMixtureSql: String = {
    val frac25 = fracHex(2.5) // "80"
    val frac05 = fracHex(0.5) // "80"
    s"""SELECT source, CAST(sum(n_copies) AS BIGINT) AS n_rows FROM (
       |  SELECT source,
       |    CASE source
       |      WHEN 'src0' THEN 2 + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$frac25' THEN 1 ELSE 0 END
       |      WHEN 'src1' THEN CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$frac05' THEN 1 ELSE 0 END
       |      ELSE 1 END AS n_copies
       |  FROM documents) WHERE n_copies > 0
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- capped per-key sampling ---------------------------------------------------------

  /**
   * Deterministic "at most k rows per key" sample (cap documents per domain/source/lang —
   * the anti-domination guard every corpus blend applies): rows are ranked inside each key
   * by the md5 of their doc_id (a deterministic shuffle, reproducible across retries) and
   * the native bounded-heap TopKPerKey keeps the first k — map-side partial heaps shrink
   * each partition to <= k rows per key BEFORE the shuffle, so the exchange moves
   * O(k·keys), never the corpus.
   */
  def sampleKPerKey(df: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    require(!df.columns.contains("__h"), "input already carries a __h column")
    val withH = df.withColumn("__h", md5(col("doc_id").cast("string")))
    org.apache.spark.sql.graft.TopKPerKey(
      withH, keys, Seq(("__h", false), ("doc_id", false)), k).drop("__h")
  }

  /** `sample_per_key`: at most 3 docs per lang, deterministic. */
  def samplePerKey(spark: SparkSession, dir: String): DataFrame =
    sampleKPerKey(TableIO.documents(spark, dir), Seq("lang"), 3)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  val samplePerKeySql: String =
    """SELECT lang, doc_id FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin

  // ---- train/val/test split ------------------------------------------------------------

  /**
   * Deterministic corpus split on the doc-id hash: ~5% test (md5 prefix < '0d' of 256
   * buckets), ~5% validation (< '1a'), remainder train. Exactly one split per row,
   * retry-reproducible, no `rand()` — re-running the pipeline (or re-materializing a
   * lost partition) assigns every document to the same split, which is what keeps a
   * test set honest across pipeline versions.
   */
  def splitAssigned(docs: DataFrame): DataFrame = {
    val pfx = substring(md5(col("doc_id").cast("string")), 1, 2)
    docs.withColumn("split",
      when(pfx < "0d", "test").when(pfx < "1a", "val").otherwise("train"))
  }

  /** `sample_split`: doc/char counts per assigned split. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssigned(TableIO.documents(spark, dir))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))

  val sampleSplitSql: String =
    """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
      |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
      |            ELSE 'train' END AS split,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /**
   * GROUP-aware split assignment (GroupKFold's leakage guard): the split key is the
   * GROUP's hash, not the row's, so every row of a group lands in the same fold —
   * near-duplicate or same-source documents can never straddle train and test. Same
   * md5-prefix thresholds as [[splitAssigned]] (~5% test / ~5% val of GROUPS);
   * map-only, deterministic, no shuffle.
   */
  def splitAssignedGrouped(df: DataFrame, groupCol: String): DataFrame = {
    val pfx = substring(md5(col(groupCol).cast("string")), 1, 2)
    df.withColumn("split",
      when(pfx < "0d", "test").when(pfx < "1a", "val").otherwise("train"))
  }

  /** `sample_split_grouped`: leakage-safe split by source — every source's docs share
    * one fold; output proves group atomicity (one split per source). */
  def sampleSplitGrouped(spark: SparkSession, dir: String): DataFrame =
    splitAssignedGrouped(TableIO.documents(spark, dir), "source")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))

  val sampleSplitGroupedSql: String =
    """SELECT source,
      |  CASE WHEN substring(md5(CAST(source AS VARCHAR)), 1, 2) < '0d' THEN 'test'
      |       WHEN substring(md5(CAST(source AS VARCHAR)), 1, 2) < '1a' THEN 'val'
      |       ELSE 'train' END AS split,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- deterministic shuffle-shard export ----------------------------------------------

  /**
   * Deterministic global shuffle + sharding for training export — the last step before
   * tokenization: every example gets a pseudorandom (shard, pos) so readers stream the
   * corpus in a fixed, seed-reproducible random order. shard = first-8-hex of
   * md5(seed:doc_id) mod numShards; in-shard order = the full md5 hex (a pseudorandom
   * permutation key). No `rand()`: re-running the export (or recomputing a lost
   * partition) reproduces the identical order, so a resumed training run sees the same
   * data sequence.
   *
   * Scale shape: this is a hash repartition + per-shard LOCAL sort (the window partitions
   * by shard) — never a global sort. Writing `numShards` files via
   * `repartition(col("shard")).sortWithinPartitions(col("skey"))` streams each shard
   * through one task; pos is only needed when readers want explicit offsets.
   *
   * `pos` is a LONG running row count over the shard's order, equal to `row_number()`.
   * Spark's `row_number()` is an INT, so a shard past 2^31 - 1 docs (past ~17 billion
   * docs at the default 8 shards) would overflow inside it, which ANSI mode turns into
   * an error; the running count never holds an int.
   */
  def shuffleAssigned(docs: DataFrame, numShards: Int = 8, seed: String = "graft"): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val skey = md5(concat(lit(seed + ":"), col("doc_id").cast("string")))
    docs.select(col("doc_id"), skey.as("skey"))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 8), 16, 10).cast("long") % numShards).cast("int"))
      .withColumn("pos", count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
        .rowsBetween(Long.MinValue, 0L))) // unbounded preceding to the current row
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** `sample_shuffle`: seed-deterministic 8-shard shuffle assignment of every document. */
  def sampleShuffle(spark: SparkSession, dir: String): DataFrame =
    shuffleAssigned(TableIO.documents(spark, dir)).orderBy(col("shard"), col("pos"))

  val sampleShuffleSql: String =
    """WITH a AS (SELECT doc_id, md5('graft:' || CAST(doc_id AS VARCHAR)) AS skey
      |           FROM documents),
      |b AS (SELECT doc_id, skey,
      |        CAST(CAST('0x' || substr(skey, 1, 8) AS BIGINT) % 8 AS INT) AS shard
      |      FROM a)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
      |FROM b ORDER BY shard, pos""".stripMargin

  /**
   * Materialized training export: the full corpus as `numShards` JSONL shard files in
   * seed-deterministic shuffled order — the wire format training jobs actually ingest.
   * Rides [[shuffleAssigned]] for (shard, skey); each shard streams through ONE task
   * (hash repartition on shard + per-shard LOCAL sort — never a global sort) into its
   * own `shard=<s>/` directory of newline-delimited JSON. Retry-deterministic: same
   * seed → same shard membership and same in-file line order, so a resumed training
   * run re-reads the identical sequence.
   */
  def exportJsonlShards(docs: DataFrame, path: String, numShards: Int = 8,
      seed: String = "graft"): Unit = {
    require(!docs.columns.exists(Set("shard", "skey")),
      "input must not already carry shard/skey columns")
    val skey = md5(concat(lit(seed + ":"), col("doc_id").cast("string")))
    docs.withColumn("skey", skey)
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 8), 16, 10).cast("long") % numShards).cast("int"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("skey"), col("doc_id"))
      .drop("skey")
      .write.mode("overwrite").partitionBy("shard").json(path)
  }

  // ---- global row ids ------------------------------------------------------------------

  /**
   * Dense global row ids 1..N in `orderCol` order — the stable example-id assignment a
   * training export needs (shard manifests, resumable readers, joinable labels) without
   * ever paying a single-partition global window. Scale shape: ONE range shuffle puts
   * rows in order-partitioned form (partition i holds keys below partition i+1), a
   * per-partition count aggregate ships `numParts` longs to the driver for the prefix
   * offsets (O(partitions), never O(rows) — the same bookkeeping scale as Spark's own
   * dynamic-partition-overwrite), and a map-only pass assigns offset + local position.
   * The id assignment equals ROW_NUMBER() OVER (ORDER BY orderCol) exactly, which is
   * what the DuckDB oracle checks.
   */
  def globalRowIds(df: DataFrame, orderCol: String, numParts: Int = 32): DataFrame = {
    val spark = df.sparkSession
    // a checkpoint pins one materialized partition layout so the count pass and the id
    // pass cannot diverge (and the range shuffle runs once, not twice); the result reads
    // it, so it is the caller's to `Pins.release`
    val parted = Pins.checkpoint(df.repartitionByRange(numParts, col(orderCol))
      .sortWithinPartitions(orderCol))
    val counts = parted.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until numParts).map { p =>
        val o = p -> acc; acc += counts.getOrElse(p, 0L); o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(parted.schema.fields :+
      org.apache.spark.sql.types.StructField("rid", org.apache.spark.sql.types.LongType, nullable = false))
    parted.mapPartitions { it =>
      val off = bc.value.getOrElse(org.apache.spark.TaskContext.getPartitionId(), 0L)
      var i = 0L
      it.map { r => i += 1; org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (off + i)) }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** `sample_row_ids`: dense 1..N example ids over documents in doc_id order. */
  def sampleRowIds(spark: SparkSession, dir: String): DataFrame =
    globalRowIds(TableIO.documents(spark, dir).select(col("doc_id")), "doc_id")
      .orderBy(col("doc_id"))

  val sampleRowIdsSql: String =
    """SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rid
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- weighted sampling without replacement -------------------------------------------

  /**
   * Deterministic weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
   * each row draws u ~ Uniform(0,1) and is ranked by u^(1/weight); the k largest keys
   * are the sample — provably equivalent to sequential weighted draws without
   * replacement. We rank by the monotone-equivalent ln(u)/weight and derive u from the
   * md5 of the doc id (13 hex digits = a 52-bit integer, exact in a double; +0.5 dodges
   * ln(0) and makes u identical bit-for-bit in any engine), so the sample is
   * reproducible across runs/retries and checkable in SQL. Keys are rounded to 9
   * decimals with a doc_id tie-break so the order is total cross-engine. Scale shape:
   * the key is a narrow per-row expression; top-k rides TakeOrderedAndProject (per-
   * partition heaps, never a global sort). Zero-weight rows are excluded, matching the
   * w -> 0 limit of the distribution.
   */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
    docs.filter(col(weightCol) > 0)
      .select(col("doc_id"), col(weightCol),
        round(log(u) / col(weightCol), 9).as("wkey"))
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(k)
  }

  /** `sample_weighted`: 20 docs drawn without replacement, weighted by length. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSample(TableIO.documents(spark, dir), "n_chars", 20)

  val sampleWeightedSql: String =
    """SELECT doc_id, n_chars,
      |  round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 0.5)
      |           / 4503599627370496.0) / n_chars, 9) AS wkey
      |FROM documents WHERE n_chars > 0
      |ORDER BY wkey DESC, doc_id LIMIT 20""".stripMargin

  // ---- bootstrap replicates ------------------------------------------------------------

  /**
   * Deterministic Poisson bootstrap — the standard distributed bootstrap (Chamandy et
   * al., Google '12): replicate r includes each row Poisson(1)-many times, approximating
   * multinomial resampling without any global coordination. The Poisson draw inverts the
   * lambda=1 CDF at a 52-bit uniform from md5(r:doc_id) (the [[weightedSample]]
   * construction — bit-identical in any engine, reproducible across retries), with
   * hard-coded CDF literals so both engines compare against the same constants; counts
   * >= 5 clamp to 5 (P ~ 3e-4, and the clamp is part of the declared, replayed rule).
   * Per-row work is a narrow expression x nReplicates (no data movement until the
   * caller's aggregate); replicate statistics here are weighted sums — the copies are
   * never physically exploded.
   */
  def bootstrapStats(docs: DataFrame, valueCol: String, nReplicates: Int): DataFrame = {
    require(nReplicates >= 1, s"need nReplicates >= 1, got $nReplicates")
    val u = (conv(substring(md5(concat(col("rep").cast("string"), lit(":"),
      col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
    val copies = when(u < 0.3678794412, 0).when(u < 0.7357588823, 1)
      .when(u < 0.9196986029, 2).when(u < 0.9810118431, 3)
      .when(u < 0.9963401532, 4).otherwise(5)
    docs.select(col("doc_id"), col(valueCol),
        explode(sequence(lit(1), lit(nReplicates))).as("rep"))
      .withColumn("copies", copies)
      .groupBy(col("rep"))
      .agg(sum(col("copies")).as("n_rows"),
        round(sum(col("copies") * col(valueCol)) / sum(col("copies")), 4).as("mean_v"))
  }

  /** `sample_bootstrap`: 20 Poisson-bootstrap replicates of mean document length. */
  def sampleBootstrap(spark: SparkSession, dir: String): DataFrame =
    bootstrapStats(TableIO.documents(spark, dir), "n_chars", 20)
      .orderBy(col("rep"))

  val sampleBootstrapSql: String =
    """WITH reps AS (SELECT unnest(generate_series(1, 20)) AS rep),
      |draws AS (
      |  SELECT r.rep, d.n_chars,
      |    (CAST('0x' || substr(md5(CAST(r.rep AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 13)
      |          AS BIGINT) + 0.5) / 4503599627370496.0 AS u
      |  FROM documents d CROSS JOIN reps r),
      |counted AS (
      |  SELECT rep, n_chars,
      |    CASE WHEN u < 0.3678794412 THEN 0 WHEN u < 0.7357588823 THEN 1
      |         WHEN u < 0.9196986029 THEN 2 WHEN u < 0.9810118431 THEN 3
      |         WHEN u < 0.9963401532 THEN 4 ELSE 5 END AS copies
      |  FROM draws)
      |SELECT CAST(rep AS INT) AS rep, CAST(sum(copies) AS BIGINT) AS n_rows,
      |  round(sum(copies * n_chars) * 1.0 / sum(copies), 4) AS mean_v
      |FROM counted GROUP BY rep ORDER BY rep""".stripMargin

  // ---- registry ------------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_uniform" -> (sampleUniform(_, _)),
    "sample_stratified" -> (sampleStratified(_, _)),
    "sample_mixture" -> (sampleMixture(_, _)),
    "sample_split" -> (sampleSplit(_, _)),
    "sample_split_grouped" -> (sampleSplitGrouped(_, _)),
    "sample_per_key" -> (samplePerKey(_, _)),
    "sample_shuffle" -> (sampleShuffle(_, _)),
    "sample_row_ids" -> (sampleRowIds(_, _)),
    "sample_weighted" -> (sampleWeighted(_, _)),
    "sample_bootstrap" -> (sampleBootstrap(_, _)))

  val oracles: Map[String, String] = Map(
    "sample_uniform" -> sampleUniformSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_mixture" -> sampleMixtureSql,
    "sample_split" -> sampleSplitSql,
    "sample_split_grouped" -> sampleSplitGroupedSql,
    "sample_per_key" -> samplePerKeySql,
    "sample_shuffle" -> sampleShuffleSql,
    "sample_row_ids" -> sampleRowIdsSql,
    "sample_weighted" -> sampleWeightedSql,
    "sample_bootstrap" -> sampleBootstrapSql)
}

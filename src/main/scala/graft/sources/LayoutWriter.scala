package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.Pins

/**
 * Data-layout management: cluster a table on its dominant filter/join columns before
 * writing, so parquet row-group min/max statistics become selective.
 *
 * At 100 TB this is the difference between "every query scans everything" and "a date- or
 * key-bounded query reads only the row groups that can match": `repartitionByRange` puts
 * disjoint value ranges in disjoint files, `sortWithinPartitions` orders rows inside each
 * file, and the parquet writer then emits row groups whose min/max spans are narrow.
 * Spark's scan applies pushed predicates against those spans and skips whole row groups
 * (and, via the parquet column index, whole pages). Sorted runs also compress better
 * (RLE/dictionary/delta), shrinking bytes scanned even for full reads.
 *
 * The reference reaches the same goal by partition-pruning its Arrow file scans
 * (gazelle_plugin: arrow-data-source/.../ArrowFileSourceScanExec); graft additionally
 * manages the physical order INSIDE files, which is what makes min/max skipping work on
 * non-partition columns. LayoutSpec proves the skip with scan metrics: the same predicate
 * reads ~1/N of the rows from a clustered layout vs ALL rows from a random layout.
 */
object LayoutWriter {

  /**
   * Write `df` as parquet clustered on `clusterCols`: range-partitioned across files,
   * sorted within each file. `targetFiles` <= 0 means the session's default parallelism.
   * Hive-style `partitionBy` directories suit low-cardinality columns (they prune at the
   * planner); range-clustering suits high-cardinality columns (dates, keys) where a
   * directory per value would explode the namespace.
   *
   * Measured caveat (Spark 4.1 + parquet-mr): predicates on TIMESTAMP_NTZ columns are
   * pushed to the scan but do NOT prune row groups — cluster on a DATE cast or an epoch
   * numeric instead (LayoutSpec pins both the working DATE path and this caveat).
   */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
                     targetFiles: Int = 0): Unit = {
    require(clusterCols.nonEmpty, "clusterCols must not be empty")
    val n = if (targetFiles > 0) targetFiles
            else df.sparkSession.sparkContext.defaultParallelism
    val cols: Seq[Column] = clusterCols.map(col)
    df.repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Key-based upsert into a hive-partitioned parquet table that rewrites ONLY the
   * partitions the updates touch (dynamic partition overwrite). At 100 TB a refresh
   * batch touches a handful of date partitions; rewriting the whole table for it is the
   * difference between minutes and a day. Untouched partition files are left bit-for-bit
   * alone (LayoutSpec asserts same files, same mtimes).
   *
   * Not ACID: a reader racing the overwrite of a touched partition can see it mid-swap —
   * at that point you want a table format (Delta/Iceberg) on top; the PLAN shape (touched
   * partitions only, anti-join on the key, union of survivors + updates) is the same one
   * those formats execute underneath.
   */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        key: String, partitionCol: String): Unit = Pins.scoped {
    import org.apache.spark.sql.functions.{count, first, lit}
    val existing = spark.read.parquet(path)

    // Align updates to the EXISTING schema first. Two failure modes this closes: (a) a
    // differently-typed updates frame (Long yr vs inferred Int) makes the collected
    // partition values compare unequal driver-side, so a freshly-written partition could
    // land in the emptied set and be deleted after the write; (b) unionByName would
    // silently widen the union type and rewrite touched partitions with a DIFFERENT
    // column type than the rest of the table.
    val aligned = updates.select(existing.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)

    // ONE small job over the updates batch (the broadcast-sized side by contract) yields
    // both the duplicate-key check and the partition values the updates land in. Two
    // update rows for one key would make the upsert itself plant the duplicates it exists
    // to prevent, and "last write wins" is undefined without an ordering column: fail fast.
    val keyRows = aligned.groupBy(col(key))
      .agg(count(lit(1)).as("cnt"), first(col(partitionCol)).as("pv")).collect()
    val dups = keyRows.filter(_.getLong(1) > 1).take(3)
    require(dups.isEmpty,
      s"updates batch has duplicate values of key '$key' (e.g. ${dups.map(_.get(0)).mkString(", ")}); " +
        "resolve to one row per key before upserting")
    val updatePartRaw = keyRows.map(_.get(2)).distinct.toSeq

    // touched = partitions the updates land in PLUS partitions currently holding an
    // updated key — a key whose partition value changes must have its OLD row rewritten
    // away too, or the "upsert" leaves a stale duplicate in the untouched partition.
    val updatedKeys = aligned.select(key).distinct()
    val movedFromRaw = existing.join(broadcast(updatedKeys), Seq(key), "left_semi")
      .select(partitionCol).distinct().collect().map(_.get(0)).toSeq
    val touchedRaw = (updatePartRaw ++ movedFromRaw).distinct

    // survivors: rows of touched partitions whose key is NOT replaced by an update. The
    // touched set is inlined as a literal IN list (partition VALUES — small by
    // construction), so it prunes directories at plan time instead of needing a runtime
    // semi join. A checkpoint materializes survivors BEFORE the overwrite — the write
    // would otherwise read from the very files it is replacing. The scope frees it once
    // the overwrite is done.
    val touchedNonNull = touchedRaw.filter(_ != null)
    val touchedPred =
      if (touchedRaw.contains(null))
        col(partitionCol).isNull || col(partitionCol).isInCollection(touchedNonNull)
      else col(partitionCol).isInCollection(touchedNonNull)
    val survivors = Pins.checkpoint(existing.filter(touchedPred)
      .join(broadcast(updatedKeys), Seq(key), "left_anti"))
    val out = survivors.unionByName(aligned)

    // dynamic overwrite only replaces partitions PRESENT in the written data — a touched
    // partition whose rows ALL moved away would keep its stale files. The emptied set is
    // derived from data already in hand (updates' values from the key job, survivors'
    // from the in-memory checkpoint) — no extra pass over the source files.
    val survivorRaw = survivors.select(partitionCol).distinct().collect().map(_.get(0))
    val emptied = (touchedRaw.toSet -- updatePartRaw) -- survivorRaw

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
    try out.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    finally prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))

    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(path, hiveDirName(partitionCol, v)), true)
    }
  }

  /** `col=value` directory name exactly as Spark's writer lays it out: Hive path escaping
    * for special characters (`:`, `/`, `%`, …), `__HIVE_DEFAULT_PARTITION__` for null —
    * a raw s"$col=$v" would miss escaped and null directories and silently leave the
    * stale files the emptied-partition cleanup exists to delete. */
  private[graft] def hiveDirName(partitionCol: String, value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val v = if (value == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(String.valueOf(value))
    s"${ExternalCatalogUtils.escapePathName(partitionCol)}=$v"
  }

  /** 16-bit Morton spread: insert a zero between consecutive bits (codegen-able bitwise
    * algebra — no UDF). Input must already be masked to 16 bits. */
  private def spreadBits(c: Column): Column = {
    import org.apache.spark.sql.functions.shiftleft
    val m1 = 0x00FF00FFL; val m2 = 0x0F0F0F0FL; val m3 = 0x33333333L; val m4 = 0x55555555L
    val x1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(m1)
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(m2)
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(m3)
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(m4)
  }

  /**
   * Z-ORDER (Morton-curve) clustering on TWO numeric columns — multi-dimensional data
   * skipping, the lakehouse OPTIMIZE ZORDER analog. Single-column range clustering makes
   * row-group min/max selective on ONE axis; interleaving the bits of both columns'
   * 16-bit bucket ids makes file/row-group spans narrow on BOTH, so a predicate on
   * EITHER column skips most of the data. Bucket ids come from `width_bucket` over the
   * observed min/max (one tiny pre-pass): linear buckets, so a heavily skewed column
   * concentrates in few buckets and loses selectivity — use [[writeZOrderedQuantile]]
   * for skewed columns (equal-mass buckets from approxQuantile).
   */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    targetFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.{lit, max, min, shiftleft, width_bucket}
    val n = if (targetFiles > 0) targetFiles
            else df.sparkSession.sparkContext.defaultParallelism
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    require(!r.anyNull, s"z-order columns $colA/$colB must have non-null extrema")
    val (aLo, aHi, bLo, bHi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    def bucket(c: String, lo: Double, hi: Double): Column =
      // width_bucket returns 1..n+1 (upper bound lands in n+1); clamp into 0..65535
      org.apache.spark.sql.functions.least(
        width_bucket(col(c).cast("double"), lit(lo), lit(hi + 1e-9), lit(65536)) - 1,
        lit(65535L))
    val z = shiftleft(spreadBits(bucket(colA, aLo, aHi)), 1)
      .bitwiseOR(spreadBits(bucket(colB, bLo, bHi)))
    df.withColumn("__z", z)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Quantile-bucketed z-order — [[writeZOrdered]] for SKEWED columns. Linear
   * `width_bucket` ids concentrate a skewed column's mass into a few buckets, and inside
   * those buckets the z-curve degenerates to ordering by the OTHER column — probes on the
   * skewed axis stop skipping. Here each column's 256 bucket boundaries come from
   * `approxQuantile` (one pre-pass per column, driver holds 2x255 doubles), so every
   * bucket carries ~equal row mass regardless of distribution; mapping goes through
   * ml.feature.Bucketizer (binary search per row). Nulls land in the top bucket
   * (handleInvalid=keep) — cluster tail, never an error.
   */
  def writeZOrderedQuantile(df: DataFrame, path: String, colA: String, colB: String,
                            targetFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.shiftleft
    val n = if (targetFiles > 0) targetFiles
            else df.sparkSession.sparkContext.defaultParallelism
    val probes = (1 until 256).map(_ / 256.0).toArray
    // BOTH columns' cut points in ONE approxQuantile pass (the multi-column overload) —
    // per-column calls would scan the full input twice before the write's third scan
    val doubled = df
      .withColumn("__ad", col(colA).cast("double"))
      .withColumn("__bd", col(colB).cast("double"))
    val Array(cutsA, cutsB) =
      doubled.stat.approxQuantile(Array("__ad", "__bd"), probes, 0.001)
    require(cutsA.nonEmpty && cutsB.nonEmpty,
      s"z-order columns $colA/$colB need non-null numeric values (empty frame or " +
        "all-null column has no quantiles)")
    def bucketize(in: DataFrame, inCol: String, out: String, cuts: Array[Double]): DataFrame =
      new org.apache.spark.ml.feature.Bucketizer()
        .setInputCol(inCol).setOutputCol(out)
        .setSplits(Double.NegativeInfinity +: cuts.distinct :+ Double.PositiveInfinity)
        .setHandleInvalid("keep")
        .transform(in)
    val withZ = bucketize(bucketize(doubled, "__ad", "__ba", cutsA), "__bd", "__bb", cutsB)
      .drop("__ad", "__bd")
      .withColumn("__z", shiftleft(spreadBits(col("__ba").cast("long")), 1)
        .bitwiseOR(spreadBits(col("__bb").cast("long"))))
    withZ.repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__ba", "__bb", "__z")
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Hilbert-curve clustering on TWO numeric columns — [[writeZOrdered]] with the
   * better space-filling curve. Morton interleaving takes Z-shaped jumps across the
   * grid (consecutive curve positions can be grid-distant), which widens per-file
   * min/max spans; the Hilbert walk moves exactly one grid cell per step, so files
   * cover tighter rectangles and skip more on BOTH axes (the reason Delta's OPTIMIZE
   * clustering moved from Z-order to Hilbert). Same linear width_bucket ids as
   * [[writeZOrdered]]; the curve index is the native codegen
   * [[org.apache.spark.sql.graft.HilbertIndex]] expression.
   */
  def writeHilbert(df: DataFrame, path: String, colA: String, colB: String,
                   targetFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.{lit, max, min, width_bucket}
    val n = if (targetFiles > 0) targetFiles
            else df.sparkSession.sparkContext.defaultParallelism
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    require(!r.anyNull, s"hilbert columns $colA/$colB must have non-null extrema")
    val (aLo, aHi, bLo, bHi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    def bucket(c: String, lo: Double, hi: Double): Column =
      org.apache.spark.sql.functions.least(
        width_bucket(col(c).cast("double"), lit(lo), lit(hi + 1e-9), lit(65536)) - 1,
        lit(65535L))
    val h = org.apache.spark.sql.graft.HilbertExpressions.hilbertIndex(
      bucket(colA, aLo, aHi), bucket(colB, bLo, bHi))
    df.withColumn("__h", h)
      .repartitionByRange(n, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode("overwrite").parquet(path)
  }

  /** Hive-partitioned + in-file clustered: directories prune on `partitionCol` at plan
    * time, row groups skip on `clusterCols` at read time — the two layers compose. */
  def writePartitionedClustered(df: DataFrame, path: String, partitionCol: String,
                                clusterCols: Seq[String], targetFiles: Int = 0): Unit = {
    require(clusterCols.nonEmpty, "clusterCols must not be empty")
    val n = if (targetFiles > 0) targetFiles
            else df.sparkSession.sparkContext.defaultParallelism
    val cols: Seq[Column] = (partitionCol +: clusterCols).map(col)
    df.repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)
  }

  /**
   * Targeted delete-by-key over a hive-partitioned table — the right-to-be-forgotten /
   * DELETE WHERE chore, rewriting ONLY the partitions that actually hold a doomed key
   * (the same touched-partition discipline as [[upsertPartitioned]]): untouched
   * partitions' files are never opened, so deleting a handful of users from a 100 TB
   * table costs a handful of partition rewrites, not a table rewrite. A partition whose
   * rows ALL die is removed (Hive-escaped dir, null-safe). Returns the number of rows
   * deleted. Idempotent: re-running with the same keys is a no-op (0 deleted, no
   * rewrites). `keys` is broadcast-sized by contract (a deletion list, not a corpus).
   */
  def deleteByKeys(spark: SparkSession, path: String, keys: DataFrame, key: String,
      partitionCol: String): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val existing = spark.read.parquet(path)
    val keyType = existing.schema(key).dataType
    val doomed = keys.select(col(key).cast(keyType).as(key)).distinct()

    // partitions currently holding a doomed key — the ONLY ones that need rewriting
    val touched = existing.join(broadcast(doomed), Seq(key), "left_semi")
      .groupBy(col(partitionCol)).agg(count(lit(1)).as("n_dead")).collect()
    if (touched.isEmpty) return 0L
    val touchedRaw = touched.map(_.get(0)).toSeq
    val deadCount = touched.map(_.getLong(1)).sum

    val touchedNonNull = touchedRaw.filter(_ != null)
    val touchedPred =
      if (touchedRaw.contains(null))
        col(partitionCol).isNull || col(partitionCol).isInCollection(touchedNonNull)
      else col(partitionCol).isInCollection(touchedNonNull)
    Pins.scoped {
      // materialize survivors BEFORE the overwrite reads from the files it replaces; the
      // scope frees them once the overwrite is done
      val survivors = Pins.checkpoint(existing.filter(touchedPred)
        .join(broadcast(doomed), Seq(key), "left_anti"))

      val survivorRaw = survivors.select(partitionCol).distinct().collect().map(_.get(0))
      val emptied = touchedRaw.toSet -- survivorRaw

      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
      try {
        if (survivorRaw.nonEmpty)
          survivors.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
      } finally prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))

      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(path, hiveDirName(partitionCol, v)), true)
      }
      deadCount
    }
  }
}

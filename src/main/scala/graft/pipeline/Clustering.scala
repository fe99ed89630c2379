package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TableIO

/**
 * Fully-relational distributed k-means (Lloyd's algorithm) over the embeddings table.
 *
 * Most k-means-on-Spark implementations (including the IVF quantizer in
 * [[Similarity]]) sample to the driver and iterate locally. This operator is the
 * all-data distributed form: every Lloyd iteration is two declarative plans —
 * (1) assignment: broadcast the k centroids, `zip_with` squared-difference +
 * `aggregate` per row, `min(struct(dist, cid))` per vector (map-side partial min, one
 * shuffle keyed by vec_id); (2) update: `posexplode` the assigned vectors, one
 * map-side-combined groupBy on (cid, pos) — k*dim groups regardless of corpus size —
 * then rebuild centroid arrays. No driver collect anywhere; the only broadcast is the
 * k-row centroid frame.
 *
 * Determinism (what makes this oracle-able — the novel part): embeddings are
 * quantized to a fixed-point integer lattice (`floor(x*1000)`), so every distance is
 * an EXACT bigint, every centroid update is an exact integer sum with an
 * engine-deterministic `floor(sum/count)` (IEEE double division of exact integers),
 * and assignment ties break on the centroid id. Integer sums are
 * order-independent, so the result is bit-identical across partitionings, retries,
 * AND engines — DuckDB replays the identical unrolled rounds. Floating-point k-means
 * can't promise any of that (summation-order nondeterminism flips assignments).
 *
 * Scale notes (100 TB): per round, assignment is map-only + one keyed reduce;
 * update's shuffle carries k*dim rows. Centroids (k*dim*8 bytes) broadcast — fine to
 * k~1e5. For many rounds, localCheckpoint the assignment frame every ~10 rounds to
 * cap lineage (the 2-round query form doesn't need it).
 *
 * Reference scope: gazelle_plugin has no clustering operator; this extends the
 * engine the way its ColumnarHashAggregate extends grouping — same relational
 * building blocks, new semantics.
 */
object Clustering {

  /** Squared L2 distance between two equal-length bigint array columns — exact.
    * r14 (guide §4): the native codegen'd kernel replaces the
    * `aggregate(zip_with(...))` pair of HigherOrderFunction lambdas, which were
    * evaluated INTERPRETED per (vector, centroid) pair — n·k·dim interpreted steps
    * per Lloyd round, three rounds per query (adopted in bench_dedup_r14.json). */
  private def sqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.sqDistLong(a, b)

  /** One Lloyd assignment: per vector, the (dist, cid)-minimal centroid. */
  private def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .withColumn("dist", sqDist(col("qe"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"), first(col("qe")).as("qe"))
      .select(col("vec_id"), col("qe"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** One Lloyd update: integer-mean centroids; empty clusters keep their old center. */
  private def update(assigned: DataFrame, prev: DataFrame): DataFrame = {
    val sums = assigned
      .select(col("cid"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("comp", floor(col("s") / col("n")).cast("long"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        e => e.getField("comp")).as("ce_new"))
    prev.join(sums, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("ce_new"), col("ce")).as("ce"))
  }

  /**
   * General entry: Lloyd's on any (vec_id: long, embedding: array<float|double>)
   * frame. Returns the final assignment frame (vec_id, qe, cid, dist) and leaves
   * summarization to the caller. Initial centroids are the k smallest vec_ids.
   * For rounds >> 2, localCheckpoint `vectors` first to cap lineage.
   */
  def kmeansAssign(emb: DataFrame, k: Int, rounds: Int): DataFrame = {
    // r14: cache the quantized frame — it feeds 2·rounds + 1 consumers (each round's
    // assign + update, plus the final assign), and without materialization every one
    // re-runs the scan + per-element quantize transform (guide §1.2). Same lifecycle
    // policy as the dedup gram cache.
    val vectors = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000.0).cast("long")).as("qe"))
      .cache()
    // k smallest ids via TakeOrderedAndProject (no global window) + broadcast semi-join
    val initIds = vectors.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
    var centroids = vectors.join(broadcast(initIds), Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("qe").as("ce"))
    for (_ <- 1 to rounds)
      centroids = update(assign(vectors, centroids), centroids)
    assign(vectors, centroids)
      .join(centroids.select(col("cid"),
        aggregate(col("ce"), lit(0L), (acc, x) => acc + x).as("centroid_sum")), Seq("cid"))
  }

  /** k-means(k=8, 2 Lloyd rounds) on fixed-point embeddings; final assignment stats. */
  def qKmeans(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val rounds = 2
    val vectors = TableIO.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000.0).cast("long")).as("qe"))
      .cache() // r14: 5 consumers of the scan+quantize — see kmeansAssign's note
    var centroids = vectors.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qe").as("ce"))
    for (_ <- 1 to rounds)
      centroids = update(assign(vectors, centroids), centroids)
    val fin = assign(vectors, centroids)
    fin.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"))
      .join(centroids.select(col("cid"),
        aggregate(col("ce"), lit(0L), (acc, x) => acc + x).as("centroid_sum")), Seq("cid"))
      .select(col("cid"), col("n"), col("inertia"), col("centroid_sum"))
      .orderBy(col("cid"))
  }

  // The oracle replays the identical integer rounds as unrolled CTEs.
  private def assignSql(out: String, cent: String): String = {
    val d = s"CAST(list_sum(list_transform(list_zip(e.qe, c.ce), " +
      "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    s"""$out AS (
       |  SELECT vec_id, qe, cid, dist FROM (
       |    SELECT e.vec_id, e.qe, c.cid, $d AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $d, c.cid) AS rn
       |    FROM q e CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
  }

  private def updateSql(out: String, assignT: String, prev: String): String =
    s"""$out AS (
       |  SELECT o.cid, coalesce(u.ce, o.ce) AS ce FROM $prev o LEFT JOIN (
       |    SELECT cid, list(comp ORDER BY pos) AS ce FROM (
       |      SELECT cid, pos, CAST(floor(sum(v)/count(*)) AS BIGINT) AS comp FROM (
       |        SELECT cid, unnest(qe) AS v, unnest(generate_series(1, len(qe))) AS pos
       |        FROM $assignT)
       |      GROUP BY cid, pos)
       |    GROUP BY cid) u ON o.cid = u.cid)""".stripMargin

  val qKmeansSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id < 8),
       |${assignSql("a0", "c0")},
       |${updateSql("c1", "a0", "c0")},
       |${assignSql("a1", "c1")},
       |${updateSql("c2", "a1", "c1")},
       |${assignSql("a2", "c2")}
       |SELECT a2.cid, count(*) AS n, CAST(sum(a2.dist) AS BIGINT) AS inertia,
       |       CAST(any_value(list_sum(c2.ce)) AS BIGINT) AS centroid_sum
       |FROM a2 JOIN c2 ON a2.cid = c2.cid
       |GROUP BY a2.cid ORDER BY a2.cid""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans" -> qKmeans _)

  val oracles: Map[String, String] = Map(
    "q_kmeans" -> qKmeansSql)
}

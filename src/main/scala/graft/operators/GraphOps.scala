package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.sources.TableIO

/**
 * Iterative graph analytics beyond connected components: fixed-iteration PageRank —
 * the GraphX/Pregel capability class expressed as pure DataFrame iteration, the same
 * large-scale shape as Dedup.connectedComponents: edges pre-partitioned + cached on the
 * join key, ONE shuffle per iteration (the contribution groupBy), localCheckpoint each
 * round so the logical plan and Catalyst re-analysis cost stay O(1) in iterations, and
 * the driver loops over ITERATIONS, never rows.
 *
 * PageRank is run to a FIXED iteration count (not convergence) so the result is exactly
 * replayable: the DuckDB oracle unrolls the same three power-iteration steps as chained
 * CTEs and must hash-match after rounding to 6 decimals (the only cross-engine delta is
 * double-summation order, ~1e-15 — far below the rounding grain).
 */
object GraphOps {

  /**
   * Fixed-iteration damped PageRank over a symmetric (src, dst) edge list. Multi-edges
   * are deduplicated internally (the adjacency build is set-valued), so callers may pass
   * a raw pair list. Returns (id, pr) for every node with at least one edge. Symmetry
   * means every node has both in- and out-degree, so no dangling-mass redistribution
   * term is needed.
   *
   * Since r12 the adjacency is varint-PACKED: one cached row per VERTEX carrying its
   * out-neighbor list as delta-varint binary instead of one row per out-edge —
   * measured never-slower and 5-25% faster at sf0.1/sf1 with an ~6x smaller cached
   * footprint (bench_pagerank_packed_r12.json). Since r14 the broadcast-gated regime
   * additionally PULLS contributions (see [[pageRankImpl]]): each iteration reads the
   * cached adjacency, joins the broadcast rank frame map-side on the EXPLODED neighbor
   * id, and the summing aggregate is keyed by the adjacency row's own vertex — which
   * the cached frame is already hash-partitioned by — so a gated iteration runs with
   * ZERO exchanges (guide §2.4; the r12 push form paid one m-row contribution exchange
   * per iteration). The pull rule sums pr(u)/deg(u) over u ∈ N(v), equal to the push
   * rule's in-contribution sum exactly because the documented input contract is a
   * SYMMETRIC edge list. Pull was adopted over push in bench_graph_pull_r14.json
   * (interleaved pairs at sf0.1 and sf1, equal results); the push form remains the
   * live path past the 2M-vertex gate.
   */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, iterations, damping, pull = true)

  /**
   * Shared packed-adjacency PageRank body. `pull = true` (r14, broadcast-gated regime
   * only) flips each iteration from push (explode contributions keyed by DESTINATION,
   * pay one m-row exchange for the groupBy(dst) sum) to pull (each adjacency row
   * SUMS ITS OWN incoming mass): the rank frame — carrying c = pr/deg precomputed —
   * broadcasts and joins map-side on the exploded neighbor id, and the summing
   * aggregate is keyed by (src, deg), a superset of the cached adjacency's
   * HashPartitioning(src), so Catalyst inserts NO exchange — the whole iteration is
   * one map-side whole-stage span over the cached frame (guide §2.4). Pull equals
   * push exactly on the documented SYMMETRIC input contract (N_in(v) = N_out(v));
   * double-summation grouping order differs, bounded by the same ~1e-15 the oracle's
   * 6-decimal rounding already absorbs. Past the 2M-vertex gate the rank frame must
   * not broadcast and a pull join would shuffle m exploded rows — strictly worse —
   * so the cluster-scale path keeps the r12 push iteration unchanged.
   */
  private[graft] def pageRankImpl(edges: DataFrame, iterations: Int, damping: Double,
      pull: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, unpackSortedVarint}
    val adj = edges.select(col("src"), col("dst"))
      .groupBy(col("src")).agg(sort_array(collect_set(col("dst"))).as("ds"))
      .select(col("src"), packSortedVarint(col("ds")).as("nbrs"), size(col("ds")).as("deg"))
      .cache()
    // one row per vertex (symmetric edges: every node has out-degree >= 1)
    val n = adj.count()
    val smallRanks = n <= 2000000L
    if (pull && smallRanks) {
      var ranks = adj
        .select(col("src").as("id"), lit(1.0 / n).as("pr"),
          (lit(1.0 / n) / col("deg")).as("c"))
        .localCheckpoint()
      var it = 0
      while (it < iterations) {
        val contribSide = broadcast(ranks.select(col("id").as("nbr"), col("c")))
        val next = adj
          .select(col("src"), col("deg"), explode(unpackSortedVarint(col("nbrs"))).as("nbr"))
          .join(contribSide, Seq("nbr"))
          .groupBy(col("src"), col("deg"))
          .agg((lit((1.0 - damping) / n) + lit(damping) * sum(col("c"))).as("pr"))
          .select(col("src").as("id"), col("pr"), (col("pr") / col("deg")).as("c"))
          .localCheckpoint()
        ranks.unpersist()
        ranks = next
        it += 1
      }
      adj.unpersist()
      ranks.select(col("id"), col("pr"))
    } else {
      var ranks = adj.select(col("src").as("id"), lit(1.0 / n).as("pr")).localCheckpoint()
      var it = 0
      while (it < iterations) {
        val rankSide = ranks.withColumnRenamed("id", "src")
        val contribs = adj
          .join(if (smallRanks) broadcast(rankSide) else rankSide, Seq("src"))
          .select(explode(unpackSortedVarint(col("nbrs"))).as("id"),
            (col("pr") / col("deg")).as("c"))
        val next = contribs.groupBy(col("id"))
          .agg((lit((1.0 - damping) / n) + lit(damping) * sum(col("c"))).as("pr"))
          .localCheckpoint()
        ranks.unpersist()
        ranks = next
        it += 1
      }
      adj.unpersist()
      ranks
    }
  }

  /**
   * Co-purchase edge list (parts sharing an order, both directions) WITHOUT a fact-fact
   * self-join: one groupBy(order) shuffle of the scan (vs shuffling both join sides),
   * then the per-order part set expands to ordered pairs map-side (orders hold a handful
   * of parts, so the blow-up is local and tiny). May contain multi-edges; consumers
   * dedup as needed.
   */
  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // ONE shuffle (the per-order set aggregate) + map-only double explode. Keep the
    // post-explode =!= filter a plain predicate: a higher-order lambda INSIDE the
    // generator (filter(ps, x > src)) runs interpreted outside codegen and measured
    // 7x slower at sf1 — that trap is why qTriangles uses the join build instead.
    val li = TableIO.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /**
   * `q_pagerank`: top-50 parts by PageRank over the co-purchase graph (parts sharing an
   * order, both directions). Scores rounded to 6 decimals for a total cross-engine
   * order (pr6 desc, then partkey).
   */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    pageRank(edges, iterations = 3)
      .select(col("id").as("l_partkey"), round(col("pr"), 6).as("pr6"))
      .orderBy(col("pr6").desc, col("l_partkey"))
      .limit(50)
  }

  val qPagerankSql: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), deg AS (
      |  SELECT src, count(*) AS deg FROM edges GROUP BY src
      |), nn AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
      |), r0 AS (
      |  SELECT src AS id, 1.0 / (SELECT n FROM nn) AS pr FROM deg
      |), r1 AS (
      |  SELECT e.dst AS id,
      |         0.15 / (SELECT n FROM nn) + 0.85 * sum(r.pr / d.deg) AS pr
      |  FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |  GROUP BY e.dst
      |), r2 AS (
      |  SELECT e.dst AS id,
      |         0.15 / (SELECT n FROM nn) + 0.85 * sum(r.pr / d.deg) AS pr
      |  FROM edges e JOIN r1 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |  GROUP BY e.dst
      |), r3 AS (
      |  SELECT e.dst AS id,
      |         0.15 / (SELECT n FROM nn) + 0.85 * sum(r.pr / d.deg) AS pr
      |  FROM edges e JOIN r2 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |  GROUP BY e.dst
      |)
      |SELECT id AS l_partkey, round(pr, 6) AS pr6
      |FROM r3
      |ORDER BY pr6 DESC, l_partkey
      |LIMIT 50""".stripMargin

  /**
   * Multi-source BFS: minimum hop distance from any seed, bounded at `maxHops`.
   * Same iterative discipline as pageRank/connectedComponents: edges cached and
   * pre-partitioned on the join key, per round ONE join + distinct + anti-join (all
   * shuffles on the node id), localCheckpoint keeps the plan O(1) in rounds, the driver
   * loops over ROUNDS (with an early exit when the frontier drains), never rows.
   * The frontier-based formulation ships only NEWLY reached nodes each round — at
   * 100 TB the per-round work decays with the frontier instead of rescanning the
   * visited set.
   *
   * `edges`: directed (src, dst), multi-edges fine; `seeds`: (id). Returns (id, hop).
   */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, unpackSortedVarint}
    // r12: packed adjacency (the pageRank treatment) — one cached row per vertex,
    // multi-edges collapsed by the set build, neighbor ids re-materializing only
    // inside the per-round map-side explode (bench_graphpack_packed_r12.json). The
    // frontier join stays an unhinted shuffle join: the packed row is thin, while a
    // 2-hop frontier grows to nearly the whole vertex set, so broadcasting it lost
    // (bench_frontier_gate_r13.json); pulling onto the adjacency's partitioning lost
    // too (bench_graph_pull_r14.json) and would only be sound on symmetric input.
    val adj = edges.select(col("src"), col("dst"))
      .groupBy(col("src"))
      .agg(packSortedVarint(sort_array(collect_set(col("dst")))).as("nbrs"))
      .cache()
    var visited = seeds.select(col("id")).distinct()
      .select(col("id"), lit(0).as("hop")).localCheckpoint()
    var frontier = visited.select(col("id"))
    var h = 1
    var drained = false
    while (h <= maxHops && !drained) {
      val next = frontier.withColumnRenamed("id", "src")
        .join(adj, Seq("src"))
        .select(explode(unpackSortedVarint(col("nbrs"))).as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(h).as("hop")).localCheckpoint()
      drained = next.isEmpty
      if (!drained) {
        visited = visited.unionByName(next).localCheckpoint()
        frontier = next.select(col("id"))
      }
      h += 1
    }
    adj.unpersist()
    visited
  }

  /**
   * `q_bfs`: hop distance from the partkey%97==0 seed parts over the co-purchase graph,
   * bounded at 2 hops. Pure integer arithmetic — the DuckDB oracle unrolls the two
   * frontier steps as CTEs and must hash-match exactly.
   *
   * One localCheckpoint of the edge list feeds both the seeds action and the adjacency
   * build, which otherwise each re-run the co-purchase lineage (adopted in
   * bench_graph_prologue_r13.json). No repartition here: bfs's adjacency groupBy(src)
   * is the only m-row aggregate downstream and its collect_set partial-aggregates
   * map-side — a pre-shuffle by src would trade that combine away for nothing.
   */
  def qBfs(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir).localCheckpoint()
    val seeds = edges.select(col("src").as("id"))
      .filter(col("id") % 97 === 0).distinct()
    bfs(edges, seeds, maxHops = 2)
      .select(col("id").as("l_partkey"), col("hop"))
      .orderBy(col("l_partkey"))
  }

  val qBfsSql: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), seeds AS (
      |  SELECT DISTINCT src AS id FROM edges WHERE src % 97 = 0
      |), h1 AS (
      |  SELECT DISTINCT e.dst AS id FROM edges e JOIN seeds s ON e.src = s.id
      |  WHERE e.dst NOT IN (SELECT id FROM seeds)
      |), h2 AS (
      |  SELECT DISTINCT e.dst AS id FROM edges e JOIN h1 f ON e.src = f.id
      |  WHERE e.dst NOT IN (SELECT id FROM seeds UNION ALL SELECT id FROM h1)
      |)
      |SELECT id AS l_partkey, hop FROM (
      |  SELECT id, 0 AS hop FROM seeds
      |  UNION ALL SELECT id, 1 FROM h1
      |  UNION ALL SELECT id, 2 FROM h2
      |) u
      |ORDER BY l_partkey""".stripMargin

  /**
   * Exact triangle counting over an undirected edge list — the clustering/community
   * primitive (cf. Spark GraphX `TriangleCount`). Degree-ordered orientation (the
   * "compact-forward" algorithm) directs each edge from its lower-(degree, id) endpoint
   * to the higher, so every triangle {a ≺ b ≺ c} is counted exactly once, AT ITS LOWEST
   * EDGE (a,b), as c ∈ N+(a) ∩ N+(b); out-degrees are capped at O(sqrt m) by the
   * orientation, bounding total intersection work at O(m^1.5) regardless of hub skew.
   *
   * The intersection runs MAP-SIDE via the native `packed_intersect_size` two-pointer
   * kernel after co-locating each edge with its endpoints' adjacency lists — two
   * equi-joins against a vertex-cardinality frame (Spark broadcasts it when it fits).
   * Crucially the O(m^1.5) wedge set is never materialized into a shuffle, AND the
   * adjacency payload rides in delta-varint `binary` form ([[VarintCodec]], 1-3 B per
   * neighbor vs 8 B+header as `array<long>`): shuffled bytes stay O(m · sqrt m)
   * worst-case but ~5x smaller per element than the r10 array form, and the kernel
   * intersects the packed streams directly — the arrays are never re-materialized.
   * On the sf0.1 co-purchase graph (1.2M edges, 82M wedges — dense, near-uniform) the
   * r10 array rewrite halved the wedge-shuffling form's 15 s; packing shrinks the
   * adjacency frame ~6x further, which moves the sf1 graph (12M edges) from the
   * partitioned sort-merge path INTO the broadcast gate — both joins map-side, the
   * only post-build exchange is the single-row final sum.
   *
   * Returns one row: the global triangle count. The count is orientation-invariant, so
   * the DuckDB oracle uses plain id-orientation and must match exactly.
   *
   * Intersect-stage spread (r14, adopted in bench_triangles_spread_r14.json): on the
   * broadcast path the intersect stage's parallelism IS the checkpointed edge
   * list's partition count, and that checkpoint job is AQE-final — the oriented frame
   * is byte-SMALL (16 B/edge) but compute-HEAVY downstream (O(m^1.5) wedge
   * intersections), so AQE's byte-based coalescing (64 MB advisory) collapses it to a
   * handful of partitions and the whole intersect stage runs on that many cores
   * (guide §2.6: stragglers/idle capacity — here the extreme case, idle-by-plan).
   * The fix repartitions the oriented edges across 2x defaultParallelism by their own
   * (a, b) key — deterministic, m distinct values, no skew (out-degree is
   * sqrt-m-capped by the orientation) — immediately before the checkpoint: one extra
   * exchange of m 16-byte rows buys a fully-parallel intersect stage. Scale-adaptive
   * (defaultParallelism, not a local constant); the partitioned SMJ path past the
   * broadcast gate gets its parallelism from the join exchange as before.
   */
  def triangleCount(edges: DataFrame, broadcastGateEdges: Long = 32000000L): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, packedIntersectSize}
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // Orient u->v when (deg(u), u) < (deg(v), v): a TOTAL order, so orientation is
    // deterministic and acyclic.
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // localCheckpoint: the oriented edge list feeds THREE consumers (the edge stream and
    // both adjacency joins) — without materialization Spark re-derives the whole
    // scan+groupBy+distinct lineage once per consumer (measured 3x the work at sf0.1).
    val oriented = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"))
      // explicit partition count: an un-numbered repartition is itself
      // AQE-coalescible, which would undo the spread (see Scaladoc)
      .repartition(edges.sparkSession.sparkContext.defaultParallelism * 2, col("a"), col("b"))
      .localCheckpoint()
    // Scale-adaptive broadcast off the ALREADY-MATERIALIZED edge count (free on the
    // checkpointed RDD): the packed adjacency frame holds exactly m delta-varints
    // (≤3 B each for ids under 2^21) plus one key row per vertex, so m ≤ 32M bounds the
    // broadcast under ~100 MB of payload + O(n) key overhead — comfortably inside
    // torrent-broadcast territory on a 1000-executor cluster, and an order of magnitude
    // past the sf1 rehearsal graph. Past the gate the partitioned sort-merge path is
    // unchanged (billion-edge graphs), just ~5x cheaper per shuffled byte than arrays.
    // gate parameterized so specs can force the partitioned path on small graphs
    val smallAdj = oriented.count() <= broadcastGateEdges
    val adj0 = oriented.groupBy(col("a"))
      .agg(packSortedVarint(sort_array(collect_set(col("b")))).as("nbrs"))
    // Materialize adjacency once on BOTH paths — it feeds two joins, and without a
    // checkpoint each consumer re-runs the groupBy + collect_set + pack over the full
    // edge set (two broadcast builds on the small path; twice the heaviest aggregation
    // on the billion-edge partitioned path). The packed frame is m varints + n keys —
    // the cheapest plan node in the job to persist.
    val adj = adj0.localCheckpoint()
    val adjSide = if (smallAdj) broadcast(adj) else adj
    // An edge whose head has no out-neighbors closes no triangle — the inner join
    // dropping it is correct, not a loss.
    //
    // Both joins consume the SAME adjacency frame (the second under a bare alias, no
    // projection) so their build-side exchanges canonicalize equal and ReuseExchange
    // materializes ONE broadcast relation shared by both joins — at the 32M-edge gate
    // that is one ~100 MB packed payload + HashedRelation overhead on the driver, not
    // two (the r11 form renamed columns below the second join, splitting the exchange).
    val counted = oriented
      .join(adjSide, Seq("a"))
      .withColumnRenamed("nbrs", "na")
      .join(adjSide.as("adj2"), col("b") === col("adj2.a"))
      .select(packedIntersectSize(col("na"), col("adj2.nbrs")).as("t"))
      .agg(sum(col("t")).cast("long").as("triangles"))
    counted
  }

  /**
   * `q_triangles`: global triangle count of the co-purchase graph. Feeds triangleCount
   * CANONICAL pairs (u < v only, via a higher-order filter on the per-order part set)
   * instead of the symmetric coPurchaseEdges form — same graph, half the rows into the
   * dedup shuffle.
   */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    // Canonical (src < dst) pairs via the deduped self-join (see coPurchaseEdges for
    // why this beats collect_set + higher-order-filtered explode: that form measured
    // 18-50 s at sf1 vs 2.5 s for the join; the lambda filter is interpreted and the
    // whole generate chain sits outside codegen).
    val li = TableIO.lineitem(spark, dir)
      .select(col("l_orderkey").as("k"), col("l_partkey")).distinct()
    val canonical = li.select(col("k"), col("l_partkey").as("src"))
      .join(li.select(col("k"), col("l_partkey").as("dst")), Seq("k"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    triangleCount(canonical)
  }

  val qTrianglesSql: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |)
      |SELECT CAST(count(*) AS BIGINT) AS triangles
      |FROM edges e1
      |JOIN edges e2 ON e2.u = e1.v
      |JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin

  /**
   * Synchronous label propagation (Raghavan et al. '07; the GraphX `LabelPropagation`
   * class) — community detection as fixed-round DataFrame iteration. Every node starts
   * with its own id as label; each round every node adopts the most frequent label among
   * its neighbors, ties broken by the SMALLEST label, so each round is a total
   * deterministic function of the previous one (the async/random variants converge
   * better but are not replayable — fixed synchronous rounds are what an oracle can
   * check).
   *
   * Per round (broadcast-gated regime, r14): ZERO shuffles — votes are PULLED onto
   * the cached adjacency's own partitioning, see [[labelPropagationImpl]]; the argmax
   * rides a `max(struct(cnt, -label))` so no per-node sort or window appears. Past
   * the 2M gate: one vote-count shuffle + one argmax shuffle per round (the r12 push
   * form). Same iterative discipline as pageRank: edges cached + pre-partitioned on
   * the join key, localCheckpoint per round, driver loops over ROUNDS never rows.
   *
   * `edges` must be symmetric (src, dst); multi-edges are deduplicated. Returns
   * (id, label) after `rounds` rounds.
   */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    labelPropagationImpl(edges, rounds, pull = true)

  /**
   * Shared packed-adjacency LPA body. `pull = true` (r14, broadcast-gated regime only)
   * flips each round from push (explode votes keyed by the DESTINATION neighbor, pay
   * one m-row exchange for groupBy(dst, label) and a second for the argmax
   * groupBy(dst)) to pull (each adjacency row counts ITS OWN neighbors' labels): the
   * label frame broadcasts and joins map-side on the exploded neighbor id, and BOTH
   * aggregates — the (src, label) vote count and the argmax over src — are keyed by
   * the adjacency row's own vertex, which the cached frame is already hash-partitioned
   * by, so a gated round runs with ZERO exchanges (guide §2.4; the r12 push form paid
   * two). Pull equals push bit-for-bit on the documented SYMMETRIC input contract
   * (the multiset of labels v collects from N_out(v) IS the multiset of votes v
   * receives from N_in(v)); integer counts, no float-order caveat. Past the 2M-vertex
   * gate the label frame must not broadcast and a pull join would shuffle m exploded
   * rows — strictly worse — so the cluster-scale path keeps the r12 push round
   * unchanged. Pull was adopted in bench_graph_pull_r14.json.
   */
  private[graft] def labelPropagationImpl(edges: DataFrame, rounds: Int,
      pull: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, unpackSortedVarint}
    // r12: packed adjacency (the pageRank treatment) — the set build's one shuffle
    // now emits ONE row per vertex with the neighbor set in delta-varint binary
    // (~1.5 B/neighbor) instead of re-exploding to m cached rows; ids re-materialize
    // only inside the per-round map-side explode. The votes shuffle (push form)
    // carries combiner-reduced (dst, label, cnt) rows either way.
    val adj = edges.select(col("src"), col("dst"))
      .groupBy(col("src"))
      .agg(packSortedVarint(sort_array(collect_set(col("dst")))).as("nbrs"))
      .cache()
    // Same scale-adaptive broadcast as pageRank: one row per vertex, count populates
    // the cache — broadcast the label frame per round when small, shuffle past it.
    val smallLabels = adj.count() <= 2000000L
    var labels = adj.select(col("src").as("id"))
      .select(col("id"), col("id").as("label")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      val next = if (pull && smallLabels) {
        val labelSide = broadcast(labels.select(col("id").as("nbr"), col("label")))
        val votes = adj
          .select(col("src"), explode(unpackSortedVarint(col("nbrs"))).as("nbr"))
          .join(labelSide, Seq("nbr"))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        votes
          .groupBy(col("src"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
          .select(col("src").as("id"), (-col("m.nl")).as("label"))
          .localCheckpoint()
      } else {
        val labelSide = labels.withColumnRenamed("id", "src")
        val votes = adj.join(if (smallLabels) broadcast(labelSide) else labelSide, Seq("src"))
          .select(explode(unpackSortedVarint(col("nbrs"))).as("dst"), col("label"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        votes
          .groupBy(col("dst"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
          .select(col("dst").as("id"), (-col("m.nl")).as("label"))
          .localCheckpoint()
      }
      labels.unpersist()
      labels = next
      r += 1
    }
    adj.unpersist()
    labels
  }

  /**
   * `q_label_prop`: two synchronous LPA rounds over the co-purchase graph; output is
   * every node's community label. Pure integer arithmetic — the DuckDB oracle unrolls
   * both rounds (votes + argmax-by-row_number) and must hash-match exactly.
   */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    labelPropagation(edges, rounds = 2)
      .select(col("id").as("l_partkey"), col("label"))
      .orderBy(col("l_partkey"))
  }

  val qLabelPropSql: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), l0 AS (
      |  SELECT DISTINCT src AS id, src AS label FROM edges
      |), v1 AS (
      |  SELECT e.dst, l.label, count(*) AS cnt
      |  FROM edges e JOIN l0 l ON l.id = e.src GROUP BY 1, 2
      |), l1 AS (
      |  SELECT dst AS id, label FROM (
      |    SELECT dst, label,
      |           row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
      |    FROM v1) t WHERE rn = 1
      |), v2 AS (
      |  SELECT e.dst, l.label, count(*) AS cnt
      |  FROM edges e JOIN l1 l ON l.id = e.src GROUP BY 1, 2
      |), l2 AS (
      |  SELECT dst AS id, label FROM (
      |    SELECT dst, label,
      |           row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
      |    FROM v2) t WHERE rn = 1
      |)
      |SELECT id AS l_partkey, label FROM l2
      |ORDER BY l_partkey""".stripMargin

  /**
   * Bounded-round weighted single-source(-set) shortest paths — Bellman-Ford as min-plus
   * DataFrame iteration (the Pregel SSSP class). Each round relaxes every edge once:
   * dist' = min(dist, min_{(u,v) ∈ E}(dist[u] + w(u,v))), so after R rounds the result
   * is EXACTLY the shortest distance using <= R edges — a well-defined, replayable
   * semantics (full SSSP = run to the graph diameter; bounded R is what a 100 TB
   * pipeline actually schedules).
   *
   * Per round ONE join (adjacency × current frontier of improved nodes) + one
   * min-groupBy. Like bfs, only IMPROVED nodes join the next round's relaxation
   * (delta iteration — work decays as distances settle), and integer weights keep
   * min-plus exact in both engines.
   *
   * r12: adjacency is cached as one row per VERTEX — `(src, array<struct<dst,w>>)` —
   * so each round's join probes n rows instead of m edge rows, the same
   * row-per-vertex layout pagerank/bfs/label_prop adopted. A plain struct array
   * rather than the varint codec because `w` is an arbitrary caller-provided long
   * (the delta-varint kernels assume sorted distinct sets). The relaxation explodes
   * map-side after the join, so the min-groupBy exchange is unchanged — the win is
   * the probe-side row count, exactly the bfs result in
   * bench_graphpack_packed_r12.json.
   */
  def sssp(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame =
    ssspImpl(edges, sources, rounds, gateFrontier = true)

  /**
   * `gateFrontier` broadcasts the per-round frontier while the vertex count is under
   * the 2M gate (adopted for sssp in bench_frontier_gate_r13.json: the fat
   * array<struct<dst,w>> adjacency rows make the ungated shuffle join the bill, and
   * checkpointed frontiers carry no stats for auto-broadcast). `false` is the
   * unbroadcast path every graph past the gate takes; specs pass it to reach that
   * path on small inputs.
   */
  private[graft] def ssspImpl(
      edges: DataFrame, sources: DataFrame, rounds: Int, gateFrontier: Boolean): DataFrame = {
    val adj = edges.select(col("src"), struct(col("dst"), col("w")).as("e"))
      .groupBy(col("src")).agg(collect_list(col("e")).as("nbrs"))
      .cache()
    val smallFrontier = gateFrontier && adj.count() <= 2000000L
    var dist = sources.select(col("id")).distinct()
      .select(col("id"), lit(0L).as("dist")).localCheckpoint()
    var frontier = dist
    var r = 0
    var drained = false
    while (r < rounds && !drained) {
      val frontierSide = frontier.withColumnRenamed("id", "src")
      val relax = (if (smallFrontier) broadcast(frontierSide) else frontierSide)
        .join(adj, Seq("src"))
        .select(explode(col("nbrs")).as("e"), col("dist"))
        .select(col("e.dst").as("id"), (col("dist") + col("e.w")).as("dist"))
      val next = dist.unionByName(relax)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      // delta iteration: only nodes whose distance IMPROVED this round can improve a
      // neighbor next round
      frontier = next.join(dist.withColumnRenamed("dist", "old"), Seq("id"), "left")
        .filter(col("old").isNull || col("dist") < col("old"))
        .select(col("id"), col("dist")).localCheckpoint()
      drained = frontier.isEmpty
      dist.unpersist()
      dist = next
      r += 1
    }
    adj.unpersist()
    dist
  }

  /**
   * `q_sssp`: <=3-edge shortest distances from the partkey%101==0 seed set over the
   * co-purchase graph, with integer edge weights w = max(1, 6 − co-purchase count)
   * (stronger ties are closer). Integer min-plus is exact, so the DuckDB oracle
   * (three unrolled relaxation rounds) hash-matches exactly.
   *
   * Prologue (r13 fusion, adopted in bench_graph_prologue_r13.json; r14 cache, adopted
   * in bench_graph_pull_r14.json): the weighted edge set feeds both the seeds action
   * and sssp's adjacency build, so it is materialized ONCE instead of re-running
   * scan → groupBy(l_orderkey) → explode → groupBy(src,dst) per consumer. An explicit
   * `repartition(src)` sits BEFORE the (src,dst) count so HashPartitioning(src)
   * satisfies the aggregate's ClusteredDistribution (src is a prefix of the keys). The
   * frame is materialized with cache() rather than localCheckpoint(): the cached plan
   * keeps that HashPartitioning(src), so sssp's adjacency groupBy(src) needs no
   * exchange of its own either, while a checkpoint surfaces as a LogicalRDD with
   * UnknownPartitioning (plans/r13/q_sssp_prologue_after.txt). Per-m-row exchange
   * passes: okey and repartition(src), nothing else.
   */
  def qSssp(spark: SparkSession, dir: String): DataFrame = {
    val weighted = coPurchaseEdges(spark, dir)
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("dst"), greatest(lit(1L), lit(6L) - col("cnt")).as("w"))
      .cache()
    val seeds = weighted.select(col("src").as("id"))
      .filter(col("id") % 101 === 0).distinct()
    sssp(weighted, seeds, rounds = 3)
      .withColumnRenamed("id", "l_partkey")
      .select(col("l_partkey"), col("dist"))
      .orderBy(col("l_partkey"))
  }

  val qSsspSql: String =
    """WITH pairs AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS cnt
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2
      |), edges AS (
      |  SELECT src, dst, greatest(1, 6 - cnt) AS w FROM pairs
      |), d0 AS (
      |  SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dist FROM edges WHERE src % 101 = 0
      |), d1 AS (
      |  SELECT id, min(dist) AS dist FROM (
      |    SELECT id, dist FROM d0
      |    UNION ALL
      |    SELECT e.dst, d.dist + e.w FROM d0 d JOIN edges e ON e.src = d.id
      |  ) u GROUP BY id
      |), d2 AS (
      |  SELECT id, min(dist) AS dist FROM (
      |    SELECT id, dist FROM d1
      |    UNION ALL
      |    SELECT e.dst, d.dist + e.w FROM d1 d JOIN edges e ON e.src = d.id
      |  ) u GROUP BY id
      |), d3 AS (
      |  SELECT id, min(dist) AS dist FROM (
      |    SELECT id, dist FROM d2
      |    UNION ALL
      |    SELECT e.dst, d.dist + e.w FROM d2 d JOIN edges e ON e.src = d.id
      |  ) u GROUP BY id
      |)
      |SELECT id AS l_partkey, CAST(dist AS BIGINT) AS dist FROM d3
      |ORDER BY l_partkey""".stripMargin

  /**
   * Bounded-round k-core peeling: iteratively delete vertices of degree < k (degree
   * measured in the CURRENT peeled graph) — the standard dense-core extraction /
   * graph-cleanup primitive (Matula-Beck peeling). R rounds = the low-degree closure
   * truncated at depth R, a well-defined replayable semantics exactly like the bounded
   * bfs/sssp forms (full k-core = run to fixpoint; a 100 TB pipeline schedules bounded
   * rounds). Edges are deduplicated on entry (simple-graph degree semantics), assumed
   * symmetric, so per-src out-degree IS the undirected degree.
   *
   * localCheckpoint keeps the plan O(1) in rounds. Returns each surviving vertex with
   * its degree in the R-times-peeled graph.
   *
   * Packed incremental-decrement peel (r14; adopted over the r12b-r13 edge-rewrite
   * peel in bench_kcore_packed_r14.json, 26.2 s → 12.7 s at sf1, after the vertex-carry
   * form lost in bench_kcore_vertex_r13.json):
   *
   *  1. ONE m-row exchange total: the adjacency build's groupBy(src) + collect_set
   *     dedups multi-edges AND yields the round-1 degree (`size`) in the same
   *     aggregate — no full-m `distinct()` and no fresh degree exchange per round.
   *  2. Nothing m-sized is ever rewritten: the packed adjacency (delta-varint
   *     neighbor lists, ~1.5 B/neighbor) is cached once; per-round state is the
   *     vertex-sized (src, deg) frame.
   *  3. Per-round work is proportional to the PEELED part, not the survivors: the
   *     induced degree is maintained incrementally — deg_r(v) = deg_{r-1}(v) −
   *     |N(v) ∩ dropped_{r-1}| (dropped sets are disjoint and N(v) is fixed, so the
   *     decrements telescope to the degree in the graph induced on the survivors;
   *     GraphOpsSpec pins this against a plain-Scala peel). Only DROPPED vertices'
   *     adjacency rows are exploded each round; the decrement aggregate partial-sums
   *     map-side, so its exchange carries at most vertex-sized rows.
   *
   * Relies on the operator's documented SYMMETRIC edge contract (so out-neighbor
   * explosion of the dropped set decrements exactly the survivors' undirected
   * degrees). Vertex-sized frames ride the standard 2M scale-adaptive broadcast gate;
   * past it the same plan degrades to shuffle joins (checkpointed frames carry no
   * stats, so the gate is decided off the materialized count, AQE-style).
   * A survivor can end a round with deg 0 (all its ≥k neighbors dropped); it peels in
   * the next round's filter, and the final `deg > 0` filter drops vertices with no
   * surviving edge, which have no degree in the peeled graph.
   */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, unpackSortedVarint}
    val adj = edges.select(col("src"), col("dst"))
      .groupBy(col("src")).agg(sort_array(collect_set(col("dst"))).as("ds"))
      .select(col("src"), packSortedVarint(col("ds")).as("nbrs"),
        size(col("ds")).cast("long").as("deg"))
      .cache()
    val small = adj.count() <= 2000000L
    def gate(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // (src, deg): deg = degree in the graph induced on the current survivor set.
    // No initial checkpoint — round 1's two consumers are map-only filters over the
    // cache — and no checkpoint after the FINAL round either (its single consumer is
    // the res materialization below): at rehearsal scale the peel is fixed-cost-bound,
    // and each eager vertex-sized checkpoint is a full driver-synced job.
    var cur = adj.select(col("src"), col("deg"))
    // the checkpoint `cur` currently reads, released once its successor has
    // materialized (its blocks cannot be recomputed after release)
    var held: Option[DataFrame] = None
    var r = 0
    while (r < rounds) {
      val dropped = cur.filter(col("deg") < k).select(col("src"))
      // each dropped vertex's (symmetric) edges lower its neighbors' induced degree
      val dec = adj.join(gate(dropped), Seq("src"), "left_semi")
        .select(explode(unpackSortedVarint(col("nbrs"))).as("src"))
        .groupBy(col("src")).agg(count(lit(1)).as("dcnt"))
      val next = cur.filter(col("deg") >= k)
        .join(gate(dec), Seq("src"), "left")
        .select(col("src"), (col("deg") - coalesce(col("dcnt"), lit(0L))).as("deg"))
      if (r < rounds - 1) {
        cur = next.localCheckpoint()
        held.foreach(releaseCheckpoint)
        held = Some(cur)
      } else cur = next
      r += 1
    }
    val res = cur.filter(col("deg") > 0).localCheckpoint()
    held.foreach(releaseCheckpoint)
    adj.unpersist()
    res
  }

  /** Drop a localCheckpoint'd frame's blocks. `Dataset.unpersist` only reaches the
    * CacheManager, and a checkpointed frame is a LogicalRDD that never entered it. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /**
   * `q_kcore`: two peeling rounds at k=100 over the co-purchase graph (median degree
   * ≈ 115-119 at sf0.01+, so the cut bites both rounds: 2000 → 1512 → 749 vertices at
   * sf0.01, 20000 → 15862 → 10510 at sf0.1). Pure integer degrees — the DuckDB oracle
   * unrolls both rounds as CTEs and must hash-match exactly.
   */
  def qKcore(spark: SparkSession, dir: String): DataFrame =
    kcorePeel(coPurchaseEdges(spark, dir), k = 100, rounds = 2)
      .select(col("src").as("l_partkey"), col("deg"))
      .orderBy(col("l_partkey"))

  val qKcoreSql: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), k1 AS (
      |  SELECT src AS id FROM edges GROUP BY src HAVING count(*) >= 100
      |), e1 AS (
      |  SELECT e.src, e.dst FROM edges e
      |  JOIN k1 a ON a.id = e.src JOIN k1 b ON b.id = e.dst
      |), k2 AS (
      |  SELECT src AS id FROM e1 GROUP BY src HAVING count(*) >= 100
      |), e2 AS (
      |  SELECT e.src, e.dst FROM e1 e
      |  JOIN k2 a ON a.id = e.src JOIN k2 b ON b.id = e.dst
      |)
      |SELECT src AS l_partkey, CAST(count(*) AS BIGINT) AS deg
      |FROM e2 GROUP BY src
      |ORDER BY l_partkey""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> (qPagerank(_, _)),
    "q_bfs" -> (qBfs(_, _)),
    "q_triangles" -> (qTriangles(_, _)),
    "q_label_prop" -> (qLabelProp(_, _)),
    "q_kcore" -> (qKcore(_, _)),
    "q_sssp" -> (qSssp(_, _)))

  val oracles: Map[String, String] = Map(
    "q_pagerank" -> qPagerankSql,
    "q_bfs" -> qBfsSql,
    "q_triangles" -> qTrianglesSql,
    "q_label_prop" -> qLabelPropSql,
    "q_kcore" -> qKcoreSql,
    "q_sssp" -> qSsspSql)
}

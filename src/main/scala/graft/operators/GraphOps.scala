package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.{
  packSortedVarint, packedIntersectSize, unpackSortedVarint}

import graft.Pins
import graft.sources.TableIO

/**
 * Iterative graph analytics beyond connected components — the GraphX/Pregel capability
 * class expressed as pure DataFrame iteration, the same large-scale shape as
 * Dedup.connectedComponents: the adjacency is built and cached once per call
 * ([[packedAdjacency]]; sssp keeps its weighted form), each round is checkpointed so
 * the logical plan and Catalyst re-analysis cost stay O(1) in rounds, and the driver
 * loops over ROUNDS, never rows.
 *
 * Gates: a vertex-sized frame (ranks, labels, a frontier, a peel set) broadcasts up to
 * [[VertexGate]] vertices and triangleCount's packed adjacency up to [[EdgeGate]]
 * oriented edges. Each operator decides its gate once, off the count it already runs
 * on its cached or checkpointed input — checkpointed frames carry no size statistics,
 * so Spark's auto-broadcast cannot decide it. Under the gate a pageRank iteration or a
 * labelPropagation round runs with zero exchanges (the pull form); past it, the push
 * form pays the contribution (vote) exchanges. The past-gate forms are `private[graft]`
 * so specs run them on small graphs.
 *
 * Pins: an operator here frees every pin its result does not read ([[graft.Pins]]). A
 * superseded round's checkpoint is released once its successor is materialized; the
 * cached adjacency and the rest go when the operator's `Pins.scoped` block returns. A
 * result that still reads a pin (the last round's checkpoint, triangleCount's edge and
 * adjacency checkpoints) belongs to the caller, who frees it with `Pins.release` once
 * the frame has run.
 *
 * PageRank is run to a FIXED iteration count (not convergence) so the result is exactly
 * replayable: the DuckDB oracle unrolls the same three power-iteration steps as chained
 * CTEs and must hash-match after rounding to 6 decimals (the only cross-engine delta is
 * double-summation order, ~1e-15 — far below the rounding grain).
 */
object GraphOps {

  /** Vertex count up to which a vertex-sized frame broadcasts (see the object doc). */
  private val VertexGate = 2000000L

  /**
   * Oriented-edge count up to which triangleCount broadcasts its packed adjacency: the
   * frame holds m delta-varints (≤3 B each for ids under 2^21) plus one key row per
   * vertex, so 32M edges bound the broadcast under ~100 MB of payload + O(n) key
   * overhead — inside torrent-broadcast territory on a 1000-executor cluster, and an
   * order of magnitude past the sf1 rehearsal graph.
   */
  private val EdgeGate = 32000000L

  /**
   * The adjacency pageRank, bfs, labelPropagation and kcorePeel read, cached: one row
   * per source vertex, `(src, nbrs, deg)`, with its out-neighbour SET as sorted
   * delta-varint binary (~1.5 B per neighbour, [[VarintCodec]]) and the set's size.
   * The groupBy(src) is the only m-row exchange of the build; collect_set dedups
   * multi-edges, and its partial aggregate combines map-side. Neighbour ids
   * re-materialize only inside each round's map-side explode. Packed rows measured
   * never-slower than one row per edge and ~6x smaller cached
   * (bench_pagerank_packed_r12.json, bench_graphpack_packed_r12.json).
   */
  private[graft] def packedAdjacency(edges: DataFrame): DataFrame =
    Pins.cache(edges.select(col("src"), col("dst"))
      .groupBy(col("src")).agg(sort_array(collect_set(col("dst"))).as("ds"))
      .select(col("src"), packSortedVarint(col("ds")).as("nbrs"),
        size(col("ds")).cast("long").as("deg")))

  /** `rounds` steps from `init`: each round checkpointed, the one it supersedes released. */
  private def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(Pins.checkpoint(init)) { (cur, _) =>
      val next = Pins.checkpoint(step(cur))
      Pins.release(cur)
      next
    }

  /**
   * Fixed-iteration damped PageRank over a symmetric (src, dst) edge list. Multi-edges
   * are deduplicated internally (the adjacency build is set-valued), so callers may pass
   * a raw pair list. Returns (id, pr) for every node with at least one edge. Symmetry
   * means every node has both in- and out-degree, so no dangling-mass redistribution
   * term is needed.
   *
   * Under the [[VertexGate]] each iteration PULLS (r14, adopted in
   * bench_graph_pull_r14.json over interleaved pairs at sf0.1 and sf1): the rank frame,
   * carrying c = pr/deg precomputed, broadcasts and joins map-side on the EXPLODED
   * neighbour id, and the summing aggregate is keyed by (src, deg), a superset of the
   * cached adjacency's HashPartitioning(src), so Catalyst inserts NO exchange — the
   * whole iteration is one map-side span over the cached frame (guide §2.4). The pull
   * rule sums pr(u)/deg(u) over u ∈ N(v), equal to the push rule's in-contribution sum
   * exactly because the input contract is a SYMMETRIC edge list; double-summation order
   * differs by ~1e-15, which the oracle's 6-decimal rounding absorbs. Past the gate the
   * rank frame must not broadcast, and a pull join would shuffle m exploded rows, so
   * [[pageRankPush]] runs instead.
   */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85): DataFrame =
      Pins.scoped {
    val adj = packedAdjacency(edges)
    // one row per vertex (symmetric edges: every node has out-degree >= 1)
    val n = adj.count()
    if (n > VertexGate) pageRankPush(adj, n, iterations, damping)
    else iterate(adj.select(col("src").as("id"), lit(1.0 / n).as("pr"),
        (lit(1.0 / n) / col("deg")).as("c")), iterations) { ranks =>
      adj.select(col("src"), col("deg"), explode(unpackSortedVarint(col("nbrs"))).as("nbr"))
        .join(broadcast(ranks.select(col("id").as("nbr"), col("c"))), Seq("nbr"))
        .groupBy(col("src"), col("deg"))
        .agg(dampedRank(n, damping).as("pr"))
        .select(col("src").as("id"), col("pr"), (col("pr") / col("deg")).as("c"))
    }.select(col("id"), col("pr"))
  }

  /**
   * PageRank past the [[VertexGate]], over a [[packedAdjacency]] of `n` vertices: each
   * iteration joins the rank frame onto the adjacency by source (a shuffle join),
   * explodes the contributions keyed by DESTINATION and pays one exchange for the
   * groupBy(id) sum.
   */
  private[graft] def pageRankPush(adj: DataFrame, n: Long, iterations: Int,
      damping: Double): DataFrame =
    iterate(adj.select(col("src").as("id"), lit(1.0 / n).as("pr")), iterations) { ranks =>
      adj.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(explode(unpackSortedVarint(col("nbrs"))).as("id"),
          (col("pr") / col("deg")).as("c"))
        .groupBy(col("id")).agg(dampedRank(n, damping).as("pr"))
    }

  /** One vertex's next rank from the sum of its contributions `c`. */
  private def dampedRank(n: Long, damping: Double): Column =
    lit((1.0 - damping) / n) + lit(damping) * sum(col("c"))

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
   * shuffles on the node id), a checkpoint keeps the plan O(1) in rounds, the driver
   * loops over ROUNDS (with an early exit when the frontier drains), never rows.
   * The frontier-based formulation ships only NEWLY reached nodes each round — at
   * 100 TB the per-round work decays with the frontier instead of rescanning the
   * visited set.
   *
   * `edges`: directed (src, dst), multi-edges fine; `seeds`: (id). Returns (id, hop).
   */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = Pins.scoped {
    // The frontier join carries no hint and no gate of its own: broadcasting the frontier
    // lost, since a 2-hop frontier grows to nearly the whole vertex set
    // (bench_frontier_gate_r13.json), and pulling onto the adjacency's partitioning lost
    // too (bench_graph_pull_r14.json) and would only be sound on symmetric input. So
    // Spark's auto-broadcast picks the join by the cached adjacency's size: up to
    // spark.sql.autoBroadcastJoinThreshold (10 MB by default, which sf0.1's graph fits)
    // it is a BroadcastHashJoin that broadcasts the whole adjacency again every round;
    // past it, a shuffle join on src.
    val adj = packedAdjacency(edges)
    var visited = Pins.checkpoint(seeds.select(col("id")).distinct()
      .select(col("id"), lit(0).as("hop")))
    var frontier = visited.select(col("id"))
    var h = 1
    var drained = false
    while (h <= maxHops && !drained) {
      val next = Pins.checkpoint(frontier.withColumnRenamed("id", "src")
        .join(adj, Seq("src"))
        .select(explode(unpackSortedVarint(col("nbrs"))).as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(h).as("hop")))
      drained = next.isEmpty
      if (!drained) {
        val grown = Pins.checkpoint(visited.unionByName(next))
        // both superseded checkpoints (one frame in round 1) are read by nothing left
        Pins.release(frontier)
        Pins.release(visited)
        visited = grown
        frontier = next.select(col("id"))
      }
      h += 1
    }
    visited
  }

  /**
   * `q_bfs`: hop distance from the partkey%97==0 seed parts over the co-purchase graph,
   * bounded at 2 hops. Pure integer arithmetic — the DuckDB oracle unrolls the two
   * frontier steps as CTEs and must hash-match exactly.
   *
   * One checkpoint of the edge list feeds both the seeds action and the adjacency
   * build, which otherwise each re-run the co-purchase lineage (adopted in
   * bench_graph_prologue_r13.json). No repartition here: bfs's adjacency groupBy(src)
   * is the only m-row aggregate downstream and its collect_set partial-aggregates
   * map-side — a pre-shuffle by src would trade that combine away for nothing.
   */
  def qBfs(spark: SparkSession, dir: String): DataFrame = Pins.scoped {
    val edges = Pins.checkpoint(coPurchaseEdges(spark, dir))
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
  def triangleCount(edges: DataFrame): DataFrame = {
    val oriented = orientedEdges(edges)
    // the count reads the checkpoint, not the lineage; past the gate the partitioned
    // sort-merge path runs (billion-edge graphs), ~5x cheaper per shuffled byte than arrays
    trianglesOver(oriented, broadcastAdjacency = oriented.count() <= EdgeGate)
  }

  /** triangleCount's deduplicated, degree-oriented (a, b) edge list, checkpointed. */
  private[graft] def orientedEdges(edges: DataFrame): DataFrame = {
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
    Pins.checkpoint(und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"))
      // explicit partition count: an un-numbered repartition is itself
      // AQE-coalescible, which would undo the spread (see Scaladoc)
      .repartition(edges.sparkSession.sparkContext.defaultParallelism * 2, col("a"), col("b")))
  }

  /**
   * The triangle count over [[orientedEdges]]; `broadcastAdjacency` is triangleCount's
   * [[EdgeGate]] outcome, and `false` is the partitioned path past it.
   */
  private[graft] def trianglesOver(oriented: DataFrame, broadcastAdjacency: Boolean): DataFrame = {
    // Materialize adjacency once on BOTH paths — it feeds two joins, and without a
    // checkpoint each consumer re-runs the groupBy + collect_set + pack over the full
    // edge set (two broadcast builds on the small path; twice the heaviest aggregation
    // on the billion-edge partitioned path). The packed frame is m varints + n keys —
    // the cheapest plan node in the job to persist.
    val adj = Pins.checkpoint(oriented.groupBy(col("a"))
      .agg(packSortedVarint(sort_array(collect_set(col("b")))).as("nbrs")))
    val adjSide = if (broadcastAdjacency) broadcast(adj) else adj
    // An edge whose head has no out-neighbors closes no triangle — the inner join
    // dropping it is correct, not a loss.
    //
    // Both joins consume the SAME adjacency frame (the second under a bare alias, no
    // projection) so their build-side exchanges canonicalize equal and ReuseExchange
    // materializes ONE broadcast relation shared by both joins — at the 32M-edge gate
    // that is one ~100 MB packed payload + HashedRelation overhead on the driver, not
    // two (the r11 form renamed columns below the second join, splitting the exchange).
    oriented
      .join(adjSide, Seq("a"))
      .withColumnRenamed("nbrs", "na")
      .join(adjSide.as("adj2"), col("b") === col("adj2.a"))
      .select(packedIntersectSize(col("na"), col("adj2.nbrs")).as("t"))
      .agg(sum(col("t")).cast("long").as("triangles"))
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
   * Per round under the [[VertexGate]] (r14, adopted in bench_graph_pull_r14.json):
   * ZERO exchanges — each adjacency row counts ITS OWN neighbours' labels: the label
   * frame broadcasts and joins map-side on the exploded neighbour id, and both the
   * (src, label) vote count and the argmax over src are keyed by the adjacency row's own
   * vertex, which the cached frame is already hash-partitioned by (guide §2.4). This
   * pull rule equals push bit-for-bit on the SYMMETRIC input contract (the multiset of
   * labels v collects from N_out(v) IS the multiset of votes v receives from N_in(v)).
   * Past the gate [[labelPropagationPush]] runs. The argmax rides a
   * `max(struct(cnt, -label))`, so no per-node sort or window appears.
   *
   * `edges` must be symmetric (src, dst); multi-edges are deduplicated. Returns
   * (id, label) after `rounds` rounds.
   */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = Pins.scoped {
    val adj = packedAdjacency(edges)
    if (adj.count() > VertexGate) labelPropagationPush(adj, rounds)
    else iterate(ownLabels(adj), rounds) { labels =>
      adj.select(col("src"), explode(unpackSortedVarint(col("nbrs"))).as("nbr"))
        .join(broadcast(labels.select(col("id").as("nbr"), col("label"))), Seq("nbr"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .transform(mostVoted("src"))
    }
  }

  /**
   * Label propagation past the [[VertexGate]], over a [[packedAdjacency]]: each round
   * joins the label frame onto the adjacency by source (a shuffle join), explodes the
   * votes keyed by the DESTINATION neighbour, and pays one exchange for the
   * groupBy(dst, label) count and a second for the argmax.
   */
  private[graft] def labelPropagationPush(adj: DataFrame, rounds: Int): DataFrame =
    iterate(ownLabels(adj), rounds) { labels =>
      adj.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(explode(unpackSortedVarint(col("nbrs"))).as("dst"), col("label"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .transform(mostVoted("dst"))
    }

  /** Round 0 of label propagation: every vertex labelled with its own id. */
  private def ownLabels(adj: DataFrame): DataFrame =
    adj.select(col("src").as("id")).select(col("id"), col("id").as("label"))

  /** Each vertex `v`'s most voted label from (v, label, cnt) rows, ties to the smallest. */
  private def mostVoted(v: String)(votes: DataFrame): DataFrame =
    votes.groupBy(col(v)).agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col(v).as("id"), (-col("m.nl")).as("label"))

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
   *
   * Under the [[VertexGate]] the per-round frontier broadcasts (adopted for sssp in
   * bench_frontier_gate_r13.json: the fat array<struct<dst,w>> adjacency rows make the
   * unbroadcast shuffle join the bill, and checkpointed frontiers carry no stats for
   * auto-broadcast); past it the frontier join shuffles.
   */
  def sssp(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = Pins.scoped {
    val adj = weightedAdjacency(edges)
    ssspRounds(adj, sources, rounds, broadcastFrontier = adj.count() <= VertexGate)
  }

  /** sssp's cached adjacency: one `(src, nbrs: array<struct<dst, w>>)` row per vertex. */
  private[graft] def weightedAdjacency(edges: DataFrame): DataFrame =
    Pins.cache(edges.select(col("src"), struct(col("dst"), col("w")).as("e"))
      .groupBy(col("src")).agg(collect_list(col("e")).as("nbrs")))

  /**
   * sssp's rounds over a [[weightedAdjacency]]; `broadcastFrontier` is sssp's
   * [[VertexGate]] outcome, and `false` is the path past it.
   */
  private[graft] def ssspRounds(adj: DataFrame, sources: DataFrame, rounds: Int,
      broadcastFrontier: Boolean): DataFrame = {
    var dist = Pins.checkpoint(sources.select(col("id")).distinct()
      .select(col("id"), lit(0L).as("dist")))
    var frontier = dist
    var r = 0
    var drained = false
    while (r < rounds && !drained) {
      val frontierSide = frontier.withColumnRenamed("id", "src")
      val relax = (if (broadcastFrontier) broadcast(frontierSide) else frontierSide)
        .join(adj, Seq("src"))
        .select(explode(col("nbrs")).as("e"), col("dist"))
        .select(col("e.dst").as("id"), (col("dist") + col("e.w")).as("dist"))
      val next = Pins.checkpoint(dist.unionByName(relax)
        .groupBy(col("id")).agg(min(col("dist")).as("dist")))
      // delta iteration: only nodes whose distance IMPROVED this round can improve a
      // neighbor next round
      val improved = Pins.checkpoint(
        next.join(dist.withColumnRenamed("dist", "old"), Seq("id"), "left")
          .filter(col("old").isNull || col("dist") < col("old"))
          .select(col("id"), col("dist")))
      drained = improved.isEmpty
      // both superseded checkpoints (one frame in round 1) are read by nothing left
      Pins.release(frontier)
      Pins.release(dist)
      dist = next
      frontier = improved
      r += 1
    }
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
   * frame is materialized with a cache rather than a checkpoint: the cached plan
   * keeps that HashPartitioning(src), so sssp's adjacency groupBy(src) needs no
   * exchange of its own either, while a checkpoint surfaces as a LogicalRDD with
   * UnknownPartitioning (plans/r13/q_sssp_prologue_after.txt). Per-m-row exchange
   * passes: okey and repartition(src), nothing else.
   */
  def qSssp(spark: SparkSession, dir: String): DataFrame = Pins.scoped {
    val weighted = Pins.cache(coPurchaseEdges(spark, dir)
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("dst"), greatest(lit(1L), lit(6L) - col("cnt")).as("w")))
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
   * A checkpoint keeps the plan O(1) in rounds. Returns each surviving vertex with
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
   * degrees). The vertex-sized frames (the dropped set, the decrements) broadcast under
   * the [[VertexGate]]; past it the same plan runs shuffle joins.
   * A survivor can end a round with deg 0 (all its ≥k neighbors dropped); it peels in
   * the next round's filter, and the final `deg > 0` filter drops vertices with no
   * surviving edge, which have no degree in the peeled graph.
   */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = Pins.scoped {
    val adj = packedAdjacency(edges)
    kcoreRounds(adj, k, rounds, broadcastVertices = adj.count() <= VertexGate)
  }

  /**
   * kcorePeel's rounds over a [[packedAdjacency]]; `broadcastVertices` is kcorePeel's
   * [[VertexGate]] outcome, and `false` is the path past it.
   */
  private[graft] def kcoreRounds(adj: DataFrame, k: Int, rounds: Int,
      broadcastVertices: Boolean): DataFrame = {
    def gate(df: DataFrame): DataFrame = if (broadcastVertices) broadcast(df) else df
    // (src, deg): deg = degree in the graph induced on the current survivor set.
    // No initial checkpoint — round 1's two consumers are map-only filters over the
    // cache — and no checkpoint after the FINAL round either (its single consumer is
    // the res materialization below): at rehearsal scale the peel is fixed-cost-bound,
    // and each eager vertex-sized checkpoint is a full driver-synced job.
    var cur = adj.select(col("src"), col("deg"))
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
      val prev = cur
      cur = if (r < rounds - 1) Pins.checkpoint(next) else next
      // superseded once its successor is checkpointed; round 1 read the cached adjacency
      if (r > 0 && r < rounds - 1) Pins.release(prev)
      r += 1
    }
    Pins.checkpoint(cur.filter(col("deg") > 0))
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

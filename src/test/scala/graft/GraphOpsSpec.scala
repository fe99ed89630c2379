package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  // ---- plain-Scala references: independent of the adjacency build, run on small
  // seeded random graphs (fixed seeds, several trials — the PropertySpec idiom)

  /** `m` random pairs over `n` vertices, self-loops dropped (multi-edges kept). */
  private def randomPairs(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter { case (a, b) => a != b }
  }

  private def symmetric(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = pairs ++ pairs.map(_.swap)

  /** Deduplicated out-neighbor sets. */
  private def adjacency(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** In-memory power-iteration reference: same fixed-iteration, symmetric-graph rule. */
  private def referencePr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val out = adjacency(edges)
    val n = out.size.toDouble
    var pr = out.keys.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val contribs = out.toSeq.flatMap { case (s, ds) => ds.map(_ -> pr(s) / ds.size) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = out.keys.map(id => id -> (0.15 / n + 0.85 * contribs.getOrElse(id, 0.0))).toMap
    }
    pr
  }

  /** Synchronous label propagation: most frequent neighbor label, smallest on ties. */
  private def referenceLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = adjacency(edges)
    var labels = nbrs.keys.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      labels = nbrs.map { case (v, ns) =>
        val (_, negLabel) = ns.toSeq.map(labels).groupBy(identity).toSeq
          .map { case (l, ls) => (ls.size, -l) }.max
        v -> -negLabel
      }
    }
    labels
  }

  /** Hop-bounded multi-source BFS over directed edges. */
  private def referenceBfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Map[Long, Int] = {
    val out = adjacency(edges)
    var hops = seeds.distinct.map(_ -> 0).toMap
    var frontier = hops.keySet
    var h = 1
    while (h <= maxHops && frontier.nonEmpty) {
      frontier = frontier.flatMap(v => out.getOrElse(v, Set.empty)) -- hops.keySet
      hops ++= frontier.map(_ -> h)
      h += 1
    }
    hops
  }

  /** Bounded Bellman-Ford: shortest distance over paths of at most `rounds` edges. */
  private def referenceSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    var dist = seeds.distinct.map(_ -> 0L).toMap
    (1 to rounds).foreach { _ =>
      val relaxed = edges.collect { case (u, v, w) if dist.contains(u) => v -> (dist(u) + w) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    dist
  }

  /** Edge-rewrite k-core peel: drop vertices of degree < k, `rounds` times, then degrees. */
  private def referenceKcore(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    var e = edges.toSet
    (1 to rounds).foreach { _ =>
      val keep = e.groupBy(_._1).collect { case (v, es) if es.size >= k => v }.toSet
      e = e.filter { case (a, b) => keep(a) && keep(b) }
    }
    e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  private def prMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def longMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def hopMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def assertPrClose(got: Map[Long, Double], want: Map[Long, Double], ctx: String): Unit = {
    assert(got.keySet == want.keySet, ctx)
    got.foreach { case (id, pr) =>
      assert(math.abs(pr - want(id)) < 1e-12, s"$ctx node $id: $pr vs ${want(id)}")
    }
  }

  test("pageRank matches the in-memory power iteration on a hand graph") {
    import spark.implicits._
    // path 1-2-3 plus pendant 4 on 2 (symmetric): 2 is the hub
    val undirected = Seq((1L, 2L), (2L, 3L), (2L, 4L))
    val sym = undirected ++ undirected.map(_.swap)
    val got = GraphOps.pageRank(sym.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referencePr(sym, 3)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, pr) =>
      assert(math.abs(pr - want(id)) < 1e-12, s"node $id: $pr vs ${want(id)}")
    }
    assert(got(2L) > got(1L) && got(2L) > got(3L) && got(2L) > got(4L), "hub must rank highest")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass is conserved on a symmetric graph")
  }

  test("pageRank equals a plain-Scala power iteration on seeded random graphs") {
    import spark.implicits._
    for (seed <- Seq(41L, 141L, 241L)) {
      val sym = symmetric(randomPairs(seed, n = 60, m = 500))
      assertPrClose(prMap(GraphOps.pageRank(sym.toDF("src", "dst"), iterations = 3)),
        referencePr(sym, 3), s"seed $seed")
    }
  }

  test("bfs and labelPropagation equal plain-Scala references on seeded random graphs") {
    import spark.implicits._
    for (seed <- Seq(43L, 143L, 243L)) {
      val sym = symmetric(randomPairs(seed, n = 80, m = 600))
      val df = sym.toDF("src", "dst")
      // integer outputs: exact
      assert(longMap(GraphOps.labelPropagation(df, rounds = 3)) == referenceLpa(sym, 3),
        s"seed $seed: labelPropagation")
      val seeds = Seq(0L, 7L)
      assert(hopMap(GraphOps.bfs(df, seeds.toDF("id"), maxHops = 3)) ==
        referenceBfs(sym, seeds, 3), s"seed $seed: bfs")
    }
  }

  test("bfs and sssp (frontier gate on/off) equal plain-Scala references on digraphs") {
    import spark.implicits._
    for (seed <- Seq(53L, 153L, 253L)) {
      // directed input: bfs's contract is directed, and sssp's gate seam (`false` is
      // the unbroadcast path past the 2M gate) must not change a distance
      val raw = randomPairs(seed, n = 60, m = 500)
      val seeds = Seq(0L, 5L)
      assert(hopMap(GraphOps.bfs(raw.toDF("src", "dst"), seeds.toDF("id"), maxHops = 3)) ==
        referenceBfs(raw, seeds, 3), s"seed $seed: bfs")
      val weighted = raw.map { case (a, b) => (a, b, 1 + (a + b) % 7) }
      val want = referenceSssp(weighted, seeds, 3)
      for (gate <- Seq(true, false)) {
        val got = longMap(GraphOps.ssspImpl(weighted.toDF("src", "dst", "w"),
          seeds.toDF("id"), rounds = 3, gateFrontier = gate))
        assert(got == want, s"seed $seed gateFrontier=$gate: sssp")
      }
    }
  }

  test("q_sssp and q_bfs equal plain-Scala references over the co-purchase graph") {
    // the co-purchase graph from the collected (order, part) rows: every ordered pair
    // of distinct parts sharing an order, weighted by max(1, 6 - shared-order count)
    val li = graft.sources.TableIO.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairCounts = li.groupBy(_._1).values.toSeq
      .flatMap { rows =>
        val ps = rows.map(_._2).distinct.toSeq
        for (a <- ps; b <- ps if a != b) yield (a, b)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val edges = pairCounts.keys.toSeq
    val srcs = edges.map(_._1).distinct
    val bfsWant = referenceBfs(edges, srcs.filter(_ % 97 == 0), 2).toSeq.sorted
    val bfsGot = GraphOps.qBfs(spark, sf).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(bfsGot.size > srcs.count(_ % 97 == 0), "degenerate bfs: nothing reached")
    assert(bfsGot == bfsWant)
    val weighted = pairCounts.toSeq.map { case ((a, b), c) => (a, b, math.max(1L, 6L - c)) }
    val ssspWant = referenceSssp(weighted, srcs.filter(_ % 101 == 0), 3).toSeq.sorted
    val ssspGot = GraphOps.qSssp(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ssspGot.size > 1, "degenerate sssp: nothing reached")
    assert(ssspGot == ssspWant)
  }

  test("kcorePeel equals a plain-Scala edge-rewrite peel on seeded random graphs") {
    import spark.implicits._
    for (seed <- Seq(59L, 159L, 259L)) {
      val sym = symmetric(randomPairs(seed, n = 90, m = 900))
      val df = sym.toDF("src", "dst")
      for (k <- Seq(2, 8, 15); rounds <- Seq(1, 3)) {
        assert(longMap(GraphOps.kcorePeel(df, k, rounds)) == referenceKcore(sym, k, rounds),
          s"seed $seed k=$k rounds=$rounds diverged")
      }
      // all-peels case: empty
      assert(GraphOps.kcorePeel(df, k = 500, rounds = 2).isEmpty)
    }
  }

  test("kcorePeel matches the plain-Scala peel round-for-round and only shrinks") {
    import spark.implicits._
    for (seed <- Seq(61L, 161L)) {
      val sym = symmetric(randomPairs(seed, n = 90, m = 900))
      val df = sym.toDF("src", "dst")
      for (k <- Seq(2, 8, 15)) {
        val perRound = (1 to 4).map { rounds =>
          val got = longMap(GraphOps.kcorePeel(df, k, rounds))
          assert(got == referenceKcore(sym, k, rounds), s"seed $seed k=$k rounds=$rounds diverged")
          got
        }
        // one more round never revives a vertex nor raises a surviving degree
        perRound.sliding(2).foreach { case Seq(a, b) =>
          assert(b.keySet.subsetOf(a.keySet), s"seed $seed k=$k: a peeled vertex came back")
          b.foreach { case (v, d) => assert(d <= a(v), s"seed $seed k=$k node $v: degree rose") }
        }
      }
      assert(GraphOps.kcorePeel(df, k = 500, rounds = 4).isEmpty)
    }
  }

  test("kcorePeel leaves only its result persisted: superseded checkpoints released") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val sym = symmetric(randomPairs(61L, n = 90, m = 900)).toDF("src", "dst")
    val sc = spark.sparkContext
    // getPersistentRDDs holds its RDDs weakly, so a GC can hide a leaked checkpoint;
    // pin every persisted RDD seen during the call and check which stay persisted
    val before = sc.getPersistentRDDs.keySet
    val seen = scala.collection.concurrent.TrieMap.empty[Int, org.apache.spark.rdd.RDD[_]]
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      sc.getPersistentRDDs.foreach { case (id, rdd) => seen.putIfAbsent(id, rdd) }
      Thread.sleep(1)
    })
    poller.start()
    try GraphOps.kcorePeel(sym, k = 8, rounds = 4).collect()
    finally { polling = false; poller.join() }
    sc.getPersistentRDDs.foreach { case (id, rdd) => seen.putIfAbsent(id, rdd) }
    val left = seen.collect {
      case (id, rdd) if !before(id) && rdd.getStorageLevel != StorageLevel.NONE => id
    }
    assert(left.size <= 1, s"kcorePeel left ${left.size} persisted RDDs: $left")
  }

  test("push forms of pageRank and labelPropagation equal plain-Scala references") {
    import spark.implicits._
    // pull = false is the path past the 2M-vertex gate; the defaults above run pull
    for (seed <- Seq(67L, 167L, 267L)) {
      val sym = symmetric(randomPairs(seed, n = 80, m = 700))
      val df = sym.toDF("src", "dst")
      assertPrClose(prMap(GraphOps.pageRankImpl(df, 3, 0.85, pull = false)),
        referencePr(sym, 3), s"seed $seed: pageRank push")
      assert(longMap(GraphOps.labelPropagationImpl(df, 3, pull = false)) ==
        referenceLpa(sym, 3), s"seed $seed: labelPropagation push")
    }
  }

  test("kcorePeel strips the pendant tail and keeps the clique; multi-edges count once") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + chain 4-5-6; symmetric edges, one duplicated pair
    val pairs = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(4L,5L),(5L,6L),(4L,5L))
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // k=3: round 1 peels 5 and 6 (degrees 2 and 1); 4 drops from degree 4 to 3 and
    // survives round 2. Duplicate (4,5) must not inflate 5's degree to 3.
    val got = GraphOps.kcorePeel(sym, k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree: everything peels, empty result
    assert(GraphOps.kcorePeel(sym, k = 10, rounds = 1).isEmpty)
  }

  test("sssp equals a plain-Scala Bellman-Ford on weighted multi-edge digraphs") {
    import spark.implicits._
    for (seed <- Seq(47L, 147L, 247L)) {
      val rnd = new scala.util.Random(seed)
      // deliberate multi-edges: min-plus must keep the cheapest
      val edges = Seq.fill(700)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong,
          (1 + rnd.nextInt(9)).toLong))
        .filter { case (a, b, _) => a != b }
      val seeds = Seq(0L, 13L, 42L)
      // integer min-plus: exact
      assert(longMap(GraphOps.sssp(edges.toDF("src", "dst", "w"), seeds.toDF("id"), rounds = 4))
        == referenceSssp(edges, seeds, 4), s"seed $seed")
    }
  }

  test("q_pagerank returns a full top-50 with a total deterministic order") {
    val rows = GraphOps.qPagerank(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 50)
    // non-increasing by score; ties strictly increasing by partkey
    rows.sliding(2).foreach { case Array((k1, p1), (k2, p2)) =>
      assert(p1 > p2 || (p1 == p2 && k1 < k2), s"order violated at ($k1,$p1) ($k2,$p2)")
    }
    val again = GraphOps.qPagerank(spark, sf).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.sameElements(again), "fixed-iteration pagerank must be deterministic")
  }

  test("bfs assigns minimum hop distances and respects the hop bound") {
    import spark.implicits._
    // chain 1->2->3->4->5 with a shortcut 1->4; seed at 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps.bfs(edges, seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4 is reached in 1 hop via the shortcut, 5 in 2; the plain chain would say 3 and 4
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfs drains early on a short graph and dedups multi-edges and seed ids") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 1L).toDF("id")
    val got = GraphOps.bfs(edges, seeds, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1))
  }

  test("disconnected nodes never appear; multi-seed takes the nearest seed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = GraphOps.bfs(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 10L -> 0, 2L -> 1, 11L -> 1, 3L -> 2))
  }

  /** All triangles of a vertex set by brute force (reference for triangleCount). */
  private def referenceTriangles(edges: Seq[(Long, Long)]): Long = {
    val und = edges.flatMap { case (a, b) => Seq((a min b, a max b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    nodes.combinations(3).count { case Seq(x, y, z) =>
      und((x, y)) && und((y, z)) && und((x, z))
    }
  }

  test("triangleCount matches brute force on hand graphs; multi-edges and direction ignored") {
    import spark.implicits._
    // K4 (4 triangles) + pendant + disconnected edge, given as noisy directed multi-edges
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 4L), (10L, 11L), (1L, 2L), (2L, 1L))).toDF("src", "dst")
    val got = GraphOps.triangleCount(edges).head().getLong(0)
    assert(got == 4L)
    assert(got == referenceTriangles(k4 ++ Seq((4L, 5L), (10L, 11L))))
    // triangle-free bipartite square: zero
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(GraphOps.triangleCount(square).head().getLong(0) == 0L)
  }

  test("triangleCount broadcast path builds ONE shared adjacency broadcast") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(400)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).toDF("src", "dst")
    val df = GraphOps.triangleCount(edges)
    df.collect()
    // both adjacency joins must consume the SAME exchange — a second materialized
    // broadcast doubles driver memory at the 32M-edge gate (r12 ADVICE fix)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), s"expected a shared broadcast exchange:\n$plan")
  }

  test("triangleCount partitioned path (gate=0) equals the broadcast path") {
    import spark.implicits._
    // random-ish graph big enough to have nontrivial adjacency lists; gate=0 forces the
    // beyond-broadcast sort-merge path (never reached by sf-scale gates otherwise)
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(600)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).toDF("src", "dst")
    val viaBroadcast = GraphOps.triangleCount(edges).head().getLong(0)
    // gate=0 only withholds OUR broadcast() hint; Spark's auto-broadcast would still
    // plan BHJ over the tiny adjacency frame. Disable it and assert the executed plan
    // genuinely carries no broadcast, so the partitioned physical shape is exercised.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val viaPartitioned = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = GraphOps.triangleCount(edges, broadcastGateEdges = 0L)
      val got = df.head().getLong(0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
        s"partitioned path still broadcasts:\n$plan")
      got
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(viaBroadcast == viaPartitioned && viaBroadcast > 0,
      s"broadcast=$viaBroadcast partitioned=$viaPartitioned")
  }

  test("q_triangles is deterministic and positive on the co-purchase graph") {
    val a = GraphOps.qTriangles(spark, sf).head().getLong(0)
    val b = GraphOps.qTriangles(spark, sf).head().getLong(0)
    assert(a == b && a > 0, s"got $a then $b")
  }

  test("labelPropagation: two cliques joined by one bridge edge settle into two communities") {
    import spark.implicits._
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val cl = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val sym = cl ++ cl.map(_.swap)
    val got = GraphOps.labelPropagation(sym.toDF("src", "dst"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deterministic synchronous LPA with min-label ties: clique labels collapse to the
    // minimum member label; the bridge endpoints are dominated by their own clique
    assert(Set(1L, 2L, 3L).map(got).size == 1, s"left clique must agree: $got")
    assert(Set(10L, 11L, 12L).map(got).size == 1, s"right clique must agree: $got")
    assert(got(1L) != got(11L), s"cliques must keep distinct communities: $got")
  }

  test("labelPropagation is deterministic round-for-round (synchronous + total tie-break)") {
    import spark.implicits._
    val edges = (1L to 30L).flatMap(i => Seq((i, i % 30 + 1), (i % 30 + 1, i)))
    val a = GraphOps.labelPropagation(edges.toDF("src", "dst"), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = GraphOps.labelPropagation(edges.toDF("src", "dst"), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("sssp relaxes exactly <=R-edge shortest paths with integer weights") {
    import spark.implicits._
    // 1 -> 2 (w5) -> 3 (w1); direct 1 -> 3 (w10): 2-edge path wins at R>=2
    // 4 unreachable from 1; 1 -> 5 (w1) -> ... chain longer than R stays at the R-cut
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L),
      (5L, 6L, 1L), (6L, 7L, 1L), (7L, 8L, 1L), (1L, 5L, 1L))
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val d2 = GraphOps.sssp(edges.toDF("src", "dst", "w"), seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 5L -> 1L, 6L -> 2L),
      s"2-round distances wrong: $d2")
    val d4 = GraphOps.sssp(edges.toDF("src", "dst", "w"), seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d4(8L) === 4L && !d4.contains(4L), s"4-round must reach the chain end: $d4")
  }

  test("sssp frontier drains early on a settled graph (no wasted rounds)") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    // rounds=10 but the graph settles after 1: must terminate and return both nodes
    val d = GraphOps.sssp(edges, seeds, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L))
  }

  test("q_rolling_zscore statistics are strictly past-only (leakage-free)") {
    import org.apache.spark.sql.functions._
    // the flagged event's own value must not be in its window: recompute each flagged
    // z from the raw preceding values and compare
    val ev = graft.sources.TableIO.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val flagged = graft.operators.EventsQueries.qRollingZscore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    flagged.foreach { case (eid, uid, z4) =>
      val mine = ev.filter(_._2 == uid).sortBy(e => (e._3.getTime, e._1))
      val idx = mine.indexWhere(_._1 == eid)
      val win = mine.slice(math.max(0, idx - 20), idx).map(_._4)
      assert(win.length >= 10, s"event $eid flagged with ${win.length} prior points")
      val mu = win.sum / win.length
      val sd = math.sqrt(win.map(v => (v - mu) * (v - mu)).sum / (win.length - 1))
      val z = BigDecimal((mine(idx)._4 - mu) / sd)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(z - z4) < 2e-4, s"event $eid: engine z=$z4 vs reference $z")
    }
    assert(flagged.nonEmpty, "sf0.001 corpus must surface at least one anomaly")
  }
}

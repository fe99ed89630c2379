package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pins
import graft.sources.TableIO

/**
 * Classic analytics operators Spark has no first-class form for: deterministic
 * per-group mode, a distributed Pareto skyline, and sweep-line interval concurrency
 * via a two-level (distributed) prefix sum. The reference covers this ground with
 * bespoke kernels; here each is a declarative plan plus at most one typed
 * partition-local sweep, so Catalyst/AQE keep owning distribution.
 */
object AnalyticsOps {

  // ---------------------------------------------------------------- q_mode

  /**
   * Deterministic per-group mode: the most frequent `o_orderpriority` per
   * (o_orderstatus, order year), ties broken by the lexicographically smallest value —
   * `mode()` in both engines is tie-nondeterministic, so this is the form that can be
   * oracled AND trusted in a pipeline. Plan: one map-side-combined groupBy to
   * (group, value) counts, then a row_number window over the AGGREGATED frame
   * (|statuses| x |years| x |priorities| rows, never the fact table).
   */
  def qMode(spark: SparkSession, dir: String): DataFrame = {
    val counted = TableIO.orders(spark, dir)
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("yr"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("o_orderstatus"), col("yr"))
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    counted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("yr"),
        col("o_orderpriority").as("mode_priority"), col("cnt").as("mode_cnt"))
      .orderBy(col("o_orderstatus"), col("yr"))
  }

  val qModeSql: String =
    """WITH counted AS (
      |  SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
      |         count(*) AS cnt
      |  FROM orders GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus, yr
      |    ORDER BY cnt DESC, o_orderpriority) AS rn FROM counted)
      |SELECT o_orderstatus, yr, o_orderpriority AS mode_priority, cnt AS mode_cnt
      |FROM ranked WHERE rn = 1 ORDER BY o_orderstatus, yr""".stripMargin

  // ------------------------------------------------------------- q_skyline

  /** 2-D Pareto sweep over rows sorted by (price asc, size desc, id): keeps a row iff
    * no earlier row dominates it (earlier rows all have price <= current). Tracks the
    * best size seen and the cheapest price achieving it, so identical points survive
    * (dominance requires strictness in at least one dimension). */
  private[graft] def paretoSweep(
      it: Iterator[(Long, Double, Int)]): Iterator[(Long, Double, Int)] = {
    var bestSize = Int.MinValue
    var bestPrice = Double.MaxValue
    it.filter { case (_, price, size) =>
      val dominated = bestSize > size || (bestSize == size && bestPrice < price)
      if (!dominated && size >= bestSize) { bestSize = size; bestPrice = price }
      !dominated
    }
  }

  /**
   * Pareto skyline of `part` on (minimize p_retailprice, maximize p_size): parts for
   * which no other part is at-most-as-expensive AND at-least-as-big with strictness in
   * one dimension — the SKYLINE operator (Borzsony/Kossmann/Stocker ICDE'01), absent
   * from both Spark and the reference's SQL surface.
   *
   * Scale shape: phase 1 prunes each partition to its LOCAL skyline with a sort-free
   * shuffle (sortWithinPartitions + one typed sweep) — sound because partition-local
   * domination implies global domination; survivors are ~O(frontier) per partition.
   * Phase 2 finalizes with a broadcast anti-join of the candidate set against itself
   * under the dominance predicate — the quadratic work runs only on the pruned
   * candidates, never on the base table. At 100 TB the base never shuffles at all.
   */
  def skyline(parts: DataFrame): DataFrame = {
    val spark = parts.sparkSession
    import spark.implicits._
    val pts = parts.select(col("p_partkey"), col("p_retailprice").as("price"),
      col("p_size").as("size"))
    val local = pts
      .sortWithinPartitions(col("price"), col("size").desc, col("p_partkey"))
      .as[(Long, Double, Int)]
      .mapPartitions(paretoSweep)
      .toDF("p_partkey", "price", "size")
    val other = broadcast(local.select(col("price").as("q_price"), col("size").as("q_size")))
    local.join(other,
        (col("q_price") <= col("price")) && (col("q_size") >= col("size")) &&
          ((col("q_price") < col("price")) || (col("q_size") > col("size"))),
        "left_anti")
      .orderBy(col("price"), col("size"), col("p_partkey"))
  }

  def qSkyline(spark: SparkSession, dir: String): DataFrame =
    skyline(TableIO.part(spark, dir))

  val qSkylineSql: String =
    """SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY price, size, p.p_partkey""".stripMargin

  // --------------------------------------------------------- q_concurrency

  /**
   * Sweep-line interval concurrency: peak number of SIMULTANEOUSLY active user
   * sessions per day. Sessions are the 30-minute-gap sessionization (same rule as
   * q_sessionize), active over [first event, last event] inclusive.
   *
   * The textbook form is one global running sum over all interval boundaries — a
   * single-partition window that dies at scale. This plan is the distributed two-level
   * prefix sum instead: boundary deltas collapse to net-change-per-timestamp (one
   * map-side-combined groupBy), the running sum partitions BY DAY, and the carry-in
   * for each day comes from a day-level cumulative over the tiny day frame (one row
   * per day — KB-scale regardless of corpus size). No global per-event window
   * anywhere; the DuckDB oracle replays the naive global form, proving the
   * decomposition exact.
   */
  def qConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sessions = TableIO.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    // end-exclusive at s_end + 1us => concurrency counts sessions with start<=t<=end
    val deltas = sessions.select(col("s_start").as("ts"), lit(1L).as("d"))
      .unionAll(sessions.select(
        timestamp_micros(unix_micros(col("s_end")) + 1).as("ts"), lit(-1L).as("d")))
    val net = deltas.groupBy(col("ts")).agg(sum(col("d")).as("net"))
      .withColumn("day", to_date(col("ts")))
    val inDay = Window.partitionBy(col("day")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // day-level carry from the one-row-per-day totals frame (KB-scale by
    // construction): a triangular self-join over days — no window, so no
    // single-partition exchange anywhere in the plan
    val dayTot = net.groupBy(col("day")).agg(sum(col("net")).as("day_tot"))
    val carry = dayTot.as("a")
      .join(dayTot.as("b"), col("b.day") < col("a.day"), "left")
      .groupBy(col("a.day").as("day"))
      .agg(coalesce(sum(col("b.day_tot")), lit(0L)).as("carry"))
    net.join(carry, Seq("day"))
      .withColumn("conc", sum(col("net")).over(inDay) + col("carry"))
      .groupBy(col("day"))
      .agg(max(col("conc")).as("day_peak"))
      .orderBy(col("day"))
  }

  val qConcurrencySql: String =
    """WITH tagged AS (
      |  SELECT user_id, event_id, ts,
      |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM tagged),
      |numbered AS (
      |  SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end
      |  FROM numbered GROUP BY 1, 2),
      |deltas AS (
      |  SELECT s_start AS ts, 1 AS d FROM sessions
      |  UNION ALL
      |  SELECT make_timestamp(epoch_us(s_end) + 1) AS ts, -1 AS d FROM sessions),
      |net AS (SELECT ts, sum(d) AS net FROM deltas GROUP BY 1),
      |cum AS (
      |  SELECT ts, sum(net) OVER (ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM net)
      |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |       CAST(max(conc) AS BIGINT) AS day_peak
      |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------- distributed cumsum

  /**
   * Exact cumulative sum of `value` over the total order given by `order`, WITHOUT a
   * single-partition window: range-repartition on the order keys, one in-partition
   * running-sum window keyed by partition id, plus a carry-in from the (tiny,
   * one-row-per-partition) partition-totals frame. The order must be total (add a
   * unique tiebreak column) and `value` should be decimal/integer when exact
   * cross-engine parity matters — decimal addition is associative, so the distributed
   * regrouping is bit-identical to a sequential scan. Appends column `cum`.
   */
  def distributedCumSum(df: DataFrame, order: Seq[Column], value: Column,
      numRanges: Int = 32): DataFrame = {
    val ranged = df.repartitionByRange(numRanges, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_v", value)
    // carry-in per partition from the (<= numRanges rows) totals frame: a triangular
    // self-join, numRanges^2 pairs of METADATA — no window, so nothing single-partition
    val totals = ranged.groupBy(col("_pid")).agg(sum(col("_v")).as("_ptot"))
    val carries = totals.as("a")
      .join(totals.as("b"), col("b._pid") < col("a._pid"), "left")
      .groupBy(col("a._pid").as("_pid")).agg(sum(col("b._ptot")).as("_carry"))
    val inPart = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(carries), "_pid")
      .withColumn("cum", sum(col("_v")).over(inPart) + coalesce(col("_carry"), lit(0)))
      .drop("_pid", "_v", "_carry")
  }

  // ------------------------------------------------------------------ q_abc

  /**
   * `q_abc`: ABC / Pareto-80-20 classification of parts by revenue — class A holds the
   * head up to 70% of cumulative revenue, B to 90%, C the tail. The cumulative share
   * rides [[distributedCumSum]] (no global window), revenue is DECIMAL so the
   * distributed cumsum is bit-identical to the oracle's sequential scan, and the class
   * boundaries compare cum*10 <= tot*7 in exact decimal arithmetic — no float
   * threshold can flip a row.
   */
  def qAbc(spark: SparkSession, dir: String): DataFrame = {
    val rev = TableIO.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val tot = rev.agg(sum(col("rev")).as("tot"))
    distributedCumSum(rev, Seq(col("rev").desc, col("l_partkey")), col("rev"))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum") * 10 <= col("tot") * 7, "A")
          .when(col("cum") * 10 <= col("tot") * 9, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round((sum(col("rev")) / max(col("tot"))).cast("double"), 4).as("share"))
      .orderBy(col("abc_class"))
  }

  val qAbcSql: String =
    """WITH rev AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT sum(rev) AS tot FROM rev),
      |cum AS (
      |  SELECT l_partkey, rev, sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM rev),
      |cls AS (
      |  SELECT rev, CASE WHEN cum * 10 <= tot * 7 THEN 'A'
      |                   WHEN cum * 10 <= tot * 9 THEN 'B'
      |                   ELSE 'C' END AS abc_class
      |  FROM cum CROSS JOIN tot)
      |SELECT abc_class, count(*) AS n_parts,
      |       round(CAST(sum(rev) / max(tot) AS DOUBLE), 4) AS share
      |FROM cls CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ q_rfm

  /** Distributed quantile score 1..k: global rank via [[distributedCumSum]] of 1s
    * (exact integer arithmetic), then tile = floor((rank-1)*k/n)+1 — the same closed
    * form the oracle computes, so no engine's ntile() remainder policy is involved. */
  private def scoreTile(df: DataFrame, order: Seq[Column], k: Int, n: Long,
      out: String): DataFrame =
    distributedCumSum(df, order, lit(1L))
      .withColumn(out, (floor((col("cum") - 1) * k / n) + 1).cast("int"))
      .drop("cum")

  /**
   * `q_rfm`: RFM customer segmentation — recency / frequency / monetary quintile
   * scores (1..5, 5 = most recent / most frequent / highest spend), reported as
   * segment cell counts. Each score is an exact global rank over the customer
   * dimension computed with [[distributedCumSum]] — three range exchanges, no global
   * window, so the segmentation runs at any customer cardinality.
   */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint: the customer aggregate feeds the count action plus three rank passes
    // (each of which also samples for its range partitioner) — materialize it once and
    // truncate lineage so the orders scan+groupBy runs exactly once. The result reads
    // it, so it is the caller's to `Pins.release`.
    val base = Pins.checkpoint(TableIO.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary")))
    val n = base.count()
    val r = scoreTile(base, Seq(col("last_order"), col("o_custkey")), 5, n, "r_score")
    val f = scoreTile(r, Seq(col("freq"), col("o_custkey")), 5, n, "f_score")
    val m = scoreTile(f, Seq(col("monetary"), col("o_custkey")), 5, n, "m_score")
    m.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val qRfmSql: String =
    """WITH base AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM base),
      |scored AS (
      |  SELECT o_custkey,
      |    CAST(floor((row_number() OVER (ORDER BY last_order, o_custkey) - 1) * 5 / n) + 1 AS INT) AS r_score,
      |    CAST(floor((row_number() OVER (ORDER BY freq, o_custkey) - 1) * 5 / n) + 1 AS INT) AS f_score,
      |    CAST(floor((row_number() OVER (ORDER BY monetary, o_custkey) - 1) * 5 / n) + 1 AS INT) AS m_score
      |  FROM base CROSS JOIN n)
      |SELECT r_score, f_score, m_score, count(*) AS n_customers
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ----------------------------------------------------------- q_basket_lift

  /**
   * `q_basket_lift`: market-basket affinity — the top part pairs co-purchased in the
   * same order ranked by lift = P(x,y)/(P(x)P(y)), with a min-support floor killing
   * the singleton-pair pathology (the association-rule shape of Apriori reduced to
   * its frequent-2-itemset core; the basket twin of text PMI in 72an).
   *
   * Scale shape: pair generation is a self-join ON THE ORDER KEY — fan-out bounded by
   * per-basket size squared, never n²; item supports are one map-side-combined count
   * joined back BY ITEM (vocabulary-sized shuffle joins, not assumed broadcastable);
   * the basket total rides a 1-row broadcast and the final cut is a 20-row
   * TakeOrdered. Lift is rounded to 6 BEFORE ranking so both engines order identical
   * numbers, ties by the pair keys.
   *
   * The distinct (okey, item) basket frame feeds FOUR consumers — both self-join
   * sides, the item support count, and the basket total — and without materialization
   * each one re-runs the lineitem scan + the m-row distinct exchange (ReuseExchange
   * only dedups the two identically-keyed join sides). A checkpoint materializes it
   * once; eager like qRfm's base (r14, adopted in bench_dedup_r14.json), and like it
   * the caller's to `Pins.release`.
   */
  def qBasketLift(spark: SparkSession, dir: String, k: Int = 20,
      minSupport: Long = 3): DataFrame = {
    val items = Pins.checkpoint(TableIO.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item")).distinct())
    val supp = items.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val nBaskets = items.select(col("okey")).distinct().agg(count(lit(1)).as("n"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.okey") === col("b.okey") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("x"), col("b.item").as("y"))
      .agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minSupport)
    pairs
      .join(supp.select(col("item").as("x"), col("c").as("cx")), "x")
      .join(supp.select(col("item").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(nBaskets))
      .select(col("x"), col("y"), col("cxy"),
        round(col("cxy").cast("double") * col("n") / (col("cx") * col("cy")), 6).as("lift"))
      .orderBy(col("lift").desc, col("x"), col("y")).limit(k)
  }

  val qBasketLiftSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
      |supp AS (SELECT item, count(*) AS c FROM items GROUP BY 1),
      |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM items),
      |pairs AS (
      |  SELECT a.item AS x, b.item AS y, count(*) AS cxy
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT p.x, p.y, p.cxy,
      |       round(CAST(p.cxy AS DOUBLE) * n.n / (sx.c * sy.c), 6) AS lift
      |FROM pairs p
      |JOIN supp sx ON sx.item = p.x
      |JOIN supp sy ON sy.item = p.y
      |CROSS JOIN n
      |ORDER BY lift DESC, p.x, p.y LIMIT 20""".stripMargin

  // ------------------------------------------------------------ registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mode" -> (qMode(_, _)),
    "q_skyline" -> (qSkyline(_, _)),
    "q_concurrency" -> (qConcurrency(_, _)),
    "q_abc" -> (qAbc(_, _)),
    "q_rfm" -> (qRfm(_, _)),
    "q_basket_lift" -> (qBasketLift(_, _, 20, 3)))

  val oracles: Map[String, String] = Map(
    "q_mode" -> qModeSql,
    "q_skyline" -> qSkylineSql,
    "q_concurrency" -> qConcurrencySql,
    "q_abc" -> qAbcSql,
    "q_rfm" -> qRfmSql,
    "q_basket_lift" -> qBasketLiftSql)
}

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO

/**
 * SQL-text front door: the reference is used as a SQL engine (its TPC suites run `.sql`
 * resources), so graft must accept SQL TEXT, not just the DataFrame API. Each test runs a
 * Spark-SQL twin of a checklist query over registered temp views and proves it equals the
 * DataFrame-API result — and that injected components (RankLimitRule, native TopKPerKey,
 * SQL-registered vector functions) fire identically for SQL-authored plans.
 */
class SqlFrontDoorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def sameResult(sql: DataFrame, api: DataFrame): Unit = {
    assert(sql.columns.toSeq == api.columns.toSeq, "column names must match")
    assert(sql.exceptAll(api).isEmpty && api.exceptAll(sql).isEmpty,
      "SQL text and DataFrame API must produce identical multisets")
  }

  test("tpch_q1 as SQL text equals the DataFrame plan") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= CAST('2000-12-01' AS TIMESTAMP)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    sameResult(sql, operators.TpchQueries.q1(spark, sf))
  }

  test("snowflake join as SQL text equals the DataFrame plan") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT r_name, year(o_orderdate) AS yr,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size <= 25
        |GROUP BY r_name, year(o_orderdate)
        |ORDER BY r_name, yr""".stripMargin)
    sameResult(sql, operators.TpcdsShapedQueries.qDsSnowflake(spark, sf))
  }

  test("SQL-authored rank<=k filter goes through the native TopKPerKey rewrite") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT l_returnflag, rnk, l_orderkey, l_extendedprice FROM (
        |  SELECT l_returnflag, l_orderkey, l_extendedprice,
        |    rank() OVER (PARTITION BY l_returnflag
        |                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
        |  FROM lineitem) t
        |WHERE rnk <= 3 ORDER BY l_returnflag, rnk""".stripMargin)
    sql.collect()
    assert(sql.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "the injected rule must fire for SQL-text plans too")
    sameResult(sql, operators.RelationalOps.qWindowRank(spark, sf))
  }

  test("grouping sets, semi/anti joins, and scalar subqueries work as SQL text") {
    TableIO.registerAll(spark, sf)
    val gs = spark.sql(
      """SELECT coalesce(l_returnflag, '(all)') AS rf, coalesce(l_linestatus, '(all)') AS ls,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin)
    sameResult(gs, operators.RelationalOps.qGroupingSets(spark, sf))
    val semi = spark.sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin)
    assert(semi.count() > 0)
    val scalar = spark.sql(
      "SELECT count(*) AS n FROM part WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)")
    assert(scalar.head().getLong(0) > 0)
  }

  test("set operators, null semantics, and rollup as SQL text equal the DataFrame plans") {
    TableIO.registerAll(spark, sf)
    // the oracle SQL is ANSI enough that Spark parses it verbatim
    sameResult(spark.sql(operators.RelationalOps.qSetOpsSql),
      operators.RelationalOps.qSetOps(spark, sf))
    val rollup = spark.sql(
      """SELECT coalesce(l_returnflag, '(all)') AS rf, coalesce(l_linestatus, '(all)') AS ls,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)
    sameResult(rollup, operators.RelationalOps.qRollup(spark, sf))
    val nulls = spark.sql(
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_returnflag, 'N') <=> nullif(l_linestatus, 'O') AS nullsafe_eq,
        |  (nullif(l_returnflag, 'N') = nullif(l_linestatus, 'O')) IS NULL AS plain_eq_is_null,
        |  nullif(l_returnflag, 'N') <=> NULL AS is_null_via_nullsafe,
        |  CASE WHEN nullif(l_returnflag, 'N') IS NULL THEN 'was_null'
        |       ELSE nullif(l_returnflag, 'N') END AS filled
        |FROM lineitem""".stripMargin)
    sameResult(nulls, operators.RelationalOps.qNullSemantics(spark, sf))
  }

  test("multiset INTERSECT ALL / EXCEPT ALL keep multiplicity; LIMIT..OFFSET paginates") {
    import spark.implicits._
    TableIO.registerAll(spark, sf)
    // known-answer multiset pins: A={1,1,2,3}, B={1,2,2} as BAGS
    val a = Seq(1L, 1L, 2L, 3L).toDF("x")
    val b = Seq(1L, 2L, 2L).toDF("x")
    val inter = a.intersectAll(b).as[Long].collect().sorted
    assert(inter.toSeq == Seq(1L, 2L), "INTERSECT ALL keeps min(countA, countB) copies")
    val diff = a.exceptAll(b).as[Long].collect().sorted
    assert(diff.toSeq == Seq(1L, 3L), "EXCEPT ALL keeps countA - countB copies")
    // SQL-text twins equal the DataFrame plans on the real table
    sameResult(spark.sql(operators.RelationalOps.qSetOpsAllSql),
      operators.RelationalOps.qSetOpsAll(spark, sf))
    sameResult(spark.sql(operators.RelationalOps.qLimitOffsetSql),
      operators.RelationalOps.qLimitOffset(spark, sf))
    // pagination windows tile: rows 101-120 = total-ordered rows drop(100).take(20)
    val paged = operators.RelationalOps.qLimitOffset(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val full = TableIO.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber")
      .orderBy($"l_orderkey", $"l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(paged.toSeq == full.slice(100, 120).toSeq)
  }

  test("explode, date extraction, and conditional aggregation as SQL text") {
    TableIO.registerAll(spark, sf)
    val explodeSql = spark.sql(
      """SELECT token, count(*) AS n FROM (
        |  SELECT explode(split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)
    sameResult(explodeSql, operators.RelationalOps.qExplode(spark, sf)
      .select("token", "n"))
    val channels = spark.sql(
      """SELECT channel, yr, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM (
        |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'web'
        |              WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog'
        |              ELSE 'store' END AS channel,
        |         year(o_orderdate) AS yr, o_totalprice
        |  FROM orders)
        |GROUP BY channel, yr ORDER BY channel, yr""".stripMargin)
    sameResult(channels, operators.TpcdsShapedQueries.qDsChannels(spark, sf))
  }

  test("PII scrub, normalization, and multi-band aggregation as SQL text") {
    TableIO.registerAll(spark, sf)
    val pii = spark.sql(
      """SELECT doc_id,
        |  size(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)) AS n_emails,
        |  size(regexp_extract_all(text, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', 0)) AS n_phones,
        |  size(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', 0)) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]'),
        |    '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PHONE]'),
        |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]') AS clean_text
        |FROM documents""".stripMargin)
    sameResult(pii, pipeline.TextAnalysis.textPii(spark, sf))
    val norm = spark.sql(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' '),
        |       '\\s+', ' ')) AS norm_text
        |FROM documents""".stripMargin)
    sameResult(norm, pipeline.TextAnalysis.textNormalize(spark, sf))
    val bands = spark.sql(operators.TpcdsShapedQueries.qDsMultiBandSql)
    sameResult(bands, operators.TpcdsShapedQueries.qDsMultiBand(spark, sf))
  }

  test("binned range join equals its SQL-text BETWEEN twin") {
    TableIO.registerAll(spark, sf)
    sameResult(spark.sql(operators.RelationalOps.qRangeJoinSql),
      operators.RelationalOps.qRangeJoin(spark, sf))
  }

  test("as-of join equals a SQL-text window formulation") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id, value AS purchase_value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.event_id, c.user_id, p.purchase_id, p.purchase_value,
        |        row_number() OVER (PARTITION BY c.event_id ORDER BY p.p_ts DESC) AS rn
        |      FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.p_ts <= c.ts)
        |SELECT event_id, user_id, coalesce(purchase_id, -1L) AS purchase_id,
        |       coalesce(purchase_value, 0.0) AS purchase_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)
    sameResult(sql, operators.EventsQueries.qAsofJoin(spark, sf))
  }

  test("exact dedup summary runs as plain SQL text") {
    TableIO.registerAll(spark, sf)
    // the DuckDB oracle SQL is ANSI enough that Spark parses it verbatim — the dedup
    // entry point is reachable from a pure SQL front door, not just the Scala API
    sameResult(spark.sql(pipeline.Dedup.dedupExactSql),
      pipeline.Dedup.dedupExact(spark, sf))
  }

  test("sessionization equals its SQL-text lag + running-sum twin") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """WITH tagged AS (
        |  SELECT user_id, ts,
        |    lag(unix_micros(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL OR unix_micros(ts) - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM tagged)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin)
    sameResult(sql, operators.EventsQueries.qSessionize(spark, sf))
  }

  test("native PIVOT clause equals the DataFrame pivot") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT l_returnflag, coalesce(`F`, 0.0) AS rev_f, coalesce(`O`, 0.0) AS rev_o
        |FROM (SELECT l_returnflag, l_linestatus, l_extendedprice FROM lineitem)
        |PIVOT (round(sum(l_extendedprice), 2) FOR l_linestatus IN ('F', 'O'))
        |ORDER BY l_returnflag""".stripMargin)
    sameResult(sql, functions.ExpressionQueries.qPivot(spark, sf))
  }

  test("native UNPIVOT clause equals the DataFrame unpivot") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT o_orderkey, metric, value FROM (
        |  SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS custkey_d,
        |         o_totalprice / 2 AS half_price FROM orders)
        |UNPIVOT INCLUDE NULLS (value FOR metric IN (o_totalprice, custkey_d, half_price))""".stripMargin)
    sameResult(sql, operators.RelationalOps.qUnpivot(spark, sf))
  }

  test("round-4 curation operators as SQL text equal their DataFrame plans") {
    TableIO.registerAll(spark, sf)

    val shuffleSql = spark.sql(
      """WITH a AS (SELECT doc_id, md5(concat('graft:', CAST(doc_id AS STRING))) AS skey
        |           FROM documents),
        |b AS (SELECT doc_id, skey,
        |        CAST(CAST(conv(substring(skey, 1, 8), 16, 10) AS BIGINT) % 8 AS INT) AS shard
        |      FROM a)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
        |FROM b ORDER BY shard, pos""".stripMargin)
    sameResult(shuffleSql, pipeline.Sampling.sampleShuffle(spark, sf))

    val perplexitySql = spark.sql(
      """WITH toks AS (SELECT doc_id, explode(split(trim(text), '\\s+')) AS tok
        |              FROM documents WHERE text IS NOT NULL),
        |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |total AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM counts),
        |scored AS (SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
        |             avg(ln(c.c)) AS mean_ln_c
        |           FROM toks t JOIN counts c ON t.tok = c.tok GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        |  round(ln(total.n_total) - s.mean_ln_c, 4) AS xent
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |CROSS JOIN total ORDER BY d.doc_id""".stripMargin)
    sameResult(perplexitySql, pipeline.TextAnalysis.textPerplexity(spark, sf))

    val spansSql = spark.sql(
      """WITH t AS (SELECT doc_id, split(text, ' ', -1) AS tk FROM documents
        |           WHERE text IS NOT NULL),
        |f AS (SELECT doc_id, tk FROM t WHERE size(tk) >= 15),
        |g AS (SELECT doc_id, pos,
        |        CAST(conv(substring(md5(concat_ws(' ', slice(tk, pos, 15))), 1, 12), 16, 10)
        |             AS BIGINT) AS h
        |      FROM f LATERAL VIEW explode(sequence(1, size(tk) - 14)) sq AS pos),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup ON g.h = dup.h),
        |brk AS (SELECT doc_id, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 15
        |               THEN 1 ELSE 0 END AS b
        |        FROM hits),
        |isl AS (SELECT doc_id, pos,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |        FROM brk)
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |  CAST(max(pos) + 14 AS INT) AS span_end, CAST(count(*) AS INT) AS n_grams
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin)
    sameResult(spansSql, pipeline.Dedup.dedupSpans(spark, sf))

    val segmentsSql = spark.sql(
      """WITH t AS (SELECT doc_id, split(text, ' ', -1) AS tk FROM documents
        |           WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, pos, concat_ws(' ', slice(tk, (pos - 1) * 8 + 1, 8)) AS seg
        |      FROM t LATERAL VIEW explode(sequence(1, CAST(ceil(size(tk) / 8.0) AS INT))) sq AS pos),
        |win AS (SELECT md5(seg) AS h, min(struct(doc_id, pos)) AS w FROM s GROUP BY md5(seg)),
        |kept AS (SELECT s.doc_id, s.pos, s.seg FROM s JOIN win
        |         ON md5(s.seg) = win.h AND s.doc_id = win.w.doc_id AND s.pos = win.w.pos),
        |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |          concat_ws(' ', transform(array_sort(collect_list(struct(pos, seg))),
        |                                   x -> x.seg)) AS dedup_text
        |        FROM kept GROUP BY doc_id),
        |base AS (SELECT doc_id, CASE WHEN text IS NULL THEN 0
        |           ELSE CAST(ceil(size(split(text, ' ', -1)) / 8.0) AS INT) END AS n_segs
        |         FROM documents)
        |SELECT b.doc_id, b.n_segs, coalesce(a.n_kept, 0) AS n_kept, a.dedup_text
        |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id ORDER BY b.doc_id""".stripMargin)
    sameResult(segmentsSql, pipeline.Dedup.dedupSegments(spark, sf))

    val rrfSql = spark.sql(
      """WITH s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |             cosine_similarity(q.embedding, c.embedding) AS cos,
        |             l2_distance(q.embedding, c.embedding) AS l2
        |           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |           WHERE q.vec_id < 10),
        |cr AS (SELECT query_id, neighbor_id, row_number() OVER
        |         (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s),
        |lr AS (SELECT query_id, neighbor_id, row_number() OVER
        |         (PARTITION BY query_id ORDER BY l2 ASC, neighbor_id) AS rank FROM s),
        |u AS (SELECT query_id, neighbor_id, rank FROM cr WHERE rank <= 10
        |      UNION ALL SELECT query_id, neighbor_id, rank FROM lr WHERE rank <= 10),
        |f AS (SELECT query_id, neighbor_id, sum(1.0D / (60 + rank)) AS rrf,
        |        CAST(count(*) AS INT) AS n_lists
        |      FROM u GROUP BY query_id, neighbor_id)
        |SELECT query_id, fused_rank, neighbor_id, round(rrf, 6) AS rrf6, n_lists FROM (
        |  SELECT f.*, row_number() OVER
        |    (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS fused_rank FROM f)
        |WHERE fused_rank <= 5 ORDER BY query_id, fused_rank""".stripMargin)
    sameResult(rrfSql, pipeline.Similarity.annRrf(spark, sf))
  }

  test("native vector expressions are callable from SQL over a real table") {
    TableIO.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT a.vec_id, round(cosine_similarity(a.embedding, b.embedding), 4) AS cos4,
        |       round(dot_product(a.embedding, b.embedding), 4) AS dot4,
        |       round(l2_distance(a.embedding, b.embedding), 4) AS l24
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 20 ORDER BY a.vec_id""".stripMargin)
    assert(sql.count() > 0)
    sql.collect().foreach { r =>
      assert(!r.isNullAt(1) && math.abs(r.getDouble(1)) <= 1.0001)
    }
  }
}

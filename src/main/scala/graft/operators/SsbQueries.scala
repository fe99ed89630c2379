package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TableIO

/**
 * The Star-Schema Benchmark pack — all 13 SSB queries run VERBATIM through the SQL
 * front door. The reference ships and runs these texts (gazelle_plugin:
 * native-sql-engine/core/src/test/resources/ssb/1.1.sql … 4.3.sql, driven by
 * .../test/scala/com/intel/oap/tpc/ssb suites); this object runs the same bodies over
 * an SSB star schema derived deterministically from the driver's TPC-H tables — the
 * natural construction, since SSB itself is defined as a denormalized TPC-H.
 *
 * Schema derivation (CTE prefix, dialect-split like [[TpcdsRealQueries]]):
 *  - `lineorder` = lineitem x orders (the one fact-build shuffle, shared by every
 *    query), money columns QUANTIZED to whole currency units (floor(x+0.5)) so every
 *    sum/product is an exact integer-valued double — bit-identical across engines
 *    regardless of addition order; `lo_discount` is the SSB integer percent (0..10).
 *  - `customer`/`supplier` join nation+region, so c_nation/s_nation are the REAL
 *    TPC-H nation names and c_city/s_city follow SSB's own convention
 *    (substr(nation,1,9) || digit — 'UNITED KI1' falls out exactly).
 *  - `part` builds SSB's MFGR#<m><c><b> hierarchy from p_partkey arithmetic
 *    (5 mfgrs x 5 categories x 40 brands).
 *  - `date` is the generated calendar (d_datekey = days since 1970-01-01, matching
 *    lo_orderdate).
 *
 * The SSB dimension CTEs are NAMED `customer`/`supplier`/`part`/`date` so the bodies
 * parse untouched; since neither engine lets a CTE definition reference the base
 * table it shadows (DuckDB binds CTE names eagerly), the definitions read the TPC-H
 * sources through non-colliding names — `tpch_*` alias views on the Spark side,
 * `main.*` schema qualification on the DuckDB side. The ONLY body edits, documented:
 * query-1.x/3.x years shifted into this data's 1995-2002 domain, and 2.x's bare
 * `sum(lo_revenue)` aliased `AS revenue` (the driver compare matches columns by
 * name; 3.x/4.x already carry aliases in the official text).
 *
 * Scale: every query is the canonical star join — one fact shuffle, dims broadcast
 * (AQE picks BHJ for all four dims), group-by on low-cardinality keys with map-side
 * partials. Filter pushdown reaches the parquet scans through the inlined CTEs.
 * The lineorder fact materializes once per data dir through StarCache (data at rest,
 * like the reference's dbgen tables); the dim CTEs stay inline because their names
 * shadow the base tables.
 */
object SsbQueries {

  private def prefix(spark: Boolean, withLineorder: Boolean = true): String = {
    val lineorderCte = if (withLineorder) ",\n" + lineorderDef(spark) else ""
    def days(e: String): String =
      if (spark) s"datediff(CAST($e AS DATE), DATE '1970-01-01')"
      else s"(CAST($e AS DATE) - DATE '1970-01-01')"
    val series =
      if (spark) "(SELECT explode(sequence(DATE '1995-01-01', DATE '2002-12-31')) AS d) t"
      else "generate_series(DATE '1995-01-01', DATE '2002-12-31', INTERVAL 1 DAY) t(d)"
    def src(t: String): String = if (spark) s"tpch_$t" else s"main.$t"
    s"""WITH date AS (
       |  SELECT ${days("d")} AS d_datekey,
       |    CAST(extract(year FROM d) AS INT) AS d_year,
       |    CAST(extract(year FROM d) * 100 + extract(month FROM d) AS INT) AS d_yearmonthnum,
       |    CASE CAST(extract(month FROM d) AS INT)
       |      WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar' WHEN 4 THEN 'Apr'
       |      WHEN 5 THEN 'May' WHEN 6 THEN 'Jun' WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug'
       |      WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov' ELSE 'Dec' END
       |      || CAST(CAST(extract(year FROM d) AS INT) AS STRING) AS d_yearmonth,
       |    CAST(floor((extract(doy FROM d) - 1) / 7.0) + 1 AS INT) AS d_weeknuminyear
       |  FROM $series),
       |customer AS (
       |  SELECT c_custkey, n_name AS c_nation, r_name AS c_region,
       |    substr(n_name, 1, 9) || CAST(c_custkey % 10 AS STRING) AS c_city
       |  FROM ${src("customer")} c JOIN ${src("nation")} n ON c.c_nationkey = n.n_nationkey
       |    JOIN ${src("region")} r ON n.n_regionkey = r.r_regionkey),
       |supplier AS (
       |  SELECT s_suppkey, n_name AS s_nation, r_name AS s_region,
       |    substr(n_name, 1, 9) || CAST(s_suppkey % 10 AS STRING) AS s_city
       |  FROM ${src("supplier")} s JOIN ${src("nation")} n ON s.s_nationkey = n.n_nationkey
       |    JOIN ${src("region")} r ON n.n_regionkey = r.r_regionkey),
       |part AS (
       |  SELECT p_partkey,
       |    'MFGR#' || CAST(p_partkey % 5 + 1 AS STRING) AS p_mfgr,
       |    'MFGR#' || CAST(p_partkey % 5 + 1 AS STRING)
       |      || CAST(CAST(floor(p_partkey / 5.0) AS BIGINT) % 5 + 1 AS STRING) AS p_category,
       |    'MFGR#' || CAST(p_partkey % 5 + 1 AS STRING)
       |      || CAST(CAST(floor(p_partkey / 5.0) AS BIGINT) % 5 + 1 AS STRING)
       |      || CAST(CAST(floor(p_partkey / 25.0) AS BIGINT) % 40 + 1 AS STRING) AS p_brand1
       |  FROM ${src("part")})$lineorderCte
       |""".stripMargin
      .replace(" AS STRING)", if (spark) " AS STRING)" else " AS VARCHAR)")
  }

  /** The fact CTE, separable so the Spark side can swap it for a StarCache-materialized
    * temp view (the dims stay CTEs: their names shadow the base tables, so registering
    * them as session temp views would leak the shadow into unrelated queries). */
  private def lineorderDef(spark: Boolean): String = {
    def days(e: String): String =
      if (spark) s"datediff(CAST($e AS DATE), DATE '1970-01-01')"
      else s"(CAST($e AS DATE) - DATE '1970-01-01')"
    def src(t: String): String = if (spark) s"tpch_$t" else s"main.$t"
    s"""lineorder AS (
       |  SELECT o_orderkey AS lo_orderkey, o_custkey AS lo_custkey,
       |    l_partkey AS lo_partkey, l_suppkey AS lo_suppkey,
       |    ${days("o_orderdate")} AS lo_orderdate,
       |    CAST(l_quantity AS INT) AS lo_quantity,
       |    CAST(floor(l_extendedprice + 0.5) AS DOUBLE) AS lo_extendedprice,
       |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS lo_discount,
       |    CAST(floor(l_extendedprice * (1 - l_discount) + 0.5) AS DOUBLE) AS lo_revenue,
       |    CAST(floor(l_extendedprice * 0.6 + 0.5) AS DOUBLE) AS lo_supplycost
       |  FROM ${src("lineitem")} JOIN ${src("orders")} ON l_orderkey = o_orderkey)""".stripMargin
  }

  // ---- the 13 verbatim bodies (ssb/*.sql; year params fitted to 1995-2002) ----

  private val q1_1 = """
select sum(lo_extendedprice*lo_discount) as revenue
	from lineorder, date
	where lo_orderdate = d_datekey
		and d_year = 1996
		and lo_discount between 1 and 3
		and lo_quantity < 25"""

  private val q1_2 = """
select sum(lo_extendedprice*lo_discount) as revenue
	from lineorder, date
	where lo_orderdate = d_datekey
		and d_yearmonthnum = 199704
		and lo_discount between 4 and 6
		and lo_quantity between 26 and 35"""

  private val q1_3 = """
select sum(lo_extendedprice*lo_discount) as revenue
	from lineorder, date
	where lo_orderdate = d_datekey
		and d_weeknuminyear = 6 and d_year = 1997
		and lo_discount between 5 and 7
		and lo_quantity between 36 and 40"""

  private val q2_1 = """
select sum(lo_revenue) as revenue, d_year, p_brand1
	from lineorder, date, part, supplier
	where lo_orderdate = d_datekey
		and lo_partkey = p_partkey
		and lo_suppkey = s_suppkey
		and p_category = 'MFGR#12'
		and s_region = 'AMERICA'
	group by d_year, p_brand1
	order by d_year, p_brand1"""

  private val q2_2 = """
select sum(lo_revenue) as revenue, d_year, p_brand1
	from lineorder, date, part, supplier
	where lo_orderdate = d_datekey
		and lo_partkey = p_partkey
		and lo_suppkey = s_suppkey
		and p_brand1 between 'MFGR#2221' and 'MFGR#2228'
		and s_region = 'ASIA'
	group by d_year, p_brand1
	order by d_year, p_brand1"""

  private val q2_3 = """
select sum(lo_revenue) as revenue, d_year, p_brand1
	from lineorder, date, part, supplier
	where lo_orderdate = d_datekey
		and lo_partkey = p_partkey
		and lo_suppkey = s_suppkey
		and p_brand1 = 'MFGR#2221'
		and s_region = 'EUROPE'
	group by d_year, p_brand1
	order by d_year, p_brand1"""

  private val q3_1 = """
select c_nation, s_nation, d_year, sum(lo_revenue) as revenue
	from customer, lineorder, supplier, date
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_orderdate = d_datekey
		and c_region = 'ASIA'
		and s_region = 'ASIA'
		and d_year >= 1995 and d_year <= 2000
	group by c_nation, s_nation, d_year
	order by d_year asc, revenue desc"""

  private val q3_2 = """
select c_city, s_city, d_year, sum(lo_revenue) as revenue
	from customer, lineorder, supplier, date
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_orderdate = d_datekey
		and c_nation = 'NATION_11'
		and s_nation = 'NATION_11'
		and d_year >= 1995 and d_year <= 2000
	group by c_city, s_city, d_year
	order by d_year asc, revenue desc"""

  private val q3_3 = """
select c_city, s_city, d_year, sum(lo_revenue) as revenue
	from customer, lineorder, supplier, date
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_orderdate = d_datekey
		and c_nation = 'NATION_19'
		and (c_city='NATION_191' or c_city='NATION_195')
		and (s_city='NATION_191' or s_city='NATION_195')
		and s_nation = 'NATION_19'
		and d_year >= 1995 and d_year <= 2000
	group by c_city, s_city, d_year
	order by d_year asc, revenue desc"""

  private val q3_4 = """
select c_city, s_city, d_year, sum(lo_revenue) as revenue
	from customer, lineorder, supplier, date
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_orderdate = d_datekey
		and c_nation = 'NATION_19'
		and (c_city='NATION_191' or c_city='NATION_195')
		and (s_city='NATION_191' or s_city='NATION_195')
		and s_nation = 'NATION_19'
		and d_yearmonth = 'Dec1997'
	group by c_city, s_city, d_year
	order by d_year asc, revenue desc"""

  private val q4_1 = """
select d_year, c_nation, sum(lo_revenue-lo_supplycost) as profit1
	from date, customer, supplier, part, lineorder
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_partkey = p_partkey
		and lo_orderdate = d_datekey
		and c_region = 'AMERICA'
		and s_region = 'AMERICA'
		and (p_mfgr = 'MFGR#1' or p_mfgr = 'MFGR#2')
	group by d_year, c_nation
	order by d_year, c_nation"""

  private val q4_2 = """
select d_year, s_nation, p_category, sum(lo_revenue-lo_supplycost) as profit1
	from date, customer, supplier, part, lineorder
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_partkey = p_partkey
		and lo_orderdate = d_datekey
		and c_region = 'AMERICA'
		and s_region = 'AMERICA'
		and (d_year = 1997 or d_year = 1998)
		and (p_mfgr = 'MFGR#1' or p_mfgr = 'MFGR#2')
	group by d_year, s_nation, p_category
	order by d_year, s_nation, p_category"""

  private val q4_3 = """
select d_year, s_city, p_brand1, sum(lo_revenue-lo_supplycost) as profit1
	from date, customer, supplier, part, lineorder
	where lo_custkey = c_custkey
		and lo_suppkey = s_suppkey
		and lo_partkey = p_partkey
		and lo_orderdate = d_datekey
		and c_region = 'AMERICA'
		and s_nation = 'NATION_16'
		and (d_year = 1997 or d_year = 1998)
		and p_category = 'MFGR#14'
	group by d_year, s_city, p_brand1
	order by d_year, s_city, p_brand1"""

  private val bodies: Map[String, String] = Map(
    "ssb_q1_1" -> q1_1, "ssb_q1_2" -> q1_2, "ssb_q1_3" -> q1_3,
    "ssb_q2_1" -> q2_1, "ssb_q2_2" -> q2_2, "ssb_q2_3" -> q2_3,
    "ssb_q3_1" -> q3_1, "ssb_q3_2" -> q3_2, "ssb_q3_3" -> q3_3, "ssb_q3_4" -> q3_4,
    "ssb_q4_1" -> q4_1, "ssb_q4_2" -> q4_2, "ssb_q4_3" -> q4_3)

  /** Non-colliding alias views the Spark-side prefix reads the TPC-H sources through
    * (the SSB CTEs shadow the bare names, so the definitions can't use them). */
  private val srcTables = Seq("customer", "supplier", "part", "nation", "region",
    "lineitem", "orders")

  val all: Map[String, (SparkSession, String) => DataFrame] =
    bodies.map { case (name, body) =>
      name -> { (s: SparkSession, dir: String) =>
        TableIO.registerAll(s, dir)
        srcTables.foreach(t => TableIO.bindView(s, s"tpch_$t", s.table(t)))
        // Fact-as-data-at-rest: lineorder (the one per-query shuffle) materializes once
        // via StarCache; the dim CTEs stay inline because their names shadow base tables.
        val haveLineorder = graft.sources.StarCache.tryEnsure(s, dir, "ssb",
          Seq("lineorder"), _ => prefix(spark = true) + "SELECT * FROM lineorder")
        s.sql(prefix(spark = true, withLineorder = !haveLineorder) + body.trim)
      }
    }

  val oracles: Map[String, String] =
    bodies.map { case (name, body) => name -> (prefix(spark = false) + body.trim) }
}

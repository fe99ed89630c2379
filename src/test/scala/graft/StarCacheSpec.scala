package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TpcdsRealQueries
import graft.sources.{StarCache, TableIO}

/**
 * StarCache — the one-time parquet materialization of the derived TPC-DS star
 * (TpcdsRealQueries runs its verbatim bodies against these views as data at rest).
 */
class StarCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("viewNames stays in sync with every CTE the prefix defines") {
    // viewSql embeds the full prefix; harvest the `name AS (`-at-margin definitions.
    val prefixText = TpcdsRealQueries.viewSql("date_dim")
    val defined = "(?m)^([a-z_]+) AS \\($".r
      .findAllMatchIn(prefixText).map(_.group(1)).toSet + "date_dim" // WITH date_dim AS (
    assert(defined == TpcdsRealQueries.viewNames.toSet,
      s"prefix defines ${defined.diff(TpcdsRealQueries.viewNames.toSet)} not in viewNames; " +
        s"viewNames has ${TpcdsRealQueries.viewNames.toSet.diff(defined)} not in prefix")
  }

  test("materialized views serve the same rows as the inline CTEs") {
    TableIO.registerAll(spark, sf)
    assert(StarCache.tryEnsure(spark, sf, "tpcds", TpcdsRealQueries.viewNames,
      TpcdsRealQueries.viewSql), "materialization failed on good input")
    // date-banded inventory aggregate: exercises the sorted fact AND a generated dim
    val viaParquet = spark.sql(
      """SELECT CAST(sum(inv_quantity_on_hand) AS BIGINT) AS s, count(*) AS c
        |FROM inventory WHERE inv_date_sk BETWEEN 10500 AND 10600""".stripMargin).head()
    val viaCte = spark.sql(TpcdsRealQueries.viewSql("inventory")
        .replace("SELECT * FROM inventory",
          """SELECT CAST(sum(inv_quantity_on_hand) AS BIGINT) AS s, count(*) AS c
            |FROM inventory WHERE inv_date_sk BETWEEN 10500 AND 10600""".stripMargin)).head()
    assert(viaParquet == viaCte)
    assert(viaParquet.getLong(1) > 0, "probe band must be non-empty to prove anything")
    // second call is the registered fast path and must still succeed
    assert(StarCache.tryEnsure(spark, sf, "tpcds", TpcdsRealQueries.viewNames,
      TpcdsRealQueries.viewSql))
  }

  test("a changed source listing rotates the cache instead of serving stale rows") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_starstamp")
    for (t <- TableIO.tableNames)
      copyTree(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    try {
      TableIO.registerAll(spark, dir.toString)
      assert(StarCache.tryEnsure(spark, dir.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      val before = spark.table("item").count()
      // halve part -> item must shrink after re-ensure, because the stamp (name, length,
      // mtime of every file) rotates the cache path; a stale cache would keep serving
      // the old count
      val partDir = dir.resolve("part.parquet")
      val halved = TableIO.part(spark, dir.toString).where("p_partkey % 2 = 0")
        .localCheckpoint() // detach from the files about to be overwritten
      deleteTree(partDir)
      halved.write.parquet(partDir.toString)
      TableIO.registerAll(spark, dir.toString)
      assert(StarCache.tryEnsure(spark, dir.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      val after = spark.table("item").count()
      assert(after < before, s"item count $before -> $after: cache did not rotate")
    } finally deleteTree(dir)
  }

  test("the item-bucketed facts join exchange-free and sort-free on the item key") {
    TableIO.registerAll(spark, sf)
    assert(StarCache.tryEnsure(spark, sf, "tpcds", TpcdsRealQueries.viewNames,
      TpcdsRealQueries.viewSql))
    // q72's shape: catalog_sales x inventory on item alone, the largest SMJ in the
    // DS pack. Bucket layout must make it exchange-free AND sort-free (one file per
    // bucket publishes the (item, date) sort order). Broadcast is disabled so the
    // planner can't sidestep the SMJ at this tiny SF — at real SF it IS an SMJ.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = spark.sql(
        """SELECT count(*) AS c FROM catalog_sales JOIN inventory
          |ON cs_item_sk = inv_item_sk AND inv_quantity_on_hand < cs_quantity"""
          .stripMargin).queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected an SMJ with broadcast off:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(cs_item_sk"),
        s"catalog_sales side shuffled:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(inv_item_sk"),
        s"inventory side shuffled:\n$plan")
      assert(!plan.contains("Sort [cs_item_sk"), s"catalog_sales side re-sorted:\n$plan")
      assert(!plan.contains("Sort [inv_item_sk"), s"inventory side re-sorted:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).forEach(p => copyTree(p, dst.resolve(p.getFileName)))
    } else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) Files.list(p).forEach(deleteTree)
    Files.deleteIfExists(p)
  }

  test("SSB's materialized lineorder serves the same aggregate as its CTE body") {
    // ssb_q1_1 runs through SsbQueries.all, which materializes lineorder via StarCache;
    // cross-check the revenue against a direct recomputation from the base tables
    val viaStar = SparkEntry.queries("ssb_q1_1")(spark, sf).head().getDouble(0)
    TableIO.registerAll(spark, sf)
    val direct = spark.sql(
      """SELECT sum(CAST(floor(l_extendedprice + 0.5) AS DOUBLE)
        |         * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE extract(year FROM o_orderdate) = 1996
        |  AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 1 AND 3
        |  AND CAST(l_quantity AS INT) < 25""".stripMargin).head().getDouble(0)
    assert(viaStar == direct)
  }

  test("a star whose source directory is gone is swept by the next build") {
    import java.nio.file.{Files, Paths}
    def mkSource(): java.nio.file.Path = {
      val d = Files.createTempDirectory("graft_starsweep")
      for (t <- TableIO.tableNames)
        copyTree(Paths.get(s"$sf/$t.parquet"), d.resolve(s"$t.parquet"))
      d
    }
    val cacheRoot = Paths.get(s"${System.getProperty("java.io.tmpdir")}/graft_star")
    def stars: Set[String] =
      if (!Files.isDirectory(cacheRoot)) Set.empty
      else { val s = Files.list(cacheRoot); try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSet
      } finally s.close() }
    val a = mkSource()
    TableIO.registerAll(spark, a.toString)
    assert(StarCache.tryEnsure(spark, a.toString, "tpcds", TpcdsRealQueries.viewNames,
      TpcdsRealQueries.viewSql))
    val afterA = stars
    deleteTree(a) // source gone: a's star is now orphaned
    val b = mkSource()
    TableIO.registerAll(spark, b.toString)
    assert(StarCache.tryEnsure(spark, b.toString, "tpcds", TpcdsRealQueries.viewNames,
      TpcdsRealQueries.viewSql)) // build path -> sweep runs
    val afterB = stars
    val aDirs = afterA.diff(afterB)
    assert(aDirs.nonEmpty, "the orphaned star (deleted source) must be swept on the next build")
    deleteTree(b)
    // the live test-data stars must survive the sweep (their sources exist)
    assert(afterB.exists(_.contains("tpcds")), "live stars must not be collateral damage")
  }

  test("sessions over different source dirs cannot serve each other's rows") {
    import java.nio.file.{Files, Paths}
    // dir A = full copy; dir B = same tables with part halved, so every derived
    // view (item, and the part-driven inventory grid) has a DIFFERENT cardinality
    val a = Files.createTempDirectory("graft_starisoA")
    for (t <- TableIO.tableNames) copyTree(Paths.get(s"$sf/$t.parquet"), a.resolve(s"$t.parquet"))
    val b = Files.createTempDirectory("graft_starisoB")
    for (t <- TableIO.tableNames if t != "part")
      copyTree(Paths.get(s"$sf/$t.parquet"), b.resolve(s"$t.parquet"))
    TableIO.part(spark, sf).where("p_partkey % 2 = 0").write
      .parquet(b.resolve("part.parquet").toString)
    try {
      // --- two CONCURRENT sessions, one per dir (the sf0.1/sf1 A/B shape) ---
      val s1 = spark.newSession()
      val s2 = spark.newSession()
      TableIO.registerAll(s1, a.toString)
      assert(StarCache.tryEnsure(s1, a.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      val itemA = s1.table("item").count()
      val invA = s1.table("inventory").count()
      TableIO.registerAll(s2, b.toString)
      assert(StarCache.tryEnsure(s2, b.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      val itemB = s2.table("item").count()
      assert(itemB < itemA, "halved part must halve the derived item dim")
      // s1 re-ensures A on its fast path: s2's registration must NOT have repointed
      // s1's bucketed catalog tables (the r9 shared-InMemoryCatalog DROP/CREATE bug)
      assert(StarCache.tryEnsure(s1, a.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      assert(s1.table("item").count() == itemA, "s1's dims repointed by s2")
      assert(s1.table("inventory").count() == invA,
        "s1's bucketed inventory silently repointed by s2's registration")
      assert(s2.table("inventory").count() != invA,
        "B's halved part must shrink the generated inventory grid")
      // --- ONE session alternating dirs must re-register, not fast-path stale views ---
      TableIO.registerAll(s1, b.toString)
      assert(StarCache.tryEnsure(s1, b.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      assert(s1.table("item").count() == itemB)
      TableIO.registerAll(s1, a.toString)
      assert(StarCache.tryEnsure(s1, a.toString, "tpcds", TpcdsRealQueries.viewNames,
        TpcdsRealQueries.viewSql))
      assert(s1.table("item").count() == itemA,
        "alternating A->B->A fast-pathed onto B's views")
    } finally { deleteTree(a); deleteTree(b) }
  }

  test("tryEnsure is fail-soft: bad input reports false instead of throwing") {
    assert(!StarCache.tryEnsure(spark, "/nonexistent/dir", "tpcds",
      TpcdsRealQueries.viewNames, TpcdsRealQueries.viewSql))
    assert(!StarCache.tryEnsure(spark, sf, "tpcds_badsql", Seq("nope"),
      _ => "SELECT * FROM table_that_does_not_exist"))
  }
}

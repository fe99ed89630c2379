package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.{JobCounter, Listeners}
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO

class TableIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def tmp(tag: String) = Files.createTempDirectory(tag).toFile.getAbsolutePath

  test("after one warm call, building tpch_q5 and ssb_q2_1 starts no job") {
    for (name <- Seq("tpch_q5", "ssb_q2_1")) {
      val entry = SparkEntry.queries(name)
      entry(spark, sf) // warm: infers each table's schema once, builds the SSB star
      val jobs = JobCounter.count(spark.sparkContext)(entry(spark, sf))
      assert(jobs == 0, s"building $name again started $jobs jobs")
    }
  }

  test("a table rewritten at the same path exposes its new column and rows") {
    import spark.implicits._
    val dir = tmp("tableio-rewrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(TableIO.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    assert(JobCounter.count(spark.sparkContext)(TableIO.table(spark, dir, "t")) == 0,
      "an unchanged listing must reuse the schema")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = TableIO.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("k", "v", "w"))
    assert(t.as[(Long, String, Double)].collect().toSet == Set((1L, "a", 1.5), (2L, "b", 2.5)))
    // a file added beside the old ones: same schema, new listing, new rows
    Seq((3L, "c", 3.5)).toDF("k", "v", "w").write.mode("append").parquet(s"$dir/t.parquet")
    assert(TableIO.table(spark, dir, "t").count() == 3)
  }

  test("a conf that changes how a footer maps to a schema is part of the reuse key") {
    val s = spark.newSession()
    val dir = tmp("tableio-conf")
    val char = s"$dir/char.parquet"
    s.conf.set("spark.sql.preserveCharVarcharTypeInfo", "true") // footer keeps the types
    s.sql(s"CREATE TABLE tableio_spec_char (v VARCHAR(5), c CHAR(3)) USING parquet " +
      s"LOCATION '$char'")
    try s.sql("INSERT INTO tableio_spec_char VALUES ('ab', 'ab')")
    finally s.sql("DROP TABLE tableio_spec_char") // external: the files stay
    // each flip: (conf, file, the two settings); fresh reads must differ between them
    val flips = Seq(
      ("spark.sql.preserveCharVarcharTypeInfo", char, Seq("false", "true")),
      ("spark.sql.parquet.inferTimestampNTZ.enabled", s"$sf/events.parquet",
        Seq("true", "false")))
    for ((conf, path, settings) <- flips) {
      val prev = s.conf.getOption(conf)
      try {
        val fresh = settings.map { v => s.conf.set(conf, v); v -> s.read.parquet(path).schema }
        assert(fresh.map(_._2).distinct.size == 2, s"$conf must change the schema of $path")
        for ((v, want) <- fresh ++ fresh) {
          s.conf.set(conf, v)
          assert(TableIO.parquet(s, path).schema == want, s"$conf=$v")
        }
      } finally prev.fold(s.conf.unset(conf))(s.conf.set(conf, _))
    }
  }

  /** The file relations `df` reads, each with the root path it lists. */
  private def relations(df: DataFrame): Seq[(String, LogicalRelation, HadoopFsRelation)] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        (fs.location.rootPaths.mkString(","), lr, fs)
    }

  private def relationOf(df: DataFrame): HadoopFsRelation = relations(df) match {
    case Seq((_, _, fs)) => fs
    case other => fail(s"expected one file relation, got ${other.size}")
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("two builds of tpch_q5 share one relation per table, with disjoint attribute ids") {
    val q5 = SparkEntry.queries("tpch_q5")
    val (a, b) = (relations(q5(spark, sf)), relations(q5(spark, sf)))
    assert(a.map(_._1).distinct.size == 6, a.map(_._1))
    for ((root, rels) <- (a ++ b).groupBy(_._1))
      assert(rels.forall(_._3 eq rels.head._3), s"$root resolved to more than one relation")
    val ids = (rels: Seq[(String, LogicalRelation, HadoopFsRelation)]) =>
      rels.flatMap(_._2.output.map(_.exprId)).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "a reused relation must get fresh attribute ids")
  }

  test("a lineitem self-join still resolves") {
    val (l1, l2) = (TableIO.lineitem(spark, sf), TableIO.lineitem(spark, sf))
    assert(relationOf(l1) eq relationOf(l2))
    val (r1, r2) = (spark.read.parquet(s"$sf/lineitem.parquet"),
      spark.read.parquet(s"$sf/lineitem.parquet"))
    val pairs = l1.join(l2, l1("l_orderkey") === l2("l_orderkey")).count()
    assert(pairs > l1.count())
    assert(pairs == r1.join(r2, r1("l_orderkey") === r2("l_orderkey")).count())
  }

  test("calling registerAll twice leaves each base view's stored plan in place") {
    val catalog = spark.sessionState.catalog
    TableIO.registerAll(spark, sf)
    val first = TableIO.tableNames.map(n => catalog.getRawTempView(n).get)
    TableIO.registerAll(spark, sf)
    for ((n, view) <- TableIO.tableNames.zip(first))
      assert(catalog.getRawTempView(n).get eq view, s"view $n was replaced")
  }

  test("a rewritten, added or removed part file reaches the next read, view and star") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tableio-fresh")
    try {
      for (t <- TableIO.tableNames if t != "lineitem")
        Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
      val li = dir.resolve("lineitem.parquet")
      spark.read.parquet(s"$sf/lineitem.parquet").repartition(2, $"l_orderkey")
        .write.parquet(li.toString)
      def parts = Files.list(li).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      val d = dir.toString
      val ssb = SparkEntry.queries("ssb_q2_1")
      def star(): String = relations(ssb(spark, d)).map(_._1).find(_.contains("graft_star"))
        .getOrElse(fail("ssb_q2_1 did not read the StarCache star"))
      def seen(): (Long, Long) = {
        TableIO.registerAll(spark, d)
        (TableIO.lineitem(spark, d).count(), spark.table("lineitem").count())
      }
      val (n, _) = seen()
      var stars = Seq(star())
      val p1 = parts.head
      val kept = spark.read.parquet(p1.toString).where("l_linenumber = 1")
      val keptDir = dir.resolve("kept")
      kept.coalesce(1).write.parquet(keptDir.toString)
      val rewritten = kept.count()
      val p1Rows = spark.read.parquet(p1.toString).count()
      val p2 = parts(1)
      val p2Rows = spark.read.parquet(p2.toString).count()
      val steps: Seq[(String, () => Unit, Long)] = Seq(
        ("rewritten", () => {
          Files.copy(Files.list(keptDir).iterator().asScala
            .find(_.getFileName.toString.startsWith("part-")).get, p1,
            StandardCopyOption.REPLACE_EXISTING)
          Files.delete(p1.resolveSibling(s".${p1.getFileName}.crc")) // a stale checksum
        }, n - p1Rows + rewritten),
        ("added", () => Files.copy(p2, li.resolve("part-99999-added.parquet")),
          n - p1Rows + rewritten + p2Rows),
        ("removed", () => Files.delete(li.resolve("part-99999-added.parquet")),
          n - p1Rows + rewritten))
      for ((what, change, want) <- steps) {
        change()
        assert(seen() == (want, want), s"a $what part file")
        stars :+= star()
        assert(stars.last != stars.init.last, s"a $what part file must rotate the star")
      }
      // removing the added file restores the rewritten listing, and so its star
      assert(stars.last == stars(1))
    } finally deleteTree(dir)
  }

  test("a _SUCCESS file or a dot-file beside the parts keeps the entry") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tableio-hidden")
    try {
      val t = dir.resolve("t.parquet")
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(t.toString)
      val before = relationOf(TableIO.table(spark, dir.toString, "t"))
      Files.write(t.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(t.resolve(".leftover"), "x".getBytes)
      Files.write(t.resolve("part-00000-x.parquet._COPYING_"), "x".getBytes)
      assert(relationOf(TableIO.table(spark, dir.toString, "t")) eq before)
    } finally deleteTree(dir)
  }

  test("the listing a hit makes digests as a fresh read's file index does") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tableio-listing")
    try {
      val rows = (1 to 40).map(i => (i.toLong, i % 3, s"s${i % 2}")).toDF("id", "a", "b")
      val flat = dir.resolve("flat").toString
      rows.repartition(3).write.parquet(flat)
      val nested = dir.resolve("nested").toString
      rows.write.partitionBy("a", "b").parquet(nested)
      val hidden = dir.resolve("hidden")
      rows.repartition(2).write.parquet(hidden.toString)
      Files.createDirectories(hidden.resolve("_temporary/0"))
      Files.write(hidden.resolve("_temporary/0/part-0.parquet"), "x".getBytes)
      Files.createDirectories(hidden.resolve(".staging"))
      Files.write(hidden.resolve(".staging/part-1.parquet"), "x".getBytes)
      for (path <- Seq(flat, nested, hidden.toString, s"$sf/lineitem.parquet")) {
        val df = spark.read.parquet(path)
        val lr = df.queryExecution.analyzed.asInstanceOf[LogicalRelation]
        assert(TableIO.listNow(lr).isDefined && TableIO.listNow(lr) == TableIO.listingOf(df),
          path)
      }
      // above the discovery threshold, both sides list the three a=* directories by a
      // parallel listing job
      val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      spark.conf.set(threshold, "1")
      try {
        val df = spark.read.parquet(nested)
        val lr = df.queryExecution.analyzed.asInstanceOf[LogicalRelation]
        var listed: Option[String] = None
        assert(JobCounter.count(spark.sparkContext) { listed = TableIO.listNow(lr) } == 1)
        assert(listed.isDefined && listed == TableIO.listingOf(df))
      } finally spark.conf.unset(threshold)
    } finally deleteTree(dir)
  }

  test("no read gets another session's relation") {
    def owner(df: DataFrame): SparkSession = relationOf(df).sparkSession
    val path = s"$sf/orders.parquet"
    assert(owner(TableIO.parquet(spark, path)) eq spark)
    val other = spark.newSession()
    assert(owner(TableIO.parquet(other, path)) eq other)
    assert(owner(TableIO.parquet(spark, path)) eq spark)
    // EdgeCaseQueries' runPreserved reads in a newSession() clone with its own conf
    val edge = SparkEntry.queries("q_edge_char")(spark, sf)
    val owners = relations(edge).map(_._3.sparkSession)
    assert(owners.nonEmpty && owners.forall(_ eq edge.sparkSession) &&
      !(edge.sparkSession eq spark))
    // the same session after a conf change resolves again
    val before = relationOf(TableIO.parquet(spark, path))
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1m")
      assert(!(relationOf(TableIO.parquet(spark, path)) eq before))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a stopped context's sessions leave the reuse map") {
    val path = s"$sf/region.parquet"
    val sc = spark.sparkContext
    val before = relationOf(TableIO.parquet(spark, path))
    assert(relationOf(TableIO.parquet(spark, path)) eq before)
    val forget = Listeners.of[TableIO.ForgetOnEnd](sc)
    assert(forget.size == 1, "one listener per context drops its entries when it stops")
    forget.head.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    sc.removeSparkListener(forget.head)
    assert(!(relationOf(TableIO.parquet(spark, path)) eq before),
      "the context's entries must be gone once it has stopped")
    assert(Listeners.of[TableIO.ForgetOnEnd](sc).size == 1)
  }
}

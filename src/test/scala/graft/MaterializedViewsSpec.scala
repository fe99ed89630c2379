package graft

import java.nio.file.Files

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MaterializedViews

class MaterializedViewsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(tag: String) =
    Files.createTempDirectory(tag).toFile.getAbsolutePath

  private def mkBase(path: String, n: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (s"g${i % 7}", s"h${i % 3}", i.toLong, i * 1.5))
      .toDF("g", "h", "v_long", "v_dbl")
      .write.mode("overwrite").parquet(path)
  }

  test("derivable aggregates rewrite onto the view; results identical; base unscanned") {
    val root = tmp("mv1"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 5000)
    def q() = spark.read.parquet(base).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v_long")).as("s"),
        min(col("v_long")).as("mn"), max(col("v_dbl")).as("mx"),
        avg(col("v_dbl")).as("a"))
    val before = q().collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    MaterializedViews.create(spark, base, mv, Seq("g", "h"), Seq("v_long", "v_dbl"))
    try {
      val rewritten = q()
      assert(rewritten.inputFiles.forall(_.contains("/mv")),
        s"rewrite must scan the view: ${rewritten.inputFiles.take(2).mkString(",")}")
      val after = rewritten.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
      assert(after == before, "rewritten answer must be value-identical")
      assert(rewritten.schema == q().schema)
    } finally MaterializedViews.deregister(base)
  }

  test("group-subset rollup rewrites; non-derivable aggregates bail to the base") {
    val root = tmp("mv2"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 3000)
    MaterializedViews.create(spark, base, mv, Seq("g", "h"), Seq("v_long"))
    try {
      // grouping by a SUBSET of the view's group cols re-aggregates partials
      val roll = spark.read.parquet(base).groupBy(col("h"))
        .agg(sum(col("v_long")).as("s"), count(lit(1)).as("n"))
      assert(roll.inputFiles.forall(_.contains("/mv")), "subset rollup must rewrite")
      val expect = (1 to 3000).groupBy(i => s"h${i % 3}")
        .map { case (k, v) => k -> (v.map(_.toLong).sum, v.size.toLong) }
      assert(roll.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap == expect)
      // count(DISTINCT) is not derivable from partials -> base scan
      val cd = spark.read.parquet(base).groupBy(col("g"))
        .agg(countDistinct(col("v_long")).as("d"))
      assert(cd.inputFiles.forall(_.contains("/base")), "distinct agg must NOT rewrite")
      // a filter on a NON-group column -> base scan (not derivable from group rows)
      val filt = spark.read.parquet(base).filter(col("v_long") > 100)
        .groupBy(col("g")).agg(sum(col("v_long")).as("s"))
      assert(filt.inputFiles.forall(_.contains("/base")), "value-col filter must NOT rewrite")
      // a filter on GROUP columns IS derivable: it rewrites and matches the base
      val gFilt = spark.read.parquet(base)
        .filter(col("h") =!= "h0" && col("g").isin("g1", "g2", "g3"))
        .groupBy(col("g")).agg(sum(col("v_long")).as("s"), count(lit(1)).as("n"))
      assert(gFilt.inputFiles.forall(_.contains("/mv")), "group-col filter must rewrite")
      val expectF = (1 to 3000).filter(i => i % 3 != 0 && Seq(1, 2, 3).contains(i % 7))
        .groupBy(i => s"g${i % 7}")
        .map { case (k, v) => k -> (v.map(_.toLong).sum, v.size.toLong) }
      assert(gFilt.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap == expectF, "filtered rewrite must be value-identical to the base")
    } finally MaterializedViews.deregister(base)
  }

  test("PARTITIONED base staleness: appending a new partition disables the rewrite") {
    import spark.implicits._
    val root = tmp("mvp"); val base = s"$root/base"; val mv = s"$root/mv"
    // hive-partitioned layout: data files live under month=…/ subdirectories, the
    // base root holds only directories — the exact layout a 100 TB fact table uses
    (1 to 2000).map(i => (s"g${i % 7}", i.toLong, s"m${i % 4}"))
      .toDF("g", "v_long", "month")
      .write.mode("overwrite").partitionBy("month").parquet(base)
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v_long"))
    try {
      def q() = spark.read.parquet(base).groupBy(col("g")).agg(sum(col("v_long")).as("s"))
      assert(q().inputFiles.forall(_.contains("/mv")), "fresh partitioned base must rewrite")
      val before = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Thread.sleep(1100)
      // append a brand-NEW partition (month=m9): only a recursive stamp can see it
      Seq(("g0", 1000000L, "m9")).toDF("g", "v_long", "month")
        .write.mode("append").partitionBy("month").parquet(base)
      assert(q().inputFiles.forall(_.contains("/base")),
        "a new partition must disable the rewrite (stale view must never answer)")
      val after = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after("g0") == before("g0") + 1000000L, "fallback answer must see the new partition")
      MaterializedViews.refresh(spark, base)
      assert(q().inputFiles.forall(_.contains("/mv")), "refresh re-enables the rewrite")
      assert(q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap == after)
    } finally MaterializedViews.deregister(base)
  }

  test("avg over a NULL-bearing column divides by the non-null count; count(col) derivable") {
    import spark.implicits._
    val root = tmp("mvn"); val base = s"$root/base"; val mv = s"$root/mv"
    // v is NULL for every third row; group g2 is ALL-NULL (avg must stay NULL, not NaN)
    (1 to 3000).map { i =>
      val g = s"g${i % 5}"
      val v: Option[Double] = if (g == "g2" || i % 3 == 0) None else Some(i.toDouble)
      (g, v)
    }.toDF("g", "v").write.mode("overwrite").parquet(base)
    def q() = spark.read.parquet(base).groupBy(col("g"))
      .agg(avg(col("v")).as("a"), count(col("v")).as("nn"), count(lit(1)).as("n"))
    val expect = q().collect().map(r =>
      r.getString(0) -> (Option(r.get(1)), r.getLong(2), r.getLong(3))).toMap
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v"))
    try {
      val rw = q()
      assert(rw.inputFiles.forall(_.contains("/mv")), "avg/count(col) must rewrite")
      val got = rw.collect().map(r =>
        r.getString(0) -> (Option(r.get(1)), r.getLong(2), r.getLong(3))).toMap
      assert(got == expect,
        s"NULL-aware avg/count must match the base scan exactly: $got vs $expect")
      assert(got("g2")._1.isEmpty, "all-NULL group's avg must be NULL, not NaN")
    } finally MaterializedViews.deregister(base)
  }

  test("attach re-enables the rewrite in a fresh session from the persisted _mv_def") {
    val root = tmp("mva"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 2000)
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v_long"))
    def q() = spark.read.parquet(base).groupBy(col("g")).agg(sum(col("v_long")).as("s"))
    val expect = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    MaterializedViews.deregister(base) // simulate a brand-new session: empty registry
    assert(q().inputFiles.forall(_.contains("/base")), "deregistered -> base scan")
    MaterializedViews.attach(spark, mv)
    try {
      assert(q().inputFiles.forall(_.contains("/mv")), "attach must restore the rewrite")
      assert(q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect)
    } finally MaterializedViews.deregister(base)
  }

  test("corrupt view state falls back to the base scan instead of failing the query") {
    val root = tmp("mvc"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 1500)
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v_long"))
    def q() = spark.read.parquet(base).groupBy(col("g")).agg(sum(col("v_long")).as("s"))
    val expect = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      assert(q().inputFiles.forall(_.contains("/mv")))
      // delete the view's DATA but leave _mv_meta/_mv_def: fresh() still says yes,
      // the view read then blows up — the rule must swallow it and use the base
      new java.io.File(mv).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete()))
      val fallback = q()
      assert(fallback.inputFiles.forall(_.contains("/base")),
        "a view whose data vanished must fall back to the base scan, not throw")
      assert(fallback.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect)
    } finally MaterializedViews.deregister(base)
  }

  test("a rewrite answers for the files its relation listed") {
    import spark.implicits._
    val root = tmp("mvl"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 1000)
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v_long"))
    try {
      val q0 = spark.read.parquet(base) // lists the base before the append
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("g")).agg(sum(col("v_long")).as("s"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Thread.sleep(1100) // distinct mtimes on coarse filesystems
      (1 to 100).map(i => (s"g${i % 7}", "hX", 5000000L + i, 0.0))
        .toDF("g", "h", "v_long", "v_dbl").write.mode("append").parquet(base)
      MaterializedViews.refresh(spark, base) // the view now includes the appended rows
      // a fresh read lists the appended file and rewrites onto the refreshed view
      val fresh = agg(spark.read.parquet(base))
      assert(fresh.inputFiles.forall(_.contains("/mv")), "refresh re-enables the rewrite")
      assert(rows(fresh).values.sum == (1 to 1000).sum + (1 to 100).map(_ + 5000000L).sum,
        "the refreshed view must include the appended rows")
      // q0 never listed the appended file: it must keep scanning its own files
      val old = agg(q0)
      val got = rows(old)
      MaterializedViews.deregister(base)
      val unrewritten = rows(agg(q0))
      assert(got.values.sum == unrewritten.values.sum && got == unrewritten,
        "the answer must equal the unrewritten plan's")
      assert(got.values.sum == (1 to 1000).sum)
      assert(old.inputFiles.forall(_.contains("/base")),
        "a relation listed before the refresh must not rewrite onto the view")
    } finally MaterializedViews.deregister(base)
  }

  test("stale view never answers: base change disables the rewrite until refresh") {
    import spark.implicits._
    val root = tmp("mv3"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 1000)
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v_long"))
    try {
      def q() = spark.read.parquet(base).groupBy(col("g")).agg(sum(col("v_long")).as("s"))
      assert(q().inputFiles.forall(_.contains("/mv")))
      Thread.sleep(1100) // distinct mtimes on coarse filesystems
      (1 to 500).map(i => (s"g${i % 7}", "hX", 1000000L + i, 0.0))
        .toDF("g", "h", "v_long", "v_dbl").write.mode("append").parquet(base)
      assert(q().inputFiles.forall(_.contains("/base")),
        "stale view must fall back to the base scan")
      val fromBase = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      MaterializedViews.refresh(spark, base)
      assert(q().inputFiles.forall(_.contains("/mv")), "refresh re-enables the rewrite")
      assert(q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap == fromBase)
    } finally MaterializedViews.deregister(base)
  }

  test("re-optimizing an MV-rewritten query starts no job") {
    val root = tmp("mv-jobs"); val base = s"$root/base"; val mv = s"$root/mv"
    mkBase(base, 1000)
    MaterializedViews.create(spark, base, mv, Seq("g"), Seq("v_long"))
    try {
      val b = spark.read.parquet(base)
      def q() = b.groupBy(col("g")).agg(sum(col("v_long")).as("s"))
      assert(q().inputFiles.forall(_.contains("/mv")), "the query must rewrite")
      // the rule reads the view on every query it matches; its schema is already known
      val jobs = JobCounter.count(spark.sparkContext)(q().queryExecution.optimizedPlan)
      assert(jobs == 0, s"re-optimizing started $jobs jobs")
    } finally MaterializedViews.deregister(base)
  }
}

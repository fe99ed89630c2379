package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ResultCache
import graft.sources.TableIO

class ResultCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def tmp(tag: String) =
    Files.createTempDirectory(tag).toFile.getAbsolutePath

  test("second run is a cache hit with identical rows, served from the cache dir") {
    val cache = tmp("rc1")
    val q = TableIO.lineitem(spark, sf)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!ResultCache.isCached(q, cache))
    val first = ResultCache.run(q, cache).collect().map(_.toSeq).toSet
    assert(ResultCache.isCached(q, cache))
    val again = ResultCache.run(q, cache)
    assert(again.collect().map(_.toSeq).toSet == first)
    assert(again.inputFiles.forall(_.contains(cache)), "hit must read the cache, not the table")
  }

  test("semantically identical plans built twice share one cache entry") {
    val cache = tmp("rc2")
    def build() = TableIO.orders(spark, sf)
      .filter(col("o_totalprice") > 1000.0)
      .groupBy(col("o_orderstatus")).count()
    assert(ResultCache.fingerprint(build()) == ResultCache.fingerprint(build()))
    ResultCache.run(build(), cache)
    assert(ResultCache.isCached(build(), cache))
    // a DIFFERENT query must not collide
    val other = TableIO.orders(spark, sf)
      .filter(col("o_totalprice") > 2000.0)
      .groupBy(col("o_orderstatus")).count()
    assert(ResultCache.fingerprint(other) != ResultCache.fingerprint(build()))
    assert(!ResultCache.isCached(other, cache))
  }

  test("input data change rotates the key; the stale answer is unreachable") {
    import spark.implicits._
    val cache = tmp("rc3")
    val data = tmp("rc3d") + "/t"
    (1 to 100).toDF("id").write.parquet(data)
    def q() = spark.read.parquet(data).agg(sum(col("id")).as("s"))
    val v1 = ResultCache.run(q(), cache).head().getLong(0)
    assert(v1 == 5050L)
    Thread.sleep(1100) // ensure a distinct modification time on coarse filesystems
    (1 to 200).toDF("id").write.mode("overwrite").parquet(data)
    assert(!ResultCache.isCached(q(), cache), "changed input must miss")
    val v2 = ResultCache.run(q(), cache).head().getLong(0)
    assert(v2 == 20100L)
  }

  test("in-memory (LocalRelation) frames bypass the cache — same schema, different rows") {
    import spark.implicits._
    val cache = tmp("rc4")
    val a = Seq(1, 2, 3).toDF("id").agg(sum(col("id")).as("s"))
    val b = Seq(10, 20).toDF("id").agg(sum(col("id")).as("s"))
    assert(!ResultCache.cacheable(a) && !ResultCache.cacheable(b))
    assert(!ResultCache.isCached(a, cache))
    assert(ResultCache.run(a, cache).head().getLong(0) == 6L)
    // b must NOT be served a's answer (pre-fix both hashed to the same key)
    assert(ResultCache.run(b, cache).head().getLong(0) == 30L)
    assert(!ResultCache.isCached(b, cache), "bypassed plans never claim cached")
  }

  test("a rewritten Arrow directory is never served from the cache") {
    val cache = tmp("rc5")
    val dir = tmp("rc5a")
    def writeX(n: Int): Unit =
      org.apache.spark.sql.graft.ArrowIpc.write(spark.range(n).toDF("x").coalesce(1), dir)
    def q() = TableIO.readArrow(spark, dir).groupBy().sum("x")
    writeX(100)
    assert(ResultCache.run(q(), cache).head().getLong(0) == 4950L)
    writeX(10) // the same part file, rewritten with other rows
    val fresh = q().head().getLong(0)
    assert(fresh == 45L)
    assert(ResultCache.run(q(), cache).head().getLong(0) == fresh,
      "a source with no file listing must bypass the cache, not serve the old answer")
  }

  test("wide projections differing past the 25th field get distinct fingerprints") {
    val base = TableIO.lineitem(spark, sf).limit(10)
    // 30 identical columns, then one differing column at position 31
    val cols = (1 to 30).map(i => lit(i).as(s"c$i"))
    val wide1 = base.select(cols :+ lit(1).as("tail"): _*)
    val wide2 = base.select(cols :+ lit(2).as("tail"): _*)
    assert(ResultCache.fingerprint(wide1) != ResultCache.fingerprint(wide2),
      "plan rendering must not truncate at spark.sql.debug.maxToStringFields")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.graft.JobCounter
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
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)
    // ERROR-only logging: the driver parses a bounded stdout TAIL; executor/cleaner WARNs
    // (localCheckpoint unpersist, MapPartitionsRDD) have wedged the JSON line out of the
    // capture window every round so far (BENCH_r01-r05 all record parsed:null).
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // Local-iteration escape hatch (driver never sets it): restrict to matching names.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    def keep(name: String): Boolean = only.forall(_.exists(name.contains))
    SparkEntry.queries.filter { case (n, _) => keep(n) }.foreach { case (name, fn) =>
      // Each operator frees the pins its result does not read; the frame's own are
      // freed once it is written, so pins do not accumulate across the suite (as Bench).
      try {
        val frame = fn(spark, sfDir)
        try frame.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally Pins.release(frame)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

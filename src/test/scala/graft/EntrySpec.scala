package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() yields rows; every query key has a runnable plan, and
  * once its frame has run and been freed with `Pins.release`, no query leaves a pin. */
class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key is a queries key") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"oracle without query: $orphan")
  }

  test("every query at sf0.001 executes") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries) {
      try {
        val left = SparkTestBase.pinsLeftBy {
          val frame = fn(spark, sf)
          try frame.count() finally Pins.release(frame)
        }
        if (!left.isEmpty) leaks += s"$name: $left"
      } catch { case e: Throwable => failures += s"$name: ${e.getMessage.take(120)}" }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(leaks.isEmpty, s"${leaks.size} queries left pins:\n${leaks.mkString("\n")}")
  }
}

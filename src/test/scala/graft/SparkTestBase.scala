package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all suites (one JVM, one session — sbt forks tests once). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.get("local[4]", 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Ids of the RDDs `body` persisted and left persisted. getPersistentRDDs holds its
    * RDDs weakly, so a GC can hide a leaked checkpoint; every persisted RDD seen during
    * the call is pinned, then checked for whether it stayed persisted. */
  def persistedLeftBy(body: => Any): Iterable[Int] = {
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = scala.collection.concurrent.TrieMap.empty[Int, org.apache.spark.rdd.RDD[_]]
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      sc.getPersistentRDDs.foreach { case (id, rdd) => seen.putIfAbsent(id, rdd) }
      Thread.sleep(1)
    })
    poller.start()
    try body
    finally { polling = false; poller.join() }
    sc.getPersistentRDDs.foreach { case (id, rdd) => seen.putIfAbsent(id, rdd) }
    seen.collect {
      case (id, rdd) if !before(id) && rdd.getStorageLevel != StorageLevel.NONE => id
    }
  }
}

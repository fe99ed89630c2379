package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** Shared session for all suites (one JVM, one session — sbt forks tests once). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.get("local[4]", 4)
  val sf: String = "/root/testdata/sf0.001"

  /** What a call left pinned: the ids of the RDDs it persisted and left persisted, and
    * the CacheManager entries it added and left, each named by its plan's root node and
    * output columns. */
  final case class Leftovers(rdds: Set[Int], cached: Seq[String]) {
    def isEmpty: Boolean = rdds.isEmpty && cached.isEmpty
    override def toString: String =
      s"${rdds.size} persisted RDD(s) ${rdds.toSeq.sorted.mkString("[", ",", "]")}, " +
        s"${cached.size} cache entr${if (cached.size == 1) "y" else "ies"} " +
        cached.mkString("[", "; ", "]")
  }

  private def cacheEntries: Seq[CachedData] = {
    val cm = spark.sharedState.cacheManager
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[Seq[CachedData]]
  }

  /** The pins `body` left. getPersistentRDDs holds its RDDs weakly, so a GC can hide a
    * leaked checkpoint; every persisted RDD seen during the call is pinned, then checked
    * for whether it stayed persisted. CacheManager entries are compared by identity. */
  def pinsLeftBy(body: => Any): Leftovers = {
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val entriesBefore = cacheEntries
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
    val rdds = seen.collect {
      case (id, rdd) if !before(id) && rdd.getStorageLevel != StorageLevel.NONE => id
    }.toSet
    val cached = cacheEntries.filterNot(cd => entriesBefore.exists(_ eq cd)).map { cd =>
      s"${cd.plan.nodeName}(${cd.plan.output.map(_.name).mkString(",")})"
    }
    Leftovers(rdds, cached)
  }

  /** The pins left once the frame `op` returns has run and its caller has freed it with
    * `Pins.release`: empty when the operator freed everything its result does not read. */
  def pinsLeftByRun(op: => org.apache.spark.sql.DataFrame): Leftovers =
    pinsLeftBy { val frame = op; try frame.collect() finally Pins.release(frame) }
}

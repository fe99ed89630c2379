package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def vecDf(rows: (Seq[Float], Seq[Float])*) = {
    import spark.implicits._
    rows.toSeq.toDF("a", "b")
  }

  test("cosine similarity on known vectors") {
    val df = vecDf(
      (Seq(1f, 0f), Seq(0f, 1f)),   // orthogonal -> 0
      (Seq(1f, 1f), Seq(1f, 1f)),   // identical -> 1
      (Seq(1f, 0f), Seq(-1f, 0f)),  // opposite -> -1
      (Seq(0f, 0f), Seq(1f, 1f)))   // zero vector -> 0 by convention
    val got = df.select(VectorFunctions.cosineSimilarity(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
    assert(got(3) == 0.0)
  }

  test("dot product matches manual computation") {
    val df = vecDf((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)))
    val got = df.select(VectorFunctions.dotProduct(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(got == 32.0)
  }

  test("null input yields null (nullIntolerant)") {
    import spark.implicits._
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSimilarity(col("a"), col("b")).as("c")).collect()
    assert(got.head.isNullAt(0))
  }

  test("interpreted eval matches codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(50)((Seq.fill(16)(rnd.nextFloat()), Seq.fill(16)(rnd.nextFloat())))
    // an RDD-backed frame: a local relation would be evaluated interpreted at plan time
    val df = spark.sparkContext.parallelize(data, 2).toDF("a", "b")
    def run(): Seq[Double] =
      df.select(VectorFunctions.cosineSimilarity(col("a"), col("b"))).collect().map(_.getDouble(0))
    val codegen = SparkTestBase.withCodegen(on = true)(run())
    val interpreted = SparkTestBase.withCodegen(on = false)(run())
    assert(codegen.map(java.lang.Double.doubleToLongBits) ==
      interpreted.map(java.lang.Double.doubleToLongBits))
    val manual = data.map { case (a, b) =>
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    // manual Seq.sum associates differently than the kernel's loop; allow float-level slack
    codegen.zip(manual).foreach { case (g, m) => assert(math.abs(g - m) < 1e-6) }
  }

  test("SQL registration through GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").collect()
    assert(r.head.getDouble(0) == 1.0)
    val d = spark.sql(
      "SELECT dot_product(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d").collect()
    assert(d.head.getDouble(0) == 6.0)
  }

  test("a SQL call with the wrong argument count names the function") {
    val a = "array(CAST(1.0 AS FLOAT))"
    for ((call, fn) <- Seq(s"cosine_similarity($a)" -> "cosine_similarity",
        s"cosine_similarity($a, $a, $a)" -> "cosine_similarity",
        "jaro_winkler('a')" -> "jaro_winkler")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call AS r").collect())
      assert(e.getMessage.contains(s"$fn takes 2 argument(s), got "), s"$call: ${e.getMessage}")
    }
  }

  test("packed intersect equals array intersect on random sorted sets") {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, packedIntersectSize,
      sortedIntersectSize}
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // mixed magnitudes: dense small ids (graph case), sparse huge ids (hash case),
    // empties, singletons, and a zero-first-element set
    def randSet(): Seq[Long] = rnd.nextInt(4) match {
      case 0 => Seq.empty
      case 1 => Seq.fill(rnd.nextInt(40) + 1)(rnd.nextInt(500).toLong).distinct.sorted
      case 2 => Seq.fill(rnd.nextInt(40) + 1)(math.abs(rnd.nextLong())).distinct.sorted
      case 3 => (0L +: Seq.fill(rnd.nextInt(20))(rnd.nextInt(1000).toLong)).distinct.sorted
    }
    val data = Seq.fill(200)((randSet(), randSet()))
    val df = data.toDF("a", "b")
    val got = df.select(
      packedIntersectSize(packSortedVarint(col("a")), packSortedVarint(col("b"))).as("p"),
      sortedIntersectSize(col("a"), col("b")).as("s")).collect()
    got.zip(data).foreach { case (row, (a, b)) =>
      val expected = a.toSet.intersect(b.toSet).size
      assert(row.getInt(0) == expected, s"packed: $a vs $b")
      assert(row.getInt(1) == expected, s"array: $a vs $b")
    }
  }

  test("varint packing is smaller than the 8 B/element array form on dense ids") {
    import org.apache.spark.sql.graft.VectorExpressions.packSortedVarint
    import spark.implicits._
    // consecutive-ish ids, the adjacency-list shape: deltas fit 1 byte each
    val ids = (0L until 1000L).map(_ * 3)
    val bytes = Seq(Tuple1(ids)).toDF("a")
      .select(packSortedVarint(col("a")).as("p")).collect().head.getAs[Array[Byte]](0)
    assert(bytes.length < ids.length * 2, s"packed ${bytes.length} B for ${ids.length} ids")
  }

  test("packed kernels via SQL registration") {
    val r = spark.sql(
      "SELECT packed_intersect_size(pack_sorted_varint(array(1L, 5L, 9L)), " +
        "pack_sorted_varint(array(5L, 9L, 12L))) AS n").collect()
    assert(r.head.getInt(0) == 2)
  }

  test("unpack_sorted_varint is pack's inverse on random sorted sets") {
    import org.apache.spark.sql.graft.VectorExpressions.{packSortedVarint, unpackSortedVarint}
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def randSet(): Seq[Long] = rnd.nextInt(3) match {
      case 0 => Seq.empty
      case 1 => Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(2000).toLong).distinct.sorted
      case 2 => Seq.fill(rnd.nextInt(20) + 1)(math.abs(rnd.nextLong())).distinct.sorted
    }
    val data = Seq.fill(200)(Tuple1(randSet()))
    val got = data.toDF("a")
      .select(unpackSortedVarint(packSortedVarint(col("a"))).as("u"), col("a")).collect()
    got.zip(data).foreach { case (row, Tuple1(a)) =>
      assert(row.getSeq[Long](0) == a, s"round-trip: $a")
    }
    val sqlGot = spark.sql(
      "SELECT unpack_sorted_varint(pack_sorted_varint(array(1L, 5L, 9L))) AS u").collect()
    assert(sqlGot.head.getSeq[Long](0) == Seq(1L, 5L, 9L))
    val e = intercept[Exception](
      org.apache.spark.sql.graft.VarintCodec.unpack(Array[Byte](0x85.toByte)))
    assert(e.getMessage.contains("malformed delta-varint"))
  }

  test("packed_intersect_size raises a typed error on truncated varint input") {
    import org.apache.spark.sql.graft.VarintCodec
    // a varint cut mid-stream: continuation bit set on the final byte. The kernel is
    // SQL-registered, so arbitrary user binary can reach it — the decode loop must
    // fail with a descriptive IllegalArgumentException, not a raw AIOOBE (r12 ADVICE).
    val truncated = Array[Byte](0x85.toByte) // "more bytes follow", then nothing
    val ok = VarintCodec.pack(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(1L, 5L, 9L)))
    val e = intercept[IllegalArgumentException](VarintCodec.intersectSize(ok, truncated))
    assert(e.getMessage.contains("malformed delta-varint"))
    val e2 = intercept[IllegalArgumentException](VarintCodec.intersectSize(truncated, ok))
    assert(e2.getMessage.contains("malformed delta-varint"))
  }
}

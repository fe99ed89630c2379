package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{CountMin, Frames, HilbertIndex, SortedIntersectSizeGated,
  SqDistLong, TDigest, VarintCodec}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/**
 * The native-expression contract (after Spark's `ExpressionEvalHelper`): each native
 * scalar expression returns the same value, bit for bit and null for null, three ways:
 *  - codegen: `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, whole-stage codegen on;
 *  - interpreted: `NO_CODEGEN`, whole-stage codegen off;
 *  - constant-folded: the optimizer evaluates the expression over literals.
 * The codegen and interpreted runs read an RDD-backed frame, which the optimizer cannot
 * fold. Each function runs over nullable columns holding its seeded rows (null arrays,
 * null elements, empty arrays, length mismatches), then over non-nullable columns
 * holding the rows without a null; a null result there requires `nullable`.
 *
 * The covered list is the SQL registration table's scalar functions plus the
 * DataFrame-only expressions in `columnOnly`, so a scalar function registered without
 * contract inputs fails this spec.
 */
class ExpressionContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.withCodegen

  private type Builder = Seq[Expression] => Expression

  /** Native scalar expressions with a DataFrame entry point and no SQL registration. */
  private val columnOnly: Map[String, Builder] = Map(
    "sq_dist_long" -> (a => SqDistLong(a(0), a(1))),
    "sorted_intersect_size_gated" -> (a => SortedIntersectSizeGated(a(0), a(1), a(2))),
    "hilbert_index" -> (a => HilbertIndex(a(0), a(1))))

  /** The registration table's scalar functions, built through the builder SQL calls. */
  private val registeredScalars: Map[String, Builder] = GraftExtensions.functions
    .filterNot(f =>
      classOf[AggregateFunction].isAssignableFrom(Class.forName(f.info.getClassName)))
    .map(f => f.name -> (f.checked _)).toMap

  private val builders = registeredScalars ++ columnOnly

  /** A function's argument types and its seeded rows, one value per argument. */
  private case class Inputs(types: Seq[DataType], rows: Seq[Seq[Any]])

  private def orNull(r: Random, oneIn: Int)(v: => Any): Any = if (r.nextInt(oneIn) == 0) null else v

  /** Floats from 1e-3 to 1e8 in magnitude, so float and double arithmetic differ. */
  private def floats(r: Random, n: Int): Seq[Any] =
    Seq.fill(n)(orNull(r, 15)((r.nextGaussian() * math.pow(10, r.nextInt(12) - 3)).toFloat))

  private def sortedSet(r: Random): Seq[Long] = r.nextInt(4) match {
    case 0 => Seq.empty
    case 1 => Seq.fill(r.nextInt(30) + 1)(r.nextInt(60).toLong).distinct.sorted
    case 2 => Seq.fill(r.nextInt(30) + 1)(r.nextLong() & Long.MaxValue).distinct.sorted
    case _ => (0L +: Seq.fill(r.nextInt(20))(r.nextInt(200).toLong)).distinct.sorted
  }

  private def withNullElement(r: Random, s: Seq[Long]): Seq[Any] =
    if (s.nonEmpty && r.nextInt(12) == 0) s.updated(r.nextInt(s.size), null) else s

  private def packed(s: Seq[Long]): Array[Byte] = VarintCodec.pack(ArrayData.toArrayData(s.toArray))

  private def text(r: Random): String = Seq.fill(r.nextInt(9))("abcde"(r.nextInt(5))).mkString

  private val floatPair = Seq(ArrayType(FloatType), ArrayType(FloatType))

  private def vectors(seed: Long): Inputs = {
    val r = new Random(seed)
    val fixed = Seq(Seq(Seq(1e8f), Seq(1f)), Seq(Seq.empty, Seq.empty), Seq(Seq(0f, 0f), Seq(1f, 1f)))
    Inputs(floatPair, fixed ++ Seq.fill(200) {
      val n = r.nextInt(9)
      val m = if (r.nextInt(6) == 0) r.nextInt(9) else n
      Seq(orNull(r, 12)(floats(r, n)), orNull(r, 12)(floats(r, m)))
    })
  }

  private def sortedSets(seed: Long, gated: Boolean): Inputs = {
    val r = new Random(seed)
    val sets = Seq(ArrayType(LongType), ArrayType(LongType))
    Inputs(if (gated) sets :+ DoubleType else sets, Seq.fill(200) {
      val a = sortedSet(r)
      // half the pairs share most of their elements, so the gate passes some
      val b = if (r.nextBoolean()) (a.filter(_ => r.nextInt(5) > 0) ++ sortedSet(r)).distinct.sorted
        else sortedSet(r)
      Seq(orNull(r, 12)(withNullElement(r, a)), orNull(r, 12)(withNullElement(r, b))) ++
        (if (gated) Seq(orNull(r, 12)(Seq(0.0, 0.3, 0.5, 0.8, 1.0)(r.nextInt(5)))) else Nil)
    })
  }

  private val inputs: Map[String, Inputs] = Map(
    "cosine_similarity" -> vectors(101),
    "dot_product" -> vectors(102),
    "l2_distance" -> vectors(103),
    "sq_dist_long" -> {
      val r = new Random(104)
      def vec(n: Int) = Seq.fill(n)(orNull(r, 50)(r.nextInt(4001).toLong - 2000))
      Inputs(Seq(ArrayType(LongType), ArrayType(LongType)), Seq.fill(200) {
        // ~1 row in 5 has a length mismatch, and some arrays are empty
        val n = if (r.nextInt(10) == 0) 0 else 16
        val m = if (r.nextInt(5) == 0) n + 1 - 2 * r.nextInt(2) max 0 else n
        Seq(orNull(r, 12)(vec(n)), orNull(r, 12)(vec(m)))
      })
    },
    "sorted_intersect_size" -> sortedSets(105, gated = false),
    "sorted_intersect_size_gated" -> sortedSets(106, gated = true),
    "pack_sorted_varint" -> {
      val r = new Random(107)
      Inputs(Seq(ArrayType(LongType)), Seq.fill(200)(Seq(orNull(r, 12)(sortedSet(r)))))
    },
    "packed_intersect_size" -> {
      val r = new Random(108)
      Inputs(Seq(BinaryType, BinaryType),
        Seq.fill(200)(Seq(orNull(r, 12)(packed(sortedSet(r))), orNull(r, 12)(packed(sortedSet(r))))))
    },
    "unpack_sorted_varint" -> {
      val r = new Random(109)
      Inputs(Seq(BinaryType), Seq.fill(200)(Seq(orNull(r, 12)(packed(sortedSet(r))))))
    },
    "jaro_winkler" -> {
      val r = new Random(110)
      Inputs(Seq(StringType, StringType),
        Seq(Seq("martha", "marhta"), Seq("", "")) ++
          Seq.fill(200)(Seq(orNull(r, 12)(text(r)), orNull(r, 12)(text(r)))))
    },
    "hilbert_index" -> {
      val r = new Random(111)
      Inputs(Seq(LongType, LongType),
        Seq.fill(200)(Seq.fill(2)(orNull(r, 12)(r.nextLong() >> r.nextInt(64)))))
    },
    "tdigest_quantile" -> {
      val r = new Random(112)
      def sketch(): Array[Byte] = {
        val b = new TDigest.Buffer(TDigest.DefaultCompression)
        Seq.fill(Seq(0, 1, 5, 300)(r.nextInt(4)))(b.add(r.nextGaussian() * 1000))
        b.toBytes
      }
      Inputs(Seq(BinaryType, DoubleType), Seq.fill(60)(
        Seq(orNull(r, 12)(sketch()), orNull(r, 12)(Seq(0.0, 1.0, r.nextDouble())(r.nextInt(3))))))
    },
    "cms_estimate" -> {
      val r = new Random(113)
      def sketch(): Array[Byte] = {
        val b = new CountMin.Buffer(3, 16)
        Seq.fill(r.nextInt(40))(b.add(UTF8String.fromString(text(r))))
        b.toBytes
      }
      Inputs(Seq(BinaryType, StringType),
        Seq.fill(60)(Seq(orNull(r, 12)(sketch()), orNull(r, 12)(text(r)))))
    })

  /** `types` with every array's elements non-nullable. */
  private def strict(types: Seq[DataType]): Seq[DataType] = types.map {
    case ArrayType(e, _) => ArrayType(e, containsNull = false)
    case t => t
  }

  private def hasNull(row: Seq[Any]): Boolean = row.exists {
    case null => true
    case s: Seq[_] => s.contains(null)
    case _ => false
  }

  /** A value compared with `==`: doubles by their bits, binary by its bytes. */
  private def comparable(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case b: Array[Byte] => b.toSeq
    case s: Seq[_] => s.map(comparable)
    case o => o
  }

  /** The three modes' results of `build` over `rows`, and the expression built over the
    * frame's columns (whose nullability follows `nullable`). */
  private def threeWays(build: Builder, types: Seq[DataType], rows: Seq[Seq[Any]],
      nullable: Boolean): (Seq[Any], Seq[Any], Seq[Any], Expression) = {
    val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t, nullable) })
    val df: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2), schema)
    val expr = build(df.queryExecution.analyzed.output)
    def run(): Seq[Any] = df.select(Frames.column(expr)).collect().map(_.get(0)).toSeq
    val codegen = withCodegen(on = true)(run())
    val interpreted = withCodegen(on = false)(run())
    val onLiterals = spark.range(1).select(rows.map(r => Frames.column(build(
      r.zip(types).map { case (v, t) => Literal.create(v, t) }))): _*)
    val projected = onLiterals.queryExecution.optimizedPlan.collectFirst { case Project(l, _) => l }
    assert(projected.exists(_.forall { case Alias(_: Literal, _) => true; case _ => false }),
      s"not folded to literals: ${onLiterals.queryExecution.optimizedPlan}")
    (codegen, interpreted, onLiterals.collect().head.toSeq, expr)
  }

  test("the covered functions are the registered scalars plus the DataFrame-only ones") {
    assert(registeredScalars.size >= 10, registeredScalars.keys)
    assert(inputs.keySet == builders.keySet,
      s"without contract inputs: ${builders.keySet -- inputs.keySet}; " +
        s"inputs for no native function: ${inputs.keySet -- builders.keySet}")
  }

  for (name <- inputs.keys.toSeq.sorted)
    test(s"$name: codegen, interpreted and constant-folded results are equal") {
      val in = inputs(name)
      for (nullable <- Seq(true, false)) {
        val (types, rows) =
          if (nullable) (in.types, in.rows) else (strict(in.types), in.rows.filterNot(hasNull))
        assert(rows.size >= 20, s"$name: only ${rows.size} rows with nullable=$nullable")
        val (codegen, interpreted, folded, expr) = threeWays(builders(name), types, rows, nullable)
        rows.indices.foreach { i =>
          val (c, n, f) = (comparable(codegen(i)), comparable(interpreted(i)), comparable(folded(i)))
          assert(c == n && n == f,
            s"$name(${rows(i).mkString(", ")}): codegen $c, interpreted $n, folded $f")
        }
        if (!nullable && codegen.contains(null))
          assert(expr.nullable, s"$name returned null over non-nullable inputs")
      }
    }

  test("l2_distance(array(1e8f), array(1f)) is 9.9999999E7 in every mode") {
    for (nullable <- Seq(true, false)) {
      val types = if (nullable) floatPair else strict(floatPair)
      val (codegen, interpreted, folded, _) =
        threeWays(builders("l2_distance"), types, Seq(Seq(Seq(1e8f), Seq(1f))), nullable)
      assert(Seq(codegen, interpreted, folded).map(_.head) == Seq.fill(3)(9.9999999E7))
    }
  }

  test("sq_dist_long of non-nullable arrays of different lengths is null in every mode") {
    val (codegen, interpreted, folded, expr) = threeWays(builders("sq_dist_long"),
      strict(Seq(ArrayType(LongType), ArrayType(LongType))),
      Seq(Seq(Seq(0L, 2L), Seq(1L)), Seq(Seq(3L), Seq(1L))), nullable = false)
    assert(Seq(codegen, interpreted, folded) == Seq.fill(3)(Seq(null, 4L)))
    assert(expr.nullable)
  }
}

/*
 * Lives under org.apache.spark.sql so it can use the private[sql] Column<->Expression
 * bridge (classic.ExpressionUtils) and AbstractDataType — the same placement trick the
 * reference uses for its operators (gazelle_plugin: native-sql-engine/core/src/main/scala/
 * org/apache/spark/sql/execution/ColumnarShuffleExchangeExec.scala:1).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, DoubleType,
  FloatType, IntegerType, LongType}

/**
 * The vector and sorted-set kernels, each written once: interpreted eval (`nullSafeEval`,
 * and so constant folding) and generated code both call the same static method, as
 * [[VarintCodec]] and [[HilbertCurve]] do, so the two paths cannot drift apart. A null
 * array element reads as 0 in every kernel but [[sqDistLong]], which returns null.
 */
object VectorKernels {

  /** Cosine similarity over the common prefix; 0.0 when either norm is 0. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i); val y = b.getFloat(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Dot product over the common prefix. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getFloat(i) * b.getFloat(i); i += 1 }
    dot
  }

  /** Euclidean distance over the common prefix; each difference is taken in double. */
  def l2(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = a.getFloat(i).toDouble - b.getFloat(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Exact squared distance of two long arrays in a long accumulator; null when the
    * lengths differ or either side holds a null element. */
  def sqDistLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Intersection size of two sorted-ascending long arrays by a two-pointer merge. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** [[sortedIntersectSize]], or -1 as soon as the best reachable Jaccard falls below
    * `minJacc` (see [[SortedIntersectSizeGated]]). */
  def sortedIntersectSizeGated(a: ArrayData, b: ArrayData, minJacc: Double): Int = {
    val na = a.numElements(); val nb = b.numElements()
    val tot = na.toLong + nb
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else {
        if (x < y) i += 1 else j += 1
        val best = n + math.min(na - i, nb - j)
        if (best * 1.0 / (tot - best) < minJacc) return -1
      }
    }
    n
  }
}

/**
 * Native Catalyst expression: cosine similarity between two `array<float>` columns.
 *
 * graft's analog of the reference's custom-kernel path (gazelle_plugin:
 * native-sql-engine/core/src/main/scala/com/intel/oap/expression/ColumnarUDF.scala:1 routes
 * functions to hand-written Gandiva/C++ kernels). Here the kernel is one static JVM method
 * ([[VectorKernels.cosine]]) that generated code calls inside whole-stage codegen — one
 * tight loop over two float arrays, no boxing, no UDF serialization; the JVM JIT compiles
 * it, which is the Spark-native way to get the reference's "SIMD inner loop" effect. At
 * 100 TB the expression pipelines inside the scan/project stage, fully distributed.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.cosine($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two `array<float>` columns; same kernel approach as [[CosineSimilarity]]. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.dot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Euclidean (L2) distance of two `array<float>` columns; same kernel approach. */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_distance"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.l2(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.l2($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Exact squared L2 distance of two equal-length `array<long>` columns — the k-means
 * assignment kernel (r14, guide §4): the previous `aggregate(zip_with(a, b,
 * (x,y) => (x-y)*(x-y)), 0L, _+_)` form evaluates TWO HigherOrderFunction lambdas
 * interpreted per (vector, centroid) pair — n·k·dim interpreted steps per Lloyd round.
 * This is the same long arithmetic ((x-y)² summed in a long accumulator, exact and
 * order-independent — what makes the fixed-point k-means oracle-able) as one kernel call
 * ([[VectorKernels.sqDistLong]]). A length mismatch (zip_with pads with null) or a null
 * element yields a null distance, as the HOF form did — so the result is nullable even
 * when both inputs are not, and generated code unboxes the kernel's result in a block of
 * its own.
 */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_dist_long"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.sqDistLong(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""{ java.lang.Long graftSqDist = org.apache.spark.sql.graft.VectorKernels.sqDistLong($a, $b);
         |  ${ev.isNull} = graftSqDist == null; if (graftSqDist != null) ${ev.value} = graftSqDist; }
         |""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Intersection cardinality of two SORTED-ascending `array<long>` columns via a two-pointer
 * merge — the verification kernel for near-dup candidate pairs. `array_intersect` builds a
 * hash set per row per pair; this is a branch-predictable linear merge with no allocation
 * (measured ~10x cheaper on 125k candidate pairs at sf0.1). PRECONDITION: both arrays
 * sorted ascending — Dedup.gramHashSets sorts gram-hash sets at shingle time (order is
 * irrelevant to every other consumer: min-hash, banding, set size).
 */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.sortedIntersectSize(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.sortedIntersectSize($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Jaccard-gated intersection size of two SORTED-ascending `array<long>` columns (r14):
 * the two-pointer merge of [[SortedIntersectSize]] plus an early exit for the
 * verification join's dominant case — candidate pairs that provably cannot reach the
 * Jaccard threshold. At each mismatch step the best achievable intersection is
 * `n + min(remaining_a, remaining_b)`; when even that upper bound's Jaccard (computed
 * with the SAME double expression the verification filter uses, so monotone-consistent)
 * falls below `minJacc`, the merge stops and returns -1. A -1 row fails the
 * `jacc >= threshold` filter exactly as its true (sub-threshold) Jaccard would, and
 * every pair at or above the threshold completes the full merge and returns its exact
 * intersection — results are bit-identical to the ungated kernel. On a candidate set
 * that is >99.9% false positives (sf1: 15.7M candidates -> 2.5k true pairs at t=0.5),
 * the bail fires after ~(1 - t)·|doc| merge steps instead of walking both arrays.
 * `minJacc` must be a foldable non-null double.
 */
case class SortedIntersectSizeGated(left: Expression, right: Expression, gate: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = gate
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), DoubleType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size_gated"

  override def nullSafeEval(l: Any, r: Any, g: Any): Any = VectorKernels.sortedIntersectSizeGated(
    l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], g.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, g) =>
      s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.sortedIntersectSizeGated($a, $b, $g);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, gate = newThird)
}

/**
 * Delta-varint codec for SORTED-ascending non-negative long arrays — the wire format
 * for adjacency lists and other sorted id sets that ride a shuffle or a broadcast.
 *
 * A sorted `array<long>` costs 8 B/element in UnsafeArrayData (plus header + null
 * bitmap) regardless of magnitude; consecutive graph-adjacency ids are small deltas,
 * so LEB128-encoding the gaps stores them in 1-3 B each (~4-6x fewer shuffle bytes
 * on the sf1 co-purchase graph). The intersect kernel decodes on the fly — no
 * allocation, no re-materialized arrays — so packing is strictly a bytes win.
 * Shared by interpreted eval and generated code (static forwarders, like
 * [[HilbertCurve]]).
 */
object VarintCodec {

  /** Pack a sorted-ascending array of non-negative longs into delta-LEB128 bytes. */
  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    // worst case 10 B per varint; sized exactly below via a first measuring pass
    var size = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var d = a.getLong(i) - prev
      prev = a.getLong(i)
      size += 1
      while ((d >>> 7) != 0) { size += 1; d >>>= 7 }
      i += 1
    }
    val out = new Array[Byte](size)
    var p = 0
    prev = 0L
    i = 0
    while (i < n) {
      var d = a.getLong(i) - prev
      prev = a.getLong(i)
      while ((d >>> 7) != 0) {
        out(p) = ((d & 0x7fL) | 0x80L).toByte; p += 1; d >>>= 7
      }
      out(p) = d.toByte; p += 1
      i += 1
    }
    out
  }

  /** Raised on a stream cut mid-varint: these kernels are SQL-registered, so the
    * input may be arbitrary user binary, not just [[pack]] output — a typed error
    * beats the raw ArrayIndexOutOfBoundsException the decode loop would hit. */
  private def truncated(): Nothing = throw new IllegalArgumentException(
    "graft varint codec: malformed delta-varint input (stream ends mid-varint); " +
      "operands must be pack_sorted_varint output")

  /** Decode a packed stream back to the sorted-ascending long array ([[pack]]'s
    * inverse). Two passes: count varints (terminal bytes have the high bit clear),
    * then decode into an exactly-sized primitive array wrapped zero-copy as
    * UnsafeArrayData. Truncated input raises the same typed error as the intersect
    * kernel. */
  def unpack(a: Array[Byte]): ArrayData = {
    var n = 0
    var i = 0
    while (i < a.length) {
      if ((a(i) & 0x80) == 0) n += 1
      i += 1
    }
    if (a.length > 0 && (a(a.length - 1) & 0x80) != 0) truncated()
    val out = new Array[Long](n)
    var p = 0
    var prev = 0L
    i = 0
    while (i < a.length) {
      var d = 0L; var s = 0
      var more = true
      while (more) {
        val c = a(i); i += 1
        d |= (c & 0x7fL) << s; s += 7
        more = (c & 0x80) != 0
      }
      prev += d
      out(p) = prev; p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Intersection cardinality of two packed streams — two-pointer, decode-on-the-fly. */
  def intersectSize(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0; var j = 0; var n = 0
    var x = 0L; var y = 0L
    var hx = false; var hy = false
    while (true) {
      if (!hx) {
        if (i >= a.length) return n
        var d = 0L; var s = 0
        var more = true
        while (more) {
          if (i >= a.length) truncated()
          val c = a(i); i += 1
          d |= (c & 0x7fL) << s; s += 7
          more = (c & 0x80) != 0
        }
        x += d; hx = true
      }
      if (!hy) {
        if (j >= b.length) return n
        var d = 0L; var s = 0
        var more = true
        while (more) {
          if (j >= b.length) truncated()
          val c = b(j); j += 1
          d |= (c & 0x7fL) << s; s += 7
          more = (c & 0x80) != 0
        }
        y += d; hy = true
      }
      if (x == y) { n += 1; hx = false; hy = false }
      else if (x < y) hx = false
      else hy = false
    }
    n
  }
}

/**
 * Pack a sorted-ascending `array<long>` into delta-varint `binary` (see [[VarintCodec]]).
 * PRECONDITIONS: sorted ascending, non-negative — both hold for `sort_array(collect_set)`
 * adjacency builds over non-negative ids; violations mis-encode silently, so consumers
 * own the invariant (same contract as [[SortedIntersectSize]]).
 */
case class PackSortedVarint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pack_sorted_varint"

  override def nullSafeEval(v: Any): Any =
    VarintCodec.pack(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.VarintCodec.pack($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Intersection cardinality of two [[PackSortedVarint]]-packed `binary` columns.
 * The packed twin of [[SortedIntersectSize]]: identical two-pointer merge, but the
 * operands stay in their 1-3 B/element wire form end-to-end.
 */
case class PackedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "packed_intersect_size"

  override def nullSafeEval(l: Any, r: Any): Any =
    VarintCodec.intersectSize(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.VarintCodec.intersectSize($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Decode a [[PackSortedVarint]]-packed `binary` column back to its sorted
 * `array<long>` — the read-side kernel that lets packed adjacency ride a cache or a
 * broadcast in 1-3 B/element wire form and re-materialize ONLY at the consumption
 * site (e.g. the per-iteration contribution explode in PageRank). Truncated input
 * raises the same typed error as [[PackedIntersectSize]].
 */
case class UnpackSortedVarint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unpack_sorted_varint"

  override def nullSafeEval(v: Any): Any =
    VarintCodec.unpack(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.VarintCodec.unpack($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level entry points (the public face; see graft.functions.VectorFunctions). */
object VectorExpressions {
  def cosineSimilarity(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def l2Distance(a: Column, b: Column): Column =
    ExpressionUtils.column(L2Distance(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sortedIntersectSize(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectSize(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sqDistLong(a: Column, b: Column): Column =
    ExpressionUtils.column(SqDistLong(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sortedIntersectSizeGated(a: Column, b: Column, minJacc: Column): Column =
    ExpressionUtils.column(SortedIntersectSizeGated(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b), ExpressionUtils.expression(minJacc)))

  def packSortedVarint(a: Column): Column =
    ExpressionUtils.column(PackSortedVarint(ExpressionUtils.expression(a)))

  def packedIntersectSize(a: Column, b: Column): Column =
    ExpressionUtils.column(PackedIntersectSize(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def unpackSortedVarint(a: Column): Column =
    ExpressionUtils.column(UnpackSortedVarint(ExpressionUtils.expression(a)))
}

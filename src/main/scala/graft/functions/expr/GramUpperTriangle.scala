package graft.functions.expr

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact-decimal Gram accumulation G = XᵀX (upper triangle, row-major
  * flattened) as ONE aggregate over the raw vector column — the
  * distributed half of [[graft.operators.Knn.topSingularVector]].
  *
  * Numerically IDENTICAL to the composed form it replaces (each
  * element cast double→DECIMAL(18,6), per-vector upper-triangle
  * products fanned out via double posexplode, `sum` per (i, j) cell):
  * the 6-dp pin here is the same `BigDecimal.valueOf(x).setScale(6,
  * HALF_UP)` Spark's cast performs (NaN/±Inf → null, > 18-digit
  * overflow → null, null elements propagate by skipping the
  * element's pairs — exactly what null products contribute to `sum`),
  * and every product/sum is exact integer arithmetic on the unscaled
  * values (128-bit accumulators; a cell value is Σ xᵢxⱼ·10⁻¹², emitted
  * as DECIMAL(38,12)). Exact sums are merge-order-free, so the result
  * is independent of partitioning, like the decimal `sum` it replaces.
  *
  * What it saves: the dim²/2-per-vector row fanout through two
  * Generate nodes and a hash aggregate carrying Decimal(37,12) objects
  * — per vector, 2·2080 generated rows + 2080 BigDecimal multiplies
  * become one tight long-arithmetic loop, and the exchange carries one
  * ~33 KB state blob per task instead of dim² grouped cells.
  *
  * State: 2 longs (hi, lo) per upper-triangle cell. 128-bit products
  * via Math.multiplyHigh — element magnitude never overflows — and
  * capacity for ≳10²⁰ unit-scale vectors per cell.
  */
case class GramUpperTriangle(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(dim >= 1 && dim <= 512, s"need 1 <= dim <= 512, got $dim")

  private val cells = dim * (dim + 1) / 2

  override def children: Seq[Expression] = Seq(child)

  override def nullable: Boolean = false

  // a cell whose sum overflows DECIMAL(38,12) is emitted as null (eval)
  override def dataType: DataType =
    ArrayType(DecimalType(38, 12), containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_upper_triangle requires array<float|double>, got ${t.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * cells)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    val isF = elemIsFloat
    // unscaled 6-dp pins; Long.MinValue marks "null" (skip its pairs)
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) {
      xs(i) =
        if (arr.isNullAt(i)) Long.MinValue
        else {
          val x = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
          GramUpperTriangle.pin6(x)
        }
      i += 1
    }
    i = 0
    while (i < n) {
      val xi = xs(i)
      if (xi != Long.MinValue) {
        // flattened upper-triangle base index for row i
        var k = 2 * (i * dim - i * (i - 1) / 2)
        var j = i
        while (j < n) {
          val xj = xs(j)
          if (xj != Long.MinValue) {
            val pLo = xi * xj
            val pHi = Math.multiplyHigh(xi, xj)
            val lo = buf(k)
            val t = lo + pLo
            val carry = ((lo & pLo) | ((lo | pLo) & ~t)) >>> 63
            buf(k) = t
            buf(k + 1) += pHi + carry
          }
          k += 2
          j += 1
        }
      }
      i += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < buf.length) {
      val lo = buf(k)
      val pLo = other(k)
      val t = lo + pLo
      val carry = ((lo & pLo) | ((lo | pLo) & ~t)) >>> 63
      buf(k) = t
      buf(k + 1) += other(k + 1) + carry
      k += 2
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](cells)
    var c = 0
    while (c < cells) {
      val lo = buf(2 * c)
      val hi = buf(2 * c + 1)
      val s = BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
      val d = Decimal(new JBigDecimal(s, 12))
      // a 128-bit sum CAN exceed DECIMAL(38,12) capacity (2^127 ≈
      // 1.7e38 > 1e38): emit null on overflow like the composed
      // decimal sum would, never a precision-violating Decimal
      out(c) = if (d.changePrecision(38, 12)) d else null
      c += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramUpperTriangle =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): GramUpperTriangle =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramUpperTriangle =
    copy(child = newChildren.head)

  override def prettyName: String = "gram_upper_triangle"
}

object GramUpperTriangle {

  /** `cast(x as decimal(18,6))`'s unscaled long: BigDecimal.valueOf
    * (Double.toString semantics — what Spark's Decimal.set(double)
    * does), HALF_UP to 6 dp; NaN/±Inf and precision-overflow yield the
    * cast's null, encoded as Long.MinValue. */
  def pin6(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      return Long.MinValue
    val bd = JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
    if (bd.precision > 18) Long.MinValue
    else bd.unscaledValue().longValue()
  }
}

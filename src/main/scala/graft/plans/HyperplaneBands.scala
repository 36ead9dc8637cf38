package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Random-hyperplane LSH band keys over an embedding column: for each of
  * `bands` bands, fold `bitsPerBand` sign bits (dot(vec, plane) > 0)
  * into one long key, most-significant bit first. Output is an
  * `array<bigint>` of length `bands` — the bucket keys of
  * [[graft.ops.Dedup.embeddingNearDupPairs]].
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy): the composed form
  * runs bands*bitsPerBand separate `aggregate(zip_with(vec, lit(plane),
  * *), 0.0, +)` chains — each walks the vector through Catalyst's boxed
  * higher-order-function machinery and allocates an intermediate array.
  * That projection was q21's dominant map stage. This expression reads
  * each vector element ONCE and accumulates all plane dots in a
  * primitive loop, one output allocation per row.
  *
  * Parity: each plane's dot accumulates left-to-right in element order
  * starting at 0.0 — the exact summation order of the sequential
  * `aggregate` fold and of the DuckDB oracle's `list_reduce` replay, so
  * band keys are bit-identical across all three forms (asserted in
  * HashExpressionsSpec; q21's hash-exact check depends on it). A null
  * vector null-propagates; a null ELEMENT poisons every dot (null > 0 is
  * false in the composed `when`), yielding all-zero keys — matched here.
  * A NaN dot is a 1 bit, as SQL's `NaN > 0` is true.
  * Codegen: [[NativeEval]].
  */
case class HyperplaneBands(
    child: Expression,
    planes: Seq[Seq[Double]],
    bitsPerBand: Int
) extends UnaryExpression with NativeEval {

  require(bitsPerBand > 0, "bitsPerBand must be positive")
  require(
    planes.nonEmpty && planes.size % bitsPerBand == 0,
    s"planes (${planes.size}) must be a non-empty multiple of bitsPerBand ($bitsPerBand)"
  )
  require(planes.map(_.size).distinct.size == 1, "all planes must share one dimension")

  private val nPlanes = planes.size
  private val nBands = nPlanes / bitsPerBand
  private val dim = planes.head.size

  // plane-major flat weights: weight of element i in plane p at p*dim+i
  @transient private lazy val w: Array[Double] = planes.flatten.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bands expects array<float|double>, got $t"
        )
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    require(n == dim, s"hyperplane_bands: vector length $n != plane dimension $dim")
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var i = 0
    while (i < n) { // null element -> every dot is null -> all keys 0
      if (a.isNullAt(i)) return new GenericArrayData(new Array[Long](nBands))
      i += 1
    }
    val dots = new Array[Double](nPlanes)
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      var p = 0
      while (p < nPlanes) {
        dots(p) += x * w(p * dim + i)
        p += 1
      }
      i += 1
    }
    val keys = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var key = 0L
      var k = 0
      while (k < bitsPerBand) {
        // SQL orders NaN above every number, so a NaN dot is a 1 bit
        key = key * 2 + (if (!(dots(b * bitsPerBand + k) <= 0)) 1L else 0L)
        k += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBands {
  /** Column-API entry point. */
  def hyperplaneBands(vec: Column, planes: Seq[Seq[Double]], bitsPerBand: Int): Column =
    GraftColumnBridge.column(
      HyperplaneBands(GraftColumnBridge.expression(vec), planes, bitsPerBand)
    )
}

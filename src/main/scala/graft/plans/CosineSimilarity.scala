package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two float/double array columns.
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy: compose built-ins
  * first, custom Expression second): the built-in formulation
  * `aggregate(zip_with(a,b,*),0.0,+)` allocates an intermediate array
  * and boxes per element; this expression runs one primitive loop per
  * row with zero allocation. Summation order matches the sequential
  * fold exactly (acc starts at 0.0, left-to-right), so results are
  * bit-identical to [[graft.functions.Fns.cosine]] — asserted in
  * SurfaceSpec.
  *
  * Native codegen (round 12): `doGenCode` emits a static call into
  * [[CosineSimilarity.compute]] — the same primitive loop the
  * interpreted path runs, but WITHOUT CodegenFallback's per-row
  * InternalRow boxing, and the enclosing Project/Filter stage stays
  * fused in WholeStageCodegen instead of falling out (plan-pinned in
  * HashExpressionsSpec). Null if either side is null, mismatched lengths
  * raise; a null element reads as 0.0, and a zero vector gives NaN
  * (the composed fold turns null there, and raises under ANSI).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got ${left.dataType} / ${right.dataType}"
      )
  }

  private def leftIsFloat = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.compute(
      l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData],
      leftIsFloat,
      rightIsFloat
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) =>
        s"${ev.value} = graft.plans.CosineSimilarity$$.MODULE$$" +
          s".compute($a, $b, $leftIsFloat, $rightIsFloat);"
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The shared primitive loop — called by BOTH the interpreted path
    * and the generated code (one implementation, bit-identical).
    */
  def compute(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"cosine_sim: length mismatch $n vs ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column-API entry point. */
  def cosineSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSimilarity(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b))
    )
}

package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over pre-hashed token longs (Charikar '02): per bit b,
  * sum +1/-1 votes of every element's bit b (multiplicity = weight),
  * output bit b = sign of the sum.
  *
  * Rationale (SURVEY.md §7.3): the built-in formulation folds 64
  * separate `aggregate(hs, ...)` expressions — 64 boxed passes over the
  * array per row, the whole cost of the SimHash operator (5.4 s at
  * sf0.1 in BENCH_r01). This expression makes ONE pass, updating 64
  * int counters per element; bit-identical output (asserted in
  * HashExpressionsSpec against the composed form).
  *
  * Null elements are skipped; an empty input yields 0L (all votes tie
  * at 0, and `sum > 0` is false — same as the composed form).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<bigint>, got $t"
        )
    }

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  // native codegen (round 12): a static call into the shared loop —
  // no CodegenFallback row boxing, and the enclosing stage stays in
  // WholeStageCodegen (plan-pinned in HashExpressionsSpec)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"${ev.value} = graft.plans.SimHash64$$.MODULE$$.compute($c);"
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  /** The shared primitive loop — called by BOTH the interpreted path
    * and the generated code (one implementation, bit-identical).
    */
  def compute(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var e = 0
    while (e < n) {
      if (!hs.isNullAt(e)) {
        val h = hs.getLong(e)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      e += 1
    }
    // bit layout matches the composed shiftleft/or fold, which processes
    // vote index 0 FIRST so it lands at the HIGH bit of the result
    var sim = 0L
    var b = 0
    while (b < 64) {
      sim = (sim << 1) | (if (votes(b) > 0) 1L else 0L)
      b += 1
    }
    sim
  }

  /** Column-API entry point. */
  def simhash64(hashes: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(hashes)))
}

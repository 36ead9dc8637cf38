package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization code assignment: out[s] = argmin over code c of
  * ||vec[s*sub .. (s+1)*sub) - codebooks(s)(c)||², ties to the smallest
  * c — all m codes of one vector in a single primitive triple loop.
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy, same case as
  * [[MinHashSignature]] / [[GramHashes]]): the composed form — per
  * subspace, an `array_max` over k structs each holding an
  * `aggregate(zip_with(...))` distance — allocates m*k boxed lambda
  * frames and intermediate arrays PER ROW (m=8, k=64 measured ~15 s
  * warm at sf0.1 for the PQ recall query; this expression brings the
  * same math to a flat flops loop). Parity with the composed argmin is
  * pinned in HashExpressionsSpec.
  *
  * Degenerate inputs: a vector shorter than m*sub yields null (the
  * operators validate `dim % m == 0` up front; anything shorter is a
  * caller bug surfaced as null rather than a partial code); null
  * ELEMENTS inside the vector are treated as 0.0 (the tokenizer-side
  * operators never produce them; embeddings are dense); a null INPUT
  * null-propagates.
  */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with NativeEval {

  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "codebooks must be non-empty")
  require(
    codebooks.forall(cb => cb.size == codebooks.head.size) &&
      codebooks.flatten.forall(c => c.size == codebooks.head.head.size),
    "codebooks must be rectangular: same k and same sub-dimension everywhere"
  )

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // the expression emits null for too-short vectors INDEPENDENTLY of its
  // child's nullability — without this override a non-nullable child
  // would let the planner elide null checks around the documented
  // null-on-degenerate-input path
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_codes expects array<double>, got $t"
        )
    }

  @transient private lazy val m: Int = codebooks.size
  @transient private lazy val k: Int = codebooks.head.size
  @transient private lazy val sub: Int = codebooks.head.head.size
  // flat layout: cb(s * k * sub + c * sub + d)
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](m * k * sub)
    var i = 0
    for (s <- 0 until m; c <- 0 until k; d <- 0 until sub) {
      a(i) = codebooks(s)(c)(d); i += 1
    }
    a
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() < m * sub) return null
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * sub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val cbase = (s * k + c) * sub
        var d = 0.0
        var i = 0
        while (i < sub) {
          val x = if (v.isNullAt(base + i)) 0.0 else v.getDouble(base + i)
          val diff = x - flat(cbase + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqCodes {
  /** Column-API entry point. */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftColumnBridge.column(PqCodes(GraftColumnBridge.expression(vec), codebooks))
}

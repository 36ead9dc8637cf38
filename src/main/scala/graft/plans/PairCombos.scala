package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** All ordered pair combinations of a posting list: for every index pair
  * p < l with ids(l) > ids(p) (the element type's SQL ordering), emit
  * struct(i = ids(p), j = ids(l)) — the per-bucket candidate-pair
  * generation behind every banding dedup operator
  * ([[graft.ops.Dedup]]'s lshCandidates / ngramJaccardPairs /
  * hammingPairs / embeddingNearDupPairs).
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy, the XorMinSignature
  * case): the composed form
  * `flatten(transform(sequence(1, n-1), k => transform(filter(slice(ids,
  * k+1, n), j => j > ids(k)), j => struct(ids(k), j))))` is interpreted
  * HOF machinery that allocates a slice COPY, a filter array and a
  * transform array per anchor element — O(n²) intermediate allocations
  * and boxed lambda dispatches per bucket, which the r20 sweep measured
  * as 1.0–1.7 s of single-task CPU in the image queries' AQE-coalesced
  * reduce stages. This expression runs the one nested primitive loop
  * with a single output allocation. Parity with the composed form is
  * pinned in PairCombosSpec for long, struct and nested-array element
  * types, duplicates, unsorted input and null elements included.
  *
  * Degenerate inputs follow the composed form: empty / 1-element lists
  * yield an empty array; null ELEMENTS pair with nothing (the composed
  * `j > ids(k)` is null for a null operand and filter drops it); equal
  * elements pair with nothing (strict >); a null INPUT null-propagates.
  */
case class PairCombos(child: Expression) extends UnaryExpression with NativeEval {

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType =
    ArrayType(
      StructType(
        Seq(StructField("i", elemType, nullable = false),
          StructField("j", elemType, nullable = false))),
      containsNull = false
    )

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(et, _) if org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(et) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pair_combos expects an array of an orderable type, got $t"
        )
    }

  @transient private lazy val et: DataType = elemType

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(et).asInstanceOf[Ordering[Any]]

  override def nullSafeEval(input: Any): Any = {
    val ids = input.asInstanceOf[ArrayData]
    val n = ids.numElements()
    // extract (and copy — unsafe accessors may reuse backing buffers)
    // each element once, not once per pair
    val elems = new Array[Any](n)
    var e = 0
    while (e < n) {
      if (!ids.isNullAt(e)) {
        elems(e) = ids.get(e, et) match {
          case r: InternalRow => r.copy()
          case a: ArrayData => a.copy()
          case v => v
        }
      }
      e += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    while (p < n - 1) {
      val a = elems(p)
      if (a != null) {
        var l = p + 1
        while (l < n) {
          val b = elems(l)
          if (b != null && ordering.compare(b, a) > 0) {
            val row = new GenericInternalRow(2)
            row.update(0, a)
            row.update(1, b)
            out += row
          }
          l += 1
        }
      }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PairCombos {
  /** Column-API entry point. */
  def pairCombos(ids: Column): Column =
    GraftColumnBridge.column(PairCombos(GraftColumnBridge.expression(ids)))
}

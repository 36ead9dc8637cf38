package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Seeded XOR-min signature over pre-hashed shingle values: out[i] = min
  * over the input longs h of (h XOR seeds(i)) — the slot family of
  * [[graft.ops.Dedup.sourceSimilarityMatrix]]. XOR with a fixed seed is
  * a (xor-linear) permutation of the 64-bit hash space, so the slot
  * minimum is the standard one-permutation MinHash draw, and — unlike
  * [[MinHashSignature]]'s xxhash64 chain — it is replayable verbatim in
  * the driver's DuckDB oracle (`min(xor(h, seed))`), which is why the
  * q68 gate can be hash-exact.
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy, same case as
  * [[MinHashSignature]]): the composed form `transform(seedArray, s ->
  * array_min(transform(hs, h -> h ^ s)))` walks the hash array once per
  * seed through boxed lambda machinery, allocating a transformed array
  * per seed per row; this expression runs ONE primitive (elements x
  * seeds) loop with a single output allocation. Parity with the
  * composed form is pinned in HashExpressionsSpec.
  *
  * Degenerate inputs follow the composed form: an empty array yields an
  * array of k nulls (`array_min` of an empty array is null), null
  * ELEMENTS are skipped (`array_min` ignores nulls; all-null input
  * yields all-null output), and a null INPUT null-propagates.
  */
case class XorMinSignature(child: Expression, seeds: Seq[Long])
    extends UnaryExpression with NativeEval {

  require(seeds.nonEmpty, "seeds must be non-empty")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"xormin_signature expects array<bigint>, got $t"
        )
    }

  @transient private lazy val seedArr: Array[Long] = seeds.toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val k = seedArr.length
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var e = 0
    while (e < n) {
      if (!hs.isNullAt(e)) {
        any = true
        val h = hs.getLong(e)
        var i = 0
        while (i < k) {
          val v = h ^ seedArr(i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      e += 1
    }
    if (!any) return new GenericArrayData(Array.fill[Any](k)(null))
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XorMinSignature {
  /** Column-API entry point. */
  def xorMinSignature(hashes: Column, seeds: Seq[Long]): Column =
    GraftColumnBridge.column(
      XorMinSignature(GraftColumnBridge.expression(hashes), seeds)
    )
}

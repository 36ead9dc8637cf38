package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** MinHash signature over pre-hashed shingle bases: out[i] = min over the
  * input longs h of xxhash64(i, h) — the Broder permutation-min
  * estimator with Spark's own xxhash64 as the hash family.
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy): the built-in
  * formulation `array((0 until k).map(i => array_min(transform(hs, h =>
  * xxhash64(lit(i), h)))))` walks the array k times through Catalyst's
  * boxed transform/array_min machinery, allocating k intermediate
  * arrays per row — the dominant cost of the MinHash operator (verdict
  * r1: q18 was the round's slowest query). This expression runs ONE
  * primitive double loop (elements x hash family) with a single output
  * allocation.
  *
  * Parity: `XxHash64Function.hash` is exactly what the `xxhash64`
  * builtin evaluates, with the family index pre-hashed into the seed
  * the same way multi-arg xxhash64 chains it — bit-identical signatures
  * to the composed form (asserted in HashExpressionsSpec), so bucket assignments
  * and the DedupSimilaritySpec recall pin carry over unchanged.
  *
  * Degenerate inputs follow the composed form too: an empty array
  * yields an array of k nulls (`array_min` of an empty array is null),
  * and a null ELEMENT contributes `seeds(i)` per function (the xxhash64
  * chain leaves the running hash unchanged on a null argument). The one
  * deliberate divergence: a null INPUT null-propagates (SQL-idiomatic),
  * where the composed form emits an array of nulls as an artifact.
  * Codegen: [[NativeEval]].
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with NativeEval {

  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<bigint>, got $t"
        )
    }

  // seed_i = xxhash64's fold of the int literal i at default seed 42 —
  // identical to how the composed xxhash64(lit(i), h) chains arguments
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XxHash64Function.hash(i, IntegerType, 42L))

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](numHashes)(null))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var e = 0
    while (e < n) {
      if (hs.isNullAt(e)) {
        // xxhash64(i, null) == seeds(i): a null argument leaves the
        // running hash unchanged in the builtin's fold
        var i = 0
        while (i < numHashes) {
          if (seeds(i) < mins(i)) mins(i) = seeds(i)
          i += 1
        }
      } else {
        val h = hs.getLong(e)
        var i = 0
        while (i < numHashes) {
          val v = XxHash64Function.hash(h, LongType, seeds(i))
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** Column-API entry point. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashSignature(GraftColumnBridge.expression(hashes), numHashes)
    )
}

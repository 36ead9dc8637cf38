package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed sliding k-gram windows over a token array: out[i] =
  * xxhash64(concat_ws(" ", words[i..i+k-1])) for i in 0..n-k — the map
  * stage of the duplicate-substring family
  * ([[graft.ops.Dedup.duplicateSpans]] and the gram-index builders).
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy, same case as
  * [[MinHashSignature]]): the composed form
  * `transform(sequence(0, size-k), i -> xxhash64(concat_ws(" ",
  * slice(words, i+1, k))))` allocates a boxed lambda frame, a slice
  * array, AND an intermediate gram string per position — for a corpus
  * this runs once per token. This expression runs one primitive loop
  * with a single `UTF8String.concatWs` per window and a single output
  * allocation per row.
  *
  * Parity: `UTF8String.concatWs` is exactly the builtin `concat_ws`
  * evaluation (null elements skipped — though the engine's tokenizer
  * never yields null tokens) and `XxHash64Function.hash(_, StringType,
  * 42)` is exactly the `xxhash64` builtin at its default seed —
  * bit-identical to the composed form (pinned in HashExpressionsSpec),
  * so gram equality classes and every downstream count are unchanged.
  *
  * Degenerate inputs: fewer than k tokens yields an EMPTY array (the
  * composed form maps `sequence(0, negative)` to an error, but the
  * operators filter `size >= k` first — empty is the useful total
  * semantics); a null input null-propagates.
  */
case class GramHashes(child: Expression, k: Int)
    extends UnaryExpression with NativeEval {

  require(k >= 1, "k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_hashes expects array<string>, got $t"
        )
    }

  @transient private lazy val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[UTF8String](n)
    var e = 0
    while (e < n) {
      toks(e) = if (words.isNullAt(e)) null else words.getUTF8String(e)
      e += 1
    }
    val out = new Array[Long](n - k + 1)
    val window = new Array[UTF8String](k)
    var i = 0
    while (i <= n - k) {
      System.arraycopy(toks, i, window, 0, k)
      val gram = UTF8String.concatWs(sep, window: _*)
      out(i) = XxHash64Function.hash(gram, StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHashes {
  /** Column-API entry point. */
  def gramHashes(words: Column, k: Int): Column =
    GraftColumnBridge.column(GramHashes(GraftColumnBridge.expression(words), k))
}

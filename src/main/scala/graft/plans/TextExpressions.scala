package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer: lowercase, then split on runs of anything outside
  * ascii `[a-z0-9]` — ONE pass over the string's bytes.
  *
  * Bit-identical to the composed form
  * `filter(split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " "), _ =!= "")`
  * (TextExpressionsSpec pins this on the real corpus, CJK included):
  * lowering calls the same `UTF8String.toLowerCase` the `lower()`
  * builtin uses, and the byte scan equals the codepoint regex because
  * UTF-8 continuation/lead bytes are all >= 0x80 — no multibyte
  * codepoint can contain an `[a-z0-9]` byte.
  *
  * Why: tokenization feeds a dozen operators (dedup shingles, langid,
  * quality, TF-IDF, packing) and the regex+split+filter pipeline was
  * the single hottest map stage of the dedup family (~3 s of q17's
  * ~5 s at sf0.1).
  */
case class Tokenize(child: Expression)
    extends UnaryExpression with NativeEval {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"tokenize expects string, got $t"
        )
    }

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].toLowerCase.getBytes
    val out = new ArrayBuffer[Any]
    var i = 0
    var start = -1
    while (i < bytes.length) {
      if (isTokenByte(bytes(i))) {
        if (start < 0) start = i
      } else if (start >= 0) {
        out += UTF8String.fromBytes(bytes, start, i - start)
        start = -1
      }
      i += 1
    }
    if (start >= 0) out += UTF8String.fromBytes(bytes, start, bytes.length - start)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-gram shingles straight from the token array — one
  * pass with a hash-set dedupe, replacing the
  * `array_distinct(zip_with-chain(slice...))` composition whose k-1
  * zips re-allocate the token array per gram size. Output order is
  * FIRST-OCCURRENCE order, identical to `array_distinct` over the
  * in-order gram sequence (pinned in TextExpressionsSpec). A gram over
  * a null token is dropped, as the composed `concat` + null filter
  * drops it.
  */
case class DistinctShingles(child: Expression, n: Int)
    extends UnaryExpression with NativeEval {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"distinct_shingles expects array<string>, got $t"
        )
    }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val cnt = toks.numElements()
    val out = new ArrayBuffer[Any]
    if (cnt >= n) {
      val seen = new java.util.HashSet[UTF8String]()
      val sep = UTF8String.fromString(" ")
      var i = 0
      while (i <= cnt - n) {
        var gram = toks.getUTF8String(i)
        var k = 1
        while (k < n) {
          gram = UTF8String.concat(gram, sep, toks.getUTF8String(i + k))
          k += 1
        }
        if (gram != null && seen.add(gram)) out += gram
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {
  /** Column-API entry points. */
  def tokenize(text: Column): Column =
    GraftColumnBridge.column(Tokenize(GraftColumnBridge.expression(text)))

  def distinctShingles(toks: Column, n: Int): Column =
    GraftColumnBridge.column(
      DistinctShingles(GraftColumnBridge.expression(toks), n)
    )
}

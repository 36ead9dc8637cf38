package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native replacements for the interpreted higher-order-function folds
  * on the Gopher/quality text-stats hot paths (VERDICT r19 #6): Spark's
  * `aggregate`/`filter`/`transform` lambdas are CodegenFallback — every
  * element of every row walks an interpreted expression tree, and the
  * quality/repetition scorers ran four to six such folds per document.
  * Each expression here computes the identical arithmetic in ONE
  * primitive loop per row and reaches generated code through
  * [[NativeEval]] (GramMass, which is not null-safe, keeps its own).
  *
  * Bit-exactness is parity-pinned in GopherExpressionsSpec against the
  * composed forms over the real corpus plus edge cases; all char
  * counts use `numChars` (codepoints), exactly what `length()` returns.
  */

/** One-pass token-array statistics behind `TextAnalysis.quality` and
  * `gopherQuality`: word count, distinct words, summed word lengths
  * (codepoints), stopword hits (exact matches against `stopWords`), and
  * words containing at least one `[a-z]` byte (== `rlike("[a-z]")` —
  * no UTF-8 continuation/lead byte falls in the ascii a-z range).
  * Null array → null struct (matches the composed forms' null flow). A
  * null token counts as a word and as one distinct value, as in the
  * composed form, but adds nothing to `char_sum`, where the composed
  * `aggregate` turns null (Tokenize output never holds one).
  */
case class WordStats(child: Expression, stopWords: Seq[String])
    extends UnaryExpression with NativeEval {

  override def dataType: DataType = StructType(
    Seq(
      StructField("n_words", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("char_sum", LongType, nullable = false),
      StructField("stop_hits", IntegerType, nullable = false),
      StructField("alpha_hits", IntegerType, nullable = false)
    )
  )

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_stats expects array<string>, got $t"
        )
    }

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopWords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    var charSum = 0L
    var stop = 0
    var alpha = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      seen.add(t)
      if (t != null) {
        charSum += t.numChars()
        if (stopSet.contains(t)) stop += 1
        val nb = t.numBytes()
        var j = 0
        var hasAlpha = false
        while (j < nb && !hasAlpha) {
          val b = t.getByte(j)
          if (b >= 'a' && b <= 'z') hasAlpha = true
          j += 1
        }
        if (hasAlpha) alpha += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, seen.size, charSum, stop, alpha))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass duplicate-line statistics behind `gopherQuality`: split the
  * raw text on `\n` (a literal byte — no multibyte codepoint contains
  * 0x0A), keep lines with any non-space byte (== `trim(l) =!= ""`,
  * which trims 0x20 only), and count lines, distinct lines, the char
  * mass of lines occurring more than once (every occurrence counts)
  * and total line chars. Replaces the O(n log n) array_sort +
  * interpreted run-fold with one hash-counting pass. Null text → null
  * struct (composed form's null flow).
  */
case class LineStats(child: Expression) extends UnaryExpression with NativeEval {

  override def dataType: DataType = StructType(
    Seq(
      StructField("n_lines", IntegerType, nullable = false),
      StructField("n_dup_lines", IntegerType, nullable = false),
      StructField("dup_chars", LongType, nullable = false),
      StructField("total_chars", LongType, nullable = false)
    )
  )

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"line_stats expects string, got $t"
        )
    }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var nLines = 0
    var totalChars = 0L
    var start = 0
    var i = 0
    val len = bytes.length
    while (i <= len) {
      if (i == len || bytes(i) == '\n') {
        // line = [start, i); kept when any byte is not a space
        var j = start
        var kept = false
        while (j < i && !kept) {
          if (bytes(j) != ' ') kept = true
          j += 1
        }
        if (kept) {
          val line = UTF8String.fromBytes(bytes, start, i - start)
          val chars = line.numChars().toLong
          nLines += 1
          totalChars += chars
          val slot = counts.get(line)
          if (slot == null) counts.put(line, Array(1L, chars))
          else slot(0) += 1L
        }
        start = i + 1
      }
      i += 1
    }
    var dupChars = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      if (slot(0) > 1L) dupChars += slot(0) * slot(1)
    }
    new GenericInternalRow(Array[Any](nLines, nLines - counts.size(), dupChars, totalChars))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass n-gram repetition mass behind `TextAnalysis.gramMassStats`:
  * single-space-joined word n-grams hash-counted, `best` = the char
  * mass of the most frequent gram (count × (numChars − (n−1)) — the
  * joining spaces subtracted), `dup` = the total mass of grams
  * occurring more than once (every occurrence counts). Replaces the
  * transform+concat_ws gram build, array_sort and interpreted run-fold
  * with one loop. Fewer than n tokens — or a NULL array, matching the
  * composed `when(size >= n, …).otherwise(empty)` flow — yields
  * (0, 0), so `eval` handles null itself and the result is never null.
  * Grams join like `concat_ws`, as in the composed form: a null token
  * is skipped.
  */
case class GramMass(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "gram size must be >= 1")

  override def dataType: DataType = StructType(
    Seq(
      StructField("best", LongType, nullable = false),
      StructField("dup", LongType, nullable = false)
    )
  )

  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_mass expects array<string>, got $t"
        )
    }

  private val zero = new GenericInternalRow(Array[Any](0L, 0L))

  override def eval(input: InternalRow): Any = evalValue(child.eval(input))

  /** Null-tolerant kernel shared by eval and codegen: null array ==
    * empty array == (0, 0), the composed form's when/otherwise flow.
    */
  def evalValue(v: Any): Any = if (v == null) zero else nonNullEval(v)

  private def nonNullEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val cnt = toks.numElements()
    if (cnt < n) return zero
    val sep = UTF8String.fromString(" ")
    val window = new Array[UTF8String](n)
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i <= cnt - n) {
      var k = 0
      while (k < n) {
        window(k) = toks.getUTF8String(i + k)
        k += 1
      }
      // concat_ws, as in the composed form: a null token is skipped
      val gram = UTF8String.concatWs(sep, window: _*)
      val slot = counts.get(gram)
      if (slot == null) counts.put(gram, Array(1L, (gram.numChars() - (n - 1)).toLong))
      else slot(0) += 1L
      i += 1
    }
    var best = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      val mass = slot(0) * slot(1)
      if (mass > best) best = mass
      if (slot(0) > 1L) dup += mass
    }
    new GenericInternalRow(Array[Any](best, dup))
  }

  override def nullSafeEval(input: Any): Any = nonNullEval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("graftExpr", this)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          (org.apache.spark.sql.catalyst.InternalRow)
            $ref.evalValue(${c.isNull} ? null : ((Object) ${c.value}));
      """,
      isNull = FalseLiteral
    )
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherExpressions {
  def wordStats(toks: Column, stopWords: Seq[String]): Column =
    GraftColumnBridge.column(WordStats(GraftColumnBridge.expression(toks), stopWords))

  def lineStats(text: Column): Column =
    GraftColumnBridge.column(LineStats(GraftColumnBridge.expression(text)))

  def gramMass(toks: Column, n: Int): Column =
    GraftColumnBridge.column(GramMass(GraftColumnBridge.expression(toks), n))
}

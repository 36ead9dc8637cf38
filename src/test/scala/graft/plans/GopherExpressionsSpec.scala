package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.functions.Fns

/** Parity pins for the native text-stats expressions (r20) against the
  * composed built-in forms they replaced, over the real corpus plus
  * synthetic edge cases: WordStats vs the four HOF folds behind
  * `quality`/`gopherQuality`, LineStats vs the sorted-run dup-line
  * fold, GramMass vs the sorted-run gram-mass fold.
  */
class GopherExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  // documents with synthesized duplicate lines / repeated grams so the
  // dup branches are exercised non-vacuously (q43's shape)
  private lazy val lined = docs.select(
    col("doc_id"),
    concat_ws(
      "\n",
      col("text"),
      substring(col("text"), 1, 40),
      substring(col("text"), 1, 40),
      lit("unique tail"),
      lit("   "),
      lit("")
    ).as("text")
  )

  private lazy val edges = Seq(
    Some("the the the a of and is"),
    Some("one\none\none\n  \n\ttab line\n"),
    Some("singleword"),
    Some("a b a b a b"),
    Some("你好 世界 你好 世界 mixed ascii"),
    Some("   "),
    Some(""),
    None
  ).toDF("text")

  /** Field-by-field parity (a null native struct must equal a composed
    * struct whose every field is null — exactly how the ops consume
    * them), over every field name of the native struct.
    */
  private def assertParity(
      df: org.apache.spark.sql.DataFrame,
      native: Column,
      composed: Column,
      fields: Seq[String]
  ): Unit = {
    val cond = fields
      .map(f => !(col("native").getField(f) <=> col("composed").getField(f)))
      .reduce(_ || _)
    val mismatches = df.select(native.as("native"), composed.as("composed")).filter(cond).count()
    assert(mismatches === 0)
  }

  test("WordStats == composed size/array_distinct/aggregate/filter folds") {
    val stop = Seq("the", "a", "of", "and", "is")
    for (d <- Seq(docs, lined, edges)) {
      assertParity(
        d,
        GopherExpressions.wordStats(Fns.tokens(col("text")), stop),
        ComposedForms.wordStats(Fns.tokens(col("text")), stop),
        Seq("n_words", "n_distinct", "char_sum", "stop_hits", "alpha_hits")
      )
    }
  }

  test("LineStats == composed split/trim-filter + sorted-run dup fold") {
    for (d <- Seq(docs, lined, edges)) {
      assertParity(
        d,
        GopherExpressions.lineStats(col("text")),
        ComposedForms.lineStats(col("text")),
        Seq("n_lines", "n_dup_lines", "dup_chars", "total_chars")
      )
    }
  }

  test("GramMass == composed gram build + sorted-run mass fold (n = 2, 3, 5)") {
    for (d <- Seq(docs, lined, edges); n <- Seq(2, 3, 5)) {
      assertParity(
        d,
        GopherExpressions.gramMass(Fns.tokens(col("text")), n),
        ComposedForms.gramMass(Fns.tokens(col("text")), n),
        Seq("best", "dup")
      )
    }
  }

  test("GramMass null/short token arrays yield (0, 0), the composed when/otherwise flow") {
    val df = Seq(
      (1, Some(Seq("only"))),
      (2, Some(Seq.empty[String])),
      (3, None: Option[Seq[String]])
    ).toDF("id", "toks")
    val rows = df
      .select(GopherExpressions.gramMass(col("toks"), 2).as("g"))
      .select(col("g.best"), col("g.dup"))
      .collect()
    assert(rows.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
  }
}

package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Parity pins for the native text expressions against the composed
  * built-in forms they replaced, over the real corpus (CJK included)
  * plus synthetic edge cases.
  */
class TextExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("Tokenize == composed regexp_replace/split/filter on the real corpus") {
    val mismatches = docs
      .select(
        TextExpressions.tokenize(col("text")).as("native"),
        ComposedForms.tokens(col("text")).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("Tokenize edge cases: unicode, case folding, punctuation runs, empty, null") {
    val df = Seq(
      Some("Hello, WORLD!  foo42--bar"),
      Some("你好世界 mixed ASCII 中文 ok"),
      Some("ÉÀÜ Straße İstanbul"), // lowercase expansions / non-ascii letters
      Some("!!!"),
      Some(""),
      None
    ).toDF("text")
    val mismatches = df
      .select(
        TextExpressions.tokenize(col("text")).as("native"),
        ComposedForms.tokens(col("text")).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("DistinctShingles == array_distinct over the zip_with gram chain") {
    for (n <- Seq(2, 3, 5)) {
      val mismatches = docs
        .select(TextExpressions.tokenize(col("text")).as("toks"))
        .select(
          TextExpressions.distinctShingles(col("toks"), n).as("native"),
          ComposedForms.distinctShingles(col("toks"), n).as("composed")
        )
        .filter(!(col("native") <=> col("composed")))
        .count()
      assert(mismatches === 0, s"n=$n")
    }
    // short docs: fewer tokens than n -> empty set both ways
    val short = Seq(Seq("a", "b")).toDF("toks")
    val got = short
      .select(TextExpressions.distinctShingles(col("toks"), 3).as("s"))
      .as[Seq[String]].head()
    assert(got === Seq.empty)
  }
}

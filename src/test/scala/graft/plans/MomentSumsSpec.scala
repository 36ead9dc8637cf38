package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Stats

/** Parity pins for the r20 native 128-bit moment aggregator: the flat
  * MomentSums pass reconstructed to decimal(38,0) columns must equal
  * the composed decimal-sum form bit-for-bit — schema, values, nulls —
  * so the q98 oracle evidence for the composed form transfers.
  */
class MomentSumsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def assertSameMoments(
      df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]
  ): Unit = {
    val got = Stats.pearsonMoments(df, cols)
    val want = ComposedForms.pearsonMoments(df, cols)
    assert(got.schema === want.schema, "moment frame schema diverged")
    assert(got.collect().toSeq === want.collect().toSeq, "moment values diverged")
  }

  test("== composed decimal moments on real lineitem projections (the q98 shape)") {
    val l = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice")).cast("long").as("price_d"),
        round(col("l_discount") * 100).cast("long").as("disc_c"),
        round(col("l_tax") * 100).cast("long").as("tax_c")
      )
    assertSameMoments(l, Seq("qty", "price_d", "disc_c", "tax_c"))
  }

  test("== composed on negatives, zeros, and products past 2^63 (the hi-word path)") {
    // 3e9 * 3e9 = 9e18 ≈ 2^63 — single products and running sums cross
    // the low word; negatives exercise the sign-extension adds
    val df = Seq(
      (3000000000L, -3000000000L, 5L),
      (-2999999999L, 2999999999L, -7L),
      (0L, 123L, 0L),
      (1L, -1L, Long.MaxValue / 4),
      (2500000000L, 2500000000L, -Long.MaxValue / 4)
    ).toDF("a", "b", "c")
    assertSameMoments(df, Seq("a", "b", "c"))
  }

  test("== composed on null elements and all-null columns (sum's skip-null semantics)") {
    val df = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, null, null),
      (2L, 10L, null),
      (null, 20L, null),
      (4L, null, null)
    ).toDF("a", "b", "c")
    // n counts every row; s_b/ss_b skip nulls; sp_a_b keeps only rows
    // where BOTH are set; every c-moment is null (zero terms)
    assertSameMoments(df, Seq("a", "b", "c"))
    val r = Stats.pearsonMoments(df, Seq("a", "b", "c")).collect().head
    assert(r.getAs[Long]("n") === 4L)
    assert(r.isNullAt(r.fieldIndex("s_c")) && r.isNullAt(r.fieldIndex("sp_a_c")))
  }

  test("== composed on an empty frame (n = 0, every moment null)") {
    val df = Seq.empty[(Long, Long)].toDF("a", "b")
    assertSameMoments(df, Seq("a", "b"))
    val r = Stats.pearsonMoments(df, Seq("a", "b")).collect().head
    assert(r.getAs[Long]("n") === 0L && r.isNullAt(r.fieldIndex("s_a")))
  }

  test("moments merge across partitions exactly (the carry-propagation path)") {
    // many rows of near-2^31.5 values: per-partition partials overflow
    // the low 64-bit word of ss_* repeatedly, so the merge path carries
    val df = spark
      .range(0, 200000, 1, 7)
      .select(
        (col("id") % 97 * 95000000L - 4500000000L).as("a"),
        (col("id") % 89 * 103000000L - 4100000000L).as("b")
      )
    assertSameMoments(df, Seq("a", "b"))
  }

  test("pearsonMatrix over the native moments matches a hand-computed r") {
    val df = Seq((1L, 2L), (2L, 4L), (3L, 5L), (4L, 9L)).toDF("a", "b")
    val Row(_, _, n, r) = Stats.pearsonMatrix(df, Seq("a", "b")).collect().head
    assert(n === 4L)
    // moments: sx=10 sy=20 sxx=30 syy=126 sxy=61
    val expect = (4.0 * 61 - 10 * 20) /
      (math.sqrt(4.0 * 30 - 100) * math.sqrt(4.0 * 126 - 400))
    assert(r === expect)
  }
}

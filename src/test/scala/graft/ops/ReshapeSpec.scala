package graft.ops

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** `Reshape.unpivot` (one generator) against Spark's own
  * `Dataset.unpivot` (an `Expand`): same columns, same types, same rows.
  */
class ReshapeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def assertParity(df: DataFrame, ids: Seq[String], values: Seq[String]): DataFrame = {
    val got = Reshape.unpivot(df, ids, values)
    val want = df.unpivot(ids.map(col).toArray, values.map(col).toArray, "metric", "value")
    assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    got
  }

  test("unpivot parity: mixed int, long, decimal and double value columns") {
    val df = Seq((1, 2, 3L, BigDecimal("4.25"), 5.5), (2, -7, 8L, BigDecimal("-0.01"), 1e-3))
      .toDF("id", "i", "l", "d", "x")
      .withColumn("d", $"d".cast("decimal(10,2)"))
    // int + long + decimal resolve to a decimal; adding a double to a double
    val exact = assertParity(df, Seq("id"), Seq("i", "l", "d"))
    assert(exact.schema("value").dataType.typeName.startsWith("decimal"))
    val wide = assertParity(df, Seq("id"), Seq("i", "l", "d", "x"))
    assert(wide.schema("value").dataType.typeName === "double")
  }

  test("unpivot parity: null cells, all-string columns and one value column") {
    val df = Seq(
      ("k1", Option("a"), Option.empty[String]),
      ("k2", Option.empty[String], Option("b")),
      ("k3", Option.empty[String], Option.empty[String])
    ).toDF("k", "m1", "m2")
    val got = assertParity(df, Seq("k"), Seq("m1", "m2"))
    assert(got.filter($"value".isNull).count() === 4)
    assertParity(df, Seq("k"), Seq("m2"))
  }

  test("unpivot parity: an empty frame") {
    val df = Seq((1L, 1.0, 2)).toDF("id", "a", "b").limit(0)
    assert(assertParity(df, Seq("id"), Seq("a", "b")).isEmpty)
  }

  test("unpivot keeps Dataset.unpivot's errors: no value columns, no common type") {
    val df = Seq((1L, 1.0, Seq(1))).toDF("id", "a", "arr")
    intercept[AnalysisException](Reshape.unpivot(df, Seq("id"), Seq.empty))
    intercept[AnalysisException](Reshape.unpivot(df, Seq("id"), Seq("a", "arr")))
  }

  test("unpivot plans one Generate and no Expand") {
    val df = Seq((1L, 1.0, 2)).toDF("id", "a", "b")
    val plan = Reshape.unpivot(df, Seq("id"), Seq("a", "b")).queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Expand"), plan)
  }
}

package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Diff semantics from the reference (SURVEY.md §2.3 J1 quirks a-d). */
class SnapshotDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def snap(rows: (String, String, String)*) =
    rows.toDF("k", "a", "b")

  test("diff(x, x) is empty") {
    val x = snap(("1", "v1", "w1"), ("2", "v2", "w2"))
    assert(SnapshotDiff.diff(x, Some(x), "k").count() === 0)
  }

  test("insert / update / delete classification") {
    val prev = snap(("1", "v1", "w1"), ("2", "v2", "w2"))
    val next = snap(("2", "v2", "CHANGED"), ("3", "v3", "w3"))
    val got = SnapshotDiff
      .diff(next, Some(prev), "k")
      .select("event_type", "key_value")
      .as[(String, String)]
      .collect()
      .toSet
    assert(got === Set(("delete", "1"), ("update", "2"), ("insert", "3")))
  }

  test("changed map lists only differing columns, with old/new") {
    val prev = snap(("1", "v1", "w1"))
    val next = snap(("1", "v1", "w9"))
    val row = SnapshotDiff.diff(next, Some(prev), "k").select("changed").head()
    val m = row.getMap[String, Row](0)
    assert(m.keySet === Set("b"))
    assert(m("b").getAs[String]("old") === "w1")
    assert(m("b").getAs[String]("new") === "w9")
  }

  test("diffKeys: composite keys classify per key tuple; null key parts join null-safely") {
    val prev = Seq(
      (Option(1L), "a", "v1"), (Option(1L), "b", "v2"),
      (Option(2L), "a", "v3"), (Option.empty[Long], "a", "vn")
    ).toDF("id", "sub", "v")
    val next = Seq(
      (Option(1L), "a", "v1"), (Option(1L), "b", "CHANGED"),
      (Option(3L), "a", "v9"), (Option.empty[Long], "a", "vn")
    ).toDF("id", "sub", "v")
    val got = SnapshotDiff.diffKeys(next, prev, Seq("id", "sub"))
      .select("id", "sub", "change_type")
      .as[(Option[String], String, String)]
      .collect()
      .toSet
    // unchanged (1,a) and null-keyed (null,a) emit nothing; the null key
    // tuple matched its counterpart instead of producing insert+delete
    assert(got === Set(
      (Some("1"), "b", "update"),
      (Some("2"), "a", "delete"),
      (Some("3"), "a", "insert")
    ))
  }

  test("insert changed map includes null-valued new columns (full column count)") {
    // an insert whose row carries a null column is still an insert of
    // that column: size(changed) must equal the payload column count,
    // not drop the null ones (they'd vanish under the !(null <=> null)
    // unchanged-filter that only applies to updates)
    val prev = snap(("1", "v1", "w1"))
    val next = Seq(("1", "v1", "w1"), ("2", null, "w2")).toDF("k", "a", "b")
    val ins = SnapshotDiff.diff(next, Some(prev), "k").filter($"event_type" === "insert")
    val m = ins.select("changed").head().getMap[String, Row](0)
    assert(m.keySet === Set("a", "b"))
    assert(m("a").getAs[String]("old") === null && m("a").getAs[String]("new") === null)
    assert(m("b").getAs[String]("new") === "w2")
    // same rule on the no-previous-snapshot (all-inserts) path
    val m2 = SnapshotDiff
      .diff(Seq(("9", null, "x")).toDF("k", "a", "b"), None, "k")
      .select("changed").head().getMap[String, Row](0)
    assert(m2.keySet === Set("a", "b"))
  }

  test("quirk (c): null == null is no-change") {
    val prev = Seq(("1", Option.empty[String], "w")).toDF("k", "a", "b")
    val next = Seq(("1", Option.empty[String], "w")).toDF("k", "a", "b")
    assert(SnapshotDiff.diff(next, Some(prev), "k").count() === 0)
  }

  test("quirk (b): columns dropped from the new schema do not trigger updates") {
    val prev = snap(("1", "v1", "w1"))
    val next = Seq(("1", "v1")).toDF("k", "a") // column b dropped
    assert(SnapshotDiff.diff(next, Some(prev), "k").count() === 0)
  }

  test("quirk (a): duplicate keys collapse last-row-wins by orderCol") {
    val prev = snap(("1", "old", "x"))
    val next = Seq(("1", "first", "x", 1L), ("1", "last", "x", 2L)).toDF("k", "a", "b", "ord")
      .select($"k", $"a", $"b", $"ord")
    val got = SnapshotDiff
      .diff(next.drop("ord"), Some(prev), "k", orderCol = None)
    // with explicit order column:
    val got2 = SnapshotDiff.diff(
      Seq(("1", "first", "x", 1L), ("1", "last", "x", 2L)).toDF("k", "a", "b", "ord"),
      Some(prev.withColumn("ord", lit(0L))),
      "k",
      orderCol = Some("ord")
    )
    val newVals = got2.select("new_values").head().getMap[String, String](0)
    assert(newVals("a") === "last")
    assert(got.count() >= 0) // input-order variant at least runs
  }

  test("quirk (d): missing previous snapshot => all inserts") {
    val next = snap(("1", "v1", "w1"), ("2", "v2", "w2"))
    val got = SnapshotDiff.diff(next, None, "k")
    assert(got.filter($"event_type" === "insert").count() === 2)
    // insert change-map covers every data column
    assert(got.select(size($"changed")).as[Int].collect().forall(_ === 2))
  }

  test("columns matched by name: same columns in another order, no value changed => no events") {
    val prev = Seq(("1", "v1", "w1"), ("2", "v2", null)).toDF("k", "a", "b")
    val next = Seq(("w1", "1", "v1"), (null, "2", "v2")).toDF("b", "k", "a")
    assert(SnapshotDiff.diff(next, Some(prev), "k").count() === 0)
  }

  test("a column added in new: a null value is no change, a non-null value is an update") {
    val prev = Seq(("1", "v1"), ("2", "v2")).toDF("k", "a")
    val next = Seq(("1", "v1", null), ("2", "v2", "x")).toDF("k", "a", "c")
    val got = SnapshotDiff.diff(next, Some(prev), "k").collect()
    assert(got.map(r => (r.getAs[String]("event_type"), r.getAs[String]("key_value"))).toSeq ===
      Seq(("update", "2")))
    val m = got.head.getAs[scala.collection.Map[String, Row]]("changed")
    assert(m.keySet === Set("c"))
    assert(m("c").getAs[String]("old") === null && m("c").getAs[String]("new") === "x")
  }

  test("a reordered column and one changed value: exactly that column is changed") {
    val prev = Seq(("1", "v1", "w1")).toDF("k", "a", "b")
    val next = Seq(("1", "w1", "CHANGED")).toDF("k", "b", "a")
    val row = SnapshotDiff.diff(next, Some(prev), "k").head()
    assert(row.getAs[String]("event_type") === "update")
    val m = row.getAs[scala.collection.Map[String, Row]]("changed")
    assert(m.keySet === Set("a"))
    assert(m("a").getAs[String]("old") === "v1" && m("a").getAs[String]("new") === "CHANGED")
    // each side's value map keeps its own column order
    assert(row.getAs[scala.collection.Map[String, String]]("old_values").keys.toSeq === Seq("a", "b"))
    assert(row.getAs[scala.collection.Map[String, String]]("new_values").keys.toSeq === Seq("b", "a"))
  }

  test("round trip: applying diff to prev reconstructs next (per key)") {
    val prev = snap(("1", "v1", "w1"), ("2", "v2", "w2"), ("4", "v4", "w4"))
    val next = snap(("2", "v2", "CHANGED"), ("3", "v3", "w3"), ("4", "v4", "w4"))
    val events = SnapshotDiff.diff(next, Some(prev), "k")
    // reconstruct: prev keys minus deletes, overwritten by upserts
    val deletes = events.filter($"event_type" === "delete").select($"key_value".as("k"))
    val upserts = events
      .filter($"event_type" =!= "delete")
      .select($"key_value".as("k"), $"new_values")
    val kept = prev
      .select($"k".cast("string").as("k"), map(lit("a"), $"a", lit("b"), $"b").as("new_values"))
      .join(deletes, Seq("k"), "left_anti")
      .join(upserts.select($"k"), Seq("k"), "left_anti")
      .unionByName(upserts)
    val reconstructed = kept
      .select($"k", element_at($"new_values", "a").as("a"), element_at($"new_values", "b").as("b"))
    val want = next.select($"k".cast("string"), $"a", $"b").as[(String, String, String)].collect().toSet
    val gotSet = reconstructed.as[(String, String, String)].collect().toSet
    assert(gotSet === want)
  }
}

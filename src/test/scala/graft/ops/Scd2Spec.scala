package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

class Scd2Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    // (event_id, event_type, key, ts, payload)
    ("e1", "insert", "k1", ts("2024-01-01 00:00:00"), Map("v" -> "1")),
    ("e2", "update", "k1", ts("2024-01-02 00:00:00"), Map("v" -> "2")),
    ("e3", "update", "k1", ts("2024-01-03 00:00:00"), Map("v" -> "3")),
    ("e4", "insert", "k2", ts("2024-01-01 12:00:00"), Map("v" -> "9")),
    ("e5", "delete", "k2", ts("2024-01-05 00:00:00"), Map.empty[String, String])
  ).toDF("event_id", "event_type", "record_key", "ts", "new_values")

  test("version chain: valid_from/valid_to adjacency, single current per live key") {
    val scd = Scd2.apply(events, Seq("record_key")).cache()
    val k1 = scd.filter($"record_key" === "k1").orderBy("valid_from").collect()
    assert(k1.length === 3)
    assert(k1(0).getAs[Timestamp]("valid_to") === k1(1).getAs[Timestamp]("valid_from"))
    assert(k1(1).getAs[Timestamp]("valid_to") === k1(2).getAs[Timestamp]("valid_from"))
    assert(k1(2).getAs[Timestamp]("valid_to") === null)
    assert(Scd2.currentState(scd).filter($"record_key" === "k1").count() === 1)
    // deleted key: no current version (tombstone closes the chain)
    assert(Scd2.currentState(scd).filter($"record_key" === "k2").count() === 0)
  }

  test("idempotent on event_id (at-least-once replay)") {
    val replayed = events.unionByName(events.limit(3))
    assert(
      Scd2.apply(replayed, Seq("record_key")).count() ===
        Scd2.apply(events, Seq("record_key")).count()
    )
  }

  test("as-of lookup returns the version valid at the instant") {
    val scd = Scd2.apply(events, Seq("record_key"))
    val at = Scd2.asOf(scd, ts("2024-01-02 12:00:00")).filter($"record_key" === "k1")
    assert(at.count() === 1)
    assert(at.select(element_at($"data", "v")).as[String].head() === "2")
  }
}

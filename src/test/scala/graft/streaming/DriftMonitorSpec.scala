package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Stats

/** Pins for the streaming drift monitor: the streamed readback is
  * bit-identical to the batch PSI/JSD over the same rows, replayed
  * batch ids are no-ops, and the alert flags fire (and stay null on an
  * empty window).
  */
class DriftMonitorSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def events(seed: Int, n: Int, skew: Int) =
    (1 to n).map { i =>
      val r = (seed * 7919 + i * 104729) % 100
      if (r < skew) "error" else if (r < 60) "view" else "click"
    }.toDF("event_type")

  test("streamed drift == batch psi/jsd bit-identically; replay is a no-op; alerts fire") {
    val tmp = Files.createTempDirectory("drift").toString
    val (refPath, curPath) = (s"$tmp/ref", s"$tmp/cur")
    val ref = events(1, 2000, skew = 5)
    DriftMonitor.writeReference(ref, "event_type", refPath)

    // three micro-batches with a heavily skewed mix (error rate way up)
    val batches = Seq(events(2, 400, 40), events(3, 300, 40), events(4, 300, 40))
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(DriftMonitor.ingestDriftBatch(b, i.toLong, "event_type", curPath))
    }
    // redelivery of the last batch id must not double-count
    assert(!DriftMonitor.ingestDriftBatch(batches.last, 2L, "event_type", curPath))

    val got = DriftMonitor.drift(spark, refPath, curPath).collect().head
    // batch recompute over the SAME rows, through the same *FromCounts
    // path the monitor composes — bit-identical, not approximately
    val all = batches.reduce(_ unionByName _)
    val wantPsi = Stats.psi(ref, all, "event_type").collect().head
    val wantJsd = Stats.jsd(ref, all, "event_type").collect().head
    assert(got.getLong(0) === wantPsi.getLong(0)) // n_keys
    assert(got.getLong(1) === wantPsi.getLong(1)) // ref_n
    assert(got.getLong(2) === wantPsi.getLong(2)) // cur_n
    assert(got.getDouble(3) === wantPsi.getDouble(3), "psi must be bit-identical")
    assert(got.getDouble(4) === wantJsd.getDouble(3), "jsd must be bit-identical")
    // a 5% -> 40% error-rate jump is far past both alert bars
    assert(got.getBoolean(5) && got.getBoolean(6))

    // near-identical mix: alerts stay off
    val calm = Files.createTempDirectory("driftcalm").toString
    DriftMonitor.writeReference(ref, "event_type", s"$calm/ref")
    assert(DriftMonitor.ingestDriftBatch(events(9, 1000, 5), 0L, "event_type", s"$calm/cur"))
    val calmRow = DriftMonitor.drift(spark, s"$calm/ref", s"$calm/cur").collect().head
    assert(!calmRow.getBoolean(5) && !calmRow.getBoolean(6))
  }

  test("empty current window: psi/jsd and alerts are null, not 0/false") {
    val tmp = Files.createTempDirectory("driftempty").toString
    DriftMonitor.writeReference(events(1, 100, 5), "event_type", s"$tmp/ref")
    assert(DriftMonitor.ingestDriftBatch(
      events(1, 10, 5).limit(0), 0L, "event_type", s"$tmp/cur"))
    val row = DriftMonitor.drift(spark, s"$tmp/ref", s"$tmp/cur").collect().head
    assert(row.isNullAt(3) && row.isNullAt(4), "no verdict is not a verdict")
    assert(row.isNullAt(5) && row.isNullAt(6))
  }

  test("grouped drift: streamed == batch psiPerGroup; only the drifted group alerts; " +
    "one-sided groups read null") {
    val tmp = Files.createTempDirectory("driftgrp").toString
    val (refPath, curPath) = (s"$tmp/ref", s"$tmp/cur")
    def tagged(src: String, seed: Int, n: Int, skew: Int) =
      events(seed, n, skew).withColumn("source", lit(src))
    // reference: two calm sources
    val ref = tagged("s1", 1, 1000, 5).unionByName(tagged("s2", 2, 1000, 5))
    DriftMonitor.writeGroupedReference(ref, "source", "event_type", refPath)
    // stream: s1 stays calm, s2 drifts hard, s3 is brand new
    val b1 = tagged("s1", 3, 300, 5)
      .unionByName(tagged("s2", 4, 300, 45))
      .unionByName(tagged("s3", 5, 100, 5))
    val b2 = tagged("s2", 6, 200, 45)
    assert(DriftMonitor.ingestGroupedDriftBatch(b1, 0L, "source", "event_type", curPath))
    assert(DriftMonitor.ingestGroupedDriftBatch(b2, 1L, "source", "event_type", curPath))
    // replay is a no-op
    assert(!DriftMonitor.ingestGroupedDriftBatch(b2, 1L, "source", "event_type", curPath))

    val got = DriftMonitor.groupedDrift(spark, refPath, curPath)
      .collect().map(r => r.getString(0) -> r).toMap
    // bit-identical to the batch psiPerGroup over the same rows (the
    // masked form: both sides of s1/s2 are non-empty)
    val want = graft.ops.Stats.psiPerGroup(
      ref.groupBy($"source", $"event_type").agg(count(lit(1)).as("n")),
      b1.unionByName(b2).groupBy($"source", $"event_type").agg(count(lit(1)).as("n")),
      "source", "event_type"
    ).collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got("s1").getDouble(4) === want("s1"))
    assert(got("s2").getDouble(4) === want("s2"))
    assert(!got("s1").getBoolean(5), "calm source must not alert")
    assert(got("s2").getBoolean(5), "drifted source must alert")
    // s3 exists only in the stream: ref_n = 0 -> null psi and alert
    // (its appearance IS the signal, not a smoothed number)
    assert(got("s3").getLong(2) === 0L)
    assert(got("s3").isNullAt(4) && got("s3").isNullAt(5))
  }

  test("driftIngest streaming loop: the readback sees each committed micro-batch") {
    val tmp = Files.createTempDirectory("driftstream").toString
    val (refPath, curPath, src) = (s"$tmp/ref", s"$tmp/cur", s"$tmp/src")
    DriftMonitor.writeReference(events(1, 500, 5), "event_type", refPath)
    val b1 = events(2, 200, 40)
    b1.write.parquet(src)
    val q = DriftMonitor.driftIngest(
      spark.readStream.schema(b1.schema).parquet(src),
      "event_type", curPath, s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      val afterOne = DriftMonitor.drift(spark, refPath, curPath).collect().head
      assert(afterOne.getLong(2) === 200L)
      events(3, 100, 40).write.mode("append").parquet(src)
      q.processAllAvailable()
      val afterTwo = DriftMonitor.drift(spark, refPath, curPath).collect().head
      assert(afterTwo.getLong(2) === 300L)
      assert(afterTwo.getBoolean(5), "skewed stream must trip the PSI alert")
    } finally q.stop()
  }

  test("torn first write: drift reads an empty window, not the uncommitted counts") {
    val tmp = Files.createTempDirectory("drifttorn").toString
    DriftMonitor.writeReference(events(1, 100, 5), "event_type", s"$tmp/ref")
    // the first ingest crashed after its parquet landed in .new, before
    // the _batch marker: nothing is committed
    events(2, 50, 40).groupBy($"event_type").agg(count(lit(1)).as("n"))
      .coalesce(1).write.parquet(s"$tmp/cur.new")
    val row = DriftMonitor.drift(spark, s"$tmp/ref", s"$tmp/cur").collect().head
    assert(row.getLong(2) === 0L, "cur_n must not count the uncommitted write")
    assert(row.isNullAt(3) && row.isNullAt(5))
    // the redelivered batch commits alone
    assert(DriftMonitor.ingestDriftBatch(events(2, 50, 40), 0L, "event_type", s"$tmp/cur"))
    assert(DriftMonitor.drift(spark, s"$tmp/ref", s"$tmp/cur").collect().head.getLong(2) === 50L)
  }

  test("torn first write: groupedDrift reads an empty window, not the uncommitted counts") {
    val grp = Files.createTempDirectory("drifttorngrp").toString
    DriftMonitor.writeGroupedReference(
      events(1, 100, 5).withColumn("source", lit("s1")), "source", "event_type", s"$grp/ref")
    events(2, 50, 40).withColumn("source", lit("s1"))
      .groupBy($"source", $"event_type").agg(count(lit(1)).as("n"))
      .coalesce(1).write.parquet(s"$grp/cur.new")
    val rows = DriftMonitor.groupedDrift(spark, s"$grp/ref", s"$grp/cur").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) === 0L), rows.mkString(", "))
  }
}

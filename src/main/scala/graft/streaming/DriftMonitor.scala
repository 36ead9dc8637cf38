package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Stats

/** Streaming distribution-drift monitor (round 14): PSI + JSD of a live
  * key distribution against a frozen REFERENCE window, maintained
  * continuously — the "did the event-type / language / source mix move
  * enough to gate the model refresh?" alarm, kept hot without ever
  * rescanning history.
  *
  * Composition, not new math: the current-window count table is exactly
  * the keyed-count state [[SketchIngest.ingestCountBatch]] already
  * maintains (exact-addition merge, `.new`/`.old` swap, `_batch` replay
  * marker — streamed == batch rebuild bit-identically, in any delivery
  * order), and the divergences are [[Stats.psiFromCounts]] /
  * [[Stats.jsdFromCounts]] over that table and a reference count table
  * — both already exact-quantized, order-independent, and
  * oracle-checked (q151/q165). This file wires the two together and
  * adds the alert readback.
  *
  * Scale: per micro-batch cost is O(batch) to fold + O(keys) to merge
  * and to score — the count tables are vocabulary-bounded, never
  * corpus-sized. The reference table is read per readback, not per
  * batch; at 100 TB the reference is a one-time aggregate of the
  * training window, the stream never touches it.
  */
object DriftMonitor {

  /** Fold a micro-batch into (keyCol, n) counts — the shape
    * [[Stats.psiFromCounts]] expects and [[SketchIngest]] merges.
    */
  private def countFold(keyCol: String)(batch: DataFrame): DataFrame =
    batch.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))

  /** Apply one micro-batch to the at-rest current-window count table at
    * `curPath` (exactly-once: a replayed batchId is a no-op — the
    * [[SketchIngest]] marker protocol). Exposed for batch-mode reuse
    * and the spec's replay test; returns false on a recognized replay.
    */
  def ingestDriftBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      curPath: String
  ): Boolean =
    SketchIngest.ingestCountBatch(batch, batchId, countFold(keyCol), Seq(keyCol), curPath)

  /** Start the monitor loop: stream rows fold into the count table at
    * `curPath`; read the drift at any time with [[drift]].
    */
  def driftIngest(
      rows: DataFrame,
      keyCol: String,
      curPath: String,
      checkpoint: String
  ): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestDriftBatch(batch, batchId, keyCol, curPath)
        ()
      }
      .start()

  /** Freeze a reference count table from the training window — run once
    * per model version, the denominator the stream is judged against.
    */
  def writeReference(reference: DataFrame, keyCol: String, refPath: String): Unit =
    countFold(keyCol)(reference).coalesce(1).write.mode("overwrite").parquet(refPath)

  /** Current drift readback: ONE row —
    * (n_keys, ref_n, cur_n, psi, jsd, psi_alert, jsd_alert). psi/jsd
    * and the alert flags are null while either window is empty (no
    * verdict is not a verdict). Thresholds follow the monitoring
    * folklore bands (PSI 0.2 = "significant shift, investigate"); JSD's
    * is in nats, bounded by ln 2 ≈ 0.693.
    *
    * Both divergences read the SAME two count tables the ingest loop
    * maintains, so this readback costs O(keys) — it can run on every
    * dashboard refresh.
    */
  def drift(
      spark: SparkSession,
      refPath: String,
      curPath: String,
      psiThreshold: Double = 0.2,
      jsdThreshold: Double = 0.1
  ): DataFrame = {
    val ref = spark.read.parquet(refPath)
    driftFromCounts(ref, committedCounts(spark, curPath, ref), psiThreshold, jsdThreshold)
  }

  /** The committed current-window counts ([[SketchIngest.readCommitted]]
    * heals a crashed swap first); an empty window, shaped like `ref`,
    * while no batch has committed.
    */
  private def committedCounts(spark: SparkSession, curPath: String, ref: DataFrame): DataFrame =
    SketchIngest.readCommitted(spark, curPath).fold(ref.limit(0))(_._2)

  /** [[drift]] from already-loaded (key, n) count tables — the testable
    * core, and the form a caller with its own count state composes.
    * `keyCol` is positional here: both tables carry (key, n) with the
    * key as the FIRST column, the contract [[writeReference]] and the
    * ingest fold produce.
    */
  def driftFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame,
      psiThreshold: Double = 0.2,
      jsdThreshold: Double = 0.1
  ): DataFrame = {
    val keyRef = refCounts.columns.head
    val keyCur = curCounts.columns.head
    val cur = curCounts.withColumnRenamed(keyCur, keyRef)
    val psiRow = Stats.psiFromCounts(refCounts, cur, keyRef)
    driftRow(psiRow, Stats.jsdFromCounts(refCounts, cur, keyRef), psiThreshold, jsdThreshold)
  }

  private def driftRow(
      psiRow: DataFrame,
      jsdFull: DataFrame,
      psiThreshold: Double,
      jsdThreshold: Double
  ): DataFrame = {
    val jsdRow = jsdFull.select(col("jsd"))
    // PSI's Laplace smoothing makes it DEFINED over an empty window
    // (every share collapses to 1/k — a large, meaningless number); the
    // monitor masks that to null like JSD's own empty-side contract: an
    // empty window is "no verdict", never "drift".
    val psiOrNull =
      when(col("ref_n") > 0 && col("cur_n") > 0, col("psi")).as("psi")
    psiRow
      .crossJoin(jsdRow)
      .select(
        col("n_keys"),
        col("ref_n"),
        col("cur_n"),
        psiOrNull,
        col("jsd"),
        (psiOrNull >= psiThreshold).as("psi_alert"),
        (col("jsd") >= jsdThreshold).as("jsd_alert")
      )
  }

  // ------------------------------------------------------------------
  // Per-group drift — "WHICH source / language / shard drifted?", the
  // production monitoring shape. PSI only: Stats.psiPerGroup computes
  // each group over its own totals and smoothing; JSD stays a global
  // verdict (a per-group JSD would need per-group count·total products,
  // a different exactness budget — add when a consumer needs it).
  // ------------------------------------------------------------------

  /** Apply one micro-batch to the (group, key, n) count table at
    * `curPath` — same marker protocol, two key columns.
    */
  def ingestGroupedDriftBatch(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      keyCol: String,
      curPath: String
  ): Boolean =
    SketchIngest.ingestCountBatch(
      batch,
      batchId,
      b => b.groupBy(col(groupCol), col(keyCol)).agg(count(lit(1)).as("n")),
      Seq(groupCol, keyCol),
      curPath
    )

  /** Freeze the grouped reference count table (group, key, n). */
  def writeGroupedReference(
      reference: DataFrame,
      groupCol: String,
      keyCol: String,
      refPath: String
  ): Unit =
    reference
      .groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(refPath)

  /** Per-group drift readback: one row per group —
    * (group, n_keys, ref_n, cur_n, psi, psi_alert). A group empty on
    * either side (new source, retired source) reads null psi/alert:
    * its appearance IS the signal, not a smoothed number.
    */
  def groupedDrift(
      spark: SparkSession,
      refPath: String,
      curPath: String,
      psiThreshold: Double = 0.2
  ): DataFrame = {
    val ref = spark.read.parquet(refPath)
    groupedDriftFromCounts(ref, committedCounts(spark, curPath, ref), psiThreshold)
  }

  /** [[groupedDrift]] from loaded (group, key, n) count tables —
    * positional like [[driftFromCounts]]: group first, key second.
    */
  def groupedDriftFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame,
      psiThreshold: Double = 0.2
  ): DataFrame = {
    val Array(g, k) = refCounts.columns.take(2)
    val cur = curCounts.toDF((Seq(g, k) ++ curCounts.columns.drop(2)).toIndexedSeq: _*)
    val psiOrNull =
      when(col("ref_n") > 0 && col("cur_n") > 0, col("psi")).as("psi")
    Stats
      .psiPerGroup(refCounts, cur, g, k)
      .select(
        col(g),
        col("n_keys"),
        col("ref_n"),
        col("cur_n"),
        psiOrNull,
        (psiOrNull >= psiThreshold).as("psi_alert")
      )
  }
}

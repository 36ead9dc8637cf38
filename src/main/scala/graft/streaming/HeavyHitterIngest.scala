package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous maintenance of a BOUNDED at-rest heavy-hitter summary —
  * the streaming companion to [[graft.ops.Sketches.heavyHitters]]'s
  * batch pass 1: the at-rest table is a mergeable Misra–Gries summary
  * of at most `capacity` rows, whatever the item cardinality of the
  * stream ("which tokens/domains/users are trending, live, without
  * storing the vocabulary").
  *
  * Per micro-batch: exact batch counts (one map-side-combined groupBy
  * over the batch) are ADDED to the stored summary — exact long
  * addition, [[SketchIngest.ingestCountBatch]]'s standard merge — and
  * the result is pruned back to `capacity` rows by the classic
  * mergeable-summaries step (Agarwal et al.): subtract the
  * (capacity+1)-th largest count from every row, drop the non-positive
  * remainder. Each prune undercounts any item by at most that batch's
  * d, and the standard telescoping argument bounds the TOTAL
  * undercount by N/(capacity+1) — so every item with true frequency
  * above N/(capacity+1) is in the table, with a count within
  * N/(capacity+1) of truth (spec-pinned against exact counts). Ties at
  * the prune boundary break by item asc — the summary is a pure
  * function of the delivered prefix, deterministic across reruns.
  *
  * Exactly-once, crash windows, and replay no-ops are inherited
  * verbatim from the `_batch`-marker swap protocol
  * ([[SketchIngest]] scaladoc). The prune's rank window runs on the
  * merged table, which is ≤ capacity + batch-vocabulary rows — KB-MB
  * scale, never corpus scale.
  */
object HeavyHitterIngest {

  /** The deterministic mergeable-MG prune: keep ≤ `capacity` rows of
    * (`itemCol`, n), subtracting the (capacity+1)-th largest n.
    * Identity when the table already fits.
    */
  def mgPrune(counts: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    val ranked = counts.withColumn(
      "_rk",
      row_number().over(Window.orderBy(col("n").desc, col(itemCol).asc))
    )
    val d = ranked
      .filter(col("_rk") === capacity + 1)
      .agg(coalesce(max(col("n")), lit(0L)).as("_d"))
    ranked
      .crossJoin(broadcast(d))
      .filter(col("n") - col("_d") > 0)
      .select(col(itemCol), (col("n") - col("_d")).as("n"))
  }

  /** One micro-batch: exact batch counts + stored summary → pruned
    * summary, committed under the shared marker protocol. Returns
    * false on a recognized replay.
    */
  def ingestHeavyHitterBatch(
      batch: DataFrame,
      batchId: Long,
      itemCol: String,
      capacity: Int,
      path: String
  ): Boolean =
    SketchIngest.ingestCountBatch(
      batch,
      batchId,
      b =>
        b.select(col(itemCol).cast("string").as(itemCol))
          .filter(col(itemCol).isNotNull)
          .groupBy(col(itemCol))
          .agg(count(lit(1)).as("n")),
      Seq(itemCol),
      path,
      finish = m => mgPrune(m, itemCol, capacity)
    )

  /** Snapshot read of the committed summary
    * ([[SketchIngest.readCommitted]]: heals a mid-swap crash first).
    * Fails while no batch has committed, as before the first write.
    */
  def readSummary(spark: SparkSession, path: String): DataFrame =
    SketchIngest.readCommitted(spark, path).map(_._2).getOrElse(
      throw new IllegalStateException(s"no committed heavy-hitter summary at $path")
    )
}

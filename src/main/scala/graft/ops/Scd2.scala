package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-Type-2 temporal table semantics (reference `consumer.py:152-197`,
  * `cdc_data_dump.sql:108-118`): per record key keep every version with
  * `[valid_from, valid_to)` and an `is_current` flag.
  *
  * The reference mutates rows one event at a time (UPDATE expire + INSERT,
  * ~110 events/s ceiling, BASELINE.md). Here the whole chain is ONE window
  * computation over the append-only event log — no in-place updates, no
  * per-event round-trips; this is the merge-on-read design that survives
  * 100 TB (the event log is partitionable by key hash / date, and the
  * window shuffles once on the grouping keys).
  */
object Scd2 {

  /** Fold an event log into the SCD2 version table.
    *
    * @param events columns: event_id, event_type (insert|update|delete),
    *               `ts`, plus `keys` identifying the record, plus a
    *               payload column (e.g. `new_values`).
    * @param keys   record identity, e.g. Seq(company_id, table_name, key_value)
    * @param tsCol  event-time column; versions are ordered by (ts, event_id)
    *               so replays are deterministic under ts ties.
    * Idempotent on event_id (reference ST1: UNIQUE + ON CONFLICT DO
    * NOTHING -> dropDuplicates).
    */
  def apply(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      payloadCol: String = "new_values",
      eventIdCol: String = "event_id",
      eventTypeCol: String = "event_type"
  ): DataFrame =
    versionChain(events.dropDuplicates(eventIdCol), keys, tsCol, payloadCol, eventIdCol, eventTypeCol)

  /** The version chain itself, over already-deduplicated events: per
    * `partitionCols` group, ordered by (ts, event_id), each event becomes
    * a version `[valid_from, valid_to)` whose `valid_to` is the next
    * event's ts, current when it is the last one and not a delete.
    * Output: `partitionCols` followed by event_id, event_type, data,
    * valid_from, valid_to, is_current.
    *
    * [[apply]] partitions by the record keys; `CdcStream`'s sink
    * partitions by `bucket +: keys`, so the window reuses the sink's
    * bucket exchange instead of adding its own. This is the one
    * definition of the chain both share.
    */
  private[graft] def versionChain(
      events: DataFrame,
      partitionCols: Seq[String],
      tsCol: String = "ts",
      payloadCol: String = "new_values",
      eventIdCol: String = "event_id",
      eventTypeCol: String = "event_type"
  ): DataFrame = {
    val w = Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy(col(tsCol), col(eventIdCol))
    events
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn(
        "is_current",
        // a delete closes the chain: the delete's own "version" is a
        // tombstone, never current (consumer.py:184-197 delete path)
        col("valid_to").isNull && col(eventTypeCol) =!= "delete"
      )
      .select(
        partitionCols.map(col) ++ Seq(
          col(eventIdCol),
          col(eventTypeCol),
          col(payloadCol).as("data"),
          col("valid_from"),
          col("valid_to"),
          col("is_current")
        ): _*
      )
  }

  /** Current-state view: `filter(is_current)` (reference P4,
    * `deltaprocessing.py:119`).
    */
  def currentState(scd2: DataFrame): DataFrame = scd2.filter(col("is_current"))

  /** Point-in-time lookup: the version valid at `at` (temporal query over
    * the interval table; reference has only is_current lookups, J2).
    */
  def asOf(scd2: DataFrame, at: java.sql.Timestamp): DataFrame =
    scd2.filter(
      col("valid_from") <= lit(at) &&
        (col("valid_to").isNull || col("valid_to") > lit(at)) &&
        col("event_type") =!= "delete"
    )
}

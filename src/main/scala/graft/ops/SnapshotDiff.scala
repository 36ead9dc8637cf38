package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The core CDC operator: diff two wide snapshots keyed on one column and
  * emit insert/update/delete events.
  *
  * Semantics follow the reference's `detect_changes`
  * (reference `app/app.py:119-264`), re-expressed as ONE distributed
  * full-outer join instead of driver-side dict comparison:
  *
  *  - rows only in `newDf`                      -> insert
  *  - rows in both with any differing column    -> update (+ per-column
  *    `{old,new}` change map, reference `app/app.py:230-232`)
  *  - rows only in `prevDf`                     -> delete
  *
  * Reference quirks preserved (SURVEY.md §2.3 J1):
  *  (a) duplicate keys collapse last-row-wins (`app/app.py:206-207`) —
  *      here "last" is defined by an explicit `orderCol` (deterministic),
  *      falling back to input order via monotonically_increasing_id;
  *  (b) update comparison iterates columns of the NEW row only — columns
  *      dropped from the schema do not trigger updates (`app/app.py:230`);
  *  (c) comparison is null-safe: null == null is no-change (`<=>`), the
  *      Python `None == None` behavior after NaN normalization;
  *  (d) comparison happens on STRINGS — every value is cast to string
  *      first, matching the reference's all-string degradation.
  *
  * Scale notes: a single shuffle on the key column (the full-outer join).
  * What crosses it per row is the key, the row's values as an
  * `array<string>` in its side's own column order, and the dedup order —
  * column names stay on the driver. After the join, matched rows whose
  * value arrays are null-safely equal (`<=>`, the prev array aligned by
  * name to the new side's columns) are dropped before anything else is
  * built; that is exactly the "no changed column" condition. Only the
  * inserts, deletes and real updates left over build their
  * `old_values`/`new_values` maps (`map_from_arrays` with the names as a
  * literal) and run the built-in map expressions (`map_zip_with` +
  * `map_filter`) of the change map: no UDFs, no driver-side state. At
  * 100 TB both sides shuffle-partition on `keyCol`; if one snapshot is
  * dimension-sized the join becomes a broadcast automatically under AQE.
  */
object SnapshotDiff {

  /** One side of a diff: each wide row canonicalized to (`_key`, `_arr`:
    * every column outside `keyCols` cast to string, in the side's own
    * column order), keys deduped last-row-wins (reference
    * `app/app.py:206-207`). Returns the frame and the names in `_arr`
    * order.
    */
  private def canonical(
      df: DataFrame,
      keyCols: Seq[String],
      key: Column,
      orderCol: Option[String]
  ): (DataFrame, Seq[String]) = {
    val dataCols = df.columns.toSeq.filterNot(keyCols.contains)
    val ord = orderCol.map(col(_).cast("long")).getOrElse(monotonically_increasing_id())
    val w = Window.partitionBy("_key").orderBy(col("_ord").desc)
    val side = df
      .select(
        key.as("_key"),
        array(dataCols.map(col(_).cast("string")): _*).cast("array<string>").as("_arr"),
        ord.as("_ord")
      )
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_ord")
    (side, dataCols)
  }

  private def emptyMap: Column = map().cast("map<string,string>")

  /** A side's value map, `names` -> `arr` (null when `arr` is null). */
  private def valueMap(names: Seq[String], arr: Column): Column =
    map_from_arrays(typedLit(names), arr)

  /** The shared core of [[diff]] and [[diffKeys]]: full-outer join the
    * canonical sides on `on`, drop the matched rows whose values did not
    * change, and build on the rest `_kind` (insert/update/delete), `_key`
    * and the three change columns. The prev array is aligned by name to
    * `newCols`; a column the prev side lacks compares as null (quirk
    * (b)), and with equal column lists the alignment is `p._arr` itself.
    */
  private def changes(
      newSide: (DataFrame, Seq[String]),
      prevSide: (DataFrame, Seq[String]),
      on: (Column, Column) => Column
  ): DataFrame = {
    val (n, newCols) = newSide
    val (p, prevCols) = prevSide
    val prevArr = col("p._arr")
    val aligned =
      if (prevCols == newCols) prevArr
      else {
        val at = prevCols.zipWithIndex.toMap
        array(newCols.map(c => at.get(c).fold(lit(null).cast("string"))(prevArr.getItem(_))): _*)
          .cast("array<string>")
      }
    val inserted = col("p._key").isNull
    val deleted = col("n._key").isNull
    // coalesce the missing side to an empty map so the change map is
    // total: insert -> every new column, delete -> empty (keys absent
    // from the new map are filtered), update -> differing columns
    val newVals = coalesce(valueMap(newCols, col("n._arr")), emptyMap)
    val oldVals = coalesce(valueMap(prevCols, prevArr), emptyMap)
    n.as("n")
      .join(p.as("p"), on(col("n._key"), col("p._key")), "full_outer")
      // updates with zero changed columns are no-ops, not events
      // (reference emits an update only `if changes`, app/app.py:233-246)
      .filter(inserted || deleted || !(col("n._arr") <=> aligned))
      .select(
        when(inserted, "insert").when(deleted, "delete").otherwise("update").as("_kind"),
        coalesce(col("n._key"), col("p._key")).as("_key"),
        oldVals.as("old_values"),
        newVals.as("new_values"),
        // inserts report EVERY new column (a null-valued column is
        // still "new"); the null-safe compare only applies to updates
        when(inserted, insertChangedMap(newVals))
          .otherwise(changedMap(oldVals, newVals))
          .as("changed")
      )
  }

  /** Diff `newDf` against `prevDf`.
    *
    * @param orderCol optional column defining "last" for last-row-wins
    *                 dedup; when None, input file order is used.
    * @return columns: event_type, key_column, key_value, old_values,
    *         new_values, changed (map col -> struct(old,new))
    */
  def diff(
      newDf: DataFrame,
      prevDf: Option[DataFrame],
      keyCol: String,
      orderCol: Option[String] = None
  ): DataFrame = {
    def side(df: DataFrame) = canonical(df, Seq(keyCol), col(keyCol).cast("string"), orderCol)
    prevDf match {
      case None =>
        // missing previous snapshot => every row inserts (app/app.py:156-174)
        val (n, newCols) = side(newDf)
        val newVals = valueMap(newCols, col("_arr"))
        n.select(
          lit("insert").as("event_type"),
          lit(keyCol).as("key_column"),
          col("_key").as("key_value"),
          emptyMap.as("old_values"),
          newVals.as("new_values"),
          insertChangedMap(newVals).as("changed")
        )
      case Some(prev) =>
        changes(side(newDf), side(prev), _ === _).select(
          col("_kind").as("event_type"),
          lit(keyCol).as("key_column"),
          col("_key").as("key_value"),
          col("old_values"),
          col("new_values"),
          col("changed")
        )
    }
  }

  /** Composite-key diff (engine extension — the reference keys on the
    * single first column only): same insert/update/delete + change-map
    * semantics as [[diff]], keyed on `keyCols`, which come back as
    * ordinary columns instead of the stringified key_value. The CDC kind
    * column is named `change_type` (not `event_type`) so key columns
    * named event_type don't collide. Null key parts join null-safely
    * (`<=>` on the key struct). One shuffle on the composite key.
    */
  def diffKeys(
      newDf: DataFrame,
      prevDf: DataFrame,
      keyCols: Seq[String],
      orderCol: Option[String] = None
  ): DataFrame = {
    val key = struct(keyCols.map(c => col(c).cast("string").as(c)): _*)
    def side(df: DataFrame) = canonical(df, keyCols, key, orderCol)
    changes(side(newDf), side(prevDf), _ <=> _).select(
      keyCols.map(c => col("_key").getField(c).as(c)) ++ Seq(
        col("_kind").as("change_type"),
        col("old_values"),
        col("new_values"),
        col("changed")
      ): _*
    )
  }

  /** Insert change map: every new column, old side null — including
    * columns whose new value is null (the unchanged-filter's
    * `!(null <=> null)` would otherwise silently drop them and
    * `size(changed)` would undercount the row's columns).
    */
  private def insertChangedMap(newVals: Column): Column =
    map_zip_with(
      emptyMap,
      newVals,
      (_, o, nv) => struct(o.as("old"), nv.as("new"))
    )

  /** Per-column `{old,new}` change map over NEW-row columns only.
    * `map_zip_with` pairs values by key; entries whose key is absent from
    * the new map (dropped columns) are filtered out, as are unchanged
    * pairs (null-safe compare).
    */
  private def changedMap(oldVals: Column, newVals: Column): Column = {
    val zipped = map_zip_with(
      oldVals,
      newVals,
      (_, o, nv) => struct(o.as("old"), nv.as("new"))
    )
    map_filter(
      zipped,
      (k, v) =>
        map_contains_key(newVals, k) && !(v.getField("old") <=> v.getField("new"))
    )
  }

  /** Convenience: diff + event envelope columns (uuid, ts, company/table),
    * yielding the full CdcEvent shape (reference `app/app.py:152-170`).
    */
  def diffAsEvents(
      newDf: DataFrame,
      prevDf: Option[DataFrame],
      keyCol: String,
      companyId: String,
      tableName: String,
      orderCol: Option[String] = None
  ): DataFrame =
    diff(newDf, prevDf, keyCol, orderCol).select(
      expr("uuid()").as("event_id"),
      col("event_type"),
      lit(companyId).as("company_id"),
      lit(tableName).as("table_name"),
      current_timestamp().as("ts"),
      col("key_column"),
      col("key_value"),
      col("old_values"),
      col("new_values"),
      col("changed")
    )
}

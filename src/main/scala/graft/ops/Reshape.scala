package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reshaping operators — the signature ops of the reference pipeline
  * (SURVEY.md §2.10).
  */
object Reshape {

  /** R1 unpivot wide->long (reference `azuredatalake.py:170-221`: one
    * 2-column parquet per metric). The file-per-metric anti-pattern
    * becomes `partitionBy(metricCol)` at write time — same logical
    * layout, partition-pruned reads, no per-row files.
    *
    * One generator: each row becomes `inline(array(struct(name, value)
    * …))`, one output row per value column, ids carried through. This
    * replaces `Dataset.unpivot`'s `Expand`, one projection per value
    * column: on a 2,500-row snapshot with 119 value columns, `local[4]`
    * on 4 cores, the `Expand` took 1.3–1.8 s and the generator
    * 0.23–0.27 s. The result is the same: `Dataset.unpivot` is still
    * analysed here, never run, to resolve the common value type every
    * value column is cast to, and to raise its errors (no value columns,
    * no common type).
    */
  def unpivot(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      metricName: String = "metric",
      valueName: String = "value"
  ): DataFrame = {
    val valueType = df
      .unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, metricName, valueName)
      .schema(valueName)
      .dataType
    val cells = valueCols.map(c => struct(lit(c).as(metricName), col(c).cast(valueType).as(valueName)))
    df.select(idCols.map(col) :+ inline(array(cells: _*)): _*)
  }

  /** R2 event->wide flatten (reference `consumer.py:259-319`): expand a
    * map payload into columns. The column set must be known at plan time;
    * when `columns` is None it is INFERRED from the data (a driver-side
    * schema inference pass, same as the reference's dynamic frames) —
    * bounded by `maxKeys`: the collect is `limit(maxKeys + 1)` (the
    * driver never holds more than that many keys no matter the corpus)
    * and inference FAILS FAST past the bound rather than silently
    * planning a pathologically wide schema. An open-web map column can
    * carry millions of distinct keys; a million-column plan kills the
    * driver long before any executor sees data. Pass `columns`
    * explicitly on the hot path at scale — inference still costs a full
    * distinct over the corpus even when the key set is tiny.
    */
  def flattenMap(
      df: DataFrame,
      mapCol: String,
      columns: Option[Seq[String]] = None,
      prefix: String = "",
      maxKeys: Int = 1024
  ): DataFrame = {
    val cols = columns.getOrElse {
      val inferred = df
        .select(explode(map_keys(col(mapCol))))
        .distinct()
        .limit(maxKeys + 1)
        .collect()
        .map(_.getString(0))
        .toSeq
      require(
        inferred.size <= maxKeys,
        s"flattenMap($mapCol): more than $maxKeys distinct keys; pass columns " +
          "explicitly (or raise maxKeys) instead of inferring an unbounded schema"
      )
      inferred.sorted
    }
    val flat = cols.map(c => element_at(col(mapCol), c).as(prefix + c))
    df.select(df.columns.filter(_ != mapCol).map(col).toIndexedSeq ++ flat: _*)
  }

  /** Pivot long->wide with an explicit value list (plan-time known column
    * set — two-pass pivot is a scale hazard; reference R2/R3 always knows
    * its columns).
    */
  def pivotCounts(
      df: DataFrame,
      groupCol: String,
      pivotCol: String,
      values: Seq[String]
  ): DataFrame =
    df.groupBy(col(groupCol)).pivot(pivotCol, values).count().na.fill(0L)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.ops.{Analytics, Anomaly, Reshape, Scd2, SnapshotDiff}
import graft.sources.SnapshotSource

/** Thin library entry points composing the reference's §3.1 upload
  * lifecycle as pure DataFrame stages: one `QueryExecution` from
  * snapshot to events to SCD2/exports — the process boundaries of the
  * reference (Kafka/Postgres/ADLS hops per event) become plain
  * transformations.
  */
object Pipeline {

  /** The `POST /upload` path (reference `app/app.py:336-398`): diff the
    * new snapshot against the previous one, emit the event batch.
    */
  def ingest(
      newSnapshot: SnapshotSource.Snapshot,
      prevSnapshot: Option[SnapshotSource.Snapshot],
      companyId: String,
      tableName: String
  ): DataFrame =
    SnapshotDiff.diffAsEvents(
      newSnapshot.df,
      prevSnapshot.map(_.df),
      newSnapshot.keyColumn,
      companyId,
      tableName
    )

  /** Event log -> SCD2 version table (consumer apply path). */
  def applyEvents(eventLog: DataFrame): DataFrame =
    Scd2.apply(eventLog, Seq("company_id", "table_name", "key_value"))

  /** R1 per-metric unpivot export (reference `azuredatalake.py:170-221`):
    * wide snapshot -> long (metric, date, value) with sanitized metric
    * names; written `partitionBy("metric")` instead of file-per-metric.
    * The key alias and the metric name are computed below the unpivot,
    * once per input row; only the numeric coercion runs per output cell.
    */
  def unpivotExport(snapshot: SnapshotSource.Snapshot, metricCol: String): DataFrame = {
    val dateCols = snapshot.df.columns.filterNot(c => c == snapshot.keyColumn || c == metricCol).toSeq
    val perRow = snapshot.df.select(
      col(snapshot.keyColumn).as("key") +: Fns.metricSafeName(col(metricCol)).as("metric") +:
        dateCols.map(col): _*
    )
    Reshape
      .unpivot(perRow, Seq("key", "metric"), dateCols, metricName = "obs_date", valueName = "value")
      .select(col("key"), col("metric"), col("obs_date"), Fns.toNumeric(col("value")).as("value"))
  }

  /** The `POST /upload-zip` bulk path (reference `app/app.py:509-646`,
    * SURVEY.md §3.2): extract every workbook from the zip, read every
    * sheet (header auto-detect, first column renamed METRIC), stamp
    * SECTOR/COMPANY/STATEMENT/FREQUENCY metadata (F5/F6/P8), union all
    * sheets null-filling missing columns (U1).
    */
  def consolidateZip(
      spark: SparkSession,
      zipPath: String,
      workDir: java.nio.file.Path,
      sector: String = "GAS UTILITY"
  ): Option[DataFrame] = {
    val workbooks = sources.Converters.extractEntries(zipPath, workDir, _.endsWith(".xlsx"))
    val sheets = workbooks.flatMap { wb =>
      val file = wb.getFileName.toString
      val company = file.stripSuffix(".xlsx").split("-").head.toUpperCase
      sources.Converters.xlsxToCsv(wb.toString, workDir.resolve("sheets")).map {
        case (sheetName, csv) =>
          val parts = sheetName.split("-")
          val statement = parts.headOption.filter(_.nonEmpty).getOrElse("GENERAL")
          val frequency = if (parts.length > 1) parts.last else "ANNUAL"
          val snap = sources.SnapshotSource.read(spark, csv.toString)
          snap.df
            .withColumnRenamed(snap.keyColumn, "METRIC")
            .withColumn("SECTOR", lit(sector))
            .withColumn("COMPANY", lit(company))
            .withColumn("STATEMENT", lit(statement))
            .withColumn("FREQUENCY", lit(frequency))
      }
    }
    if (sheets.isEmpty) None else Some(sources.SnapshotSource.unionSnapshots(sheets.toSeq))
  }

  /** The anomaly-detection path (reference §3.3): daily event counts,
    * gap-filled, scored with the native rolling z-score.
    */
  def anomalyScan(
      eventLog: DataFrame,
      start: String,
      end: String,
      lookback: Int = 7,
      threshold: Double = 2.0
  ): DataFrame = {
    val daily = eventLog
      .groupBy(
        col("company_id"),
        col("table_name"),
        to_date(col("ts")).as("date")
      )
      .agg(count(lit(1)).cast("double").as("value"))
    // per-(company, table) gap-fill: the key set comes from the tiny
    // aggregated frame, not a second distinct scan over the event log
    val series =
      Analytics.gapFillPerKey(daily, Seq("company_id", "table_name"), start, end)
    Anomaly.score(series, Seq("company_id", "table_name"), lookback = lookback, threshold = threshold)
  }
}

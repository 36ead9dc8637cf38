package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotSource

/** End-to-end replay of the reference's own scenario (SURVEY.md §7.2):
  * two wide financial snapshots -> CDC events -> SCD2 -> current state ==
  * the new snapshot; unpivot export; the chatbot histogram query.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def writeCsv(name: String, lines: String*): String = {
    val dir = Files.createTempDirectory(name)
    val f = dir.resolve(s"$name.csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("upload lifecycle: diff -> events -> scd2 -> current == new snapshot") {
    // wide statement tables keyed on Company (reference shape: 121 cols; here 4)
    val v0 = writeCsv(
      "v0",
      "Company,Metric,2024-12-31,2023-12-31",
      "aep,Cash,100,90",
      "duk,Cash,200,180",
      "nee,Cash,300,270"
    )
    val v1 = writeCsv(
      "v1",
      "Company,Metric,2024-12-31,2023-12-31",
      "aep,Cash,110,90", // update
      "duk,Cash,200,180", // unchanged
      "so,Cash,400,360" // insert; nee deleted
    )
    val s0 = SnapshotSource.read(spark, v0)
    val s1 = SnapshotSource.read(spark, v1)

    val events = Pipeline.ingest(s1, Some(s0), "c1", "balance").cache()
    val byType = events.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(byType === Map("insert" -> 1L, "update" -> 1L, "delete" -> 1L))
    // changes_detected (reference A6)
    assert(events.count() === 3)

    val scd2 = Pipeline.applyEvents(events)
    val current = graft.ops.Scd2.currentState(scd2)
    // current state keys = v1 keys minus nothing (delete removed nee), but
    // unchanged duk never produced an event -> current view covers changed keys;
    // reconstruct full state as v0 minus deletes plus upserts:
    val currentKeys = current.select("key_value").as[String].collect().toSet
    assert(currentKeys === Set("aep", "so"))
    assert(
      current.filter($"key_value" === "aep")
        .select(element_at($"data", "2024-12-31")).as[String].head() === "110"
    )

    // unpivot export: one row per (company, metric-col date)
    val long = Pipeline.unpivotExport(s1, "Metric")
    assert(long.count() === 6) // 3 rows x 2 date cols
    assert(
      long.filter($"key" === "so" && $"obs_date" === "2024-12-31")
        .select("value").as[Double].head() === 400.0
    )

    // chatbot A1 histogram over the event log
    val hist = graft.ops.Analytics.eventHistogram(events)
    assert(hist.filter($"event_type" === "TOTAL").select("n").as[Long].head() === 3L)
  }

  // read from parquet, not a local relation, so the optimizer cannot
  // fold the per-row projection into the input
  private lazy val metricSnapshot = {
    val path = Files.createTempDirectory("metric-snapshot").resolve("s").toString
    Seq(
      ("aep", "Cash (Total)", "100", ""),
      ("aep", "R&D / Other", "n/a", "2.5"),
      ("duk", "Margin %", " ", "-3")
    ).toDF("Company", "Metric", "2024-12-31", "2023-12-31").write.parquet(path)
    SnapshotSource.Snapshot(spark.read.parquet(path), "Company")
  }

  test("unpivot export: sanitized metric names; blank and non-numeric cells are null") {
    val long = Pipeline.unpivotExport(metricSnapshot, "Metric")
    val got = long.as[(String, String, String, Option[Double])].collect().toSet
    assert(got === Set(
      ("aep", "Cash_Total", "2024-12-31", Some(100.0)),
      ("aep", "Cash_Total", "2023-12-31", None),
      ("aep", "RandD_Other", "2024-12-31", None),
      ("aep", "RandD_Other", "2023-12-31", Some(2.5)),
      ("duk", "Margin_pct", "2024-12-31", None),
      ("duk", "Margin_pct", "2023-12-31", Some(-3.0))
    ))
    // the metric name is computed once per input row, below the generator
    val plan = long.queryExecution.executedPlan.toString
    val generate = plan.indexOf("Generate")
    assert(generate >= 0 && plan.indexOf("regexp_replace", generate) > generate, plan)
  }

  test("unpivot export through the metric-partitioned sink: one metric= partition reads back") {
    val dir = Files.createTempDirectory("metrics").resolve("long").toString
    graft.sinks.Sinks.writeMetricPartitioned(Pipeline.unpivotExport(metricSnapshot, "Metric"), dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("metric=")).toSet
    assert(parts === Set("metric=Cash_Total", "metric=RandD_Other", "metric=Margin_pct"))
    val one = spark.read.parquet(s"$dir/metric=RandD_Other")
    assert(one.columns.toSeq === Seq("key", "obs_date", "value"))
    assert(one.as[(String, String, Option[Double])].collect().toSet === Set(
      ("aep", "2024-12-31", None),
      ("aep", "2023-12-31", Some(2.5))
    ))
  }

  test("anomaly scan flags a burst day per (company, table) series") {
    val base = (1 to 29).flatMap { d =>
      val n = if (d == 25) 40 else 2 // burst on day 25
      (1 to n).map(i => (s"e$d-$i", "c1", "t1", java.sql.Timestamp.valueOf(f"2024-01-$d%02d 01:00:00")))
    }
    val log = base.toDF("event_id", "company_id", "table_name", "ts")
    val scored = Pipeline.anomalyScan(log, "2024-01-01", "2024-01-29")
    val flagged = scored
      .filter($"is_anomaly")
      .select(date_format($"date", "yyyy-MM-dd"))
      .as[String].collect()
    assert(flagged.contains("2024-01-25"))
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, TestSession}

/** Ceilings on the Spark jobs one corpus-ingest batch call runs, per
  * surface and per call in a first → steady → replay sequence. A job is
  * a fixed per-batch cost (scheduling, a task wave, a driver round
  * trip) that a small micro-batch pays in full, so a change that adds
  * one to a loop should show up here rather than in a soak run.
  *
  * Each ceiling is a count measured on this fixture and stable across
  * repeated runs; a lower count passes, and lowering a ceiling after a
  * loop sheds a job keeps that job from coming back.
  */
class IngestJobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  // measured on TestSession: local[4], 4 shuffle partitions
  private val ceilings: Map[String, Int] = Map(
    "exact/first" -> 5, "exact/steady" -> 5, "exact/replay" -> 5,
    "span/first" -> 13, "span/steady" -> 14, "span/replay" -> 5,
    "pq/first" -> 9, "pq/steady" -> 7, "pq/replay" -> 3,
    "ivfpq/first" -> 10, "ivfpq/steady" -> 8, "ivfpq/replay" -> 3,
    "curated/first" -> 16, "curated/steady" -> 29, "curated/replay" -> 1,
    "neardup/first" -> 20, "neardup/steady" -> 28, "neardup/replay" -> 35)

  /** Counts the jobs of each named call, in order, then checks them. */
  private def check(surface: String)(calls: (String, () => Any)*): Unit = {
    val counts = calls.map { case (name, call) => name -> JobCount(spark)(call())._2 }
    counts.foreach { case (name, n) => info(s"$surface/$name: $n jobs") }
    val over = counts.collect {
      case (name, n) if ceilings.get(s"$surface/$name").exists(n > _) =>
        s"$surface/$name ran $n jobs, ceiling ${ceilings(s"$surface/$name")}"
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")

  private def vecs(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => pmod(xxhash64($"id", d.cast("long")), lit(1000L)).cast("double") / 500.0 - 1.0)
        .as("embedding"))

  test("exact ingest jobs per batch") {
    val tmp = Files.createTempDirectory("jobs_exact").toString
    def run(b: DataFrame) = CorpusIngest.ingestBatch(b, s"$tmp/c", s"$tmp/bloom", 1000L)
    check("exact")(
      "first" -> (() => run(docs(0 until 6))),
      "steady" -> (() => run(docs(6 until 12))),
      "replay" -> (() => run(docs(6 until 12))))
  }

  test("span ingest jobs per batch") {
    val tmp = Files.createTempDirectory("jobs_span").toString
    val idx = "jobs_span_gram_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    def run(b: DataFrame) = CorpusIngest.ingestSpanBatch(
      b, s"$tmp/c", idx, gramTokens = 4, idBloomPath = Some(s"$tmp/bloom"))
    check("span")(
      "first" -> (() => run(docs(0 until 6))),
      "steady" -> (() => run(docs(6 until 12))),
      "replay" -> (() => run(docs(6 until 12))))
    spark.sql(s"DROP TABLE $idx")
  }

  test("PQ codes ingest jobs per batch") {
    val tmp = Files.createTempDirectory("jobs_pq").toString
    val idx = "jobs_pq_idx"
    Seq(idx, s"${idx}__codebooks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.ops.Similarity.writePqIndex(vecs(0, 64), "embedding", "vec_id", idx,
      dim = 8, m = 4, kCodes = 4, lloydIters = 1)
    def run(b: DataFrame) = CorpusIngest.ingestPqBatch(b, idx, bloomPath = Some(s"$tmp/bloom"))
    check("pq")(
      "first" -> (() => run(vecs(64, 96))),
      "steady" -> (() => run(vecs(96, 128))),
      "replay" -> (() => run(vecs(96, 128))))
    Seq(idx, s"${idx}__codebooks").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("IVF-PQ codes ingest jobs per batch") {
    val tmp = Files.createTempDirectory("jobs_ivfpq").toString
    val idx = "jobs_ivfpq_idx"
    graft.ops.Similarity.writeIvfPqIndex(vecs(0, 64), "embedding", "vec_id", idx,
      dim = 8, nCells = 4, m = 4, kCodes = 4, lloydIters = 1)
    def run(b: DataFrame) = CorpusIngest.ingestIvfPqBatch(
      b, idx, bloomPath = Some(s"$tmp/bloom"), compactFanout = 16)
    check("ivfpq")(
      "first" -> (() => run(vecs(64, 96))),
      "steady" -> (() => run(vecs(96, 128))),
      "replay" -> (() => run(vecs(96, 128))))
    spark.sql(s"DROP TABLE $idx")
  }

  test("curated ingest jobs per batch") {
    val tmp = Files.createTempDirectory("jobs_curated").toString
    def run(b: DataFrame, id: Long) = CorpusIngest.ingestCuratedBatch(
      b, id, s"$tmp/c", s"$tmp/bloom", s"$tmp/model",
      minQuality = 0.3, maxAvgNll = 50.0, nBuckets = 1024, warmupGrams = 10L,
      expectedItems = 10000L)
    check("curated")(
      "first" -> (() => run(docs(0 until 6), 0L)),
      "steady" -> (() => run(docs(6 until 12), 1L)),
      "replay" -> (() => run(docs(6 until 12), 1L)))
  }

  test("text near-dup ingest jobs per batch") {
    val tmp = Files.createTempDirectory("jobs_neardup").toString
    val idx = "jobs_neardup_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    def run(b: DataFrame) = CorpusIngest.ingestNearDupBatch(
      b, s"$tmp/c", idx, compactFanout = 0, idBloomPath = Some(s"$tmp/bloom"))
    check("neardup")(
      "first" -> (() => run(docs(0 until 6))),
      "steady" -> (() => run(docs(6 until 12))),
      "replay" -> (() => run(docs(6 until 12))))
    spark.sql(s"DROP TABLE $idx")
  }
}

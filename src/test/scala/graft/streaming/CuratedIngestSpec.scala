package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Pins for the curation-gated streaming corpus loop
  * ([[CorpusIngest.ingestCuratedBatch]]): cold-start warmup (quality
  * gate only), warmed perplexity gate dropping token salad, full
  * redelivery as a strict marker no-op (corpus AND model), the
  * documented stream-fit model semantic on resubmission, quality-fail
  * docs never reaching the corpus, the at-rest boilerplate model
  * driving stage 0 once warm, and the corpus-appended-but-model-
  * uncommitted crash window converging to the clean run's state.
  */
class CuratedIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def good(id: Long, tag: String) =
    (id, s"the quick brown fox jumps over the lazy dog $tag")

  /** The curated ledger's stage counts (its `extra`). */
  private def stages(
      input: Long, boilerPass: Long, qualityPass: Long, gated: Long, replayed: Long = 0L
  ): Map[String, Long] =
    Map("input" -> input, "boilerPass" -> boilerPass, "qualityPass" -> qualityPass,
      "gated" -> gated, "replayed" -> replayed)

  private def ledger(kept: Long, extra: Map[String, Long], replays: Long = 0L) =
    CorpusIngest.IngestLedger(kept, dropped = 0L, replays = replays, rejected = 0L, extra)

  /** Model table as a comparable map: (kind, bucket, seg) -> n. */
  private def modelMap(path: String): Map[(String, Long, String), Long] =
    spark.read.parquet(path).collect().map { r =>
      (r.getAs[String]("kind"), r.getAs[Long]("bucket"), r.getAs[String]("seg")) ->
        r.getAs[Long]("n")
    }.toMap

  private def copyTree(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }

  private def rmTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
  }

  test("gates, warmup, replay no-op, stream-fit model semantics") {
    val tmp = Files.createTempDirectory("curated").toString
    val (corpus, bloom, model) = (s"$tmp/corpus", s"$tmp/bloom", s"$tmp/model")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      CorpusIngest.ingestCuratedBatch(
        batch, id, corpus, bloom, model,
        minQuality = 0.5, maxAvgNll = 6.0, nBuckets = 1024,
        warmupGrams = 50L, expectedItems = 10000L)

    // batch 0 (cold): 40 good docs + 1 spam doc. Perplexity gate is
    // skipped (model empty) — only the quality gate runs; stage 0 has
    // no frequent segments yet (pure normalization pass).
    val b0 = ((1L to 40L).map(i => good(i, s"tok$i")) :+
      (90L, Seq.fill(10)("spam").mkString(" "))).toDF("doc_id", "text")
    val s0 = run(b0, 0L)
    assert(s0 === ledger(40L, stages(41L, 41L, 40L, 40L)))
    assert(spark.read.parquet(corpus).count() === 40L)
    val model0 = modelMap(model)
    // one keyed table carries both model kinds: surprisal counts (null
    // seg) AND boiler segment counts (raw pre-gate input — the spam
    // doc's segments count too)
    assert(model0.keys.exists(_._1 == "ctx"))
    assert(model0.keys.exists(_._1 == "boiler"))
    assert(model0.exists { case ((k, _, s), n) =>
      k == "boiler" && s == "the quick brown fox jumps over the lazy" && n == 40L
    })
    assert(model0.keys.filter(_._1 == "boiler").forall(_._3 != null))
    assert(model0.keys.filterNot(_._1 == "boiler").forall(_._3 == null))

    // batch 1 (warm): a fresh good doc passes both gates; token salad
    // passes quality (distinct words) but dies at the perplexity gate
    val b1 = Seq(good(50L, "tokNEW"), (91L, "zxq1 wvy2 rrt3 pps4 kkm5 lln6 oop7 qqr8 sst9 uuv0"))
      .toDF("doc_id", "text")
    val s1 = run(b1, 1L)
    assert(s1 === ledger(1L, stages(2L, 2L, 2L, 1L)))
    assert(spark.read.parquet(corpus).count() === 41L)
    val model1 = modelMap(model)
    assert(model1.values.sum > model0.values.sum)

    // full redelivery of batch 1: the model marker (which commits LAST)
    // proves the batch fully ran, so the redelivery is a whole-batch
    // no-op — gates are NOT re-evaluated (re-gating against the model
    // that now includes batch 1's own counts could derive a DIFFERENT
    // set and append docs a clean run never kept), corpus and model
    // stay untouched
    val s1r = run(b1, 1L)
    assert(s1r === ledger(0L, stages(0L, 0L, 0L, 0L, replayed = 1L)))
    assert(spark.read.parquet(corpus).count() === 41L)
    assert(modelMap(model) === model1)

    // batch 2 resubmits an already-ingested doc: corpus keeps one copy,
    // but the stream-fit model counts it again (documented trade)
    val s2 = run(Seq(good(60L, "tok1")).toDF("doc_id", "text"), 2L)
    assert(s2.extra("gated") === 1L)
    assert(s2 === ledger(0L, stages(1L, 1L, 1L, 1L), replays = 1L))
    assert(spark.read.parquet(corpus).count() === 41L) // same text as doc 1
    val model2 = modelMap(model)
    assert(model2.values.sum > model1.values.sum)

    // late redelivery of batch 0 (the ADVICE r10 window: model committed
    // and long since warm, checkpoint lost): under gate re-evaluation
    // the perplexity gate — skipped cold — would now run; the marker
    // makes it a no-op instead
    val corpusBefore = spark.read.parquet(corpus).collect().toSet
    val s0r = run(b0, 0L)
    assert(s0r.extra("replayed") === 1L && s0r.extra("gated") === 0L)
    assert(spark.read.parquet(corpus).collect().toSet === corpusBefore)
    assert(modelMap(model) === model2)

    // quality-fail text never reached the corpus at any point
    assert(spark.read.parquet(corpus).filter(col("text").contains("spam")).count() === 0L)
  }

  test("stage 0: a warm boiler model strips frequent segments before the corpus append") {
    val tmp = Files.createTempDirectory("curated_boiler").toString
    val (corpus, bloom, model) = (s"$tmp/corpus", s"$tmp/bloom", s"$tmp/model")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      CorpusIngest.ingestCuratedBatch(
        batch, id, corpus, bloom, model,
        minQuality = 0.3, maxAvgNll = 50.0, nBuckets = 1024,
        warmupGrams = 1000000L, // ppl gate stays off: isolate stage 0
        expectedItems = 10000L, segTokens = 2, minDocsBoiler = 3)

    // batch 0: 5 docs share the 2-token header; cold model -> appended
    // WITH the header, but the model now records ("begin legal", 5)
    val b0 = (1L to 5L)
      .map(i => (i, s"begin legal unique body number$i words"))
      .toDF("doc_id", "text")
    val s0 = run(b0, 0L)
    assert(s0 === ledger(5L, stages(5L, 5L, 5L, 5L)))
    assert(
      spark.read.parquet(corpus).filter(col("text").startsWith("begin legal")).count() === 5L)

    // batch 1: header now frequent (5 >= 3) -> stripped before append;
    // a pure-header doc dies at stage 0
    val b1 = Seq(
      (10L, "begin legal totally fresh content here"),
      (11L, "begin legal")
    ).toDF("doc_id", "text")
    val s1 = run(b1, 1L)
    assert(s1 === ledger(1L, stages(2L, 1L, 1L, 1L)))
    val doc10 = spark.read.parquet(corpus)
      .filter(col("doc_id") === 10L).head().getAs[String]("text")
    assert(doc10 === "totally fresh content here")
  }

  test("stage 0 CMS mode: bounded boilcms cells drive the strip like the exact model") {
    val tmp = Files.createTempDirectory("curated_cms").toString
    val (corpus, bloom, model) = (s"$tmp/corpus", s"$tmp/bloom", s"$tmp/model")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      CorpusIngest.ingestCuratedBatch(
        batch, id, corpus, bloom, model,
        minQuality = 0.3, maxAvgNll = 50.0, nBuckets = 1024,
        warmupGrams = 1000000L, expectedItems = 10000L,
        segTokens = 2, minDocsBoiler = 3, boilerCmsWidth = 4096)

    val b0 = (1L to 5L)
      .map(i => (i, s"begin legal unique body number$i words"))
      .toDF("doc_id", "text")
    assert(run(b0, 0L) === ledger(5L, stages(5L, 5L, 5L, 5L)))
    // the model holds BOUNDED cells, not segments: every boilcms bucket
    // is inside depth*width and there are no exact-segment rows
    val cells = spark.read.parquet(model).filter(col("kind") === "boilcms")
    assert(cells.count() > 0)
    assert(spark.read.parquet(model).filter(col("kind") === "boiler").count() === 0L)
    val maxBucket = cells.agg(max(col("bucket"))).head().getLong(0)
    assert(maxBucket < CorpusIngest.CmsDepth.toLong * 4096)

    val b1 = Seq(
      (10L, "begin legal totally fresh content here"),
      (11L, "begin legal")
    ).toDF("doc_id", "text")
    val s1 = run(b1, 1L)
    assert(s1 === ledger(1L, stages(2L, 1L, 1L, 1L)))
    val doc10 = spark.read.parquet(corpus)
      .filter(col("doc_id") === 10L).head().getAs[String]("text")
    assert(doc10 === "totally fresh content here")
  }

  test("crash window: corpus appended, model uncommitted -> redelivery converges to clean state") {
    val tmp = Files.createTempDirectory("curated_crash").toString
    val (corpus, bloom, model) = (s"$tmp/corpus", s"$tmp/bloom", s"$tmp/model")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      CorpusIngest.ingestCuratedBatch(
        batch, id, corpus, bloom, model,
        minQuality = 0.5, maxAvgNll = 6.0, nBuckets = 1024,
        warmupGrams = 50L, expectedItems = 10000L)

    val b0 = (1L to 30L).map(i => good(i, s"tok$i")).toDF("doc_id", "text")
    run(b0, 0L)
    val preModel = Files.createTempDirectory("model_pre")
    copyTree(Paths.get(model), preModel)

    // clean run of batch 1, then rewind the MODEL ONLY to its pre-batch
    // state — exactly the crash window between the corpus append and
    // the model swap (corpus has batch 1's docs, model/marker do not)
    val b1 = Seq(good(40L, "tokA"), good(41L, "tokB")).toDF("doc_id", "text")
    run(b1, 1L)
    val cleanCorpus = spark.read.parquet(corpus).collect().toSet
    val cleanModel = modelMap(model)
    rmTree(Paths.get(model))
    copyTree(preModel, Paths.get(model))
    assert(modelMap(model) !== cleanModel) // the rewind really happened

    // redelivery: gates re-derive against the as-of-batch-start model
    // (unchanged by construction), the per-doc idempotent append adds
    // nothing, and the model commit completes — final state identical
    // to the uninterrupted run
    val s1r = run(b1, 1L)
    assert(s1r.extra("replayed") === 0L && s1r.extra("gated") === 2L)
    assert(spark.read.parquet(corpus).collect().toSet === cleanCorpus)
    assert(modelMap(model) === cleanModel)
  }

  test("torn first model write: the gates read no model, not the uncommitted counts") {
    val tmp = Files.createTempDirectory("curated_torn").toString
    val (corpus, bloom, model) = (s"$tmp/corpus", s"$tmp/bloom", s"$tmp/model")
    // a first model write that crashed before its _batch marker: a ctx
    // mass far past warmup would arm the perplexity gate
    Seq(("ctx", 0L, null: String, 1000000L)).toDF("kind", "bucket", "seg", "n")
      .coalesce(1).write.parquet(s"$model.new")
    val b0 = (1L to 30L).map(i => good(i, s"tok$i")).toDF("doc_id", "text")
    val s0 = CorpusIngest.ingestCuratedBatch(
      b0, 0L, corpus, bloom, model,
      minQuality = 0.5, maxAvgNll = 6.0, nBuckets = 1024,
      warmupGrams = 50L, expectedItems = 10000L)
    // cold start, as with no model at all: only the quality gate runs
    assert(s0.extra("replayed") === 0L && s0.extra("gated") === s0.extra("qualityPass") &&
      s0.extra("gated") > 0L)
    assert(!modelMap(model).get(("ctx", 0L, null)).contains(1000000L))
  }

  test("streamed loop: start hands each batch the stream's batch id; a restart on the " +
    "same checkpoint leaves corpus, model and ledgers equal to the batch-mode run") {
    val tmp = Files.createTempDirectory("curated_stream").toString
    val src = s"$tmp/src"
    def run(dir: String)(batch: org.apache.spark.sql.DataFrame, id: Long) =
      CorpusIngest.ingestCuratedBatch(
        batch, id, s"$dir/corpus", s"$dir/bloom", s"$dir/model",
        minQuality = 0.5, maxAvgNll = 6.0, nBuckets = 1024,
        warmupGrams = 50L, expectedItems = 10000L)
    val b0 = ((1L to 40L).map(i => good(i, s"tok$i")) :+
      (90L, Seq.fill(10)("spam").mkString(" "))).toDF("doc_id", "text")
    val b1 = Seq(good(50L, "tokNEW"), (91L, "zxq1 wvy2 rrt3 pps4 kkm5 lln6 oop7 qqr8 sst9 uuv0"),
      good(60L, "tok1")).toDF("doc_id", "text")

    // batch 0 through one query, batch 1 through a NEW query on the SAME
    // checkpoint: the stream numbers them 0 and 1, the model markers
    val seen = scala.collection.mutable.ArrayBuffer.empty[CorpusIngest.IngestLedger]
    def stream(): Unit = {
      val q = CorpusIngest.start(CorpusIngest.fileDocStream(spark, src), s"$tmp/ckpt",
        s => seen.synchronized { seen += s; () })(run(s"$tmp/s"))
      try q.processAllAvailable() finally q.stop()
    }
    b0.coalesce(1).write.mode("append").parquet(src)
    stream()
    b1.coalesce(1).write.mode("append").parquet(src)
    stream()

    val batched = Seq(run(s"$tmp/b")(b0, 0L), run(s"$tmp/b")(b1, 1L))
    assert(seen.synchronized(seen.toList) === batched)
    // batch 1 ran warm: the perplexity gate dropped the token salad
    assert(batched.map(_.extra("gated")) === Seq(40L, 2L))
    def corpusRows(dir: String) =
      spark.read.parquet(s"$dir/corpus").select("doc_id", "text").as[(Long, String)]
        .collect().toSet
    assert(corpusRows(s"$tmp/s") === corpusRows(s"$tmp/b"))
    assert(corpusRows(s"$tmp/s").size === 41)
    assert(modelMap(s"$tmp/s/model") === modelMap(s"$tmp/b/model"))
    assert(SketchIngest.readCommitted(spark, s"$tmp/s/model").map(_._1) === Some(1L))
  }
}

package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** The r19 bloom-fronted corpus-ID gate (VERDICT r18 #3): the non-exact
  * ingest surfaces confirmed replays/orphans with an id-column scan of
  * the WHOLE corpus every micro-batch; the gate fronts that scan with a
  * stored bloom so the steady no-replay state never reads the corpus,
  * while bloom-positives keep today's exact anti-join confirm.
  *
  * The no-read pin is FUNCTIONAL, not plan-string: the corpus directory
  * is replaced with bytes that make any `spark.read.parquet` of it fail
  * loudly, then a no-replay batch (including an unshingleable doc — the
  * row class whose idempotence check is exactly the corpus anti-join)
  * must ingest successfully. Pre-gate, that same batch scanned the
  * corpus unconditionally.
  */
class CorpusIdGateSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def poisonParquetDir(dir: String): Map[String, Array[Byte]] = {
    // keep every parquet file's bytes for restore, then replace them
    // with garbage — any scan of the directory now throws
    val d = Paths.get(dir)
    val files = Files.list(d).toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty, s"expected parquet files under $dir")
    val saved = files.map(f => f -> Files.readAllBytes(Paths.get(f))).toMap
    files.foreach(f => Files.write(Paths.get(f), "not a parquet file".getBytes))
    saved
  }

  private def restoreParquetDir(saved: Map[String, Array[Byte]]): Unit =
    saved.foreach { case (f, bytes) => Files.write(Paths.get(f), bytes) }

  test("near-dup text ingest with an id bloom: a no-replay batch (incl. an " +
    "unshingleable doc) never reads the corpus; redeliveries stay exact; ledgers " +
    "match the bloom-less path batch for batch") {
    val tmp = Files.createTempDirectory("idgate_nd").toString
    val bp = Some(s"$tmp/ids.bloom")
    def ingest(batch: org.apache.spark.sql.DataFrame, corpus: String, idx: String,
               bloom: Option[String]) =
      CorpusIngest.ingestNearDupBatch(batch, corpus, idx, idBloomPath = bloom)

    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two") // unshingleable at shingleSize 3
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (3L, "completely different fresh text with many tokens inside"),
      (4L, "hi yo") // fresh unshingleable — pre-gate this forced a corpus scan
    ).toDF("doc_id", "text")

    // bloomed and bloom-less loops side by side: ledgers must agree
    val s1b = ingest(b1, s"$tmp/cb", "idgate_nd_b", bp)
    val s1p = ingest(b1, s"$tmp/cp", "idgate_nd_p", None)
    assert((s1b.kept, s1b.dropped, s1b.replays, s1b.rejected) ===
      ((s1p.kept, s1p.dropped, s1p.replays, s1p.rejected)))

    // poison the bloomed corpus: any scan of it now fails loudly
    val saved = poisonParquetDir(s"$tmp/cb")
    val s2b = ingest(b2, s"$tmp/cb", "idgate_nd_b", bp)
    assert((s2b.kept, s2b.replays, s2b.rejected) === ((2L, 0L, 0L)),
      "a no-replay batch must ingest without touching the corpus bytes")
    // restore the poisoned files so later reads see real parquet again
    restoreParquetDir(saved)
    val s2p = ingest(b2, s"$tmp/cp", "idgate_nd_p", None)
    assert((s2b.kept, s2b.dropped, s2b.replays) === ((s2p.kept, s2p.dropped, s2p.replays)))

    // redelivery of b2: the unshingleable doc is bloom-POSITIVE now and
    // must take the exact confirm (replay, no re-append) — both loops
    // read identically
    val s3b = ingest(b2, s"$tmp/cb", "idgate_nd_b", bp)
    val s3p = ingest(b2, s"$tmp/cp", "idgate_nd_p", None)
    assert((s3b.kept, s3b.dropped, s3b.replays, s3b.rejected) ===
      ((s3p.kept, s3p.dropped, s3p.replays, s3p.rejected)))
    assert(s3b.replays === 2L)
    // doc 1 replays via the index; doc 2's restored fingerprint rides in
    // the restored file — corpus contents equal across the two loops
    def ids(p: String) =
      spark.read.parquet(p).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(s"$tmp/cb") === ids(s"$tmp/cp"))
    Seq("idgate_nd_b", "idgate_nd_p").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("span ingest with a fingerprint bloom: steady-state fresh batches skip the " +
    "corpus read; adoption seeds the filter from a pre-bloom corpus") {
    val tmp = Files.createTempDirectory("idgate_sp").toString
    val bp = Some(s"$tmp/fp.bloom")
    val b1 = Seq((1L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val b2 = Seq((2L, "eleven twelve thirteen fourteen fifteen sixteen seventeen"))
      .toDF("doc_id", "text")

    // corpus built WITHOUT a bloom (the pre-bloom estate)...
    val s1 = CorpusIngest.ingestSpanBatch(b1, s"$tmp/c", "idgate_gram_idx")
    assert(s1.kept === 1L)
    // ...then the bloom is enabled mid-life: the first update ADOPTS the
    // existing fingerprints, so a pre-bloom doc's redelivery stays a replay
    val s2 = CorpusIngest.ingestSpanBatch(b2, s"$tmp/c", "idgate_gram_idx",
      idBloomPath = bp)
    assert(s2.kept === 1L)
    val s3 = CorpusIngest.ingestSpanBatch(b1, s"$tmp/c", "idgate_gram_idx",
      idBloomPath = bp)
    assert((s3.kept, s3.replays) === ((0L, 1L)),
      "a pre-bloom doc must replay through the adopted filter, never re-append")

    // steady state: a fresh batch against the poisoned corpus must pass
    val saved = poisonParquetDir(s"$tmp/c")
    val b3 = Seq((9L, "brand new totally fresh words never seen before anywhere"))
      .toDF("doc_id", "text")
    val s4 = CorpusIngest.ingestSpanBatch(b3, s"$tmp/c", "idgate_gram_idx",
      idBloomPath = bp)
    assert((s4.kept, s4.replays) === ((1L, 0L)),
      "a fresh batch must ingest without touching the corpus bytes")
    restoreParquetDir(saved)
    assert(spark.read.parquet(s"$tmp/c").count() === 3L)
    spark.sql("DROP TABLE idgate_gram_idx")
  }

  test("exact ingest: an all-bloom-negative batch reads no corpus file; a replay " +
    "of it is confirmed against the corpus") {
    val tmp = Files.createTempDirectory("idgate_ex").toString
    val (corpus, bloom) = (s"$tmp/c", s"$tmp/ex.bloom")
    CorpusIngest.ingestBatch(Seq((1L, "first text")).toDF("doc_id", "text"), corpus, bloom, 1000L)
    val saved = poisonParquetDir(corpus)
    val fresh = Seq((2L, "second text"), (3L, "third text")).toDF("doc_id", "text")
    CorpusIngest.ingestBatch(fresh, corpus, bloom, 1000L)
    restoreParquetDir(saved)
    CorpusIngest.ingestBatch(fresh, corpus, bloom, 1000L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("PQ codes ingest: an all-bloom-negative batch reads no index file") {
    import graft.ops.Similarity
    val tmp = Files.createTempDirectory("idgate_pq").toString
    val bp = Some(s"$tmp/pq.bloom")
    val idx = "idgate_pq_idx"
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    Similarity.writePqIndex(emb.filter($"vec_id" < 100), "embedding", "vec_id", idx, dim = 64,
      m = 8, kCodes = 32, lloydIters = 1)
    CorpusIngest.ingestPqBatch(emb.filter($"vec_id" >= 100 && $"vec_id" < 150), idx, bloomPath = bp)
    // the codes table's files only: the frozen codebooks the append
    // encodes with live in their own table
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(idx)).location.getPath
    val saved = poisonParquetDir(loc)
    val s = CorpusIngest.ingestPqBatch(
      emb.filter($"vec_id" >= 150 && $"vec_id" < 200), idx, bloomPath = bp)
    restoreParquetDir(saved)
    assert(s === CorpusIngest.IngestLedger(kept = 50L, dropped = 0L, replays = 0L, rejected = 0L))
    assert(spark.table(idx).count() === 200L)
    spark.sql(s"DROP TABLE $idx")
  }

  test("over-claiming direction: a bloom updated whose corpus append crashed only " +
    "costs the exact confirm — rows still ingest, nothing is silently dropped") {
    val tmp = Files.createTempDirectory("idgate_oc").toString
    val bp = Some(s"$tmp/oc.bloom")
    // batch 1 establishes corpus + bloom
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    CorpusIngest.ingestNearDupBatch(b1, s"$tmp/c", "idgate_oc_idx", idBloomPath = bp)
    // simulate the crash window: the gate's update ran for ids {8, 9}
    // but their corpus append never did
    val gate = new CorpusIngest.CorpusIdGate(
      spark, CorpusIngest.corpusIds(spark, s"$tmp/c")(_.select("doc_id")), "doc_id", bp, 1000000L)
    gate.update(Seq(8L, 9L).toDF("doc_id"))
    // their delivery now: bloom-positive, exact confirm says ABSENT —
    // the batch must keep them (an under-claiming direction would have
    // dropped them silently)
    val b2 = Seq(
      (8L, "first crash window doc with enough tokens to shingle fine"),
      (9L, "xy zz") // unshingleable: the corpus-anti path itself
    ).toDF("doc_id", "text")
    val s = CorpusIngest.ingestNearDupBatch(b2, s"$tmp/c", "idgate_oc_idx",
      idBloomPath = bp)
    assert((s.kept, s.replays) === ((2L, 0L)))
    assert(spark.read.parquet(s"$tmp/c").count() === 3L)
    spark.sql("DROP TABLE idgate_oc_idx")
  }
}

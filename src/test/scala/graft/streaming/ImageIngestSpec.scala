package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.{Dedup, ImageHash, Multimodal}

/** Streaming perceptual-image dedup ingest: in-batch keeper, index
  * probe (near-dup vs replay), replay idempotence including the
  * undecodable-row hole, and the file-backed streaming loop.
  */
class ImageIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  // synth ids: {0, 97, 194} are class 0 (mutual near-dups, hamming <= 1);
  // {1} and {2} are their own classes
  private def synth(ids: Seq[Long]) =
    Multimodal.synthGrayImages(ids.toDF("doc_id"), "doc_id")

  private def corpusIds(path: String): Set[Long] =
    spark.read.parquet(path).select($"doc_id").as[Long].collect().toSet

  test("ingest: in-batch keeper, index probe, replay + undecodable idempotence") {
    val tmp = Files.createTempDirectory("imgingest").toString
    val corpus = s"$tmp/corpus"
    spark.sql("DROP TABLE IF EXISTS img_ingest_idx")

    // batch 1: 0 and 97 are near-dups (keep min id 0); 1 is fresh
    val s1 = ImageIngest.ingestImageBatch(synth(Seq(0L, 97L, 1L)), corpus, "img_ingest_idx")
    assert((s1.kept, s1.dropped, s1.replays) === ((2L, 1L, 0L)))
    assert(corpusIds(corpus) === Set(0L, 1L))

    // batch 2: 194 is a near-dup of indexed 0; 0 is a replay; 2 is
    // fresh; 999 is undecodable (passes to the corpus, never the index)
    val b2 = synth(Seq(194L, 0L, 2L))
      .unionByName(Seq((999L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "media"))
    val s2 = ImageIngest.ingestImageBatch(b2, corpus, "img_ingest_idx")
    assert((s2.kept, s2.dropped, s2.replays) === ((2L, 1L, 1L)))
    assert(corpusIds(corpus) === Set(0L, 1L, 2L, 999L))
    // the index holds only decodable keepers
    assert(spark.table("img_ingest_idx").select($"doc_id").distinct()
      .as[Long].collect().toSet === Set(0L, 1L, 2L))

    // full redelivery of batch 2: corpus and index unchanged — the
    // undecodable row must NOT double (the corpus anti-join path)
    val s3 = ImageIngest.ingestImageBatch(b2, corpus, "img_ingest_idx")
    assert(s3.replays === 3L,
      "0 and 2 find their indexed copies; the corpus holds undecodable 999")
    assert(s3.kept === 0L)
    assert(corpusIds(corpus) === Set(0L, 1L, 2L, 999L))
    assert(spark.read.parquet(corpus).count() === 4L, "no duplicate rows after replay")
    spark.sql("DROP TABLE img_ingest_idx")
  }

  // pHash-family variants (round 16 — verdict r15 #4): the SAME ingest
  // protocol parameterized by ImageHash.PHash256; 68×64 wide synth so
  // the 17×16 grid has whole pixel blocks
  private def synthWide(ids: Seq[Long]) =
    Multimodal.synthGrayImagesWide(ids.toDF("doc_id"), "doc_id")

  test("pHash family: keeper/probe/replay protocol against the pHash index; " +
    "a dHash ingest pointed at it fails closed") {
    val tmp = Files.createTempDirectory("imgingestp").toString
    val corpus = s"$tmp/corpus"
    spark.sql("DROP TABLE IF EXISTS img_phash_ingest_idx")

    val s1 = ImageIngest.ingestImageBatch(
      synthWide(Seq(0L, 97L, 1L)), corpus, "img_phash_ingest_idx", ImageHash.PHash256)
    assert((s1.kept, s1.dropped, s1.replays) === ((2L, 1L, 0L)))
    assert(corpusIds(corpus) === Set(0L, 1L))

    val b2 = synthWide(Seq(194L, 0L, 2L))
      .unionByName(Seq((999L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "media"))
    val s2 = ImageIngest.ingestImageBatch(b2, corpus, "img_phash_ingest_idx",
      ImageHash.PHash256)
    assert((s2.kept, s2.dropped, s2.replays) === ((2L, 1L, 1L)))
    assert(corpusIds(corpus) === Set(0L, 1L, 2L, 999L))
    assert(spark.table("img_phash_ingest_idx").select($"doc_id").distinct()
      .as[Long].collect().toSet === Set(0L, 1L, 2L))

    // full redelivery: corpus and index unchanged
    val s3 = ImageIngest.ingestImageBatch(b2, corpus, "img_phash_ingest_idx",
      ImageHash.PHash256)
    assert(s3.replays === 3L)
    assert(s3.kept === 0L)
    assert(spark.read.parquet(corpus).count() === 4L)

    // fail closed: the dHash family probing this pHash index must
    // error (max(band) data pin 7 vs the 4-band dHash contract), not
    // silently miss near-dups
    val e = intercept[Exception] {
      ImageIngest.ingestImageBatch(synthWide(Seq(3L)), corpus, "img_phash_ingest_idx")
    }
    assert(e.getMessage.toLowerCase.contains("band"), e.getMessage)
    // ...and the pHash family probing a dHash index fails the same way
    spark.sql("DROP TABLE IF EXISTS img_cross_didx")
    ImageIngest.ingestImageBatch(synth(Seq(0L)), s"$tmp/dcorpus", "img_cross_didx")
    val e2 = intercept[Exception] {
      ImageIngest.ingestImageBatch(
        synthWide(Seq(1L)), s"$tmp/dcorpus", "img_cross_didx", ImageHash.PHash256)
    }
    assert(e2.getMessage.toLowerCase.contains("band"), e2.getMessage)
    spark.sql("DROP TABLE img_phash_ingest_idx")
    spark.sql("DROP TABLE img_cross_didx")
  }

  test("pHash family streaming loop == batch protocol") {
    val tmp = Files.createTempDirectory("imgstreamp").toString
    val (corpus, src) = (s"$tmp/corpus", s"$tmp/src")
    spark.sql("DROP TABLE IF EXISTS img_phash_stream_idx")
    val b1 = synthWide(Seq(0L, 97L, 1L))
    b1.write.parquet(src)
    val q = CorpusIngest.start(spark.readStream.schema(b1.schema).parquet(src), s"$tmp/ckpt")(
      (b, _) => ImageIngest.ingestImageBatch(b, corpus, "img_phash_stream_idx", ImageHash.PHash256))
    try {
      q.processAllAvailable()
      assert(corpusIds(corpus) === Set(0L, 1L))
      synthWide(Seq(194L, 2L)).write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(corpusIds(corpus) === Set(0L, 1L, 2L))
      val hits =
        Dedup.incrementalImageHashDups(ImageHash.PHash256)(spark, synthWide(Seq(97L * 3)), "img_phash_stream_idx")
      assert(hits.select($"i").as[Long].collect().toSet === Set(0L))
    } finally q.stop()
    spark.sql("DROP TABLE img_phash_stream_idx")
  }

  test("crash between index append and corpus append heals on replay") {
    val tmp = Files.createTempDirectory("imgcrash").toString
    val corpus = s"$tmp/corpus"
    spark.sql("DROP TABLE IF EXISTS img_crash_idx")
    // 0 and 97 are near-dups (keeper 0); 1 is fresh; 999 is undecodable
    val batch = synth(Seq(0L, 97L, 1L))
      .unionByName(Seq((999L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "media"))

    ImageIngest.ingestImageBatch(batch, corpus, "img_crash_idx")
    assert(corpusIds(corpus) === Set(0L, 1L, 999L))
    // simulate the crash window: index appended, corpus append lost
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(new java.io.File(corpus))
    val idxRows = spark.table("img_crash_idx").count()

    // replay: the indexed keepers are same-id hits the corpus cannot
    // confirm -> they append to the CORPUS only; the undecodable row is
    // absent from the corpus, so it appends again as a keep
    val s = ImageIngest.ingestImageBatch(batch, corpus, "img_crash_idx")
    assert((s.kept, s.dropped, s.replays) === ((1L, 1L, 2L)))
    assert(corpusIds(corpus) === Set(0L, 1L, 999L))
    assert(spark.read.parquet(corpus).count() === 3L)
    assert(spark.table("img_crash_idx").count() === idxRows)

    // third delivery with everything intact: appends nothing anywhere
    val s3 = ImageIngest.ingestImageBatch(batch, corpus, "img_crash_idx")
    assert((s3.kept, s3.dropped, s3.replays) === ((0L, 1L, 3L)))
    assert(spark.read.parquet(corpus).count() === 3L)
    assert(spark.table("img_crash_idx").count() === idxRows)
    spark.sql("DROP TABLE img_crash_idx")
  }

  test("duplicate doc_ids with different bytes: indexed hash matches the STORED media; " +
    "null doc_ids are excluded by contract") {
    val tmp = Files.createTempDirectory("imgdet").toString
    val corpus = s"$tmp/corpus"
    spark.sql("DROP TABLE IF EXISTS img_det_idx")
    // two different images both claiming doc_id 5, plus an id-less row
    val copyA = synth(Seq(5L))
    val copyB = synth(Seq(7L)).withColumn("doc_id", lit(5L))
    val idless = synth(Seq(8L)).withColumn("doc_id", lit(null).cast("long"))
    val s = ImageIngest.ingestImageBatch(
      copyA.unionByName(copyB).unionByName(idless), corpus, "img_det_idx")
    // LEDGER (round 17 — ADVICE r16): the two contract-rejected rows
    // (the id-less row and the losing duplicate id) surface as
    // `rejected`, NOT as phantom near-dups, and the ledger sums to the
    // raw batch size
    assert((s.kept, s.dropped, s.replays, s.rejected) === ((1L, 0L, 0L, 2L)))
    assert(s.kept + s.dropped + s.replays + s.rejected === 3L)
    val stored = spark.read.parquet(corpus)
    assert(stored.count() === 1L, "one keeper for doc_id 5; the id-less row is rejected")
    // the determinism contract (ADVICE r15): whichever copy won, the
    // index hash must be the hash OF THE STORED BYTES — corpus and
    // index can never describe different images
    val rehash = Multimodal.dHash64(stored)
    val agree = rehash.join(
      spark.table("img_det_idx").select($"doc_id", $"dhash").distinct(),
      Seq("doc_id", "dhash"))
    assert(agree.count() === 1L, "stored media re-hashes to the indexed hash")
    spark.sql("DROP TABLE img_det_idx")
  }

  test("streaming loop: micro-batches land deduped; probe sees them immediately") {
    val tmp = Files.createTempDirectory("imgstream").toString
    val (corpus, src) = (s"$tmp/corpus", s"$tmp/src")
    spark.sql("DROP TABLE IF EXISTS img_stream_idx")
    val b1 = synth(Seq(0L, 97L, 1L))
    b1.write.parquet(src)
    val q = CorpusIngest.start(spark.readStream.schema(b1.schema).parquet(src), s"$tmp/ckpt")(
      (b, _) => ImageIngest.ingestImageBatch(b, corpus, "img_stream_idx"))
    try {
      q.processAllAvailable()
      assert(corpusIds(corpus) === Set(0L, 1L))
      synth(Seq(194L, 2L)).write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(corpusIds(corpus) === Set(0L, 1L, 2L))
      // the freshly streamed corpus answers an incremental probe
      val hits = Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, synth(Seq(97L * 3)), "img_stream_idx")
      assert(hits.select($"i").as[Long].collect().toSet === Set(0L))
    } finally q.stop()
    spark.sql("DROP TABLE img_stream_idx")
  }
}

package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Streaming corpus ingest: cross-batch dedup must hold across
  * micro-batches, full redeliveries (at-least-once -> exactly-once
  * corpus content), and the bloom-before-append crash window.
  */
class CorpusIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  test("streamed ingest dedups within and across batches; full redelivery adds nothing") {
    val tmp = Files.createTempDirectory("corpus").toString
    val srcDir = s"$tmp/src"
    val corpus = s"$tmp/corpus"
    val bloom = s"$tmp/bloom.bin"
    Files.createDirectories(Paths.get(srcDir))

    val batch1 = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text")).toDF("doc_id", "text")
    val batch2 = Seq((4L, "beta text"), (5L, "gamma text")).toDF("doc_id", "text")

    batch1.coalesce(1).write.mode("append").parquet(srcDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[CorpusIngest.IngestLedger]
    val q = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt",
      s => seen.synchronized { seen += s; () })(
      (b, _) => CorpusIngest.ingestBatch(b, corpus, bloom, expectedItems = 1000L))
    q.processAllAvailable()
    batch2.coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    assert(seen.synchronized(seen.toList) === List(
      CorpusIngest.IngestLedger(kept = 2L, dropped = 1L, replays = 0L, rejected = 0L),
      CorpusIngest.IngestLedger(kept = 1L, dropped = 0L, replays = 1L, rejected = 0L)))

    val got = spark.read.parquet(corpus)
    // in-batch dup (doc 3) and cross-batch dup (doc 4) dropped; keeper is min doc_id
    assert(got.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 5L))
    assert(got.select("fingerprint").distinct().count() === 3)
    assert(Files.exists(Paths.get(bloom)))

    // at-least-once: a fresh checkpoint redelivers EVERY file; corpus
    // content must not change (bloom + anti-join drop all of it)
    val q2 = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt2")(
      (b, _) => CorpusIngest.ingestBatch(b, corpus, bloom, expectedItems = 1000L))
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 5L))
  }

  test("bloom sizing is read from the state header, not the caller's params") {
    // batch 2 arrives with a wildly different expectedItems (e.g. a
    // config change between deploys): the delta must still merge with
    // the stored filter because sizing comes from the file header
    val tmp = Files.createTempDirectory("corpus3").toString
    val corpus = s"$tmp/corpus"
    val bloom = s"$tmp/bloom.bin"
    CorpusIngest.ingestBatch(
      Seq((1L, "one text")).toDF("doc_id", "text"), corpus, bloom, expectedItems = 100L)
    CorpusIngest.ingestBatch(
      Seq((1L, "one text"), (2L, "two text")).toDF("doc_id", "text"),
      corpus, bloom, expectedItems = 3999999L) // would size differently if honored
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
  }

  // near-dup ingest fixtures: v1/v2/v3 share a long shingle base (MinHash
  // est well above 0.5); "unique" docs share no shingles with anything
  private val ndBase =
    "the quick brown fox jumps over the lazy dog while rain falls gently on the wide open plain"
  private val ndBatch1 = Seq(
    (1L, "completely unrelated first document about deep sea volcanic vents and tube worms"),
    (2L, s"$ndBase version one"),
    (3L, s"$ndBase version two")
  )
  private val ndBatch2 = Seq(
    (4L, s"$ndBase version three"),
    (5L, "another standalone document describing medieval trade routes across the alps"),
    (6L, "completely unrelated first document about deep sea volcanic vents and tube worms")
  )
  // survivors: 1, 2 (3 = in-batch near-dup of 2; 4 = near-dup of indexed 2;
  // 6 = exact text of indexed 1 -> est 1.0 near-dup), 5

  test("near-dup ingest: streamed == batch survivors across a restart; replay appends nothing") {
    val tmp = Files.createTempDirectory("ndcorpus").toString
    val srcDir = s"$tmp/src"
    Files.createDirectories(Paths.get(srcDir))
    val corpus = s"$tmp/corpus"
    val idx = "graft_ndup_stream_idx"

    ndBatch1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    val q = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestNearDupBatch(b, corpus, idx))
    q.processAllAvailable()
    q.stop()

    // restart: a NEW query on the SAME checkpoint picks up batch 2 only
    ndBatch2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestNearDupBatch(b, corpus, idx))
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(streamed === Set(1L, 2L, 5L))
    assert(spark.table(idx).select("doc_id").distinct().as[Long].collect().toSet
      === Set(1L, 2L, 5L))

    // batch mode: same batches through ingestNearDupBatch directly
    val corpusB = s"$tmp/corpusB"
    val idxB = "graft_ndup_batch_idx"
    val s1 = CorpusIngest.ingestNearDupBatch(ndBatch1.toDF("doc_id", "text"), corpusB, idxB)
    assert(s1 === CorpusIngest.IngestLedger(kept = 2, dropped = 1, replays = 0, rejected = 0))
    val s2 = CorpusIngest.ingestNearDupBatch(ndBatch2.toDF("doc_id", "text"), corpusB, idxB)
    assert(s2 === CorpusIngest.IngestLedger(kept = 1, dropped = 2, replays = 0, rejected = 0))
    val batched = spark.read.parquet(corpusB).select("doc_id").as[Long].collect().toSet
    assert(batched === streamed)

    // at-least-once: a fresh checkpoint redelivers EVERY file; the
    // replayed survivors hit their own index entries (same-id probe) and
    // the corpus confirms them present -> nothing appends anywhere
    val idxRows = spark.table(idx).count()
    val corpusRows = spark.read.parquet(corpus).count()
    val q3 = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt2")(
      (b, _) => CorpusIngest.ingestNearDupBatch(b, corpus, idx))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(corpus).count() === corpusRows)
    assert(spark.table(idx).count() === idxRows)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 5L))
  }

  test("near-dup ingest: crash between index append and corpus append heals on replay") {
    val tmp = Files.createTempDirectory("ndcrash").toString
    val corpus = s"$tmp/corpus"
    val idx = "graft_ndup_crash_idx"
    val batch = ndBatch1.toDF("doc_id", "text")

    CorpusIngest.ingestNearDupBatch(batch, corpus, idx)
    // simulate the crash window: index appended, corpus append lost
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(new java.io.File(corpus))
    val idxRows = spark.table(idx).count()

    // replay: survivors are same-id index hits the corpus cannot confirm
    // -> they append to the CORPUS only; the index is not double-appended
    val s = CorpusIngest.ingestNearDupBatch(batch, corpus, idx)
    assert(s.replays === 2 && s.kept === 0)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(spark.table(idx).count() === idxRows)

    // third delivery with everything intact: drops all of it
    CorpusIngest.ingestNearDupBatch(batch, corpus, idx)
    assert(spark.read.parquet(corpus).count() === 2)
    assert(spark.table(idx).count() === idxRows)
  }

  test("semantic ingest: streamed == batch, index == rebuild over kept corpus, crash heals") {
    val tmp = Files.createTempDirectory("semcorpus").toString
    val srcDir = s"$tmp/src"
    Files.createDirectories(Paths.get(srcDir))
    val corpus = s"$tmp/corpus"
    val idx = "graft_sem_stream_idx"

    val v1 = Seq(1.0, 0.2, -0.3, 0.5, 0.1, -0.7, 0.4, 0.9)
    val v2 = v1.updated(0, 1.000001) // near-copy of v1 (in-batch dup)
    val v3 = Seq(-0.8, 0.6, 0.9, -0.2, 0.3, 0.5, -0.4, 0.1)
    val v4 = v1.updated(1, 0.200002) // near-copy of v1 (cross-batch dup)
    val v5 = Seq(0.05, -0.9, 0.2, 0.8, -0.6, 0.3, 0.7, -0.1)
    val semBatch1 = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val semBatch2 = Seq((4L, v4), (5L, v5)).toDF("vec_id", "embedding")

    semBatch1.coalesce(1).write.mode("append").parquet(srcDir)
    // the stream's one starter surfaces each batch's ledger via onStats
    // (foreachBatch would otherwise swallow it) — collect and assert the
    // semantic loop's here
    val seen = scala.collection.mutable.ArrayBuffer.empty[CorpusIngest.IngestLedger]
    val q = CorpusIngest.start(CorpusIngest.fileVecStream(spark, srcDir), s"$tmp/ckpt",
      s => seen.synchronized { seen += s; () })(
      (b, _) => CorpusIngest.ingestSemanticBatch(b, corpus, idx, dim = 8, nBuckets = 8))
    q.processAllAvailable()
    q.stop()
    assert(seen.synchronized(seen.toList) ===
      List(CorpusIngest.IngestLedger(kept = 2, dropped = 1, replays = 0, rejected = 0)),
      "the streaming operator sees the same ledger the batch API returns")
    // restart: a NEW query on the SAME checkpoint picks up batch 2 only
    semBatch2.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = CorpusIngest.start(CorpusIngest.fileVecStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestSemanticBatch(b, corpus, idx, dim = 8, nBuckets = 8))
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSet
    assert(streamed === Set(1L, 3L, 5L))
    assert(spark.table(idx).select("vec_id").distinct().as[Long].collect().toSet
      === Set(1L, 3L, 5L))

    // batch mode: same batches through ingestSemanticBatch directly
    val corpusB = s"$tmp/corpusB"
    val idxB = "graft_sem_batch_idx"
    val s1 = CorpusIngest.ingestSemanticBatch(semBatch1, corpusB, idxB, dim = 8, nBuckets = 8)
    assert(s1 === CorpusIngest.IngestLedger(kept = 2, dropped = 1, replays = 0, rejected = 0))
    val s2 = CorpusIngest.ingestSemanticBatch(semBatch2, corpusB, idxB, dim = 8, nBuckets = 8)
    assert(s2 === CorpusIngest.IngestLedger(kept = 1, dropped = 1, replays = 0, rejected = 0))
    assert(spark.read.parquet(corpusB).select("vec_id").as[Long].collect().toSet === streamed)

    // LEDGER (round 17 — the ImageIngest ADVICE r16 fix applied here):
    // a duplicate vec_id is an identity-contract rejection, not a
    // phantom near-dup, and the ledger sums to the raw batch size
    // BOTH copies are fresh vs the corpus and vs each other (negatives
    // of v3/v5: cosine −1 to their originals, so neither is a near-dup
    // of anything kept) — the ledger reads the same whichever copy the
    // arbitrary-keeper id-dedup retains
    val dupBatch = Seq((6L, v3.map(-_)), (6L, v5.map(-_))).toDF("vec_id", "embedding")
    val sl = CorpusIngest.ingestSemanticBatch(dupBatch, corpusB, idxB, dim = 8, nBuckets = 8)
    assert((sl.kept, sl.dropped, sl.replays, sl.rejected) === ((1L, 0L, 0L, 1L)))
    assert(sl.kept + sl.dropped + sl.replays + sl.rejected === dupBatch.count())

    // a NULL vec_id is the same contract rejection (ADVICE r17): null
    // keys don't join, so pre-fix the row skipped every id-keyed
    // anti-join and replay check and was re-appended to the index AND
    // corpus on EVERY delivery — deliver it twice and prove neither grew
    val nullBatch = Seq((Option.empty[Long], v1.map(-_))).toDF("vec_id", "embedding")
    val corpusRowsBefore = spark.read.parquet(corpusB).count()
    val idxRowsBefore2 = spark.table(idxB).count()
    Seq(1, 2).foreach { _ =>
      val sn = CorpusIngest.ingestSemanticBatch(nullBatch, corpusB, idxB, dim = 8,
        nBuckets = 8)
      assert((sn.kept, sn.dropped, sn.replays, sn.rejected) === ((0L, 0L, 0L, 1L)))
    }
    assert(spark.read.parquet(corpusB).count() === corpusRowsBefore,
      "a null-id row must never reach the corpus")
    assert(spark.table(idxB).count() === idxRowsBefore2,
      "a null-id row must never reach the index")

    // a DEGENERATE embedding under a non-null id is the same class
    // (ADVICE r18): it derives no LSH band keys, so the row is never
    // indexed and never replay-detected — pre-fix it re-appended to the
    // corpus on every redelivery. Null, wrong-width, and null-element
    // vectors, each delivered twice: rejected both times, nothing grows.
    // rows: null embedding (70), wrong width (71), null element (72),
    // and a clean control (73). Built via an explicit Row schema — the
    // product encoder cannot represent a null ELEMENT in Seq[Double].
    val degRows = Seq[(java.lang.Long, Array[java.lang.Double])](
      (70L, null),
      (71L, Array[java.lang.Double](1.0, 2.0)),
      (72L, v1.map(-_).map(java.lang.Double.valueOf).updated(3, null: java.lang.Double).toArray),
      (73L, v2.map(-_).map(java.lang.Double.valueOf).toArray)
    )
    val degDf = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        degRows.map { case (id, arr) => org.apache.spark.sql.Row(id, arr) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = true),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = true), nullable = true)
        ))
      )
    }
    val corpusBefore3 = spark.read.parquet(corpusB).count()
    val d1 = CorpusIngest.ingestSemanticBatch(degDf, corpusB, idxB, dim = 8, nBuckets = 8)
    assert((d1.kept, d1.dropped, d1.replays, d1.rejected) === ((1L, 0L, 0L, 3L)),
      "null/wrong-width/null-element embeddings are contract rejections")
    val d2 = CorpusIngest.ingestSemanticBatch(degDf, corpusB, idxB, dim = 8, nBuckets = 8)
    assert((d2.kept, d2.dropped, d2.replays, d2.rejected) === ((0L, 0L, 1L, 3L)),
      "on redelivery the clean row replays; degenerate rows stay rejected")
    assert(spark.read.parquet(corpusB).count() === corpusBefore3 + 1L,
      "degenerate-embedding rows must never re-append to the corpus")
    assert(spark.table(idxB).filter($"vec_id" >= 70L && $"vec_id" =!= 73L).count() === 0L,
      "degenerate-embedding rows must never reach the index")

    // invariant: the index always equals a rebuild over the KEPT corpus
    graft.ops.Dedup.writeEmbeddingLshIndex(
      spark.read.parquet(corpus), "embedding", "vec_id", "graft_sem_rebuild_idx",
      dim = 8, nBuckets = 8)
    def rows(t: String) = spark.table(t)
      .select($"vec_id", $"band", $"bhash", $"bkey", $"embedding")
      .as[(Long, Int, Long, Long, Seq[Double])].collect().toSet
    assert(rows(idx) === rows("graft_sem_rebuild_idx"))

    // at-least-once: a fresh checkpoint redelivers EVERY file — replayed
    // survivors hit their own index entries and confirm against the
    // corpus; nothing appends anywhere
    val idxRows = spark.table(idx).count()
    val q3 = CorpusIngest.start(CorpusIngest.fileVecStream(spark, srcDir), s"$tmp/ckpt2")(
      (b, _) => CorpusIngest.ingestSemanticBatch(b, corpus, idx, dim = 8, nBuckets = 8))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(corpus).count() === 3)
    assert(spark.table(idx).count() === idxRows)

    // crash between index append and corpus append: replay heals the
    // corpus only, the index is not double-appended
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(new java.io.File(corpusB))
    val idxRowsB = spark.table(idxB).count()
    val s3 = CorpusIngest.ingestSemanticBatch(semBatch1, corpusB, idxB, dim = 8, nBuckets = 8)
    assert(s3.replays === 2 && s3.kept === 0)
    assert(spark.read.parquet(corpusB).select("vec_id").as[Long].collect().toSet
      === Set(1L, 3L))
    assert(spark.table(idxB).count() === idxRowsB)
  }

  test("minhash index records its params; mismatched append or probe fails fast") {
    import graft.ops.Dedup
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    Dedup.writeMinHashIndex(docs, "text", "doc_id", "graft_props_idx",
      numHashes = 32, bands = 8)
    val probeBatch = Seq((2L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(spark, probeBatch, "graft_props_idx", "text", "doc_id",
        numHashes = 16, bands = 8)
    }
    assert(e1.getMessage.contains("numHashes=32"))
    // same signature LENGTH but different banding: the one-row sample
    // check could never catch this; the recorded properties do
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(spark, probeBatch, "graft_props_idx", "text", "doc_id",
        numHashes = 32, bands = 4)
    }
    assert(e2.getMessage.contains("bands=8"))
    val e3 = intercept[IllegalArgumentException] {
      Dedup.appendToMinHashIndex(probeBatch, "text", "doc_id", "graft_props_idx",
        numHashes = 64, bands = 8)
    }
    assert(e3.getMessage.contains("numHashes=32"))
    // matching params still append + probe fine
    Dedup.appendToMinHashIndex(probeBatch, "text", "doc_id", "graft_props_idx")
    assert(spark.table("graft_props_idx").select("doc_id").distinct().count() === 2)
  }

  test("crash between bloom swap and corpus append replays losslessly") {
    val tmp = Files.createTempDirectory("corpus2").toString
    val corpus = s"$tmp/corpus"
    val bloom = s"$tmp/bloom.bin"
    val batch = Seq((10L, "delta text"), (11L, "epsilon text")).toDF("doc_id", "text")

    assert(CorpusIngest.ingestBatch(batch, corpus, bloom, expectedItems = 1000L) ===
      CorpusIngest.IngestLedger(kept = 2L, dropped = 0L, replays = 0L, rejected = 0L))
    // simulate the crash window: bloom persisted, corpus append lost
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(new java.io.File(corpus))
    assert(Files.exists(Paths.get(bloom)) && !Files.exists(Paths.get(corpus)))

    // replay: every row is bloom-positive but the corpus can't confirm
    // membership -> rows append (no silent loss)
    assert(CorpusIngest.ingestBatch(batch, corpus, bloom, expectedItems = 1000L).kept === 2L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(10L, 11L))

    // and a THIRD delivery with the corpus intact drops everything
    assert(CorpusIngest.ingestBatch(batch, corpus, bloom, expectedItems = 1000L) ===
      CorpusIngest.IngestLedger(kept = 0L, dropped = 0L, replays = 2L, rejected = 0L))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(10L, 11L))
  }

  test("exact ingest adopts a corpus written without its bloom: a fresh bloom path " +
    "appends only new texts and the written filter covers the stored ones") {
    val tmp = Files.createTempDirectory("corpus_adopt").toString
    val corpus = s"$tmp/corpus"
    CorpusIngest.ingestBatch(
      Seq((1L, "stored text")).toDF("doc_id", "text"), corpus, s"$tmp/old.bin", 1000L)
    // same corpus, a bloom path that holds nothing yet (lost, or the
    // loop moved its state): the stored text must still read as present
    val bloom = s"$tmp/fresh.bin"
    CorpusIngest.ingestBatch(
      Seq((2L, "stored text"), (3L, "new text")).toDF("doc_id", "text"), corpus, bloom, 1000L)
    val got = spark.read.parquet(corpus).select("doc_id", "text").as[(Long, String)].collect()
    assert(got.sorted.toSeq === Seq((1L, "stored text"), (3L, "new text")))
    // the file is [magic, items, bits, filter], keyed on xxhash64(text)
    val bytes = Files.readAllBytes(Paths.get(bloom))
    val filter = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes, 20, bytes.length - 20))
    Seq("stored text", "new text").foreach { t =>
      val h = spark.range(1).select(xxhash64(lit(t))).as[Long].head()
      assert(filter.mightContainLong(h), s"the adopted filter must cover '$t'")
    }
  }

  test("ingest auto-compacts the index when files-per-bucket crosses the cadence threshold") {
    val tmp = Files.createTempDirectory("cadence").toString
    val corpus = s"$tmp/corpus"
    val idx = "graft_cadence_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    // token-disjoint docs: nothing near-dups anything, every batch appends
    def docs(ids: Range) =
      ids.map(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
        .toDF("doc_id", "text")
    (0 until 3).foreach { b =>
      CorpusIngest.ingestNearDupBatch(
        docs(b * 3 until b * 3 + 3), corpus, idx, nBuckets = 4, compactFanout = 1)
    }
    // three appends would leave ~3 file-sets; the cadence guard must have
    // compacted back to at most one file per bucket
    val fan = graft.sinks.Sinks.bucketFileFanout(spark, idx)
    assert(fan > 0.0 && fan <= 1.0, s"expected compacted fanout <= 1, got $fan")
    // probe results unchanged by compaction: a full replay of batch 0 is
    // all same-id hits, nothing new lands in the corpus
    val s = CorpusIngest.ingestNearDupBatch(
      docs(0 until 3), corpus, idx, nBuckets = 4, compactFanout = 0)
    assert(s === CorpusIngest.IngestLedger(kept = 0, dropped = 0, replays = 3, rejected = 0))
    assert(spark.read.parquet(corpus).count() === 9)
    spark.sql(s"DROP TABLE IF EXISTS $idx")
  }

  test("bloom swap crash windows heal: mid-rename .new, mid-rename .old, torn first write") {
    val tmp = Files.createTempDirectory("corpus4").toString
    val corpus = s"$tmp/corpus"
    val bloom = s"$tmp/bloom.bin"
    val batch = Seq((1L, "zeta text"), (2L, "eta text")).toDF("doc_id", "text")
    CorpusIngest.ingestBatch(batch, corpus, bloom, expectedItems = 1000L)

    // crash between writeBloom's two renames: live file renamed away,
    // .new not yet promoted -> the complete .new must be adopted and the
    // replayed delivery must add nothing
    Files.move(Paths.get(bloom), Paths.get(bloom + ".new"))
    CorpusIngest.ingestBatch(batch, corpus, bloom, expectedItems = 1000L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(Files.exists(Paths.get(bloom)) && !Files.exists(Paths.get(bloom + ".new")))

    // variant: only the previous version at .old survives (post-rename
    // crash plus a lost .new) -> restored, replay still adds nothing
    Files.move(Paths.get(bloom), Paths.get(bloom + ".old"))
    CorpusIngest.ingestBatch(batch, corpus, bloom, expectedItems = 1000L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet === Set(1L, 2L))

    // torn FIRST write: a garbage .new with no live file and no .old is
    // the one window where .new may be incomplete -> degrade to "no
    // state yet" instead of failing the stream forever
    val tmp2 = Files.createTempDirectory("corpus5").toString
    val bloom2 = s"$tmp2/bloom.bin"
    Files.write(Paths.get(bloom2 + ".new"), Array[Byte](1, 2, 3))
    CorpusIngest.ingestBatch(batch, s"$tmp2/corpus", bloom2, expectedItems = 1000L)
    assert(
      spark.read.parquet(s"$tmp2/corpus").select("doc_id").as[Long].collect().toSet
        === Set(1L, 2L))
    // and the state is live again for the next batch
    CorpusIngest.ingestBatch(batch, s"$tmp2/corpus", bloom2, expectedItems = 1000L)
    assert(spark.read.parquet(s"$tmp2/corpus").count() === 2)
  }

  // span-ingest fixtures (k=4): docs 1/2 share a 4-token boilerplate
  // prefix (frac 4/12 = 0.33, under the 0.5 bar); doc 4 is doc 1's
  // first 12 tokens plus one (12/13 duplicated vs history -> dropped);
  // doc 6 replays doc 3's exact text
  private val spanBatch1 = Seq(
    (1L, "b1 b2 b3 b4 u1 u2 u3 u4 u5 u6 u7 u8"),
    (2L, "b1 b2 b3 b4 v1 v2 v3 v4 v5 v6 v7 v8"),
    (3L, "w1 w2 w3 w4 w5")
  )
  private val spanBatch2 = Seq(
    (4L, "b1 b2 b3 b4 u1 u2 u3 u4 u5 u6 u7 u8 x1"),
    (5L, "y1 y2 y3 y4 y5 y6"),
    (6L, "w1 w2 w3 w4 w5")
  )

  test("span ingest: streamed == batch, redelivery idempotent, index == f(kept corpus)") {
    val tmp = Files.createTempDirectory("spancorpus").toString
    val srcDir = s"$tmp/src"
    Files.createDirectories(Paths.get(srcDir))
    val corpus = s"$tmp/corpus"
    val idx = "graft_span_stream_idx"

    spanBatch1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    val q = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestSpanBatch(b, corpus, idx, gramTokens = 4))
    q.processAllAvailable()
    q.stop()
    spanBatch2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestSpanBatch(b, corpus, idx, gramTokens = 4))
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 3L, 5L))

    // full redelivery on a fresh checkpoint: replays filtered, the
    // dropped doc re-drops against unchanged history, nothing appends
    val before = spark.table(idx).agg(sum("cnt")).as[Long].head()
    val q3 = CorpusIngest.start(CorpusIngest.fileDocStream(spark, srcDir), s"$tmp/ckpt2")(
      (b, _) => CorpusIngest.ingestSpanBatch(b, corpus, idx, gramTokens = 4))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(corpus).count() === 4)
    assert(spark.table(idx).agg(sum("cnt")).as[Long].head() === before)

    // the invariant that doubles as crash recovery: rebuilding the index
    // from the kept corpus reproduces the incrementally-built counts
    graft.ops.Dedup.writeGramIndex(
      spark.read.parquet(corpus), "text", "doc_id", "graft_span_rebuilt_idx", gramTokens = 4)
    def counts(t: String) = spark.table(t).groupBy("gram").agg(sum("cnt").as("n"))
      .as[(Long, Long)].collect().toSet
    assert(counts(idx) === counts("graft_span_rebuilt_idx"))

    // batch mode: same batches through ingestSpanBatch directly
    val corpusB = s"$tmp/corpusB"
    val idxB = "graft_span_batch_idx"
    val s1 = CorpusIngest.ingestSpanBatch(
      spanBatch1.toDF("doc_id", "text"), corpusB, idxB, gramTokens = 4)
    assert(s1 === CorpusIngest.IngestLedger(kept = 3, dropped = 0, replays = 0, rejected = 0))
    val s2 = CorpusIngest.ingestSpanBatch(
      spanBatch2.toDF("doc_id", "text"), corpusB, idxB, gramTokens = 4)
    assert(s2 === CorpusIngest.IngestLedger(kept = 1, dropped = 1, replays = 1, rejected = 0))
    assert(spark.read.parquet(corpusB).select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 3L, 5L))
    Seq(idx, "graft_span_rebuilt_idx", idxB).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("pqIndexIngest: streamed index == frozen-codebook encode over the union; replay-safe") {
    import graft.ops.Similarity
    val tmp = Files.createTempDirectory("pqingest").toString
    val srcDir = s"$tmp/src"
    Files.createDirectories(Paths.get(srcDir))
    val idx = "pq_stream_idx"
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))

    // bootstrap: codebooks trained ONCE on the seed corpus
    val seed = emb.filter($"vec_id" < 200)
    val cbs = Similarity.writePqIndex(seed, "embedding", "vec_id", idx, dim = 64,
      m = 8, kCodes = 32, lloydIters = 2)

    // stream two file batches; the second replays part of the first
    // (at-least-once delivery) and carries an in-batch duplicate id
    val b1 = emb.filter($"vec_id" >= 200 && $"vec_id" < 320)
    val b2 = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
      .unionByName(emb.filter($"vec_id" === 350))
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    val q = CorpusIngest.start(CorpusIngest.fileVecStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestPqBatch(b, idx, bloomPath = Some(s"$tmp/ckpt/graft-id-bloom")))
    q.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    // invariant: the streamed index is bit-identical to a batch encode
    // of every distinct vector seen, with the SAME frozen codebooks
    val union = emb.filter($"vec_id" < 400)
    val want = Similarity.pqEncode(union, "embedding", "vec_id", cbs)
      .as[(Long, Seq[Int])].collect().toSet
    val got = spark.table(idx).select($"cid", $"codes").as[(Long, Seq[Int])].collect().toSet
    assert(got === want)
    assert(Similarity.readPqCodebooks(spark, idx) === cbs) // codebooks untouched

    // full redelivery under a fresh checkpoint: every id is a replay,
    // nothing re-appends (the batch-level stats agree)
    val stats = CorpusIngest.ingestPqBatch(b1, idx)
    assert(stats === CorpusIngest.IngestLedger(kept = 0L, dropped = 0L, replays = 120L, rejected = 0L))
    assert(spark.table(idx).count() === union.count())

    // a fresh session-style probe over the streamed index ranks all 5
    val probe = Similarity.pqTopKIndexed(spark, idx, emb.filter($"vec_id" < 3),
      "embedding", "vec_id", 5)
    assert(probe.groupBy($"qid").count().select("count").as[Long].collect().forall(_ === 5L))

    // the bootstrap contract is a loud require, not a confusing NPE
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.ingestPqBatch(b1, "pq_never_written_idx")
    }
    assert(e.getMessage.contains("writePqIndex"))
    spark.sql(s"DROP TABLE $idx")
  }

  test("ivfPqIndexIngest: streamed == frozen-quantizer rebuild; bucket pruning survives appends") {
    import graft.ops.Similarity
    val tmp = Files.createTempDirectory("ivfpqingest").toString
    val srcDir = s"$tmp/src"
    Files.createDirectories(Paths.get(srcDir))
    val idx = "ivfpq_stream_idx"
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))

    // bootstrap: BOTH quantizers trained ONCE, on the seed corpus
    val seed = emb.filter($"vec_id" < 200)
    val (cents, cbs) = Similarity.writeIvfPqIndex(seed, "embedding", "vec_id", idx, dim = 64,
      nCells = 8, m = 8, kCodes = 32, lloydIters = 2)

    // stream two file batches; the second replays part of the first
    // (at-least-once delivery) and carries an in-batch duplicate id
    val b1 = emb.filter($"vec_id" >= 200 && $"vec_id" < 320)
    val b2 = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
      .unionByName(emb.filter($"vec_id" === 350))
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    val q = CorpusIngest.start(CorpusIngest.fileVecStream(spark, srcDir), s"$tmp/ckpt")(
      (b, _) => CorpusIngest.ingestIvfPqBatch(
        b, idx, bloomPath = Some(s"$tmp/ckpt/graft-id-bloom"), compactFanout = 16))
    q.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    // invariant: streamed index == batch assign+encode over every
    // distinct vector seen, with the SAME frozen quantizers
    val union = emb.filter($"vec_id" < 400)
    val want = Similarity.assignAndEncode(union, "embedding", "vec_id", cents, cbs)
      .as[(Long, Long, Seq[Int])].collect().toSet
    val got = spark.table(idx).select($"cid", $"cent_id", $"codes")
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(got === want)
    assert(Similarity.readPqCodebooks(spark, idx) === cbs)
    assert(Similarity.readIvfCentroids(spark, idx) === cents)
    // the replay-guard bloom landed beside the checkpoint
    assert(new java.io.File(s"$tmp/ckpt/graft-id-bloom").exists)

    // bucket pruning is INTACT after streamed appends: a fresh-session
    // single-query probe reads <= nProbe of the nCells buckets
    val probe = Similarity.ivfPqTopKIndexed(spark, idx, emb.filter($"vec_id" === 0),
      "embedding", "vec_id", 5, nProbe = 2)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined && sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt === 8,
      s"expected <=2 of 8 buckets after streamed appends, got plan:\n$plan")

    // bloom-fronted full redelivery: every id is a suspect, every
    // suspect is confirmed present, nothing re-appends
    val bp = s"$tmp/ckpt/graft-id-bloom"
    val stats = CorpusIngest.ingestIvfPqBatch(b1, idx, bloomPath = Some(bp))
    assert(stats === CorpusIngest.IngestLedger(kept = 0L, dropped = 0L, replays = 120L, rejected = 0L))
    assert(spark.table(idx).count() === union.count())

    // mixed redelivery: replayed ids drop, fresh ids ALL land
    val b3 = emb.filter($"vec_id" >= 350 && $"vec_id" < 450)
    val s3 = CorpusIngest.ingestIvfPqBatch(b3, idx, bloomPath = Some(bp))
    assert(s3 === CorpusIngest.IngestLedger(kept = 50L, dropped = 0L, replays = 50L, rejected = 0L))
    assert(spark.table(idx).count() === union.count() + 50L)

    // auto-compaction cadence: several appends have stacked one file-set
    // per batch; a tight threshold triggers compactBucketed after the
    // NEXT batch's append, and content + pruning come through unchanged
    val fanoutBefore = graft.sinks.Sinks.bucketFileFanout(spark, idx)
    assert(fanoutBefore > 1.0, s"appends should have stacked files, fanout=$fanoutBefore")
    val b4 = emb.filter($"vec_id" >= 450)
    val s4 = CorpusIngest.ingestIvfPqBatch(b4, idx, bloomPath = Some(bp), compactFanout = 1)
    assert(s4.kept === 50L)
    assert(graft.sinks.Sinks.bucketFileFanout(spark, idx) < fanoutBefore,
      "cadence-triggered compaction did not reduce files-per-bucket")
    val gotAll = spark.table(idx).select($"cid", $"cent_id", $"codes")
      .as[(Long, Long, Seq[Int])].collect().toSet
    val wantAll = Similarity.assignAndEncode(emb, "embedding", "vec_id", cents, cbs)
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(gotAll === wantAll)
    val probe2 = Similarity.ivfPqTopKIndexed(spark, idx, emb.filter($"vec_id" === 0),
      "embedding", "vec_id", 5, nProbe = 2)
    probe2.collect()
    val sel2 = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(probe2.queryExecution.executedPlan.toString)
    assert(sel2.isDefined && sel2.get.group(1).toInt <= 2 && sel2.get.group(2).toInt === 8,
      "bucket pruning broken after cadence compaction")

    // the bootstrap contract names the right builder
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.ingestIvfPqBatch(b1, "ivfpq_never_written_idx")
    }
    assert(e.getMessage.contains("writeIvfPqIndex"))
    spark.sql(s"DROP TABLE $idx")
  }

  test("identity-null rows and shingle-less docs idempote across every ingest surface " +
    "(ADVICE r17 generalized)") {
    val tmp = Files.createTempDirectory("nullident").toString

    // exact (bloom) ingest: a null text fingerprints to null and would
    // re-append on EVERY delivery pre-fix — deliver it twice
    val exBatch = Seq((1L, Option("solo text here")), (9L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatch(exBatch, s"$tmp/exc", s"$tmp/exbloom.bin", 1000L) ===
      CorpusIngest.IngestLedger(kept = 1L, dropped = 0L, replays = 0L, rejected = 1L))
    assert(CorpusIngest.ingestBatch(exBatch, s"$tmp/exc", s"$tmp/exbloom.bin", 1000L) ===
      CorpusIngest.IngestLedger(kept = 0L, dropped = 0L, replays = 1L, rejected = 1L))
    assert(spark.read.parquet(s"$tmp/exc").count() === 1L,
      "null-text row must never reach the exact corpus")

    // text near-dup ingest: null id and null text are rejections; a
    // SHORT doc (< shingleSize tokens → no gram set → never indexable)
    // keeps once and replay-absorbs via the corpus anti-join (the
    // video unshingleable-clip rule applied to text)
    val ndBatch = Seq(
      (Option(1L), Option("alpha beta gamma delta epsilon zeta eta")),
      (Option(2L), Option("hi there")), // 2 tokens < shingleSize 3
      (Option.empty[Long], Option("valid text without an id")),
      (Option(3L), Option.empty[String])
    ).toDF("doc_id", "text")
    val n1 = CorpusIngest.ingestNearDupBatch(ndBatch, s"$tmp/ndc", "graft_nullid_nd_idx")
    assert((n1.kept, n1.dropped, n1.replays, n1.rejected) === ((2L, 0L, 0L, 2L)))
    assert(n1.kept + n1.dropped + n1.replays + n1.rejected === ndBatch.count())
    val ndRows = spark.read.parquet(s"$tmp/ndc").count()
    assert(spark.read.parquet(s"$tmp/ndc").select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L))
    val n2 = CorpusIngest.ingestNearDupBatch(ndBatch, s"$tmp/ndc", "graft_nullid_nd_idx")
    assert((n2.kept, n2.replays, n2.rejected) === ((0L, 2L, 2L)),
      "indexed doc replays via same-id hit; the shingle-less doc via the corpus anti-join")
    assert(n2.kept + n2.dropped + n2.replays + n2.rejected === ndBatch.count())
    assert(spark.read.parquet(s"$tmp/ndc").count() === ndRows,
      "neither the null rows nor the shingle-less doc re-append")
    assert(spark.table("graft_nullid_nd_idx").filter($"doc_id".isNull).count() === 0L)
    spark.sql("DROP TABLE graft_nullid_nd_idx")

    // span ingest: null text (null fingerprint) is a rejection
    val spBatch = Seq(
      (Option(1L), Option("one two three four five six seven eight nine ten")),
      (Option(2L), Option.empty[String])
    ).toDF("doc_id", "text")
    val sp1 = CorpusIngest.ingestSpanBatch(spBatch, s"$tmp/spc", "graft_nullid_gram_idx")
    assert((sp1.kept, sp1.rejected) === ((1L, 1L)))
    val sp2 = CorpusIngest.ingestSpanBatch(spBatch, s"$tmp/spc", "graft_nullid_gram_idx")
    assert((sp2.kept, sp2.replays, sp2.rejected) === ((0L, 1L, 1L)))
    assert(spark.read.parquet(s"$tmp/spc").count() === 1L)
    spark.sql("DROP TABLE graft_nullid_gram_idx")

    // PQ at-rest ingest: the id IS the index key — null ids are
    // rejections and never append, across two deliveries
    import graft.ops.Similarity
    spark.sql("DROP TABLE IF EXISTS graft_nullid_pq_idx")
    spark.sql("DROP TABLE IF EXISTS graft_nullid_pq_idx__codebooks")
    val seed = spark.range(32).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => (pmod(xxhash64($"id", d.cast("long")), lit(1000L)).cast("double") / 500.0 - 1.0))
        .as("embedding"))
    Similarity.writePqIndex(seed, "embedding", "vec_id", "graft_nullid_pq_idx",
      dim = 8, m = 4, kCodes = 4, lloydIters = 1)
    val idxRows0 = spark.table("graft_nullid_pq_idx").count()
    val pqBatch = spark.range(32, 33).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d => lit(0.5)).as("embedding"))
      .unionByName(seed.limit(1).select(lit(null).cast("long").as("vec_id"), $"embedding"))
    val p1 = CorpusIngest.ingestPqBatch(pqBatch, "graft_nullid_pq_idx")
    assert(p1 === CorpusIngest.IngestLedger(kept = 1L, dropped = 0L, replays = 0L, rejected = 1L))
    val p2 = CorpusIngest.ingestPqBatch(pqBatch, "graft_nullid_pq_idx")
    assert(p2 === CorpusIngest.IngestLedger(kept = 0L, dropped = 0L, replays = 1L, rejected = 1L))
    assert(spark.table("graft_nullid_pq_idx").count() === idxRows0 + 1L)
    assert(spark.table("graft_nullid_pq_idx").filter($"cid".isNull).count() === 0L)
    spark.sql("DROP TABLE graft_nullid_pq_idx")
    spark.sql("DROP TABLE graft_nullid_pq_idx__codebooks")
  }

  test("bloom-fronted replay guard: over-claiming bloom is confirmed, not trusted") {
    import graft.ops.Similarity
    val tmp = Files.createTempDirectory("pqbloom").toString
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val seed = emb.filter($"vec_id" < 100)
    val b1 = emb.filter($"vec_id" >= 100 && $"vec_id" < 200)
    val bp = s"$tmp/id-bloom"

    // index A: first bloom-fronted batch seeds the filter from the
    // index's id column, then appends b1 and swaps the updated bloom
    Similarity.writePqIndex(seed, "embedding", "vec_id", "pq_bloom_idx_a", dim = 64,
      m = 8, kCodes = 32, lloydIters = 1)
    val s1 = CorpusIngest.ingestPqBatch(b1, "pq_bloom_idx_a", bloomPath = Some(bp))
    assert(s1 === CorpusIngest.IngestLedger(kept = 100L, dropped = 0L, replays = 0L, rejected = 0L))
    // redelivery through the bloom: suspects confirmed PRESENT, no append
    val s2 = CorpusIngest.ingestPqBatch(b1, "pq_bloom_idx_a", bloomPath = Some(bp))
    assert(s2 === CorpusIngest.IngestLedger(kept = 0L, dropped = 0L, replays = 100L, rejected = 0L))

    // the crash window (bloom swapped, append lost) leaves a bloom that
    // OVER-claims: reuse the same bloom against index B, which holds the
    // seed only — b1's ids are all bloom-positive yet absent, and the
    // confirm step must append every one of them exactly once
    Similarity.writePqIndex(seed, "embedding", "vec_id", "pq_bloom_idx_b", dim = 64,
      m = 8, kCodes = 32, lloydIters = 1)
    val s3 = CorpusIngest.ingestPqBatch(b1, "pq_bloom_idx_b", bloomPath = Some(bp))
    assert(s3 === CorpusIngest.IngestLedger(kept = 100L, dropped = 0L, replays = 0L, rejected = 0L))
    assert(spark.table("pq_bloom_idx_b").count() === 200L)
    Seq("pq_bloom_idx_a", "pq_bloom_idx_b").foreach(t => spark.sql(s"DROP TABLE $t"))
  }
}

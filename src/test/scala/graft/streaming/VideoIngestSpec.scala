package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.{Dedup, Multimodal}

/** Streaming video content-dedup ingest (round 16 — verdict r15 #3):
  * at-rest probe == inline pairs, the clip-granularity keeper/probe/
  * replay protocol, idempotence including unshingleable clips, the
  * cross-modality fail-closed contract, and the file-backed loop.
  *
  * synthVideoFrames classes: video_id % 23 — {0, 23, 46} are the same
  * class (identical frame sequences → Jaccard exactly 1), {1}, {2},
  * {24} etc. are their own classes (disjoint gram sets → Jaccard 0).
  */
class VideoIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def vid(ids: Seq[Long]) =
    Multimodal.synthVideoFrames(ids.toDF("doc_id"), "doc_id")

  private def corpusClips(path: String): Set[Long] =
    spark.read.parquet(path).select($"video_id").distinct().as[Long].collect().toSet

  test("at-rest probe == inline cross pairs on planted classes") {
    spark.sql("DROP TABLE IF EXISTS vid_parity_idx")
    val corpus = vid(Seq(0L, 1L, 2L, 3L, 4L))
    Dedup.writeVideoMinHashIndex(corpus, "vid_parity_idx")
    val batch = vid(Seq(23L, 24L, 100L)) // 23→class 0, 24→class 1, 100→class 8 (fresh)
    val probe = Dedup
      .incrementalVideoNearDups(spark, batch, "vid_parity_idx")
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // inline over the union, restricted to (corpus, batch) cross pairs —
    // same-class clips sit at Jaccard exactly 1, so the signature
    // ESTIMATE the probe verifies with agrees with the exact verify
    val batchIds = Set(23L, 24L, 100L)
    val allInline: Set[(Long, Long)] = Dedup
      .videoNearDupPairs(corpus.unionByName(batch))
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val inline = allInline.filter { case (i, j) =>
      !batchIds.contains(i) && batchIds.contains(j)
    }
    assert(probe === inline)
    assert(probe === Set((0L, 23L), (1L, 24L)))
    spark.sql("DROP TABLE vid_parity_idx")
  }

  test("ingest: in-batch keeper, index probe, replay + unshingleable idempotence") {
    val tmp = Files.createTempDirectory("vidingest").toString
    val corpus = s"$tmp/corpus"
    spark.sql("DROP TABLE IF EXISTS vid_ingest_idx")

    // batch 1: 0 and 23 are the same class (keep min id 0); 1 is fresh
    val s1 = VideoIngest.ingestVideoBatch(vid(Seq(0L, 23L, 1L)), corpus, "vid_ingest_idx")
    assert((s1.kept, s1.dropped, s1.replays) === ((2L, 1L, 0L)))
    assert(corpusClips(corpus) === Set(0L, 1L))

    // batch 2: 46 is a near-dup of indexed 0; 0 is a replay; 2 is
    // fresh; 999 is a one-frame clip (no gram set — corpus-only, never
    // the index)
    val oneFrame = vid(Seq(999L)).filter($"frame_idx" === 0)
    val b2 = vid(Seq(46L, 0L, 2L)).unionByName(oneFrame)
    val s2 = VideoIngest.ingestVideoBatch(b2, corpus, "vid_ingest_idx")
    assert((s2.kept, s2.dropped, s2.replays) === ((2L, 1L, 1L)))
    assert(corpusClips(corpus) === Set(0L, 1L, 2L, 999L))
    assert(spark.table("vid_ingest_idx").select($"doc_id").distinct()
      .as[Long].collect().toSet === Set(0L, 1L, 2L))

    // full redelivery of batch 2: corpus and index unchanged — the
    // unshingleable clip must NOT double (the corpus anti-join path),
    // and its redelivery counts as a REPLAY like the indexed clips'
    // (round 18 — ledger parity with the text surface: a source stuck
    // re-sending a short clip must not read as steady-state kept)
    val frameCount = spark.read.parquet(corpus).count()
    val s3 = VideoIngest.ingestVideoBatch(b2, corpus, "vid_ingest_idx")
    assert(s3.replays === 3L,
      "0 and 2 find their indexed copies; 999 replays via the corpus anti-join")
    assert(s3.kept === 0L, "a full redelivery keeps nothing")
    assert(corpusClips(corpus) === Set(0L, 1L, 2L, 999L))
    assert(spark.read.parquet(corpus).count() === frameCount, "no duplicate frames")
    spark.sql("DROP TABLE vid_ingest_idx")
  }

  test("cross-modality fails closed: text probe on a video index, video probe on a " +
    "text index, and video probe on a LEGACY (props-less) text index") {
    spark.sql("DROP TABLE IF EXISTS vid_cross_vidx")
    spark.sql("DROP TABLE IF EXISTS vid_cross_tidx")
    Dedup.writeVideoMinHashIndex(vid(Seq(0L, 1L)), "vid_cross_vidx")
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(spark, docs, "vid_cross_vidx", "text", "doc_id").count()
    }
    assert(e1.getMessage.contains("cross-modality"), e1.getMessage)

    Dedup.writeMinHashIndex(docs, "text", "doc_id", "vid_cross_tidx")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalVideoNearDups(spark, vid(Seq(2L)), "vid_cross_tidx").count()
    }
    assert(e2.getMessage.contains("cross-modality"), e2.getMessage)

    // a legacy index (pre-r16: no source property) is a TEXT index by
    // contract — text probes keep working, video probes fail
    spark.sql("ALTER TABLE vid_cross_tidx UNSET TBLPROPERTIES " +
      "('graft.minhash.source', 'graft.minhash.numHashes', 'graft.minhash.bands')")
    Dedup.incrementalNearDups(spark, docs, "vid_cross_tidx", "text", "doc_id").count()
    val e3 = intercept[IllegalArgumentException] {
      Dedup.incrementalVideoNearDups(spark, vid(Seq(2L)), "vid_cross_tidx").count()
    }
    assert(e3.getMessage.contains("cross-modality"), e3.getMessage)
    spark.sql("DROP TABLE vid_cross_vidx")
    spark.sql("DROP TABLE vid_cross_tidx")
  }

  // ------------------------------------------------------------------
  // Clip atomicity (round 17 — verdict r16 #1): expected_frames +
  // pendingPath park split clips; without a pendingPath violations are
  // loud; the ledger (verdict r16 #2) sums and surfaces rejections.
  // ------------------------------------------------------------------

  /** Stamp each frame row with its clip's expected frame count taken
    * from the FULL clip `full` — so a partial slice still declares the
    * whole clip's contract.
    */
  private def withExp(full: org.apache.spark.sql.DataFrame)(
      part: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    part.join(
      full.groupBy($"video_id").agg(count(lit(1)).as("expected_frames")),
      Seq("video_id"))

  test("a clip delivered across two batches dedups identically to single-batch delivery") {
    val tmp = Files.createTempDirectory("vidsplit").toString
    spark.sql("DROP TABLE IF EXISTS vid_whole_idx")
    spark.sql("DROP TABLE IF EXISTS vid_split_idx")

    // WHOLE variant: clips 0 and 1 in one batch, then 46 (class of 0)
    val whole = vid(Seq(0L, 1L))
    val sw1 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole), s"$tmp/wholeCorpus", "vid_whole_idx",
      pendingPath = Some(s"$tmp/wholePending"), batchId = 0L)
    assert((sw1.kept, sw1.extra("deferred")) === ((2L, 0L)))
    val sw2 = VideoIngest.ingestVideoBatch(
      withExp(vid(Seq(46L)))(vid(Seq(46L))), s"$tmp/wholeCorpus", "vid_whole_idx",
      pendingPath = Some(s"$tmp/wholePending"), batchId = 1L)
    assert(sw2.dropped === 1L, "whole delivery: 46 is a near-dup of indexed 0")

    // SPLIT variant: clip 0 arrives as 3+3 frames across two batches
    // (with the pre-r17 behavior batch 1 would index clip 0's PARTIAL
    // gram set — 2 of 5 grams, Jaccard 0.4 vs class — and 46 would
    // never be found)
    val b0 = withExp(whole)(
      vid(Seq(0L)).filter($"frame_idx" < 3).unionByName(vid(Seq(1L))))
    val s0 = VideoIngest.ingestVideoBatch(
      b0, s"$tmp/splitCorpus", "vid_split_idx",
      pendingPath = Some(s"$tmp/splitPending"), batchId = 0L)
    assert((s0.kept, s0.dropped, s0.replays, s0.extra("deferred")) === ((1L, 0L, 0L, 1L)))
    assert(corpusClips(s"$tmp/splitCorpus") === Set(1L), "split clip 0 is parked, not indexed")
    val b1 = withExp(whole)(vid(Seq(0L)).filter($"frame_idx" >= 3))
    val s1 = VideoIngest.ingestVideoBatch(
      b1, s"$tmp/splitCorpus", "vid_split_idx",
      pendingPath = Some(s"$tmp/splitPending"), batchId = 1L)
    assert((s1.kept, s1.extra("deferred")) === ((1L, 0L)), "clip 0 completed and processed")
    val s2 = VideoIngest.ingestVideoBatch(
      withExp(vid(Seq(46L)))(vid(Seq(46L))), s"$tmp/splitCorpus", "vid_split_idx",
      pendingPath = Some(s"$tmp/splitPending"), batchId = 2L)
    assert(s2.dropped === 1L, "split delivery: 46 still found as a near-dup of 0")

    // both variants converge to the same corpus and index
    def frameSet(p: String): Set[(Long, Int)] =
      spark.read.parquet(p).select($"video_id", $"frame_idx")
        .as[(Long, Int)].collect().toSet
    assert(frameSet(s"$tmp/splitCorpus") === frameSet(s"$tmp/wholeCorpus"))
    def idxIds(t: String): Set[Long] =
      spark.table(t).select($"doc_id").distinct().as[Long].collect().toSet
    assert(idxIds("vid_split_idx") === idxIds("vid_whole_idx"))
    spark.sql("DROP TABLE vid_whole_idx")
    spark.sql("DROP TABLE vid_split_idx")
  }

  test("replaying the completing batch is idempotent (versioned pending store)") {
    val tmp = Files.createTempDirectory("vidreplay").toString
    spark.sql("DROP TABLE IF EXISTS vid_rp_idx")
    val whole = vid(Seq(0L))
    val part1 = withExp(whole)(whole.filter($"frame_idx" < 3))
    val part2 = withExp(whole)(whole.filter($"frame_idx" >= 3))
    VideoIngest.ingestVideoBatch(part1, s"$tmp/corpus", "vid_rp_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 0L)
    VideoIngest.ingestVideoBatch(part2, s"$tmp/corpus", "vid_rp_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 1L)
    val frames = spark.read.parquet(s"$tmp/corpus").count()
    val idxRows = spark.table("vid_rp_idx").count()
    // crash-replay of batch 1: the pending version it read (v=0) is
    // still there, the union reproduces the same complete set, and the
    // index same-id protocol absorbs the re-processing
    val sr = VideoIngest.ingestVideoBatch(part2, s"$tmp/corpus", "vid_rp_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 1L)
    assert(sr.replays === 1L, "clip 0 finds its own indexed copy")
    assert(spark.read.parquet(s"$tmp/corpus").count() === frames, "no duplicate frames")
    assert(spark.table("vid_rp_idx").count() === idxRows, "never re-indexed")
    spark.sql("DROP TABLE vid_rp_idx")
  }

  test("pending frames survive a GAP batch (no frames for the parked clip) and the " +
    "store stays GC-bounded") {
    val tmp = Files.createTempDirectory("vidgap").toString
    spark.sql("DROP TABLE IF EXISTS vid_gap_idx")
    val whole = vid(Seq(0L))
    val other = vid(Seq(1L))
    // batch 0: first half of clip 0 — parked
    val s0 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole.filter($"frame_idx" < 3)), s"$tmp/corpus", "vid_gap_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 0L)
    assert((s0.kept, s0.extra("deferred")) === ((0L, 1L)))
    // batch 1: a GAP for clip 0 (only clip 1 arrives) — the parked
    // frames must carry forward, recounted as deferred
    val s1 = VideoIngest.ingestVideoBatch(
      withExp(other)(other), s"$tmp/corpus", "vid_gap_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 1L)
    assert((s1.kept, s1.extra("deferred")) === ((1L, 1L)))
    assert(corpusClips(s"$tmp/corpus") === Set(1L))
    // batch 2: the second half completes clip 0 across the gap
    val s2 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole.filter($"frame_idx" >= 3)), s"$tmp/corpus", "vid_gap_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 2L)
    assert((s2.kept, s2.extra("deferred")) === ((1L, 0L)))
    assert(corpusClips(s"$tmp/corpus") === Set(0L, 1L))
    assert(spark.read.parquet(s"$tmp/corpus").filter($"video_id" === 0L).count() === 6L,
      "all six frames of the gap-split clip landed")
    // GC bound: at most the read anchor + the just-written version remain
    val versions = new java.io.File(s"$tmp/pending").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("v=")).sorted
    assert(versions.length <= 2, s"pending store grew: ${versions.mkString(",")}")
    assert(versions.contains("v=2"))
    spark.sql("DROP TABLE vid_gap_idx")
  }

  test("contract violations are loud: split clip without pendingPath; over-delivery; " +
    "contradictory expected_frames declarations") {
    val tmp = Files.createTempDirectory("vidloud").toString
    spark.sql("DROP TABLE IF EXISTS vid_loud_idx")
    val whole = vid(Seq(0L))
    val e1 = intercept[IllegalStateException] {
      VideoIngest.ingestVideoBatch(
        withExp(whole)(whole.filter($"frame_idx" < 3)), s"$tmp/corpus", "vid_loud_idx")
    }
    assert(e1.getMessage.contains("pendingPath"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      VideoIngest.ingestVideoBatch(
        whole.withColumn("expected_frames", lit(3L)), s"$tmp/corpus", "vid_loud_idx",
        pendingPath = Some(s"$tmp/pending"), batchId = 0L)
    }
    assert(e2.getMessage.contains("MORE"), e2.getMessage)
    // rows of one clip declaring DIFFERENT expected counts: resolved
    // loud, never silently by max
    val contra = whole.withColumn("expected_frames",
      when($"frame_idx" < 3, lit(6L)).otherwise(lit(4L)))
    val e3 = intercept[IllegalStateException] {
      VideoIngest.ingestVideoBatch(contra, s"$tmp/corpus", "vid_loud_idx",
        pendingPath = Some(s"$tmp/pending"), batchId = 0L)
    }
    assert(e3.getMessage.contains("CONTRADICTORY"), e3.getMessage)
    // null expected_frames clips keep the trusted whole-clip contract
    val s = VideoIngest.ingestVideoBatch(
      whole.withColumn("expected_frames", lit(null).cast("long")),
      s"$tmp/corpus", "vid_loud_idx", pendingPath = Some(s"$tmp/pending"), batchId = 1L)
    assert((s.kept, s.extra("deferred")) === ((1L, 0L)))
    spark.sql("DROP TABLE IF EXISTS vid_loud_idx")
  }

  test("a stale PARTIAL redelivery of a completed clip surfaces as staleDropped, " +
    "never parked (counter split out of replays — verdict r17 #5)") {
    val tmp = Files.createTempDirectory("vidstale").toString
    spark.sql("DROP TABLE IF EXISTS vid_stale_idx")
    val whole = vid(Seq(0L))
    // batch 0: the whole clip completes and is indexed + stored
    val s0 = VideoIngest.ingestVideoBatch(withExp(whole)(whole), s"$tmp/corpus",
      "vid_stale_idx", pendingPath = Some(s"$tmp/pending"), batchId = 0L)
    assert((s0.kept, s0.extra("deferred")) === ((1L, 0L)))
    // batch 1: an at-least-once source redelivers only HALF the clip —
    // its missing frames will never arrive (the clip completed long
    // ago); parking it would leave `deferred` nonzero forever
    val s1 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole.filter($"frame_idx" < 3)), s"$tmp/corpus",
      "vid_stale_idx", pendingPath = Some(s"$tmp/pending"), batchId = 1L)
    assert(s1.extra("deferred") === 0L, "stale fragment must not park")
    assert(s1.extra("staleDropped") === 1L, "dropped at the gate, on the misbehaving-source counter")
    assert(s1.replays === 0L,
      "NOT a replay: an operator watching replays must not see fragment redelivery " +
        "as benign whole-clip redelivery")
    assert(spark.read.parquet(s"$tmp/corpus").count() === whole.count(),
      "no duplicate frames, no partial re-append")
    // the index still holds the FULL-clip gram set: a later probe of
    // the clip's class finds it (a partial re-index would have hidden it)
    val hits = Dedup.incrementalVideoNearDups(spark, vid(Seq(23L)), "vid_stale_idx")
    assert(hits.select($"i").as[Long].collect().toSet === Set(0L))
    // batch 2: deferred stays drained on subsequent batches
    val s2 = VideoIngest.ingestVideoBatch(withExp(vid(Seq(1L)))(vid(Seq(1L))),
      s"$tmp/corpus", "vid_stale_idx", pendingPath = Some(s"$tmp/pending"), batchId = 2L)
    assert((s2.kept, s2.extra("deferred")) === ((1L, 0L)))
    spark.sql("DROP TABLE vid_stale_idx")
  }

  test("pendingMaxAgeBatches: a clip parked past the bound is EVICTED, surfaces as " +
    "agedOut, and a later WHOLE redelivery still ingests (verdict r17 #1)") {
    val tmp = Files.createTempDirectory("vidage").toString
    spark.sql("DROP TABLE IF EXISTS vid_age_idx")
    val whole = vid(Seq(0L))
    val age = Some(2L)
    def gap(id: Long, b: Long) = VideoIngest.ingestVideoBatch(
      withExp(vid(Seq(id)))(vid(Seq(id))), s"$tmp/corpus", "vid_age_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = b, pendingMaxAgeBatches = age)
    // batch 0: first half of clip 0 parks (age 0)
    val s0 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole.filter($"frame_idx" < 3)), s"$tmp/corpus", "vid_age_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 0L, pendingMaxAgeBatches = age)
    assert((s0.kept, s0.extra("deferred"), s0.extra("agedOut")) === ((0L, 1L, 0L)))
    // gap batches: ages 1 and 2 are both WITHIN the bound (breach is >, not >=)
    val s1 = gap(1L, 1L)
    assert((s1.kept, s1.extra("deferred"), s1.extra("agedOut")) === ((1L, 1L, 0L)))
    val s2 = gap(2L, 2L)
    assert((s2.kept, s2.extra("deferred"), s2.extra("agedOut")) === ((1L, 1L, 0L)))
    // batch 3: age 3 > 2 — evicted, the pending store drains, agedOut is loud
    val s3 = gap(3L, 3L)
    assert((s3.kept, s3.extra("deferred"), s3.extra("agedOut")) === ((1L, 0L, 1L)))
    assert(s3.extra("staleDropped") === 0L, "eviction is its own signal, not a stale fragment")
    assert(corpusClips(s"$tmp/corpus") === Set(1L, 2L, 3L),
      "an evicted partial never reaches corpus or index")
    // the ledger still closes: every batch's complete clips are fully
    // accounted and the evicted clip appears exactly once, in agedOut
    assert(Seq(s0, s1, s2, s3).map(s => s.kept + s.dropped + s.replays).sum === 3L)
    // a later WHOLE redelivery of the evicted clip ingests normally —
    // eviction lost nothing the source can still provide
    val s4 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole), s"$tmp/corpus", "vid_age_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 4L, pendingMaxAgeBatches = age)
    assert((s4.kept, s4.extra("deferred"), s4.extra("agedOut")) === ((1L, 0L, 0L)))
    assert(corpusClips(s"$tmp/corpus") === Set(0L, 1L, 2L, 3L))
    spark.sql("DROP TABLE vid_age_idx")
  }

  test("crash residual (verdict r17 #7): a partial redelivery of an index-but-not-corpus " +
    "clip parks, SURFACES via the age bound, and resolves on whole redelivery") {
    val tmp = Files.createTempDirectory("vidresid").toString
    spark.sql("DROP TABLE IF EXISTS vid_resid_idx")
    val whole = vid(Seq(0L))
    val age = Some(1L)
    def ingest(part: org.apache.spark.sql.DataFrame, full: org.apache.spark.sql.DataFrame,
        b: Long) = VideoIngest.ingestVideoBatch(
      withExp(full)(part), s"$tmp/corpus", "vid_resid_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = b, pendingMaxAgeBatches = age)
    // batch 0: the whole clip completes — indexed AND stored
    assert(ingest(whole, whole, 0L).kept === 1L)
    val clip0IdxRows = spark.table("vid_resid_idx").filter($"doc_id" === 0L).count()
    // the crash window: corpus append lost, index entry survived
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(new java.io.File(s"$tmp/corpus"))
    // batch 1: a PARTIAL redelivery of exactly that clip — the corpus
    // cannot prove it completed, so the stale-fragment rule cannot fire
    // and the fragment PARKS (the documented residual)
    val s1 = ingest(whole.filter($"frame_idx" < 3), whole, 1L)
    assert((s1.extra("deferred"), s1.extra("staleDropped"), s1.replays) === ((1L, 0L, 0L)))
    // batch 2: a gap batch — still parked, within the bound; without
    // the bound this clip would sit invisible in `deferred` forever
    val s2 = ingest(vid(Seq(1L)), vid(Seq(1L)), 2L)
    assert((s2.extra("deferred"), s2.extra("agedOut")) === ((1L, 0L)))
    // batch 3: age 2 > 1 — the permanently-parked residual SURFACES
    val s3 = ingest(vid(Seq(2L)), vid(Seq(2L)), 3L)
    assert((s3.extra("deferred"), s3.extra("agedOut")) === ((0L, 1L)))
    // whole redelivery resolves: same-id replay, corpus-only heal,
    // never re-indexed (the round-17 replay protocol end to end)
    val s4 = ingest(whole, whole, 4L)
    assert((s4.replays, s4.kept, s4.extra("deferred")) === ((1L, 0L, 0L)),
      s"whole redelivery must replay-absorb, got $s4")
    assert(spark.read.parquet(s"$tmp/corpus").filter($"video_id" === 0L).count() ===
      whole.count(), "the crash-window clip healed into the corpus whole")
    assert(spark.table("vid_resid_idx").filter($"doc_id" === 0L).count() === clip0IdxRows,
      "never re-indexed")
    spark.sql("DROP TABLE vid_resid_idx")
  }

  test("keeper determinism (ADVICE r17): a redelivered parked frame keeps the PENDING " +
    "copy's bytes, so the completed clip's gram set is first-arrival-deterministic") {
    val tmp = Files.createTempDirectory("vidkeep").toString
    spark.sql("DROP TABLE IF EXISTS vid_keep_idx")
    val whole = vid(Seq(0L))
    val origFrame1 = whole.filter($"frame_idx" === 1)
      .select($"media").as[Array[Byte]].head()
    // batch 0: frames 0-2 park
    val s0 = VideoIngest.ingestVideoBatch(
      withExp(whole)(whole.filter($"frame_idx" < 3)), s"$tmp/corpus", "vid_keep_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 0L)
    assert(s0.extra("deferred") === 1L)
    // batch 1: the source REDELIVERS frame 1 with DIFFERENT bytes
    // (another clip's decodable frame) alongside the completing half —
    // the union+dropDuplicates keeper this replaces kept an arbitrary
    // copy; the contract is first-arrival-wins
    val tampered = vid(Seq(5L)).filter($"frame_idx" === 1).withColumn("video_id", lit(0L))
    val b1 = withExp(whole)(tampered.unionByName(whole.filter($"frame_idx" >= 3)))
    val s1 = VideoIngest.ingestVideoBatch(b1, s"$tmp/corpus", "vid_keep_idx",
      pendingPath = Some(s"$tmp/pending"), batchId = 1L)
    assert((s1.kept, s1.extra("deferred")) === ((1L, 0L)), "clip completed")
    val storedFrame1 = spark.read.parquet(s"$tmp/corpus")
      .filter($"video_id" === 0L && $"frame_idx" === 1)
      .select($"media").as[Array[Byte]].head()
    assert(storedFrame1.sameElements(origFrame1),
      "the PENDING (first-arrival) copy's bytes must win over the redelivered copy")
    // and the indexed gram set matches a single-batch whole delivery:
    // clip 23 (same class as an untampered clip 0) probes to a hit
    val hits = Dedup.incrementalVideoNearDups(spark, vid(Seq(23L)), "vid_keep_idx")
    assert(hits.select($"i").as[Long].collect().toSet === Set(0L),
      "index holds the first-arrival gram set")
    spark.sql("DROP TABLE vid_keep_idx")
  }

  test("a legacy props-less VIDEO index is adopted by its own ingest loop, not bricked") {
    val tmp = Files.createTempDirectory("vidlegacy").toString
    spark.sql("DROP TABLE IF EXISTS vid_legacy_idx")
    // batch 0 creates the index, then the props are stripped to
    // simulate a pre-r17 crash-window (props-less) video index
    VideoIngest.ingestVideoBatch(vid(Seq(0L)), s"$tmp/corpus", "vid_legacy_idx")
    spark.sql("ALTER TABLE vid_legacy_idx UNSET TBLPROPERTIES " +
      "('graft.minhash.source', 'graft.minhash.numHashes', 'graft.minhash.bands')")
    // pre-fix, the next batch's probe threw cross-modality (props-less
    // defaults to text) before any maintenance could stamp it — now the
    // loop adopts its own index up front and keeps working
    val s = VideoIngest.ingestVideoBatch(vid(Seq(46L, 1L)), s"$tmp/corpus", "vid_legacy_idx")
    assert((s.kept, s.dropped) === ((1L, 1L)), "46 found as a near-dup of indexed 0")
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("vid_legacy_idx"))
      .properties
    assert(props.get("graft.minhash.source").contains("video_framegram2"))
    spark.sql("DROP TABLE vid_legacy_idx")
  }

  test("frame ledger: null ids and duplicate frames surface as rejected, not near-dups") {
    val tmp = Files.createTempDirectory("vidledger").toString
    spark.sql("DROP TABLE IF EXISTS vid_ledger_idx")
    val good = vid(Seq(0L, 1L))
    val nullId = vid(Seq(2L)).withColumn("video_id", lit(null).cast("long")).limit(2)
    val dupFrame = vid(Seq(0L)).filter($"frame_idx" === 0) // duplicates an existing frame
    val batch = good.unionByName(nullId).unionByName(dupFrame)
    val s = VideoIngest.ingestVideoBatch(batch, s"$tmp/corpus", "vid_ledger_idx")
    assert(s.rejected === 3L, "2 id-less rows + 1 duplicate frame")
    assert((s.kept, s.dropped, s.replays) === ((2L, 0L, 0L)))
    assert(s.rejected + good.count() === batch.count(), "frame ledger closes")
    spark.sql("DROP TABLE vid_ledger_idx")
  }

  test("streaming loop with pendingPath: split clips complete across micro-batches, " +
    "and the per-batch ledger reaches the operator via onStats") {
    val tmp = Files.createTempDirectory("vidstreamsplit").toString
    val (corpus, src) = (s"$tmp/corpus", s"$tmp/src")
    spark.sql("DROP TABLE IF EXISTS vid_ss_idx")
    val whole = vid(Seq(0L, 1L))
    val b1 = withExp(whole)(
      vid(Seq(0L)).filter($"frame_idx" < 3).unionByName(vid(Seq(1L))))
    b1.write.parquet(src)
    val seen = scala.collection.mutable.ArrayBuffer.empty[CorpusIngest.IngestLedger]
    val q = CorpusIngest.start(spark.readStream.schema(b1.schema).parquet(src), s"$tmp/ckpt",
      s => seen.synchronized { seen += s; () })(
      (b, id) => VideoIngest.ingestVideoBatch(
        b, corpus, "vid_ss_idx", pendingPath = Some(s"$tmp/pending"), batchId = id))
    try {
      q.processAllAvailable()
      assert(corpusClips(corpus) === Set(1L), "split clip 0 parked")
      withExp(whole)(vid(Seq(0L)).filter($"frame_idx" >= 3))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(corpusClips(corpus) === Set(0L, 1L), "clip 0 completed")
      val hits = Dedup.incrementalVideoNearDups(spark, vid(Seq(46L)), "vid_ss_idx")
      assert(hits.select($"i").as[Long].collect().toSet === Set(0L),
        "the completed clip's FULL gram set is indexed")
      // the STREAMING operator saw the ledger, not just batch callers:
      // batch 0 parked one clip, batch 1 drained it (round 18 — the
      // alert counters only matter if the loop surfaces them)
      assert(seen.synchronized(seen.map(_.extra("deferred")).toSeq) === Seq(1L, 0L))
      assert(seen.synchronized(seen.map(_.kept).sum) === 2L)
    } finally q.stop()
    spark.sql("DROP TABLE vid_ss_idx")
  }

  test("streaming loop: micro-batches land deduped; probe sees them immediately") {
    val tmp = Files.createTempDirectory("vidstream").toString
    val (corpus, src) = (s"$tmp/corpus", s"$tmp/src")
    spark.sql("DROP TABLE IF EXISTS vid_stream_idx")
    val b1 = vid(Seq(0L, 23L, 1L))
    b1.write.parquet(src)
    val q = CorpusIngest.start(spark.readStream.schema(b1.schema).parquet(src), s"$tmp/ckpt")(
      (b, id) => VideoIngest.ingestVideoBatch(b, corpus, "vid_stream_idx", batchId = id))
    try {
      q.processAllAvailable()
      assert(corpusClips(corpus) === Set(0L, 1L))
      vid(Seq(46L, 2L)).write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(corpusClips(corpus) === Set(0L, 1L, 2L))
      // the freshly streamed index answers an incremental probe
      val hits = Dedup.incrementalVideoNearDups(spark, vid(Seq(23L * 3)), "vid_stream_idx")
      assert(hits.select($"i").as[Long].collect().toSet === Set(0L))
    } finally q.stop()
    spark.sql("DROP TABLE vid_stream_idx")
  }

  test("pendingMaxAgeBatches on a contract-less stream fails loud (ADVICE r18: the " +
    "completeness gate never runs without expected_frames, so the bound would be a " +
    "silent no-op — no eviction, no agedOut signal)") {
    val tmp = Files.createTempDirectory("vidnoctr").toString
    val frames = Multimodal
      .synthVideoFrames(Seq(0L).toDF("doc_id"), "doc_id")
      .select($"video_id", $"frame_idx", $"media") // no expected_frames column
    val e = intercept[IllegalArgumentException] {
      VideoIngest.ingestVideoBatch(
        frames, s"$tmp/corpus", "vid_noctr_idx",
        pendingPath = Some(s"$tmp/pending"), batchId = 0L,
        pendingMaxAgeBatches = Some(3L))
    }
    assert(e.getMessage.contains("expected_frames"))
    spark.sql("DROP TABLE IF EXISTS vid_noctr_idx")
  }
}

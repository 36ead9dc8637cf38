package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Materialize}
import graft.streaming.CorpusIngest.IngestLedger

/** Streaming VIDEO content-dedup ingest (round 16 — verdict r15 #3),
  * completing the at-rest/streaming matrix for the last dedup
  * modality: each micro-batch of (video_id, frame_idx, media) FRAME
  * rows is (1) near-deduped clip-against-clip within itself
  * (frame-gram MinHash banding + EXACT Jaccard verify + greedy min-id
  * keeper — re-encoded copies hash frame-identical and land at
  * Jaccard 1), (2) probed against the at-rest video index
  * ([[Dedup.incrementalVideoNearDupsFromShingles]] — reads only the
  * band buckets the batch hashes into; verification is the MinHash
  * estimate from the stored signatures, the text-index contract), and
  * (3) surviving clips are appended to BOTH the index
  * ([[Dedup.appendToVideoIndexFromShingles]], O(batch)) and the frame
  * corpus.
  *
  * CLIP ATOMICITY (round 17 — verdict r16 #1): a clip split across
  * micro-batches would otherwise index a PARTIAL gram set under the
  * full clip id, and the replay protocol would then hide the clip's
  * true near-dups forever. The contract is enforced through an
  * optional `expected_frames` column on the stream:
  *  - with a `pendingPath`, clips whose delivered (distinct-frame)
  *    count is below `expected_frames` are PARKED in a versioned
  *    pending store and complete in a later batch — a clip delivered
  *    across two batches dedups identically to single-batch delivery
  *    (VideoIngestSpec pins this);
  *  - without a `pendingPath`, an incomplete clip is a LOUD error;
  *  - a delivered count ABOVE `expected_frames` — or rows of one clip
  *    DECLARING contradictory expected counts — is always a loud
  *    error (the source is violating its own declared contract);
  *  - a PARTIAL redelivery of a clip the corpus already holds is a
  *    stale fragment, not a split clip (its missing frames completed
  *    long ago): it is dropped at the gate and counted as
  *    `staleDropped` (round 18, verdict r17 #5 — its own counter, not
  *    `replays`: fragment redelivery of COMPLETED clips is a
  *    misbehaving-source signal an operator must be able to alert on,
  *    distinct from benign whole-clip redelivery);
  *  - clips with a null `expected_frames` (or a stream without the
  *    column at all) keep the round-16 contract: the source delivers
  *    whole clips per batch, trusted.
  * The pending store is replay-safe by VERSIONING on the micro-batch
  * id: batch N reads the newest `v=<k>` with k < N, unions it with
  * its own frames, and overwrites `v=N` with the still-incomplete
  * clips — a replay of batch N re-reads the same k and reproduces the
  * same complete/pending split bit-for-bit; completed clips that
  * reappear on replay are absorbed by the index's same-id protocol.
  * Versions other than {k, N} are garbage-collected after the write
  * (batch N−1's checkpoint has committed by the time batch N runs).
  * Streamed through [[CorpusIngest.start]], pass the stream's batch id
  * as `batchId`; batch-mode callers passing `pendingPath` must supply a
  * strictly increasing `batchId` themselves.
  *
  * PENDING-STORE BOUND (round 18 — verdict r17 #1): every batch
  * rewrites the FULL still-pending frame set to a new version, so a
  * source that parks clips it never completes makes each subsequent
  * batch pay O(total-pending) write cost with no alarm beyond the
  * growing `deferred` count. `pendingMaxAgeBatches = Some(k)` bounds
  * that: each frame carries the batch id it FIRST arrived in
  * (`parked_batch` — redelivered copies keep the original stamp, see
  * the keeper rule below), and a clip still incomplete more than `k`
  * batches after its first frame arrived is EVICTED from the store
  * and surfaced as `agedOut` — the alert counter an operator pages
  * on. Eviction is replay-deterministic (age is a pure function of
  * the pending version read and `batchId`) and is not data loss
  * beyond what the source already caused: the clip was never going
  * to complete from the store alone, and a later WHOLE redelivery
  * still ingests it normally. `None` (the default) keeps the
  * unbounded round-17 contract.
  *
  * KEEPER (ADVICE r17): when a parked frame is redelivered while
  * still pending, the PENDING copy's bytes win, via an anti-join of
  * batch rows against pending keys — first-arrival-wins is
  * deterministic across a crash-replay of the same batch, where the
  * previous union+dropDuplicates kept an arbitrary copy (and with it
  * a nondeterministic gram set) if the redelivered bytes differed.
  *
  * Replay safety is the [[NearDupIngest]] loop's at CLIP granularity:
  * index-before-corpus ordering, a same-id probe hit is a replay
  * confirmed against the corpus, crash-window orphans append to the
  * corpus only. Clips with fewer than two DECODABLE frames have no gram
  * set ([[Dedup.videoShingles]] excludes them), so like undecodable
  * images they never enter the index and idempote through the corpus
  * membership check instead.
  *
  * DETERMINISM (the ImageIngest ADVICE-r15 contract): the kept frame
  * rows are MATERIALIZED before shingling, so the grams — and the
  * index signatures derived from them — come from exactly the frame
  * bytes the corpus append stores; a batch carrying duplicate
  * (video_id, frame_idx) rows with different bytes cannot index one
  * copy's grams under another copy's frames.
  *
  * LEDGER (round 17 — verdict r16 #2; counters split round 18 —
  * verdict r17 #5): rows without a video_id and in-batch duplicate
  * (video_id, frame_idx) rows are contract REJECTIONS, surfaced as
  * `rejected` (FRAME units, this batch's raw rows only — a frame
  * redelivered across batches is absorbed by the pending union, not a
  * rejection). The clip-unit ledger fields partition the clips the gate
  * saw (`dropped` counts near-dups; `extra` always holds `deferred`,
  * `staleDropped` and `agedOut`):
  * `kept + dropped + replays == <complete clips processed this
  * batch>` (a redelivered corpus-present UNSHINGLEABLE clip counts as
  * a replay, not a keep — round 18, ledger parity with the text
  * surface), `staleDropped == <stale fragments dropped at the gate>`,
  * `agedOut == <clips evicted for out-waiting pendingMaxAgeBatches>`,
  * and `rejected == batch.count() − <post-contract frames>`;
  * `deferred` counts clips sitting in the pending store after this
  * batch (a still-incomplete clip recounts each batch until it
  * completes, ages out, or its source dies).
  */
object VideoIngest {

  /** One video-ingest micro-batch of a (video_id, frame_idx, media[,
    * expected_frames]) frame stream; stream it through
    * [[CorpusIngest.start]] with the stream's batch id. See the object
    * scaladoc for the clip-atomicity contract `expected_frames` +
    * `pendingPath` enable. The ledger is in CLIP units (every field
    * but `rejected`, which counts frames) — the object scaladoc's
    * LEDGER. Its alert counters (`agedOut`, `staleDropped`) exist so a
    * streaming operator can page on them: read them in `start`'s
    * `onStats`.
    */
  def ingestVideoBatch(
      batch: DataFrame,
      corpusPath: String,
      indexTable: String,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      nBuckets: Int = 64,
      compactFanout: Int = 16,
      pendingPath: Option[String] = None,
      batchId: Long = 0L,
      pendingMaxAgeBatches: Option[Long] = None,
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): IngestLedger = {
    val spark = batch.sparkSession
    pendingMaxAgeBatches.foreach(k =>
      require(k >= 1, s"pendingMaxAgeBatches must be >= 1 (a clip always gets at least " +
        s"its arrival batch plus one to complete), got $k"))
    val hasExpected = batch.columns.contains("expected_frames")
    // the bound only has meaning inside the completeness gate, and the
    // gate only runs when the stream declares expected_frames — a
    // configured bound on a contract-less stream would otherwise be a
    // SILENT no-op: no eviction, no agedOut signal (ADVICE r18)
    require(
      pendingMaxAgeBatches.isEmpty || hasExpected,
      "pendingMaxAgeBatches is set but the stream has no expected_frames column — " +
        "the completeness gate (and therefore the age bound) only runs on streams that " +
        "declare it; drop the bound or add the column")
    // (1a) identity + in-batch frame dedup, materialized so every
    // later stage (shingles, index, corpus append) reads the SAME rows
    val contractCols = Seq(col("video_id"), col("frame_idx"), col("media")) ++
      (if (hasExpected) Seq(col("expected_frames").cast("long").as("expected_frames"))
       else Nil)
    val batchFrames = Materialize(
      batch
        .select(contractCols: _*)
        .filter(col("video_id").isNotNull)
        .dropDuplicates("video_id", "frame_idx")
    )
    // a pre-r17 crash-window video index has no modality prop; the
    // cross-modality check in the probe would brick the loop on it
    // before any maintenance pass could stamp it — adopt it here,
    // owner-declared (verdict r16 #6)
    if (spark.catalog.tableExists(indexTable))
      Dedup.stampVideoMinHashIndexIfLegacy(spark, indexTable, numHashes, bands)
    // (1b) clip-completeness gate (round 17 — see scaladoc); stale
    // fragments of already-completed clips and aged-out parked clips
    // are withheld there, each on its own counter
    val (workFrames, deferredClips, staleClips, agedOutClips) =
      if (!hasExpected) (batchFrames, 0L, 0L, 0L)
      else
        completenessGate(spark, batchFrames, corpusPath, pendingPath, batchId,
          pendingMaxAgeBatches, idBloomPath, idBloomItems)
    val keptFrames =
      if (hasExpected)
        Materialize(workFrames.select(col("video_id"), col("frame_idx"), col("media")))
      else workFrames
    def grams(u: DataFrame): DataFrame = u.select(col("doc_id"), col("shingles"))
    val stats = NearDupIngest.ingestBatch(batch, corpusPath, indexTable, compactFanout,
      idBloomPath, idBloomItems, NearDupIngest.Spec(
        idCol = "doc_id",
        admit = { _ =>
          // (1c) ONE decode+gram pass per batch over the clips the gate
          // released; a clip too short/undecodable to gram keeps a null
          // gram set
          val clips = Materialize(
            keptFrames.select(col("video_id").as("doc_id")).distinct()
              .join(Dedup.videoShingles(keptFrames), Seq("doc_id"), "left"))
          NearDupIngest.Admitted(clips, batchFrames.count(), clips.count())
        },
        indexable = Some(col("shingles").isNotNull),
        // EXACT-verified pairs (the inline form — both gram sets are in
        // the batch)
        pairs = u => Dedup.videoNearDupPairsFromShingles(grams(u), threshold, numHashes, bands),
        probe = (u, dropSameId) => Dedup.incrementalVideoNearDupsFromShingles(
          spark, grams(u), indexTable, numHashes, bands, threshold, dropSameId = dropSameId),
        appendIndex = u => Dedup.appendToVideoIndexFromShingles(
          grams(u), indexTable, numHashes, bands, nBuckets),
        // the MinHash-aware entry point stamps the modality prop on a
        // legacy index (verdict r16 #6)
        compact = () => Dedup.compactVideoMinHashIndex(spark, indexTable, numHashes, bands),
        // the corpus holds the kept clips' FRAME rows; the id gate
        // probes clip ids against their video_id column
        corpusRows = u => keptFrames.join(
          u.select(col("doc_id").as("video_id")), Seq("video_id"), "left_semi"),
        corpusIdCol = Some("video_id")
      ))
    stats.copy(extra =
      Map("deferred" -> deferredClips, "staleDropped" -> staleClips, "agedOut" -> agedOutClips))
  }

  /** Split this batch's (already contract-filtered) frames into the
    * COMPLETE clips to process now and the pending frames to carry —
    * see the object scaladoc's CLIP ATOMICITY section. Returns
    * (complete frames incl. `expected_frames`, clips left pending,
    * stale fragments dropped — redeliveries of corpus-present clips —
    * and clips evicted for out-waiting `maxAgeBatches`).
    */
  private def completenessGate(
      spark: SparkSession,
      batchFrames: DataFrame,
      corpusPath: String,
      pendingPath: Option[String],
      batchId: Long,
      maxAgeBatches: Option[Long],
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): (DataFrame, Long, Long, Long) = {
    // every frame carries the batch it FIRST arrived in (the age-bound
    // clock); when a still-parked frame is redelivered, the PENDING
    // copy wins — bytes AND stamp — via the anti-join, so the keeper is
    // first-arrival-deterministic across crash-replays (ADVICE r17; the
    // previous union+dropDuplicates kept an arbitrary copy, and with it
    // a nondeterministic gram set, if the redelivered bytes differed)
    val stamped = batchFrames.withColumn("parked_batch", lit(batchId))
    val unioned = pendingPath.flatMap(p => readPending(spark, p, batchId)) match {
      case Some(prior) =>
        Materialize(
          stamped
            .join(
              prior.select(col("video_id"), col("frame_idx")),
              Seq("video_id", "frame_idx"),
              "left_anti")
            .unionByName(prior))
      case None => stamped
    }
    val perClip = unioned
      .groupBy(col("video_id"))
      .agg(
        count(lit(1)).as("delivered"),
        max(col("expected_frames")).as("expected"),
        min(col("expected_frames")).as("expected_mn")
      )
    // a clip whose rows DECLARE different expected counts is a
    // self-contradictory contract — resolve it loud, never by max
    // (the over-delivery discipline); min/max ignore nulls, so a clip
    // mixing nulls with ONE declared value keeps that value
    val contra = perClip
      .filter(col("expected_mn") =!= col("expected"))
      .select(col("video_id"), col("expected_mn"), col("expected"))
      .limit(5)
      .collect()
    if (contra.nonEmpty)
      throw new IllegalStateException(
        "video ingest: clips declare CONTRADICTORY expected_frames across their rows: " +
          contra.map(r => s"${r.get(0)} (${r.get(1)} vs ${r.get(2)})").mkString(", "))
    val over = perClip
      .filter(col("expected").isNotNull && col("delivered") > col("expected"))
      .select(col("video_id"), col("delivered"), col("expected"))
      .limit(5)
      .collect()
    if (over.nonEmpty)
      throw new IllegalStateException(
        "video ingest: clips delivered MORE distinct frames than their declared " +
          s"expected_frames — the source is violating its own contract: " +
          over.map(r => s"${r.get(0)} (${r.get(1)}/${r.get(2)})").mkString(", "))
    val incompleteAll = Materialize(
      perClip.filter(col("expected").isNotNull && col("delivered") < col("expected"))
        .select(col("video_id")))
    val incompleteCnt = incompleteAll.count()
    // a PARTIAL redelivery of a clip the corpus already holds is a
    // stale fragment, not a split clip — its missing frames will never
    // arrive (the clip completed long ago), so parking it would leave
    // `deferred` permanently nonzero. It must be DROPPED here, at the
    // gate: flowing it on would NOT be absorbed downstream — a partial
    // gram set sits below the Jaccard threshold against the clip's own
    // indexed full-gram signature, so the same-id replay path never
    // fires and the fragment would be indexed as a FRESH (corrupt,
    // partial) entry under the completed clip's id. Dropped fragments
    // surface as `staleDropped` (round 18 — their own counter, not
    // `replays`: fragment redelivery of completed clips is a
    // misbehaving-source signal). Residual (documented, spec-pinned):
    // a partial redelivery of a clip caught in the index-but-not-corpus
    // crash window still parks — that needs BOTH a crash and a partial
    // redelivery of the same clip, resolves if the source ever
    // redelivers it whole, and surfaces through the age bound below.
    // The corpus scan is SKIPPED when nothing is incomplete — the
    // steady-state whole-clips path pays no O(corpus) read (ADVICE r17).
    val (incompleteIds, staleClips) =
      if (incompleteCnt == 0L) (incompleteAll, 0L)
      else {
        // same stored filter as the step-4 gate, probed on video_id
        // (r19: bloom-negative incompletes park without a corpus scan)
        val staleGate = new CorpusIngest.CorpusIdGate(
          spark, CorpusIngest.corpusIds(spark, corpusPath)(_.select(col("video_id")).distinct()),
          "video_id", idBloomPath, idBloomItems)
        val (park, parkCnt, _) = staleGate.absent(incompleteAll)
        (park, incompleteCnt - parkCnt)
      }
    // age bound (round 18 — verdict r17 #1): a clip still incomplete
    // more than maxAgeBatches after its FIRST frame arrived is evicted
    // instead of parked again — the O(pending) per-batch rewrite stops
    // paying for clips their source never completes, and `agedOut` is
    // the loud signal. Age is a pure function of (pending version read,
    // batchId), so a crash-replay evicts identically.
    val (parkIds, agedOut) = maxAgeBatches match {
      case Some(maxAge) if incompleteCnt > 0L =>
        val aged = Materialize(
          unioned
            .join(incompleteIds, Seq("video_id"), "left_semi")
            .groupBy(col("video_id"))
            .agg(min(col("parked_batch")).as("first_seen"))
            .filter(lit(batchId) - col("first_seen") > maxAge)
            .select(col("video_id")))
        val agedCnt = aged.count()
        if (agedCnt == 0L) (incompleteIds, 0L)
        else
          (Materialize(incompleteIds.join(aged, Seq("video_id"), "left_anti")), agedCnt)
      case _ => (incompleteIds, 0L)
    }
    pendingPath match {
      case Some(p) =>
        val pendingFrames = Materialize(
          unioned.join(parkIds, Seq("video_id"), "left_semi"))
        val deferred = pendingFrames.select(col("video_id")).distinct().count()
        writePending(spark, p, batchId, pendingFrames)
        // complete clips leave the gate; parked, stale, AND aged-out
        // clips are withheld (stale/aged = dropped for good, each on
        // its own counter)
        (Materialize(unioned.join(incompleteAll, Seq("video_id"), "left_anti")),
          deferred, staleClips, agedOut)
      case None =>
        val short = incompleteIds.limit(5).collect()
        if (short.nonEmpty)
          throw new IllegalStateException(
            "video ingest: micro-batch split these clips (delivered < expected_frames) " +
              "and no pendingPath is configured to carry them: " +
              short.map(_.get(0)).mkString(", ") +
              " — pass pendingPath to park split clips across batches")
        (Materialize(unioned.join(incompleteAll, Seq("video_id"), "left_anti")),
          0L, staleClips, agedOut)
    }
  }

  /** The newest pending version strictly below `batchId`, if any —
    * versions ≥ batchId belong to a crashed attempt of THIS batch and
    * must be ignored for the replay to reproduce the same split. A
    * pre-r18 store (no `parked_batch` column) is adopted by stamping
    * its frames with the version they were read from — the earliest
    * arrival the store can still prove, so the age clock starts
    * conservatively rather than resetting.
    */
  private def readPending(
      spark: SparkSession,
      path: String,
      batchId: Long
  ): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = graft.sinks.Dfs.fs(spark, path)
    if (!fs.exists(p)) None
    else {
      val versions = fs
        .listStatus(p)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
        .filter(_ < batchId)
      if (versions.isEmpty) None
      else {
        val df = spark.read.parquet(s"$path/v=${versions.max}")
        Some(
          if (df.columns.contains("parked_batch")) df
          else df.withColumn("parked_batch", lit(versions.max)))
      }
    }
  }

  /** Overwrite `path/v=<batchId>` with the still-pending frames (an
    * EMPTY write is deliberate: it versions "nothing pending" so the
    * next batch reads fresh state instead of a stale predecessor),
    * then garbage-collect every other version except the one this
    * batch read from — the replay anchor until the checkpoint commits.
    */
  private def writePending(
      spark: SparkSession,
      path: String,
      batchId: Long,
      frames: DataFrame
  ): Unit = {
    frames.write.mode(SaveMode.Overwrite).parquet(s"$path/v=$batchId")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = graft.sinks.Dfs.fs(spark, path)
    val readVersion = fs
      .listStatus(p)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .filter(_ < batchId)
      .maxOption
    fs.listStatus(p)
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { q =>
        val n = q.getName
        n.startsWith("v=") && {
          val v = n.drop(2).toLong
          v != batchId && !readVersion.contains(v)
        }
      }
      .foreach(fs.delete(_, true))
  }
}

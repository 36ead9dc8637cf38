package graft.streaming

import java.io.ByteArrayInputStream

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter

import graft.ops.Dedup

/** Streaming corpus ingest with cross-batch exact dedup: each
  * micro-batch of documents is deduped against everything already kept
  * and the survivors are appended — a continuously-growing training
  * corpus where replayed deliveries and recrawled documents never land
  * twice.
  *
  * The cross-batch check is the [[Dedup.incrementalExact]] design at
  * streaming cadence WITHOUT the O(history)-per-batch trap: the Bloom
  * filter over history is maintained INCREMENTALLY (each batch
  * aggregates a same-sized filter over its survivors and ORs it into the
  * stored one — O(batch) work), so only bloom-positive rows (true dupes
  * + fpp false positives) ever touch the corpus-side anti-join.
  *
  * Crash safety: the bloom is updated and atomically swapped BEFORE the
  * corpus append. A crash between the two replays the batch with a
  * filter that over-claims membership — those rows are bloom-positive,
  * the anti-join against the corpus proves them absent, and they append
  * exactly once. The reverse order would lose them silently (a
  * bloom-negative replay of an already-appended row would re-append).
  * False positives are always confirmed; false negatives cannot occur.
  */
object CorpusIngest {

  /** File-based document stream (locally testable source: parquet files
    * of (doc_id, text) dropped into a directory).
    */
  def fileDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("doc_id BIGINT, text STRING").parquet(dir)

  /** Start the deduped-ingest sink. Corpus rows: (doc_id, fingerprint,
    * text), fingerprint-unique across the whole stream history.
    *
    * Both `corpusPath` and `bloomPath` may live on any Hadoop filesystem
    * (each is resolved through its own scheme). Point `bloomPath` at the
    * checkpoint filesystem on a cluster: the bloom is a few MB read and
    * re-written once per batch through [[graft.sinks.Dfs.swap]]
    * ([[writeBloom]]), so a stateless driver restarting elsewhere picks
    * the state up exactly where the last completed batch left it.
    */
  def dedupedIngest(
      docs: DataFrame,
      corpusPath: String,
      bloomPath: String,
      checkpoint: String,
      expectedItems: Long = 10000000L
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, corpusPath, bloomPath, expectedItems)
      }
      .start()

  /** One micro-batch: in-batch dedup, bloom prefilter, corpus anti-join
    * confirm, bloom swap, corpus append. Exposed for batch-mode reuse
    * and the spec's streamed==batch comparison.
    */
  def ingestBatch(
      batch: DataFrame,
      corpusPath: String,
      bloomPath: String,
      expectedItems: Long
  ): Unit = {
    val spark = batch.sparkSession
    // identity contract (round 18 — ADVICE r17's null-vec_id finding
    // generalized): the fingerprint IS this loop's identity, and a null
    // text fingerprints to null — it would pass the bloom's maybe-path
    // but never match the corpus anti-join (null keys don't join), so
    // pre-fix a null-text row re-appended on EVERY delivery
    val contractKept = batch.filter(col("text").isNotNull)
    // in-batch dedup, deterministic keeper (smallest doc_id)
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint"))
      .orderBy(col("doc_id"))
    val withFp = contractKept
      .select(col("doc_id"), md5(col("text")).as("fingerprint"), col("text"))
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val bloomFs = graft.sinks.Dfs.fs(spark, bloomPath)
    val stored = readBloom(bloomFs, bloomPath)
    val corpusExists = graft.sinks.Dfs.fs(spark, corpusPath).exists(new HPath(corpusPath))
    val candidates = stored match {
      case None => withFp // first batch: no history at all
      case Some(_) if !corpusExists =>
        withFp // bloom swapped but append crashed before creating the corpus
      case Some(StoredBloom(_, _, bytes)) =>
        val tagged = withFp.withColumn("maybe", Dedup.bloomProbe(bytes, xxhash64(col("text"))))
        val definite = tagged.filter(!col("maybe")).drop("maybe")
        val confirmed = tagged
          .filter(col("maybe"))
          .drop("maybe")
          .join(
            spark.read.parquet(corpusPath).select(col("fingerprint")),
            Seq("fingerprint"),
            "left_anti"
          )
        definite.unionByName(confirmed).select(col("doc_id"), col("fingerprint"), col("text"))
    }
    // survivors feed two jobs (bloom delta + append); pin the plan result
    val survivors = graft.ops.Materialize(candidates)
    // the delta MUST match the stored filter's sizing or mergeInPlace
    // throws (IncompatibleMergeException): the bloom file records its
    // own (items, bits) header, so deltas are always built to the
    // sizing the state was CREATED with — even across builds whose
    // default sizing formula changed
    val (items, bits) = stored match {
      case Some(StoredBloom(i, b, _)) => (i, b)
      case None => Dedup.bloomSizing(expectedItems, fpp = 0.01)
    }
    // bloom BEFORE corpus append (see scaladoc); nothing to append
    // when no row survived
    if (mergeBloom(bloomFs, bloomPath, survivors, col("text"), items, bits, stored.map(_.filter)))
      survivors.write.mode(SaveMode.Append).parquet(corpusPath)
  }

  /** Per-batch accounting returned by [[ingestNearDupBatch]] and the
    * image/video/semantic ingest analogues: rows that survived
    * (`kept`), rows dropped as duplicates — exact in-batch, near
    * in-batch, or near-dup vs the corpus (`nearDups`) — replays whose
    * id was already indexed, or unindexable rows the corpus already
    * holds ([[NearDupIngest]]; `replays`), rows REJECTED by the
    * identity contract before any dedup ran (`rejected` — null id, or
    * an in-batch duplicate id where the id is the identity; round 17,
    * ADVICE r16: these used to surface inside `nearDups`; null vec_id
    * in the semantic ingest lands here too, ADVICE r17), and three
    * [[VideoIngest]]-only clip counters: `deferred` (clips parked in
    * the pending store awaiting frame completeness), `staleDropped`
    * (round 18, verdict r17 #5 — PARTIAL redeliveries of clips the
    * corpus already holds, dropped at the completeness gate; split out
    * of `replays` because a source re-sending fragments of completed
    * clips is a misbehaving-source signal, while `replays` is benign
    * at-least-once redelivery), and `agedOut` (round 18, verdict r17
    * #1 — clips EVICTED from the pending store for out-waiting
    * `pendingMaxAgeBatches`; nonzero means a source is parking clips
    * it never completes).
    *
    * LEDGER: for the row-unit ingests (text/semantic/image),
    * `kept + nearDups + replays + rejected == batch.count()`. For
    * [[VideoIngest]] the stats are CLIP-unit
    * (`kept + nearDups + replays` covers the complete clips processed
    * this batch; `staleDropped` and `agedOut` count the clips the gate
    * withheld for good; `deferred` counts clips still pending) while
    * `rejected` stays in FRAME units — see its scaladoc.
    */
  final case class NearDupIngestStats(
      kept: Long,
      nearDups: Long,
      replays: Long,
      rejected: Long = 0L,
      deferred: Long = 0L,
      staleDropped: Long = 0L,
      agedOut: Long = 0L
  )

  /** Streaming NEAR-dup ingest — "dedup today's crawl against the whole
    * corpus" at streaming cadence: each micro-batch is (1) exact+near
    * deduped within itself, (2) probed against the at-rest MinHash index
    * ([[Dedup.incrementalNearDups]] — reads only the band buckets the
    * batch hashes into, never the whole index), and (3) the survivors are
    * appended to BOTH the index ([[Dedup.appendToMinHashIndex]], O(batch))
    * and the text corpus. The corpus only ever accretes docs that are not
    * near-duplicates of anything kept before them. Docs with fewer than
    * `shingleSize` tokens have no gram set and never index.
    *
    * Replay safety (at-least-once delivery → exactly-once corpus) is the
    * [[NearDupIngest]] loop's: index before corpus, a same-id probe hit
    * is a replay confirmed against the corpus, crash-window orphans
    * append to the corpus only.
    */
  def nearDupIngest(
      docs: DataFrame,
      corpusPath: String,
      indexTable: String,
      checkpoint: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      nBuckets: Int = 64,
      compactFanout: Int = 16,
      onStats: NearDupIngestStats => Unit = _ => (),
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onStats(ingestNearDupBatch(
          batch, corpusPath, indexTable, shingleSize, numHashes, bands, threshold, nBuckets,
          compactFanout, idBloomPath, idBloomItems))
        ()
      }
      .start()

  /** One near-dup-ingest micro-batch (see [[nearDupIngest]]). Exposed for
    * batch-mode reuse and the spec's streamed==batch comparison.
    *
    * `compactFanout` is the auto-compaction cadence ([[NearDupIngest]]):
    * without it the steady-state ingest appends one file-set per batch
    * forever — probe latency and LIST cost grow linearly until the index
    * is an N-files-per-bucket small-file swamp. `<= 0` disables.
    */
  def ingestNearDupBatch(
      batch: DataFrame,
      corpusPath: String,
      indexTable: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      nBuckets: Int = 64,
      compactFanout: Int = 16,
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): NearDupIngestStats = {
    val spark = batch.sparkSession
    NearDupIngest.ingestBatch(batch, corpusPath, indexTable, compactFanout,
      idBloomPath, idBloomItems, NearDupIngest.Spec(
        idCol = "doc_id",
        admit = { b =>
          // identity contract (round 18): replay detection is the
          // same-id index hit and every dedup decision an id-keyed
          // anti-join, and null keys don't join — a null doc_id (or
          // null text) would re-append on every delivery, so such rows
          // are contract REJECTIONS
          val valid = b
            .select(col("doc_id"), col("text"))
            .filter(col("doc_id").isNotNull && col("text").isNotNull)
          // in-batch exact dedup, deterministic keeper (smallest doc_id);
          // its losers count as near-dups
          val wFp = org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text")))
            .orderBy(col("doc_id"))
          val exactKept = valid
            .withColumn("__rn", row_number().over(wFp))
            .filter(col("__rn") === 1)
            .drop("__rn")
          val validCnt = valid.count()
          NearDupIngest.Admitted(exactKept, validCnt, validCnt)
        },
        // fewer than shingleSize tokens: no gram set, no index entry
        indexable = Some(size(graft.functions.Fns.tokens(col("text"))) >= shingleSize),
        // default posting-list caps apply: a boilerplate-heavy batch
        // stays bounded
        pairs = Dedup.minHashLshPairs(
          _, "text", "doc_id", shingleSize, numHashes, bands, threshold),
        probe = (u, dropSameId) => Dedup.incrementalNearDups(
          spark, u, indexTable, "text", "doc_id",
          shingleSize, numHashes, bands, threshold, dropSameId = dropSameId),
        appendIndex = Dedup.appendToMinHashIndex(
          _, "text", "doc_id", indexTable, shingleSize, numHashes, bands, nBuckets),
        // the MinHash-aware entry point also stamps the contract props on
        // a legacy index during the same pass (verdict r16 #6)
        compact = () => Dedup.compactTextMinHashIndex(spark, indexTable, numHashes, bands),
        corpusRows = _.select(col("doc_id"), col("text"))
      ))
  }

  /** Streaming SEMANTIC-dedup ingest — [[nearDupIngest]]'s embedding
    * analogue, completing the at-rest/streaming matrix for the last
    * dedup modality: each micro-batch of (vec_id, embedding) rows is
    * (1) near-deduped within itself (hyperplane-LSH pairs + greedy
    * min-id keeper — covers exact copies too, cosine 1), (2) probed
    * against the at-rest embedding-LSH index
    * ([[Dedup.incrementalSemanticNearDups]] — reads only the band
    * buckets the batch hashes into, verification is the EXACT cosine of
    * the stored vectors), and (3) survivors are appended to BOTH the
    * index ([[Dedup.appendToEmbeddingLshIndex]], O(batch)) and the
    * vector corpus.
    *
    * Replay safety is the [[NearDupIngest]] loop's, like
    * [[nearDupIngest]]'s; every admitted vector indexes.
    *
    * SIZING: `bitsPerBand` follows the constant-bucket rule
    * ([[Dedup.embeddingNearDupPairs]] scaladoc) against the CORPUS the
    * index will grow to, not the batch.
    */
  def semanticDedupIngest(
      vecs: DataFrame,
      corpusPath: String,
      indexTable: String,
      checkpoint: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      threshold: Double = 0.9,
      nBuckets: Int = 64,
      compactFanout: Int = 16,
      onStats: NearDupIngestStats => Unit = _ => (),
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onStats(ingestSemanticBatch(
          batch, corpusPath, indexTable, dim, bands, bitsPerBand, seed, threshold,
          nBuckets, compactFanout, idBloomPath, idBloomItems))
        ()
      }
      .start()

  /** One semantic-ingest micro-batch (see [[semanticDedupIngest]]).
    * Exposed for batch-mode reuse and the spec's streamed==batch
    * comparison. `compactFanout` is the same cadence-guarded index
    * compaction as [[ingestNearDupBatch]]'s.
    */
  def ingestSemanticBatch(
      batch: DataFrame,
      corpusPath: String,
      indexTable: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      threshold: Double = 0.9,
      nBuckets: Int = 64,
      compactFanout: Int = 16,
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): NearDupIngestStats = {
    val spark = batch.sparkSession
    NearDupIngest.ingestBatch(batch, corpusPath, indexTable, compactFanout,
      idBloomPath, idBloomItems, NearDupIngest.Spec(
        idCol = "vec_id",
        admit = { b =>
          // identity contract + in-batch id dedup: vec_id is the identity
          // (unlike text, where the fingerprint is), so in-batch
          // duplicate ids are contract rejections; deterministic keeper:
          // first by id, then any one row. A NULL vec_id (ADVICE r17)
          // never matches the id-keyed anti-joins or the replay check,
          // and a DEGENERATE embedding — null, wrong width, or with a
          // null element (ADVICE r18) — derives no LSH band keys; either
          // would re-append on every redelivery, so both are rejected.
          // Pinned: it feeds the in-batch pairing, the keeper join and
          // the ledger count.
          val idKept = graft.ops.Materialize(
            b.select(col("vec_id"), col("embedding"))
              .filter(
                col("vec_id").isNotNull &&
                  col("embedding").isNotNull && size(col("embedding")) === dim &&
                  !exists(col("embedding"), v => v.isNull)
              )
              .dropDuplicates("vec_id"))
          val idKeptCnt = idKept.count()
          NearDupIngest.Admitted(idKept, idKeptCnt, idKeptCnt)
        },
        indexable = None, // degenerate embeddings were rejected above
        pairs = Dedup.embeddingNearDupPairs(
          _, "embedding", "vec_id", dim, bands, bitsPerBand, threshold, seed),
        probe = (u, dropSameId) => Dedup.incrementalSemanticNearDups(
          spark, u, indexTable, "embedding", "vec_id",
          dim, bands, bitsPerBand, seed, threshold, dropSameId = dropSameId),
        appendIndex = Dedup.appendToEmbeddingLshIndex(
          _, "embedding", "vec_id", indexTable, dim, bands, bitsPerBand, seed, nBuckets),
        compact = () => graft.sinks.Sinks.compactBucketed(spark, indexTable),
        corpusRows = _.select(col("vec_id"), col("embedding"))
      ))
  }

  /** Per-batch accounting returned by [[ingestSpanBatch]]: docs kept,
    * docs dropped for exceeding the duplicated-token bar, replays
    * (fingerprints already in the corpus), and `rejected` (round 18):
    * null-text rows, whose null fingerprint — this loop's identity —
    * never matches the corpus anti-join, so pre-fix they re-appended
    * on every delivery. `kept + dropped + replays + rejected` counts
    * the post-in-batch-dedup rows plus rejections.
    */
  final case class SpanIngestStats(
      kept: Long,
      dropped: Long,
      replays: Long,
      rejected: Long = 0L)

  /** File-based embedding stream (locally testable source: parquet
    * files of (vec_id, embedding) dropped into a directory) — the
    * [[pqIndexIngest]] source.
    */
  def fileVecStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("vec_id BIGINT, embedding ARRAY<DOUBLE>").parquet(dir)

  /** Per-batch accounting from [[ingestPqBatch]]: vectors appended to
    * the index, replays — every valid input row that did NOT append,
    * i.e. in-batch duplicate ids plus ids the index already holds —
    * and `rejected` (round 18): null-id rows, which the id IS the
    * index key for, so they can never be replay-detected (null keys
    * don't join) and pre-fix re-appended on every delivery.
    * `appended + replays + rejected == batch.count()`.
    */
  final case class PqIngestStats(appended: Long, replays: Long, rejected: Long = 0L)

  /** Streaming ANN-index ingest: each micro-batch of embeddings is
    * encoded with the at-rest PQ index's FROZEN codebooks
    * ([[graft.ops.Similarity.appendToPqIndex]]) and appended — a
    * continuously-growing searchable index where every append is
    * O(batch) and a fresh session can probe the up-to-the-last-batch
    * state from the table name alone.
    *
    * Bootstrap contract: the index must already exist
    * ([[graft.ops.Similarity.writePqIndex]] on a representative seed
    * corpus — the codebooks are trained ONCE, there; see that method's
    * codebook-drift scaladoc for the retrain story).
    *
    * Invariant (spec-pinned): after any prefix of batches, the codes
    * table equals `pqEncode(seed ∪ streamed-so-far, frozen codebooks)`
    * — i.e. the streamed index is bit-identical to a batch rebuild
    * over the same vectors with the same codebooks.
    *
    * Crash safety: `foreachBatch` redelivers a completed batch when a
    * crash lands between the append and the checkpoint commit, and a
    * codes append is not idempotent — so replayed ids must never
    * re-append. The guard is BLOOM-FRONTED like [[dedupedIngest]]'s:
    * a few-MB bloom over already-indexed ids lives beside the stream's
    * checkpoint (`<checkpoint>/graft-id-bloom`, same self-describing
    * `.new`/`.old` swap file as the exact-ingest state). Bloom-negative
    * ids are DEFINITELY fresh — a map-side filter, no index read at
    * all — so the common no-replay batch touches only its own rows;
    * only suspected replays (true dupes + fpp false positives)
    * anti-join the index's id column. The bloom is OR-updated and
    * swapped BEFORE the append (a crash between the two over-claims,
    * and over-claims are always confirmed against the index — the safe
    * direction; false negatives cannot occur). First bloom-fronted
    * batch against a pre-existing index seeds the filter from the
    * index's id column: one id-only index scan, ONCE, after which the
    * maintenance is O(batch) per batch.
    *
    * Single-writer contract (same as every swap protocol here): the
    * foreachBatch loop owns both the index and its bloom. Appending to
    * the index around the loop (e.g. batch-mode [[ingestPqBatch]] with
    * `bloomPath = None`, or a direct `appendToPqIndex`) leaves the
    * bloom under-claiming those ids, which un-guards THEIR replays —
    * don't mix writers on a live streamed index.
    */
  def pqIndexIngest(
      vecs: DataFrame,
      table: String,
      checkpoint: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      expectedItems: Long = 10000000L,
      onStats: PqIngestStats => Unit = _ => ()
  ): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onStats(ingestPqBatch(batch, table, vecCol, idCol,
          bloomPath = Some(s"$checkpoint/graft-id-bloom"), expectedItems = expectedItems))
        ()
      }
      .start()

  /** One micro-batch of [[pqIndexIngest]]; exposed for batch-mode reuse
    * and the spec's streamed==rebuild comparison. `bloomPath = None`
    * drops the bloom front and anti-joins the full index id column
    * (correct for one-off batch use on an index nothing is streaming
    * into; see the single-writer contract above).
    */
  def ingestPqBatch(
      batch: DataFrame,
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      bloomPath: Option[String] = None,
      expectedItems: Long = 10000000L
  ): PqIngestStats =
    ingestCodesBatch(batch, table, vecCol, idCol, bloomPath, expectedItems,
      graft.ops.Similarity.appendToPqIndex(_, _, _, vecCol, idCol), "writePqIndex")

  /** Streaming IVF-PQ index ingest — [[pqIndexIngest]]'s contract over
    * the BUCKETED composition index: each micro-batch is coarse-assigned
    * and encoded with the index's frozen quantizers
    * ([[graft.ops.Similarity.appendToIvfPqIndex]]) and bucket-appended,
    * so probe-side bucket pruning keeps holding as the index grows
    * (spec-pinned: `SelectedBucketsCount` stays < nCells on a
    * fresh-session probe after streamed appends). Same bloom-fronted
    * replay guard, same single-writer contract, same bootstrap rule
    * (the index must exist — [[graft.ops.Similarity.writeIvfPqIndex]]
    * on a representative seed corpus).
    *
    * Invariant (spec-pinned): after any prefix of batches, the codes
    * table equals `assignAndEncode(seed ∪ streamed-so-far)` under the
    * frozen quantizers — bit-identical to a batch rebuild.
    *
    * `compactFanout` is the same auto-compaction cadence as
    * [[nearDupIngest]]: each bucket-append lands one file-set per
    * batch, and without between-batch compaction probe latency and
    * LIST cost grow linearly until the index is a small-file swamp.
    * When files-per-bucket ([[graft.sinks.Sinks.bucketFileFanout]] —
    * one flat LIST, no data read) exceeds the threshold after a
    * batch's append, the batch ends with a
    * [[graft.sinks.Sinks.compactBucketed]] pass — safe inline because
    * this loop IS the index's single writer. `<= 0` disables.
    */
  def ivfPqIndexIngest(
      vecs: DataFrame,
      table: String,
      checkpoint: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      expectedItems: Long = 10000000L,
      compactFanout: Int = 16,
      onStats: PqIngestStats => Unit = _ => ()
  ): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onStats(ingestIvfPqBatch(batch, table, vecCol, idCol,
          bloomPath = Some(s"$checkpoint/graft-id-bloom"), expectedItems = expectedItems,
          compactFanout = compactFanout))
        ()
      }
      .start()

  /** One micro-batch of [[ivfPqIndexIngest]]; exposed for batch-mode
    * reuse and the spec's streamed==rebuild comparison.
    */
  def ingestIvfPqBatch(
      batch: DataFrame,
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      bloomPath: Option[String] = None,
      expectedItems: Long = 10000000L,
      compactFanout: Int = 0
  ): PqIngestStats = {
    val stats = ingestCodesBatch(batch, table, vecCol, idCol, bloomPath, expectedItems,
      graft.ops.Similarity.appendToIvfPqIndex(_, _, _, vecCol, idCol), "writeIvfPqIndex")
    val spark = batch.sparkSession
    if (compactFanout > 0 && stats.appended > 0 &&
      graft.sinks.Sinks.bucketFileFanout(spark, table) > compactFanout)
      graft.sinks.Sinks.compactBucketed(spark, table)
    stats
  }

  /** The shared codes-index micro-batch: in-batch id dedup, bloom-front
    * (or full-index) replay guard, bloom swap, frozen-quantizer append.
    * `append` is the index-flavor append ([[graft.ops.Similarity.appendToPqIndex]]
    * or [[graft.ops.Similarity.appendToIvfPqIndex]]).
    */
  private def ingestCodesBatch(
      batch: DataFrame,
      table: String,
      vecCol: String,
      idCol: String,
      bloomPath: Option[String],
      expectedItems: Long,
      append: (SparkSession, String, DataFrame) => Unit,
      bootstrapFn: String
  ): PqIngestStats = {
    val spark = batch.sparkSession
    require(
      spark.catalog.tableExists(table),
      s"$table does not exist — bootstrap the index with $bootstrapFn on a seed corpus first"
    )
    // ids identify vectors (the id IS the index key): null ids are
    // contract rejections (round 18 — they skip every id-keyed
    // anti-join, so pre-fix they re-appended per delivery); one row per
    // id in-batch; two different payloads under one id is a caller bug
    // and the survivor is arbitrary, same as any keyed upsert sink
    val rawCnt = batch.count()
    val validBatch = batch.filter(col(idCol).isNotNull)
    val unique = validBatch.dropDuplicates(Seq(idCol))
    val indexIds = spark.table(table).select(col("cid").as(idCol))
    val (fresh, bloomState) = bloomPath match {
      case None =>
        // bloomless batch mode: every batch anti-joins the full index
        // id column — O(index) read bytes per batch
        (graft.ops.Materialize(unique.join(indexIds, Seq(idCol), "left_anti")),
          None)
      case Some(bp) =>
        val fs = graft.sinks.Dfs.fs(spark, bp)
        val stored = readBloom(fs, bp).getOrElse {
          // first bloom-fronted batch on this index: seed the filter
          // from the id column — one O(index) id-only scan, ONCE
          val (items, bits) = Dedup.bloomSizing(expectedItems, fpp = 0.01)
          val seeded = bloomDelta(indexIds, col(idCol), items, bits)
          val bytes =
            if (seeded != null) seeded
            else { // empty index aggregates to null: start from an empty filter
              val out = new java.io.ByteArrayOutputStream()
              BloomFilter.create(items, bits).writeTo(out)
              out.toByteArray
            }
          StoredBloom(items, bits, bytes)
        }
        val tagged = graft.ops.Materialize(
          unique.withColumn("__maybe", Dedup.bloomProbe(stored.filter, xxhash64(col(idCol))))
        ) // feeds both branches + the suspect count: hash and scan once
        val definite = tagged.filter(!col("__maybe")).drop("__maybe")
        val suspects = tagged.filter(col("__maybe")).drop("__maybe")
        val confirmed =
          // the index's id column is read ONLY when the bloom suspects a
          // replay; the common all-fresh batch never touches the index
          if (suspects.isEmpty) suspects
          else suspects.join(indexIds, Seq(idCol), "left_anti")
        (graft.ops.Materialize(definite.unionByName(confirmed)),
          Some((fs, bp, stored)))
    }
    val appended = fresh.count()
    if (appended > 0) {
      bloomState.foreach { case (fs, bp, stored) =>
        // deltas are built to the sizing the state was CREATED with
        // (recorded in the file header) so mergeInPlace always accepts.
        // Bloom BEFORE the index append: a crash between the two leaves
        // an over-claiming filter, and over-claims are always confirmed
        // against the index — the safe direction (the reverse order
        // would re-append the crash window's rows on redelivery)
        mergeBloom(fs, bp, fresh, col(idCol), stored.items, stored.bits, Some(stored.filter))
      }
      append(spark, table, fresh)
    }
    val validCnt = validBatch.count()
    PqIngestStats(appended, validCnt - appended, rawCnt - validCnt)
  }

  /** Streaming SUBSTRING-dedup ingest — the Lee et al. family at
    * streaming cadence: each micro-batch is (1) exact-deduped in-batch
    * and against the corpus (fingerprint anti-join — compose with the
    * bloom prefilter of [[ingestBatch]] if the corpus-side scan ever
    * dominates), (2) span-scored against the at-rest gram index
    * ([[Dedup.incrementalDuplicateSpans]]: corpus-total counts =
    * index history + in-batch, O(batch) shuffle), and (3) docs whose
    * duplicated-token fraction stays within `maxDupFrac` are appended
    * to the corpus, then their grams to the index.
    *
    * Invariant (spec-pinned): the index always holds exactly the KEPT
    * corpus's gram counts — `Dedup.writeGramIndex(corpus)` rebuilds it
    * bit-identically, which is also the recovery story below.
    *
    * Ordering contract: probe FIRST, then corpus, then index, and the
    * index counts KEPT docs only. Probe-before-append is semantic
    * (appending first would self-poison the batch — every doc's own
    * grams would read as history and mark the whole batch duplicated).
    * Corpus-before-index makes every failure mode conservative:
    *  - replayed delivery, no crash: kept docs are fingerprint-filtered
    *    out; dropped docs re-probe against the SAME history (their
    *    grams were never indexed) and drop again — idempotent, no
    *    double counts;
    *  - crash between corpus and index append: redelivery skips the
    *    already-kept docs, so that batch's gram counts are missing from
    *    the index — future spans can only be UNDER-marked (a bit more
    *    duplicate text survives; no unique document is ever wrongly
    *    dropped, which is what the reverse order would do), and
    *    `writeGramIndex(corpus)` heals the undercount exactly.
    */
  def spanDedupIngest(
      docs: DataFrame,
      corpusPath: String,
      gramIndexTable: String,
      checkpoint: String,
      gramTokens: Int = 8,
      minCount: Int = 2,
      maxDupFrac: Double = 0.5,
      nBuckets: Int = 64,
      onStats: SpanIngestStats => Unit = _ => (),
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onStats(ingestSpanBatch(
          batch, corpusPath, gramIndexTable, gramTokens, minCount, maxDupFrac, nBuckets,
          idBloomPath, idBloomItems))
        ()
      }
      .start()

  /** One micro-batch of [[spanDedupIngest]]; exposed for batch-mode
    * reuse and the spec's streamed==batch comparison.
    */
  def ingestSpanBatch(
      batch: DataFrame,
      corpusPath: String,
      gramIndexTable: String,
      gramTokens: Int = 8,
      minCount: Int = 2,
      maxDupFrac: Double = 0.5,
      nBuckets: Int = 64,
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): SpanIngestStats = {
    val spark = batch.sparkSession
    // bloom-fronted corpus-fingerprint gate (r19 — see [[CorpusIdGate]]):
    // this loop's PRIMARY replay check is the per-batch corpus
    // anti-join; with a path configured it stops scanning the corpus in
    // the steady no-replay state
    val gate = new CorpusIdGate(spark, corpusPath, "fingerprint", idBloomPath, idBloomItems)
    // identity contract (round 18): a null text fingerprints to null,
    // which never matches the corpus anti-join — pre-fix such a row
    // re-appended on every delivery. Contract rejection, counted.
    val rawCnt = batch.count()
    val validBatch = batch.filter(col("text").isNotNull)
    val rejected = rawCnt - validBatch.count()
    // (1) in-batch exact dedup (deterministic keeper) + corpus replay filter
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint"))
      .orderBy(col("doc_id"))
    val withFp = validBatch
      .select(col("doc_id"), md5(col("text")).as("fingerprint"), col("text"))
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val fresh = graft.ops.Materialize(gate.absent(withFp))
    val freshCnt = fresh.count()
    val replays = withFp.count() - freshCnt
    if (freshCnt == 0) return SpanIngestStats(0, 0, replays, rejected)
    // (2) duplicated-token fraction vs (kept corpus ∪ this batch)
    val spans =
      if (spark.catalog.tableExists(gramIndexTable))
        Dedup.incrementalDuplicateSpans(
          spark, fresh, gramIndexTable, "text", "doc_id", minCount)
      else // first batch: history is empty, counts are in-batch only
        Dedup.duplicateSpans(fresh, "text", "doc_id", gramTokens, minCount)
    val dupPerDoc = spans.groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("dup_tokens"))
    val kept = graft.ops.Materialize(
      fresh
        .withColumn("__n", size(graft.functions.Fns.tokens(col("text"))).cast("long"))
        .join(dupPerDoc, Seq("doc_id"), "left")
        .filter(
          col("dup_tokens").isNull || col("__n") === 0L ||
            col("dup_tokens").cast("double") / col("__n") <= maxDupFrac
        )
        .select(col("doc_id"), col("fingerprint"), col("text"))
    )
    val keptCnt = kept.count()
    // (3) corpus, then (4) the kept docs' grams — see the ordering contract
    if (keptCnt > 0) {
      // bloom BEFORE the corpus append (the over-claiming direction —
      // see [[CorpusIdGate]]); only KEPT fingerprints enter the filter,
      // matching exactly what the corpus will hold
      gate.update(kept.select(col("fingerprint")))
      kept.write.mode(SaveMode.Append).parquet(corpusPath)
      Dedup.appendToGramIndex(kept, "text", "doc_id", gramIndexTable, gramTokens, nBuckets)
    }
    SpanIngestStats(keptCnt, freshCnt - keptCnt, replays, rejected)
  }

  /** Per-batch accounting for [[curatedIngest]]. `replayed = true`
    * marks a batch recognized as fully committed (model marker ≥
    * batchId) and skipped as a whole — the counts are then zero, not
    * re-derived.
    */
  final case class CurateIngestStats(
      input: Long,
      boilerPass: Long,
      qualityPass: Long,
      gated: Long,
      replayed: Boolean = false
  )

  /** Curation-gated corpus ingest — the streaming form of the full
    * `Curation` pipeline over the exactly-once corpus loop: per
    * micro-batch (0) boilerplate stripping
    * ([[graft.ops.TextAnalysis.stripBoilerplateFromModel]]) against
    * the AT-REST segment-count model (cold model = nothing frequent
    * yet, so stage 0 degrades to the same tokenize-and-rebuild
    * normalization every batch gets — corpus text is uniformly
    * normalized from batch one; docs whose every segment is
    * boilerplate drop here, like batch stage 1), (1) the heuristic
    * quality gate ([[graft.ops.TextAnalysis.quality]] ≥ `minQuality`),
    * (2) the perplexity gate
    * ([[graft.ops.Dsir.bigramSurprisalFromModel]] `avg_nll` ≤
    * `maxAvgNll`) against the AT-REST surprisal model — skipped until
    * the model holds `warmupGrams` context grams (a cold model scores
    * every bigram at the ln(B) prior, which would gate on nothing but
    * length; once warm, docs with fewer than 2 tokens carry no bigram
    * evidence and are dropped by the gate) — then (3) the
    * bloom-fronted exact-dedup corpus append ([[ingestBatch]], on the
    * CLEANED text, so docs differing only in boilerplate dedup) and
    * (4) the model update: [[graft.ops.Dsir.surprisalFold]] over the
    * gated docs PLUS [[graft.ops.TextAnalysis.boilerFold]] over the
    * batch's raw input (pre-gates, matching the batch pipeline where
    * segment frequencies come from the un-gated corpus), both folds
    * and both surprisal halves written to ONE keyed-count table
    * (`kind` ∈ ctx/big/boiler; boiler rows carry the segment in `seg`,
    * surprisal rows a null `seg`) through
    * `SketchIngest.ingestCountBatch` under ONE marker — there is no
    * crash window in which any model part diverges from another.
    *
    * A segment's cleaned form changes as the boiler model warms: a doc
    * resubmitted after its header became frequent strips differently,
    * fingerprints differently, and appends as genuinely new text —
    * the same model-evolution trade a batch pipeline takes when it
    * reprocesses with refreshed frequencies (documented, spec-pinned).
    *
    * Determinism under redelivery (the ordering is load-bearing): the
    * model marker is checked FIRST — the model commits LAST, so a
    * stored marker ≥ the delivered batch id PROVES the entire batch
    * (corpus append included) already ran, and the redelivery returns
    * as a full no-op. That check is what closes the one divergence
    * window a gate-re-evaluation replay would have: a crash after the
    * model commit but before the streaming checkpoint commit would
    * otherwise re-gate against the ALREADY-UPDATED model (which may
    * also have just crossed `warmupGrams`), derive a DIFFERENT gated
    * set, and append genuinely-new docs the clean run never kept.
    * Below the marker check the model is guaranteed unchanged: gates
    * are evaluated against the model AS OF batch start, a replayed
    * batch re-derives the SAME gated set, and the corpus append is
    * per-doc idempotent regardless. There is no crash window in which
    * the two model halves diverge (single table, single marker).
    *
    * Model semantics (documented trade): the model counts the
    * GATE-PASSING stream, exact-deduped within each batch (smallest-id
    * keeper, same rule as the corpus loop) — a doc resubmitted in a
    * LATER batch reinforces counts even though the corpus keeps one
    * copy. Counting only corpus-appended survivors instead would read
    * back nondeterministically under replay (the corpus has since
    * absorbed the first attempt), so stream-fit is the price of the
    * replay-deterministic loop; with dedup upstream the two fits
    * converge.
    */
  def curatedIngest(
      docs: DataFrame,
      corpusPath: String,
      bloomPath: String,
      modelPath: String,
      checkpoint: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.5,
      maxAvgNll: Double = 9.0,
      nBuckets: Int = 4096,
      warmupGrams: Long = 10000L,
      expectedItems: Long = 10000000L,
      segTokens: Int = 8,
      minDocsBoiler: Int = 50,
      boilerCmsWidth: Int = 0,
      onStats: CurateIngestStats => Unit = _ => ()
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onStats(ingestCuratedBatch(batch, batchId, corpusPath, bloomPath, modelPath,
          textCol, idCol, minQuality, maxAvgNll, nBuckets, warmupGrams, expectedItems,
          segTokens, minDocsBoiler, boilerCmsWidth))
        ()
      }
      .start()

  /** One micro-batch of [[curatedIngest]]; exposed for batch-mode reuse
    * and the spec's replay/warmup/crash pins.
    */
  def ingestCuratedBatch(
      batch: DataFrame,
      batchId: Long,
      corpusPath: String,
      bloomPath: String,
      modelPath: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.5,
      maxAvgNll: Double = 9.0,
      nBuckets: Int = 4096,
      warmupGrams: Long = 10000L,
      expectedItems: Long = 10000000L,
      segTokens: Int = 8,
      minDocsBoiler: Int = 50,
      boilerCmsWidth: Int = 0
  ): CurateIngestStats = {
    val spark = batch.sparkSession
    // Marker first (scaladoc): the model commits last, so a stored
    // batch id ≥ ours proves corpus append AND model update both
    // happened — the redelivery is a full no-op. The gates read only
    // the committed model: a first write torn before its marker is no
    // model at all.
    val model = SketchIngest.readCommitted(spark, modelPath)
    if (model.exists(_._1 >= batchId))
      return CurateIngestStats(0L, 0L, 0L, 0L, replayed = true)
    val modelRows = model.map(_._2)
    val base = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // batch-level exact dedup FIRST (smallest-id keeper, the corpus
    // loop's rule) so stage-0/gate work and model counts see each raw
    // text once; docs differing only in boilerplate converge AFTER the
    // strip and are caught by the corpus append's fingerprint dedup
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
      .orderBy(col("doc_id"))
    val uniq = graft.ops.Materialize(
      base.withColumn("__rn", row_number().over(wFp)).filter(col("__rn") === 1).drop("__rn")
    )
    val nInput = uniq.count()

    // stage 0: boilerplate strip against the at-rest segment counts as
    // of batch start (cold/empty model: nothing is frequent yet, the
    // pass is pure tokenize-and-rebuild normalization). boilerCmsWidth
    // > 0 selects the BOUNDED count-min model (kind=boilcms cells,
    // depth 4) over the exact vocabulary-sized segment table — the
    // 100 TB form: at-rest state and the per-batch merge stay
    // depth×width cells no matter how large the corpus vocabulary
    // grows, at the price of one-sided over-strip on cell collisions
    // (TextAnalysis.boilerFoldCms scaladoc).
    val stripped =
      if (boilerCmsWidth > 0) {
        val cms = modelRows
          .fold(spark.range(0).select(col("id").as("bucket"), lit(0L).as("n")))(
            _.filter(col("kind") === "boilcms").select(col("bucket"), col("n")))
        graft.ops.TextAnalysis.stripBoilerplateFromCms(
          uniq, "text", "doc_id", segTokens, minDocsBoiler, cms, CmsDepth, boilerCmsWidth)
      } else {
        val boilerModel = modelRows
          .fold(spark.range(0).select(lit("").as("seg"), lit(0L).as("n")))(
            _.filter(col("kind") === "boiler").select(col("seg"), col("n")))
        graft.ops.TextAnalysis
          .stripBoilerplateFromModel(uniq, "text", "doc_id", segTokens, minDocsBoiler, boilerModel)
      }
    val clean = graft.ops.Materialize(
      stripped
        .filter(col("clean_text").isNotNull)
        .select(col("doc_id"), col("clean_text").as("text"))
    )
    val nBoiler = clean.count()

    val qualIds = graft.ops.TextAnalysis
      .quality(clean, "text", "doc_id")
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"))
    val qualityPass = graft.ops.Materialize(clean.join(qualIds, Seq("doc_id")))
    val nQual = qualityPass.count()

    val warmModel = modelRows.filter { m =>
      val g = m
        .filter(col("kind") === "ctx")
        .agg(coalesce(sum(col("n")), lit(0L)))
        .head().getLong(0)
      g >= warmupGrams
    }
    val gated = warmModel.fold(qualityPass) { m =>
      val keepIds = graft.ops.Dsir
        .bigramSurprisalFromModel(qualityPass, m, "text", "doc_id", nBuckets)
        .filter(col("avg_nll") <= maxAvgNll)
        .select(col("doc_id"))
      graft.ops.Materialize(qualityPass.join(keepIds, Seq("doc_id")))
    }
    val nGated = gated.count()

    // corpus append (per-doc idempotent) BEFORE the marker-committed
    // model update — see the determinism note in the scaladoc
    ingestBatch(gated, corpusPath, bloomPath, expectedItems)
    // model update, one table + one marker: surprisal counts from the
    // gated CLEAN docs (null seg), boiler segment counts from the
    // batch's raw post-dedup input (pre-gates — the batch pipeline's
    // frequencies come from the un-gated corpus). The fold closes over
    // both frames, so the ingestCountBatch `batch` argument is only a
    // session handle here.
    SketchIngest.ingestCountBatch(
      gated, batchId,
      _ => {
        val sup = graft.ops.Dsir.surprisalFold("text", "doc_id", nBuckets)(gated)
          .withColumn("seg", lit(null).cast("string"))
        val boil =
          if (boilerCmsWidth > 0)
            graft.ops.TextAnalysis
              .boilerFoldCms("text", "doc_id", segTokens, CmsDepth, boilerCmsWidth)(uniq)
              .select(lit("boilcms").as("kind"), col("bucket"),
                lit(null).cast("string").as("seg"), col("n"))
          else
            graft.ops.TextAnalysis.boilerFold("text", "doc_id", segTokens)(uniq)
              .select(lit("boiler").as("kind"), lit(0L).as("bucket"), col("seg"), col("n"))
        sup.unionByName(boil)
      },
      Seq("kind", "bucket", "seg"),
      modelPath
    )
    CurateIngestStats(nInput, nBoiler, nQual, nGated)
  }

  /** Count-min depth for the bounded boiler model (width is the knob;
    * 4 rows is the standard accuracy/size point).
    */
  val CmsDepth = 4

  /** Bloom-fronted corpus-ID membership gate (r19 — VERDICT r18 #3):
    * the non-exact ingest surfaces confirm replays/orphans by
    * anti-joining the batch against an id-column scan of the WHOLE
    * corpus every micro-batch; at 100 TB that scan dominates
    * steady-state batch cost while answering "absent" for almost every
    * row. This gate fronts the scan with the exact-ingest bloom
    * template ([[ingestBatch]]): a stored filter over the corpus's ids
    * answers bloom-NEGATIVE rows (the common no-replay case) with no
    * corpus read at all; bloom-POSITIVE rows fall through to today's
    * exact anti-join (a false positive costs a scan, never
    * correctness). `bloomPath = None` keeps the legacy exact-only
    * behavior bit-for-bit.
    *
    * Crash-consistency direction: [[update]] must run BEFORE the
    * corpus append (the index-before-corpus over-claiming rule). A
    * crash between the bloom swap and the append leaves a false
    * positive — absorbed by the exact confirm; the reverse order would
    * leave a corpus-present id bloom-negative, i.e. a silent duplicate
    * on redelivery. Adoption: the first [[update]] against an existing
    * corpus seeds the filter from the corpus's own id column (one
    * full id scan, once per adopted corpus), so pre-bloom ids can
    * never read as false negatives.
    *
    * Single-writer, like every swap protocol here: the one
    * foreachBatch loop owns the state.
    */
  private[streaming] final class CorpusIdGate(
      spark: SparkSession,
      corpusPath: String,
      idCol: String,
      bloomPath: Option[String],
      expectedItems: Long,
      // the corpus may store the id under a different name / at a finer
      // grain (video: frame rows keyed video_id, probed by clip id) —
      // `corpusIdCol` names the stored column, `distinctCorpusIds`
      // keeps the finer-grain case's exact-confirm scan deduplicated
      corpusIdCol: String = null,
      distinctCorpusIds: Boolean = false
  ) {
    private val cCol = Option(corpusIdCol).getOrElse(idCol)
    private def corpusExists: Boolean =
      graft.sinks.Dfs.fs(spark, corpusPath).exists(new HPath(corpusPath))
    private val stored: Option[StoredBloom] =
      bloomPath.flatMap(bp => readBloom(graft.sinks.Dfs.fs(spark, bp), bp))

    private def corpusIds: DataFrame = {
      val ids = spark.read.parquet(corpusPath).select(col(cCol).as(idCol))
      if (distinctCorpusIds) ids.distinct() else ids
    }

    private def plainAnti(df: DataFrame): DataFrame =
      df.join(corpusIds, Seq(idCol), "left_anti")

    /** Rows of `df` whose id is NOT in the corpus — exact at every
      * configuration (the bloom only decides whether the corpus scan
      * happens, never the answer). The input is pinned once; an empty
      * input or an all-bloom-negative batch returns without
      * constructing the corpus read at all.
      */
    def absent(df: DataFrame): DataFrame = {
      if (!corpusExists) return df
      val pinned = graft.ops.Materialize(df)
      if (pinned.isEmpty) return pinned
      stored match {
        case None => plainAnti(pinned)
        case Some(StoredBloom(_, _, bytes)) =>
          val tagged = graft.ops.Materialize(
            pinned.withColumn("__maybe", graft.ops.Dedup.bloomProbe(bytes, xxhash64(col(idCol))))
          )
          val nMaybe = tagged.filter(col("__maybe")).count()
          val definite = tagged.filter(!col("__maybe")).drop("__maybe")
          if (nMaybe == 0L) definite
          else definite.unionByName(plainAnti(tagged.filter(col("__maybe")).drop("__maybe")))
      }
    }

    /** Merge the ids this batch appends into the filter and swap —
      * call BEFORE the corpus append (see the class note on ordering).
      * First update against a pre-existing corpus additionally folds
      * the corpus's current ids in (adoption). No-op without a
      * bloomPath or when nothing appends.
      */
    def update(appendedIds: DataFrame): Unit = bloomPath.foreach { bp =>
      val (items, bits) = stored match {
        case Some(StoredBloom(i, b, _)) => (i, b)
        case None => graft.ops.Dedup.bloomSizing(expectedItems, fpp = 0.01)
      }
      val adopt = stored.isEmpty && corpusExists
      val ids =
        if (adopt) appendedIds.select(col(idCol)).unionByName(corpusIds)
        else appendedIds.select(col(idCol))
      val fs = graft.sinks.Dfs.fs(spark, bp)
      mergeBloom(fs, bp, ids, col(idCol), items, bits, stored.map(_.filter))
    }
  }

  private val BloomMagic = 0x47424631 // "GBF1": graft bloom file v1

  private final case class StoredBloom(items: Long, bits: Long, filter: Array[Byte])

  /** Self-describing bloom file: [magic, items, bits, serialized filter].
    * Recording the sizing is what keeps every future delta
    * merge-compatible with the state (see ingestBatch).
    *
    * Written through the path's own Hadoop filesystem: staged at
    * `<path>.new` and replaced with [[graft.sinks.Dfs.swap]], healed by
    * [[readBloom]]. The `.new` staging rolls a crashed swap forward: the
    * next filter may over-claim the batch whose corpus append never
    * ran, and an over-claiming bloom is always safe (positives are
    * confirmed against the corpus).
    */
  private def writeBloom(
      fs: FileSystem,
      path: String,
      items: Long,
      bits: Long,
      filter: Array[Byte]
  ): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(BloomMagic)
    out.writeLong(items)
    out.writeLong(bits)
    out.write(filter)
    out.flush()
    val p = new HPath(path)
    val fresh = graft.sinks.Dfs.staged(p)
    if (p.getParent != null) fs.mkdirs(p.getParent)
    val os = fs.create(fresh, true)
    try os.write(bos.toByteArray)
    finally os.close()
    graft.sinks.Dfs.swap(fs, p, fresh)
  }

  /** Build the delta of `keys` ([[bloomDelta]]), OR it into `current`
    * (with no current filter the delta is the state) and [[writeBloom]]
    * the result. `(items, bits)` must be the stored filter's sizing, or
    * `mergeInPlace` throws. False, writing nothing, when `keys` is empty.
    */
  private def mergeBloom(
      fs: FileSystem,
      path: String,
      keys: DataFrame,
      key: Column,
      items: Long,
      bits: Long,
      current: Option[Array[Byte]]
  ): Boolean = {
    val delta = bloomDelta(keys, key, items, bits)
    if (delta == null) return false
    val merged = current.fold(delta) { cur =>
      val f = BloomFilter.readFrom(new ByteArrayInputStream(cur))
      f.mergeInPlace(BloomFilter.readFrom(new ByteArrayInputStream(delta)))
      val out = new java.io.ByteArrayOutputStream()
      f.writeTo(out)
      out.toByteArray
    }
    writeBloom(fs, path, items, bits, merged)
    true
  }

  /** The serialized filter of the xxhash64 of `key` over the rows of
    * `keys`, sized `(items, bits)`, in one aggregate job; null when
    * `keys` is empty.
    */
  private def bloomDelta(keys: DataFrame, key: Column, items: Long, bits: Long): Array[Byte] =
    keys
      .agg(Dedup.bloomAggWithBits(xxhash64(key), items, bits).as("bf"))
      .head()
      .getAs[Array[Byte]](0)

  /** Read the bloom state, healing any [[writeBloom]] crash window first
    * ([[graft.sinks.Dfs.heal]]). A `.new` is complete by protocol order
    * except after a crash during the very first write (no live file and
    * no `.old`: nothing was ever retired), so a parse failure after THAT
    * heal degrades to "no state yet"; a parse failure of a live file
    * stays loud.
    */
  private def readBloom(fs: FileSystem, path: String): Option[StoredBloom] = {
    val p = new HPath(path)
    val healedFirstWrite = !fs.exists(p) && {
      val firstWrite = !fs.exists(graft.sinks.Dfs.retired(p))
      graft.sinks.Dfs.heal(fs, p) && firstWrite
    }
    if (!fs.exists(p)) None
    else {
      val bytes = graft.sinks.Dfs.readSmall(fs, p)
      val parsed = scala.util.Try {
        val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
        require(in.readInt() == BloomMagic, s"$path is not a graft bloom file (bad magic)")
        val items = in.readLong()
        val bits = in.readLong()
        StoredBloom(items, bits, in.readAllBytes())
      }
      parsed match {
        case scala.util.Success(s) => Some(s)
        case scala.util.Failure(_) if healedFirstWrite =>
          fs.delete(p, false) // torn first write: no completed state ever existed
          None
        case scala.util.Failure(e) => throw e
      }
    }
  }
}

package graft.streaming

import java.io.ByteArrayInputStream

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter

import graft.ops.{Dedup, Materialize}

/** Streaming corpus ingest with cross-batch exact dedup: each
  * micro-batch of documents is deduped against everything already kept
  * and the survivors are appended — a continuously-growing training
  * corpus where replayed deliveries and recrawled documents never land
  * twice.
  *
  * Every ingest here decides "which of this batch's ids are already
  * stored" through ONE check, [[CorpusIdGate]]: a bloom filter over the
  * stored ids, maintained INCREMENTALLY (each batch ORs a same-sized
  * filter over its appended ids into the stored one — O(batch) work),
  * answers bloom-negative rows with no corpus read at all; only
  * bloom-positive rows (true dupes + fpp false positives) anti-join the
  * stored ids. The exact ingest ([[ingestBatch]]), the span ingest, the
  * PQ/IVF-PQ codes ingests and the four near-dup ingests
  * ([[NearDupIngest]]) all run it.
  *
  * Crash safety: the bloom is updated and atomically swapped BEFORE the
  * append. A crash between the two replays the batch with a filter that
  * over-claims membership — those rows are bloom-positive, the
  * anti-join proves them absent, and they append exactly once. The
  * reverse order would lose them silently (a bloom-negative replay of an
  * already-appended row would re-append). False positives are always
  * confirmed; false negatives cannot occur.
  */
object CorpusIngest {

  /** File-based document stream (locally testable source: parquet files
    * of (doc_id, text) dropped into a directory).
    */
  def fileDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("doc_id BIGINT, text STRING").parquet(dir)

  /** Per-batch accounting every corpus ingest here returns, in the unit
    * the ingest keys on (document, vector or clip):
    *  - `kept`: units appended;
    *  - `dropped`: units dropped as duplicates of kept units or by a
    *    gate — which ones is the ingest's to say;
    *  - `replays`: units already stored (at-least-once redelivery);
    *  - `rejected`: input rows the identity contract refused before any
    *    dedup ran (a null id, or a null key that never matches an
    *    anti-join and would re-append on every delivery);
    *  - `extra`: the family's own counters, always the same keys for one
    *    family: video's `deferred`, `staleDropped` and `agedOut`
    *    ([[VideoIngest]]), curated's stage counts
    *    ([[ingestCuratedBatch]]); empty elsewhere.
    * Each batch function's scaladoc says which rows its ledger sums to.
    */
  final case class IngestLedger(
      kept: Long,
      dropped: Long,
      replays: Long,
      rejected: Long,
      extra: Map[String, Long] = Map.empty
  )

  /** Stream `source` through one corpus ingest: each micro-batch and its
    * batch id go to `ingest` (an `ingest*Batch` call) inside
    * `foreachBatch`, and the returned ledger to `onStats` — the one
    * place a batch's ledger leaves the loop. `foreachBatch` plus a
    * replay-safe batch function is the whole sink contract: the batch
    * functions are idempotent under redelivery, each stated on its own
    * scaladoc, and the query is their single writer.
    *
    * `onStats` runs inside the batch, after all of its writes; a
    * throwing callback fails the batch, so alert emission shares the
    * loop's at-least-once semantics (a redelivered batch reports
    * again).
    */
  def start(source: DataFrame, checkpoint: String, onStats: IngestLedger => Unit = _ => ())(
      ingest: (DataFrame, Long) => IngestLedger): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => onStats(ingest(batch, batchId)) }
      .start()

  /** Deduped corpus ingest, one micro-batch: in-batch dedup,
    * [[CorpusIdGate]] corpus check, bloom swap, corpus append. Corpus
    * rows: (doc_id, fingerprint, text), fingerprint-unique across the
    * whole stream history. The bloom is keyed on `xxhash64(text)`, the
    * corpus check on the fingerprint.
    *
    * Both `corpusPath` and `bloomPath` may live on any Hadoop filesystem
    * (each is resolved through its own scheme). Point `bloomPath` at the
    * checkpoint filesystem on a cluster: the bloom is a few MB read and
    * re-written once per batch through [[graft.sinks.Dfs.swap]]
    * ([[writeBloom]]), so a stateless driver restarting elsewhere picks
    * the state up exactly where the last completed batch left it.
    *
    * Ledger: `kept` texts appended, `dropped` in-batch duplicate texts,
    * `replays` texts the corpus holds, `rejected` null texts; the four
    * sum to the batch's rows.
    */
  def ingestBatch(
      batch: DataFrame,
      corpusPath: String,
      bloomPath: String,
      expectedItems: Long
  ): IngestLedger = {
    val spark = batch.sparkSession
    val gate = new CorpusIdGate(
      spark, corpusIds(spark, corpusPath)(_.select(col("fingerprint"), col("text"))),
      "fingerprint", Some(bloomPath), expectedItems, bloomKey = Some("text"))
    // identity contract: the fingerprint IS this loop's identity, and a
    // null text fingerprints to null, which never matches the corpus
    // anti-join — such a row would re-append on every delivery
    val c = gatedAppend(batch, col("text").isNotNull, fingerprinted, gate,
      _.write.mode(SaveMode.Append).parquet(corpusPath))
    IngestLedger(c.kept, c.valid - c.units, c.units - c.kept, c.raw - c.valid)
  }

  /** What [[gatedAppend]] counted: batch rows, rows passing the identity
    * contract, units left by the in-batch keeper, units the gate found
    * absent, units appended.
    */
  private final case class GateCounts(raw: Long, valid: Long, units: Long, fresh: Long, kept: Long)

  /** The gated append behind the exact, span and codes ingests: the
    * identity-contract filter `valid`, the in-batch keeper `keep`, the
    * [[CorpusIdGate]] check, the family `step` from the absent units to
    * the ones to append (and their count), then the bloom swap BEFORE
    * `append` (see [[CorpusIdGate]]). No job runs just to count rows:
    * the raw and valid counts are an observation on the gate's pinning
    * job, and the unit count is the number of rows the gate saw.
    */
  private def gatedAppend(
      batch: DataFrame,
      valid: Column,
      keep: DataFrame => DataFrame,
      gate: CorpusIdGate,
      append: DataFrame => Unit,
      step: (DataFrame, Long) => (DataFrame, Long) = (fresh, n) => (fresh, n)
  ): GateCounts = {
    val obs = Observation()
    val (fresh, freshCnt, units) = gate.absent(keep(
      batch.observe(obs, count(lit(1)).as("raw"), count_if(valid).as("valid")).filter(valid)))
    val (kept, keptCnt) = if (freshCnt == 0L) (fresh, 0L) else step(fresh, freshCnt)
    if (keptCnt > 0L) {
      gate.update(kept)
      append(kept)
    }
    val m = obs.get
    GateCounts(m("raw").asInstanceOf[Long], m("valid").asInstanceOf[Long], units, freshCnt, keptCnt)
  }

  /** In-batch exact dedup: one row per fingerprint `fp`, the smallest
    * doc_id keeping it — deterministic under redelivery, and the rule
    * every text ingest here shares.
    */
  private def smallestIdPerText(df: DataFrame, fp: Column): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(fp).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** (doc_id, fingerprint, text) corpus rows of `docs`, one per text. */
  private def fingerprinted(docs: DataFrame): DataFrame =
    smallestIdPerText(
      docs.select(col("doc_id"), md5(col("text")).as("fingerprint"), col("text")),
      col("fingerprint"))

  /** NEAR-dup corpus ingest, one micro-batch — "dedup today's crawl
    * against the whole corpus" at streaming cadence: each micro-batch is
    * (1) exact+near deduped within itself, (2) probed against the
    * at-rest MinHash index ([[Dedup.incrementalNearDups]] — reads only
    * the band buckets the batch hashes into, never the whole index), and
    * (3) the survivors are appended to BOTH the index
    * ([[Dedup.appendToMinHashIndex]], O(batch)) and the text corpus. The
    * corpus only ever accretes docs that are not near-duplicates of
    * anything kept before them. Docs with fewer than `shingleSize`
    * tokens have no gram set and never index.
    *
    * Replay safety (at-least-once delivery → exactly-once corpus) is the
    * [[NearDupIngest]] loop's: index before corpus, a same-id probe hit
    * is a replay confirmed against the corpus, crash-window orphans
    * append to the corpus only.
    *
    * `compactFanout` is the auto-compaction cadence ([[NearDupIngest]]):
    * without it the steady-state ingest appends one file-set per batch
    * forever — probe latency and LIST cost grow linearly until the index
    * is an N-files-per-bucket small-file swamp. `<= 0` disables.
    *
    * Ledger ([[NearDupIngest]]): `dropped` counts exact in-batch, near
    * in-batch and near-vs-corpus duplicates; `rejected` null ids and
    * null texts; `kept + dropped + replays + rejected == batch.count()`.
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
  ): IngestLedger = {
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
          // in-batch exact dedup; its losers count as near-dups
          val exactKept = smallestIdPerText(valid, md5(col("text")))
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

  /** SEMANTIC-dedup corpus ingest, one micro-batch —
    * [[ingestNearDupBatch]]'s embedding analogue, completing the
    * at-rest/streaming matrix for the last dedup modality: each
    * micro-batch of (vec_id, embedding) rows is (1) near-deduped within
    * itself (hyperplane-LSH pairs + greedy min-id keeper — covers exact
    * copies too, cosine 1), (2) probed against the at-rest embedding-LSH
    * index ([[Dedup.incrementalSemanticNearDups]] — reads only the band
    * buckets the batch hashes into, verification is the EXACT cosine of
    * the stored vectors), and (3) survivors are appended to BOTH the
    * index ([[Dedup.appendToEmbeddingLshIndex]], O(batch)) and the
    * vector corpus.
    *
    * Replay safety is the [[NearDupIngest]] loop's, like
    * [[ingestNearDupBatch]]'s; every admitted vector indexes.
    * `compactFanout` is the same cadence-guarded index compaction.
    *
    * SIZING: `bitsPerBand` follows the constant-bucket rule
    * ([[Dedup.embeddingNearDupPairs]] scaladoc) against the CORPUS the
    * index will grow to, not the batch.
    *
    * Ledger: as [[ingestNearDupBatch]]'s; `rejected` counts null ids,
    * in-batch duplicate ids and degenerate embeddings.
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
  ): IngestLedger = {
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

  /** File-based embedding stream (locally testable source: parquet
    * files of (vec_id, embedding) dropped into a directory) — the
    * source of the PQ/IVF-PQ codes ingests.
    */
  def fileVecStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("vec_id BIGINT, embedding ARRAY<DOUBLE>").parquet(dir)

  /** ANN-index ingest, one micro-batch: the embeddings are encoded with
    * the at-rest PQ index's FROZEN codebooks
    * ([[graft.ops.Similarity.appendToPqIndex]]) and appended — streamed
    * through [[start]], a continuously-growing searchable index where
    * every append is O(batch) and a fresh session can probe the
    * up-to-the-last-batch state from the table name alone.
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
    * re-append. The guard is the [[CorpusIdGate]] every ingest here
    * runs, over the index's `cid` column. Streamed, keep its few-MB
    * bloom over already-indexed ids beside the stream's checkpoint:
    * `bloomPath = Some(s"<checkpoint>/graft-id-bloom")`. Bloom-negative
    * ids are DEFINITELY fresh — the common no-replay batch reads no
    * index file; only suspected replays anti-join the index's id column.
    * The first bloom-fronted batch against a pre-existing index adopts
    * it: that batch anti-joins the whole id column and seeds the filter
    * from it, ONCE, after which the maintenance is O(batch) per batch.
    * `bloomPath = None` drops the bloom front and anti-joins the full
    * index id column (correct for one-off batch use on an index nothing
    * is streaming into).
    *
    * Single-writer contract (same as every swap protocol here): the
    * foreachBatch loop owns both the index and its bloom. Appending to
    * the index around the loop (e.g. a batch-mode call with
    * `bloomPath = None`, or a direct `appendToPqIndex`) leaves the bloom
    * under-claiming those ids, which un-guards THEIR replays — don't mix
    * writers on a live streamed index.
    *
    * Ledger: `kept` vectors appended; `replays` every valid row that did
    * NOT append — in-batch duplicate ids plus ids the index already
    * holds; `rejected` null-id rows (the id IS the index key: null keys
    * don't join, so they could never be replay-detected); `dropped` is
    * 0. `kept + replays + rejected == batch.count()`.
    */
  def ingestPqBatch(
      batch: DataFrame,
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      bloomPath: Option[String] = None,
      expectedItems: Long = 10000000L
  ): IngestLedger =
    ingestCodesBatch(batch, table, vecCol, idCol, bloomPath, expectedItems,
      graft.ops.Similarity.appendToPqIndex(_, _, _, vecCol, idCol), "writePqIndex")

  /** IVF-PQ index ingest, one micro-batch — [[ingestPqBatch]]'s
    * contract over the BUCKETED composition index: the batch is
    * coarse-assigned and encoded with the index's frozen quantizers
    * ([[graft.ops.Similarity.appendToIvfPqIndex]]) and bucket-appended,
    * so probe-side bucket pruning keeps holding as the index grows
    * (spec-pinned: `SelectedBucketsCount` stays < nCells on a
    * fresh-session probe after streamed appends). Same bloom-fronted
    * replay guard (streamed: the bloom at `<checkpoint>/graft-id-bloom`),
    * same single-writer contract, same ledger, same bootstrap rule (the
    * index must exist — [[graft.ops.Similarity.writeIvfPqIndex]] on a
    * representative seed corpus).
    *
    * Invariant (spec-pinned): after any prefix of batches, the codes
    * table equals `assignAndEncode(seed ∪ streamed-so-far)` under the
    * frozen quantizers — bit-identical to a batch rebuild.
    *
    * `compactFanout` is the same auto-compaction cadence as
    * [[ingestNearDupBatch]] (pass 16 on a streamed index): each
    * bucket-append lands one file-set per batch, and without
    * between-batch compaction probe latency and LIST cost grow linearly
    * until the index is a small-file swamp. When files-per-bucket
    * ([[graft.sinks.Sinks.bucketFileFanout]] — one flat LIST, no data
    * read) exceeds the threshold after a batch's append, the batch ends
    * with a [[graft.sinks.Sinks.compactBucketed]] pass — safe inline
    * because the loop IS the index's single writer. `<= 0` disables.
    */
  def ingestIvfPqBatch(
      batch: DataFrame,
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      bloomPath: Option[String] = None,
      expectedItems: Long = 10000000L,
      compactFanout: Int = 0
  ): IngestLedger = {
    val stats = ingestCodesBatch(batch, table, vecCol, idCol, bloomPath, expectedItems,
      graft.ops.Similarity.appendToIvfPqIndex(_, _, _, vecCol, idCol), "writeIvfPqIndex")
    val spark = batch.sparkSession
    if (compactFanout > 0 && stats.kept > 0 &&
      graft.sinks.Sinks.bucketFileFanout(spark, table) > compactFanout)
      graft.sinks.Sinks.compactBucketed(spark, table)
    stats
  }

  /** The shared codes-index micro-batch on [[gatedAppend]]: in-batch id
    * dedup, the [[CorpusIdGate]] check against the index's ids (without
    * a `bloomPath`, a plain anti-join of the whole id column), bloom
    * swap, frozen-quantizer append. `append` is the index-flavor append
    * ([[graft.ops.Similarity.appendToPqIndex]] or
    * [[graft.ops.Similarity.appendToIvfPqIndex]]).
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
  ): IngestLedger = {
    val spark = batch.sparkSession
    require(
      spark.catalog.tableExists(table),
      s"$table does not exist — bootstrap the index with $bootstrapFn on a seed corpus first"
    )
    val gate = new CorpusIdGate(
      spark, StoredIds(() => true, () => spark.table(table).select(col("cid").as(idCol))),
      idCol, bloomPath, expectedItems)
    // ids identify vectors (the id IS the index key): null ids are
    // contract rejections (they skip every id-keyed anti-join, so they
    // would re-append per delivery); one row per id in-batch; two
    // different payloads under one id is a caller bug and the survivor
    // is arbitrary, same as any keyed upsert sink
    val c = gatedAppend(batch, col(idCol).isNotNull, _.dropDuplicates(Seq(idCol)), gate,
      append(spark, table, _))
    IngestLedger(c.kept, 0L, c.valid - c.kept, c.raw - c.valid)
  }

  /** SUBSTRING-dedup corpus ingest, one micro-batch — the Lee et al.
    * family at streaming cadence: each micro-batch is (1) exact-deduped
    * in-batch and against the corpus ([[CorpusIdGate]] on the
    * fingerprint, bloom-fronted when `idBloomPath` is set), (2)
    * span-scored against the at-rest gram index
    * ([[Dedup.incrementalDuplicateSpans]]: corpus-total counts = index
    * history + in-batch, O(batch) shuffle), and (3) docs whose
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
    *
    * Ledger: `kept` docs appended, `dropped` docs over the
    * duplicated-token bar, `replays` fingerprints the corpus holds,
    * `rejected` null texts (a null fingerprint never matches the corpus
    * anti-join). In-batch exact duplicates are not counted: the four sum
    * to the rows left by the in-batch dedup plus the rejections.
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
  ): IngestLedger = {
    val spark = batch.sparkSession
    val gate = new CorpusIdGate(
      spark, corpusIds(spark, corpusPath)(_.select(col("fingerprint"))),
      "fingerprint", idBloomPath, idBloomItems)
    val c = gatedAppend(batch, col("text").isNotNull, fingerprinted, gate,
      // corpus, then the kept docs' grams — see the ordering contract
      append = { kept =>
        kept.write.mode(SaveMode.Append).parquet(corpusPath)
        Dedup.appendToGramIndex(kept, "text", "doc_id", gramIndexTable, gramTokens, nBuckets)
      },
      // duplicated-token fraction vs (kept corpus ∪ this batch)
      step = { (fresh, _) =>
        val spans =
          if (spark.catalog.tableExists(gramIndexTable))
            Dedup.incrementalDuplicateSpans(
              spark, fresh, gramIndexTable, "text", "doc_id", minCount)
          else // first batch: history is empty, counts are in-batch only
            Dedup.duplicateSpans(fresh, "text", "doc_id", gramTokens, minCount)
        val dupPerDoc = spans.groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("dup_tokens"))
        Materialize.counted(
          fresh
            .withColumn("__n", size(graft.functions.Fns.tokens(col("text"))).cast("long"))
            .join(dupPerDoc, Seq("doc_id"), "left")
            .filter(
              col("dup_tokens").isNull || col("__n") === 0L ||
                col("dup_tokens").cast("double") / col("__n") <= maxDupFrac
            )
            .select(col("doc_id"), col("fingerprint"), col("text")))
      })
    IngestLedger(c.kept, c.fresh - c.kept, c.units - c.fresh, c.raw - c.valid)
  }

  /** Curation-gated corpus ingest, one micro-batch — the streaming form
    * of the full `Curation` pipeline over the exactly-once corpus loop:
    * per micro-batch (0) boilerplate stripping
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
    * exact-dedup corpus append ([[ingestBatch]], on the
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
    * as a full no-op. Streamed through [[start]], `batchId` is the
    * stream's own batch id; batch-mode callers pass strictly increasing
    * ids. That check is what closes the one divergence
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
    *
    * Ledger: `kept`/`dropped`/`replays`/`rejected` are the corpus
    * append's ([[ingestBatch]] over the gated docs). `extra` holds the
    * stages: `input` (texts after the in-batch dedup), `boilerPass`,
    * `qualityPass`, `gated`, and `replayed` — 1 for a batch the marker
    * proved fully committed and skipped as a whole, whose counts are
    * then zero, not re-derived.
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
  ): IngestLedger = {
    val spark = batch.sparkSession
    // Marker first (scaladoc): the model commits last, so a stored
    // batch id ≥ ours proves corpus append AND model update both
    // happened — the redelivery is a full no-op. The gates read only
    // the committed model: a first write torn before its marker is no
    // model at all.
    val model = SketchIngest.readCommitted(spark, modelPath)
    if (model.exists(_._1 >= batchId))
      return IngestLedger(0L, 0L, 0L, 0L, curatedStages(0L, 0L, 0L, 0L, replayed = 1L))
    val modelRows = model.map(_._2)
    val base = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // batch-level exact dedup FIRST (the corpus loop's keeper) so
    // stage-0/gate work and model counts see each raw text once; docs
    // differing only in boilerplate converge AFTER the strip and are
    // caught by the corpus append's fingerprint dedup
    val (uniq, nInput) = Materialize.counted(smallestIdPerText(base, md5(col("text"))))

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
    val (clean, nBoiler) = Materialize.counted(
      stripped
        .filter(col("clean_text").isNotNull)
        .select(col("doc_id"), col("clean_text").as("text"))
    )

    val qualIds = graft.ops.TextAnalysis
      .quality(clean, "text", "doc_id")
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"))
    val (qualityPass, nQual) = Materialize.counted(clean.join(qualIds, Seq("doc_id")))

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

    // corpus append (per-doc idempotent) BEFORE the marker-committed
    // model update — see the determinism note in the scaladoc; its
    // ledger accounts for every gated doc, so it also counts them
    val corpus = ingestBatch(gated, corpusPath, bloomPath, expectedItems)
    val nGated = corpus.kept + corpus.dropped + corpus.replays + corpus.rejected
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
    corpus.copy(extra = curatedStages(nInput, nBoiler, nQual, nGated, replayed = 0L))
  }

  private def curatedStages(
      input: Long, boilerPass: Long, qualityPass: Long, gated: Long, replayed: Long
  ): Map[String, Long] =
    Map("input" -> input, "boilerPass" -> boilerPass, "qualityPass" -> qualityPass,
      "gated" -> gated, "replayed" -> replayed)

  /** Count-min depth for the bounded boiler model (width is the knob;
    * 4 rows is the standard accuracy/size point).
    */
  val CmsDepth = 4

  /** Where a [[CorpusIdGate]] confirms membership: whether anything is
    * stored yet, and the stored rows projected to the gate's id column
    * and bloom key — read only when a check needs them.
    */
  private[streaming] final case class StoredIds(exists: () => Boolean, rows: () => DataFrame)

  /** [[StoredIds]] of a parquet corpus, its rows projected by `ids`. */
  private[streaming] def corpusIds(spark: SparkSession, corpusPath: String)(
      ids: DataFrame => DataFrame): StoredIds =
    StoredIds(
      () => graft.sinks.Dfs.fs(spark, corpusPath).exists(new HPath(corpusPath)),
      () => ids(spark.read.parquet(corpusPath)))

  /** Bloom-fronted membership gate — the one place an ingest decides
    * which of a batch's ids are already stored. A stored filter over
    * the stored ids answers bloom-NEGATIVE rows (the common no-replay
    * case) with no read of the stored rows at all; bloom-POSITIVE rows
    * fall through to the exact anti-join ([[Dedup.bloomAbsent]]; a
    * false positive costs a scan, never correctness). Without a
    * `bloomPath`, or before the first filter is written, every row
    * takes the anti-join. `bloomKey` names the column whose xxhash64 the
    * filter holds when it is not the id column itself.
    *
    * Crash-consistency direction: [[update]] must run BEFORE the
    * append (the index-before-corpus over-claiming rule). A crash
    * between the bloom swap and the append leaves a false positive —
    * absorbed by the exact confirm; the reverse order would leave a
    * stored id bloom-negative, i.e. a silent duplicate on redelivery.
    * Adoption: the first [[update]] against existing stored rows seeds
    * the filter from them too (one full id scan, once per adopted
    * corpus or index), so ids stored before the bloom can never read as
    * false negatives.
    *
    * Single-writer, like every swap protocol here: the one
    * foreachBatch loop owns the state.
    */
  private[streaming] final class CorpusIdGate(
      spark: SparkSession,
      stored: StoredIds,
      idCol: String,
      bloomPath: Option[String],
      expectedItems: Long,
      bloomKey: Option[String] = None
  ) {
    private val key = bloomKey.getOrElse(idCol)
    private val bloom: Option[StoredBloom] =
      bloomPath.flatMap(bp => readBloom(graft.sinks.Dfs.fs(spark, bp), bp))

    /** The rows of `df` whose id is NOT stored, pinned, their count, and
      * the number of rows of `df` — exact at every configuration (the
      * bloom only decides whether the stored rows are read, never the
      * answer). The pinning job alone when no row is bloom-positive; the
      * anti-join's jobs on top when some are.
      */
    def absent(df: DataFrame): (DataFrame, Long, Long) =
      if (!stored.exists()) {
        val (rows, n) = Materialize.counted(df)
        (rows, n, n)
      } else {
        val (rows, n, positives) = Dedup.bloomAbsent(
          df, df.columns.toSeq.map(col), col(key), bloom.map(_.filter), stored.rows(), idCol)
        if (positives == 0L) (rows, n, n)
        else {
          val (confirmed, absentCnt) = Materialize.counted(rows)
          (confirmed, absentCnt, n)
        }
      }

    /** Merge the bloom keys of the rows this batch appends into the
      * filter and swap — call BEFORE the append (see the class note on
      * ordering). The first update against existing stored rows also
      * folds their keys in (adoption). No-op without a bloomPath or
      * when nothing appends.
      */
    def update(appended: DataFrame): Unit = bloomPath.foreach { bp =>
      // the sizing the state was CREATED with (its file header), even
      // across builds whose default sizing changed: mergeInPlace only
      // accepts a delta of the same sizing
      val (items, bits) =
        bloom.fold(Dedup.bloomSizing(expectedItems, fpp = 0.01))(b => (b.items, b.bits))
      val keys = appended.select(col(key))
      val adopt = bloom.isEmpty && stored.exists()
      mergeBloom(graft.sinks.Dfs.fs(spark, bp), bp,
        if (adopt) keys.unionByName(stored.rows().select(col(key))) else keys,
        col(key), items, bits, bloom.map(_.filter))
    }
  }

  private val BloomMagic = 0x47424631 // "GBF1": graft bloom file v1

  private final case class StoredBloom(items: Long, bits: Long, filter: Array[Byte])

  /** Self-describing bloom file: [magic, items, bits, serialized filter].
    * Recording the sizing is what keeps every future delta
    * merge-compatible with the state ([[CorpusIdGate.update]]).
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

  /** OR the filter of `xxhash64(key)` over `keys` (one aggregate job)
    * into `current` — with no current filter it is the state — and
    * [[writeBloom]] the result. `(items, bits)` must be the stored
    * filter's sizing, or `mergeInPlace` throws. Writes nothing when
    * `keys` is empty.
    */
  private def mergeBloom(
      fs: FileSystem,
      path: String,
      keys: DataFrame,
      key: Column,
      items: Long,
      bits: Long,
      current: Option[Array[Byte]]
  ): Unit = {
    val delta = keys
      .agg(Dedup.bloomAggWithBits(xxhash64(key), items, bits).as("bf"))
      .head()
      .getAs[Array[Byte]](0)
    if (delta != null) writeBloom(fs, path, items, bits, current.fold(delta) { cur =>
      val f = BloomFilter.readFrom(new ByteArrayInputStream(cur))
      f.mergeInPlace(BloomFilter.readFrom(new ByteArrayInputStream(delta)))
      val out = new java.io.ByteArrayOutputStream()
      f.writeTo(out)
      out.toByteArray
    })
  }

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

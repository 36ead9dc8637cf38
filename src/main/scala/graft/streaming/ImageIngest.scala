package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, ImageHash, Materialize}
import graft.streaming.CorpusIngest.IngestLedger

/** Streaming perceptual-image dedup ingest (round 14; hash-family
  * parameterized in round 16 — verdict r15 #4) — the image analogue of
  * [[CorpusIngest.ingestSemanticBatch]], completing the
  * at-rest/streaming matrix for BOTH perceptual-hash modalities: each
  * micro-batch of (doc_id, media) rows is (1) near-deduped within
  * itself (band pairs + greedy min-id keeper — exact re-encodes land
  * at hamming 0), (2) probed against the at-rest index (reads only the
  * band buckets the batch hashes into; verification is the exact
  * hamming of the stored hashes), and (3) survivors are appended to
  * BOTH the index (O(batch)) and the image corpus.
  *
  * The hash family ([[ImageHash.DHash64]] default, [[ImageHash.PHash256]]
  * for corpora past dHash's band space) supplies the one-decode hash
  * and the default bar; pairing, probe and append are Dedup's single
  * Hamming-family set ([[Dedup.imageHashPairs]],
  * [[Dedup.incrementalImageHashDups]], [[Dedup.appendToImageHashIndex]])
  * called with the family, so the protocol here is family-agnostic.
  * Pointing a family at the OTHER family's index fails closed at the
  * index layer (distinct props keys + max(band) data pins).
  *
  * Replay safety is the [[NearDupIngest]] loop's: index-before-corpus
  * ordering, a same-id probe hit is a replay confirmed against the
  * corpus, crash-window orphans append to the corpus only. Undecodable
  * images hash to null and never index; like every unindexable unit
  * they append once through the corpus membership check (dropping them
  * silently would lose rows; flagging is quality scoring's job, not
  * dedup's), and a redelivered one the corpus holds counts as a replay.
  *
  * DETERMINISM (ADVICE r15): the (doc_id, media, hash) frame comes
  * from ONE `mapPartitions` pass over the deduped batch
  * ([[graft.ops.Multimodal.dHash64WithMedia]]), materialized before
  * any join — the hash in every later stage is derived from exactly
  * the media bytes that get stored, so a batch carrying duplicate
  * doc_ids with DIFFERENT bytes can no longer store one copy's media
  * under another copy's hash. Rows without a doc_id — and the losers
  * of the in-batch id dedup — are rejected up-front and surface in the
  * stats as `rejected` (round 17, ADVICE r16: previously they were
  * silently folded into the near-dups), not errored: an id-keyed,
  * replay-idempotent ingest cannot represent identity-less rows —
  * same-id replay detection and the corpus anti-join both key on
  * doc_id. The returned ledger sums to the raw batch size:
  * `kept + dropped + replays + rejected == batch.count()`, `dropped`
  * counting near-dups in-batch and against the index.
  */
object ImageIngest {

  /** One image-ingest micro-batch of a (doc_id, media) stream (see the
    * object scaladoc); stream it through [[CorpusIngest.start]].
    * `maxHamming` None → the family's default bar (dHash 10, pHash 24
    * — the same ~9%-of-bits tolerance).
    */
  def ingestImageBatch(
      batch: DataFrame,
      corpusPath: String,
      indexTable: String,
      family: ImageHash.Family = ImageHash.DHash64,
      maxHamming: Option[Int] = None,
      nBuckets: Int = 64,
      compactFanout: Int = 16,
      idBloomPath: Option[String] = None,
      idBloomItems: Long = 1000000L
  ): IngestLedger = {
    val spark = batch.sparkSession
    val bar = maxHamming.getOrElse(family.defaultMaxHamming)
    val hc = family.hashCol
    NearDupIngest.ingestBatch(batch, corpusPath, indexTable, compactFanout,
      idBloomPath, idBloomItems, NearDupIngest.Spec(
        idCol = "doc_id",
        admit = { b =>
          // identity + in-batch id dedup: doc_id is the replay key — a
          // row without one cannot be idempotent and is excluded here,
          // by contract (see scaladoc), not dropped by a join's null
          // semantics. Then ONE decode per kept image, the hash derived
          // from the row being stored (single mapPartitions pass — no
          // join back onto a nondeterministic keeper); every later stage
          // reads the HASH column instead of re-decoding the blob.
          val hashed = Materialize(family.hashWithMedia(
            b.select(col("doc_id"), col("media"))
              .filter(col("doc_id").isNotNull)
              .dropDuplicates("doc_id")))
          val idKeptCnt = hashed.count()
          NearDupIngest.Admitted(hashed, idKeptCnt, idKeptCnt)
        },
        indexable = Some(col(hc).isNotNull), // undecodable images hash to null
        pairs = u => Dedup.imageHashPairs(family)(u.select(col("doc_id"), col(hc)), bar),
        probe = (u, dropSameId) => Dedup.incrementalImageHashDups(family)(
          spark, u.select(col("doc_id"), col(hc)), indexTable, bar, dropSameId = dropSameId),
        appendIndex = u => Dedup.appendToImageHashIndex(family)(
          u.select(col("doc_id"), col(hc)), indexTable, nBuckets),
        compact = () => graft.sinks.Sinks.compactBucketed(spark, indexTable),
        corpusRows = _.select(col("doc_id"), col("media"))
      ))
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.ops.Materialize
import graft.streaming.CorpusIngest.{CorpusIdGate, IngestLedger}

/** The one micro-batch loop behind the four index-probe near-dup
  * ingests — text ([[CorpusIngest.ingestNearDupBatch]]), semantic
  * ([[CorpusIngest.ingestSemanticBatch]]), image
  * ([[ImageIngest.ingestImageBatch]]) and video
  * ([[VideoIngest.ingestVideoBatch]]). A modality supplies a [[Spec]]:
  * how its rows are admitted and signed, and which `Dedup` calls pair,
  * probe, append and compact its index. This loop owns everything else:
  *
  *  1. in-batch near-dup: greedy min-id keeper — a unit pairing with ANY
  *     smaller-id unit is dropped (deterministic; over-drops only on
  *     chains a~b~c with a≁c, the standard conservative LSH-dedup rule);
  *  2. the index probe with `dropSameId = false`: a hit on another id is
  *     a near-dup, a hit on the unit's own id means it is already
  *     indexed — a replay;
  *  3. index append FIRST, then the corpus append.
  *
  * Replay safety (at-least-once delivery → exactly-once corpus): the
  * index is appended before the corpus, so it over-claims membership. A
  * replayed unit finds its own indexed copy and is CONFIRMED against
  * the corpus ([[CorpusIdGate.absent]]): present → dropped entirely;
  * absent (the crash window — index appended, corpus append lost) → an
  * orphan, appended to the corpus only, never re-indexed. The reverse
  * order would re-index replayed units (duplicate index rows) or lose
  * crash-window units silently.
  *
  * UNINDEXABLE units (unshingleable text, undecodable images, clips
  * with fewer than two decodable frames) have no signature, so they can
  * never produce the same-id hit; a redelivery would re-append them
  * forever. They skip pairing and the probe, and idempote through the
  * same corpus membership check as the orphans: appended only if the
  * corpus lacks their id, and a corpus-present one counts as a replay.
  *
  * The corpus-id bloom ([[CorpusIdGate.update]]) is merged BEFORE the
  * corpus append (the over-claiming direction), and the batch ends with
  * the cadence-guarded index compaction: when files-per-bucket
  * ([[graft.sinks.Sinks.bucketFileFanout]] — one flat LIST, no data
  * read) exceeds `compactFanout`, the modality's compaction runs. Safe
  * inline: the foreachBatch loop IS the index's single writer, so
  * between-batch compaction is the maintenance window the swap
  * protocol assumes. `<= 0` disables.
  *
  * LEDGER ([[CorpusIngest.IngestLedger]]): `dropped` counts the
  * in-batch and vs-index near-dups (exact in-batch copies included),
  * `kept + dropped + replays == considered` (the units the admit step
  * counts) and `rejected == batch rows − valid rows`.
  */
private[streaming] object NearDupIngest {

  /** What a modality's admit step hands the loop: `units`, one row per
    * unit id carrying its signature and corpus payload (pin it when the
    * signature is expensive — it is read by pairing and the keeper
    * join); `valid`, the batch rows that pass the identity contract; and
    * `considered`, the units the kept/dropped/replays ledger splits.
    */
  final case class Admitted(units: DataFrame, valid: Long, considered: Long)

  /** One modality's part of the loop.
    *
    * @param idCol       the unit id: the replay key and every anti-join key
    * @param admit       contract filter, identity dedup and the one-pass
    *                    signature over the raw batch
    * @param indexable   units that carry a signature; None when every
    *                    admitted unit does
    * @param pairs       in-batch (i, j) near-dup pairs over indexable units
    * @param probe       (i = indexed id, j = unit id) hits of indexable
    *                    units against the at-rest index, given `dropSameId`
    * @param appendIndex O(batch) index append of fresh indexable units
    * @param compact     the index compaction
    * @param corpusRows  the corpus rows of the units to append
    * @param corpusIdCol the corpus column holding the id when it differs
    *                    (video stores frame rows keyed `video_id`)
    */
  final case class Spec(
      idCol: String,
      admit: DataFrame => Admitted,
      indexable: Option[Column],
      pairs: DataFrame => DataFrame,
      probe: (DataFrame, Boolean) => DataFrame,
      appendIndex: DataFrame => Unit,
      compact: () => Unit,
      corpusRows: DataFrame => DataFrame,
      corpusIdCol: Option[String] = None
  )

  private val Indexable = "__indexable"

  def ingestBatch(
      batch: DataFrame,
      corpusPath: String,
      indexTable: String,
      compactFanout: Int,
      idBloomPath: Option[String],
      idBloomItems: Long,
      spec: Spec
  ): IngestLedger = {
    val spark = batch.sparkSession
    val id = spec.idCol
    // bloom-fronted corpus-id gate (see [[CorpusIdGate]]): with a path
    // configured, the membership check stops scanning the corpus id
    // column in the steady no-replay state
    val gate = new CorpusIdGate(
      spark,
      CorpusIngest.corpusIds(spark, corpusPath)(c =>
        spec.corpusIdCol.fold(c.select(col(id)))(cc => c.select(col(cc).as(id)).distinct())),
      id, idBloomPath, idBloomItems)
    val rawCnt = batch.count()
    val admitted = spec.admit(batch)
    // the indexable flag is computed once, pinned with the keeper's
    // survivors; every later split reads it
    val units = spec.indexable.fold(admitted.units)(admitted.units.withColumn(Indexable, _))
    def indexable(df: DataFrame): DataFrame =
      if (spec.indexable.isEmpty) df else df.filter(col(Indexable))
    // (rows, unindexable rows) of a pinned frame, one aggregate job
    def counts(df: DataFrame): (Long, Long) =
      if (spec.indexable.isEmpty) (df.count(), 0L)
      else {
        val r = df.agg(count(lit(1)), count(when(!col(Indexable), 1))).head()
        (r.getLong(0), r.getLong(1))
      }
    // (1) in-batch near-dup, greedy min-id keeper
    val inBatchDrops = spec.pairs(indexable(units)).select(col("j").as(id)).distinct()
    val batchKept = Materialize(units.join(inBatchDrops, Seq(id), "left_anti"))
    // (2) probe the at-rest index with dropSameId = false: same-id hits
    // are replays
    val (nearDupIds, replayIds) =
      if (spark.catalog.tableExists(indexTable)) {
        val hits = Materialize(spec.probe(indexable(batchKept), false))
        (
          hits.filter(col("i") =!= col("j")).select(col("j").as(id)).distinct(),
          hits.filter(col("i") === col("j")).select(col("j").as(id)).distinct()
        )
      } else {
        val none = batchKept.select(col(id)).limit(0)
        (none, none)
      }
    val fresh = Materialize(
      batchKept
        .join(nearDupIds, Seq(id), "left_anti")
        .join(replayIds, Seq(id), "left_anti"))
    val (freshCnt, unindexableCnt) = counts(fresh)
    // (3) index append FIRST (the over-claiming membership structure)
    if (freshCnt > unindexableCnt) spec.appendIndex(indexable(fresh))
    // (4) one corpus membership check: crash-window orphans (indexed
    // under their own id, missing from the corpus) and fresh
    // unindexable units; a corpus-present unindexable unit is a replay
    val replayed = batchKept.join(replayIds, Seq(id), "left_semi")
    val (healing, healingCnt, _) = gate.absent(
      if (unindexableCnt == 0L) replayed
      else replayed.unionByName(fresh.filter(!col(Indexable))))
    val unindexableAppends =
      if (unindexableCnt == 0L) 0L else healing.filter(!col(Indexable)).count()
    val unindexableReplays = unindexableCnt - unindexableAppends
    if (freshCnt - unindexableCnt + healingCnt > 0) {
      val toCorpus = indexable(fresh).unionByName(healing)
      // bloom BEFORE the corpus append (the over-claiming direction —
      // see [[CorpusIdGate]]); toCorpus unions pinned frames, so the id
      // projection reads materialized blocks, not a re-run
      gate.update(toCorpus.select(col(id)))
      spec.corpusRows(toCorpus).write.mode(SaveMode.Append).parquet(corpusPath)
    }
    // (5) cadence-guarded index compaction
    if (compactFanout > 0 && spark.catalog.tableExists(indexTable) &&
      graft.sinks.Sinks.bucketFileFanout(spark, indexTable) > compactFanout)
      spec.compact()
    val replayCnt = replayIds.count()
    IngestLedger(
      kept = freshCnt - unindexableReplays,
      dropped = admitted.considered - freshCnt - replayCnt,
      replays = replayCnt + unindexableReplays,
      rejected = rawCnt - admitted.valid
    )
  }
}

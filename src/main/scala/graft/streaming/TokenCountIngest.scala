package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Bpe

/** Live token accounting through the FROZEN at-rest tokenizer (round
  * 14): maintain an at-rest (group → n_docs, n_bpe) table from a
  * document stream, tokenizing every micro-batch with the persisted
  * BPE model ([[Bpe.readModel]] — fit once, apply everywhere; the
  * ingest session never refits). This is the "token throughput by
  * source, updated live" readback a training-data pipeline budgets
  * against — token-budget sampling (q48) and mixture design read
  * exactly this table instead of re-tokenizing history.
  *
  * Composition, not new machinery: the per-batch fold is
  * [[Bpe.tokenCounts]] (vocabulary-joined — the merge fold runs once
  * per distinct word) joined back to the batch's group column, and the
  * at-rest state is [[SketchIngest.ingestAdditiveBatch]] (exact-long
  * addition, swap/marker protocol — replayed batch ids are no-ops,
  * streamed == batch rebuild bit-identically). The model read per
  * micro-batch is a bounded-metadata collect (merge rows, never
  * corpus-scale); cache-by-session if a model ever grows past that.
  */
object TokenCountIngest {

  /** Apply one micro-batch of (idCol, textCol, groupCol) rows. Returns
    * false on a recognized replay.
    */
  def ingestTokenCountBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      groupCol: String,
      modelTable: String,
      path: String
  ): Boolean =
    SketchIngest.ingestAdditiveBatch(
      batch,
      batchId,
      fold = { raw =>
        // in-batch doc_id dedup (the ImageIngest rule — at-least-once
        // delivery may repeat a row WITHIN a batch too; without this the
        // tokenCounts left-join back onto the duplicated frame would
        // multiply rows and inflate both n_docs and n_bpe)
        val b = raw.dropDuplicates(idCol)
        val merges = Bpe.readModel(b.sparkSession, modelTable)
        Bpe
          .tokenCounts(b, textCol, idCol, merges)
          .join(b.select(col(idCol).as("doc_id"), col(groupCol)), Seq("doc_id"))
          .groupBy(col(groupCol))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("n_bpe"))
      },
      keyCols = Seq(groupCol),
      measureCols = Seq("n_docs", "n_bpe"),
      path = path
    )
}

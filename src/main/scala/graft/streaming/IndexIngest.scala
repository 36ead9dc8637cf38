package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Retrieval

/** Exactly-once streaming maintenance of the at-rest BM25 index
  * ([[Retrieval]]): keep keyword search fresh while a corpus ingest
  * runs, without ever rewriting existing posting lists.
  *
  * == Protocol ==
  *
  * Two tables, two idempotency mechanisms, ordered so redelivery heals
  * every crash window:
  *
  *  1. '''Postings''' grow append-only (new doc_ids never collide with
  *     indexed ones — same caller contract as
  *     [[Retrieval.appendToIndex]]), but a raw append would double rows
  *     on redelivery. Each batch therefore writes its postings under
  *     its OWN partition dir (`postings/batch_id=<id>`) with overwrite
  *     semantics — re-running a batch rewrites the same bytes.
  *  2. '''Stats''' (indexed-doc count + token mass) are a 2-row
  *     keyed-count table maintained by
  *     [[SketchIngest.ingestCountBatch]] — exact addition under the
  *     marker-inside-swap protocol. It commits LAST, so a stored
  *     marker proves the whole batch (postings included) ran: the
  *     batch check up front makes redelivery a whole-batch no-op.
  *
  * Crash between (1) and (2): the postings dir for the batch exists
  * but the marker doesn't — [[loadIndex]] leaves that batch out,
  * postings and stats alike, until redelivery rewrites the identical
  * postings and commits the stats. Deterministic convergence to the
  * clean run's state in every window.
  */
object IndexIngest {

  /** Apply one micro-batch of NEW documents to the index at `path`.
    * Returns false (whole-batch no-op) when the batch already
    * committed.
    */
  def ingestBm25Batch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      path: String
  ): Boolean = {
    val spark = batch.sparkSession
    val statsPath = s"$path/stats"
    // stats commit last => marker proves the postings write happened too
    if (SketchIngest.readCommitted(spark, statsPath).exists(_._1 >= batchId)) return false

    Retrieval
      .invertedIndex(batch, textCol, idCol)
      .write
      .mode("overwrite")
      .parquet(s"$path/postings/batch_id=$batchId")

    SketchIngest.ingestCountBatch(
      batch,
      batchId,
      statsFold(textCol, idCol),
      Seq("kind"),
      statsPath
    )
  }

  /** The batch's stats as addition-mergeable keyed counts:
    * ("n_docs" → indexed docs, "sum_dl" → token mass).
    */
  def statsFold(textCol: String, idCol: String): DataFrame => DataFrame = { b =>
    Retrieval
      .indexStats(Retrieval.invertedIndex(b, textCol, idCol))
      .select(
        explode(
          map(lit("n_docs"), col("n_docs"), lit("sum_dl"), col("sum_dl"))
        ).as(Seq("kind", "n"))
      )
  }

  /** Streaming loop over [[ingestBm25Batch]]. */
  def bm25Ingest(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      checkpoint: String
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBm25Batch(batch, batchId, textCol, idCol, path)
        ()
      }
      .start()

  /** Load the streamed index in [[Retrieval.bm25TopK]] form:
    * (postings across all committed batches, 1-row stats). Only
    * committed state is read ([[SketchIngest.readCommitted]]): postings
    * of a batch whose stats never committed are left out with them.
    */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val committed = SketchIngest.readCommitted(spark, s"$path/stats")
    val postings = spark.read
      .parquet(s"$path/postings")
      .filter(col("batch_id") <= committed.fold(-1L)(_._1))
      .drop("batch_id")
    val stats = committed
      .fold(spark.range(0).select(lit("").as("kind"), lit(0L).as("n")))(_._2)
      .agg(
        sum(when(col("kind") === "n_docs", col("n"))).as("n_docs"),
        sum(when(col("kind") === "sum_dl", col("n"))).as("sum_dl")
      )
    (postings, stats)
  }
}

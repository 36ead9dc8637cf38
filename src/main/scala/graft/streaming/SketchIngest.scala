package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Sketches
import graft.sinks.Dfs

/** Continuous maintenance of an at-rest histogram sketch
  * ([[graft.ops.Sketches]]) over a stream — the telemetry shape behind
  * "p99 document length, updated live, queryable without rescanning":
  * each micro-batch folds its rows into a batch histogram (map-side,
  * O(batch)), exact-long-merges it with the at-rest sketch (O(groups ×
  * bins) rows — KB-sized regardless of history), and swap-writes the
  * result with [[graft.sinks.Dfs.swap]]. Readers
  * ([[graft.ops.Sketches.quantilesFromSketch]],
  * [[graft.ops.Sketches.cdfFromSketch]]) of a table loaded through
  * [[readCommitted]] see a COMPLETE, committed sketch: a crashed swap
  * is healed first ([[graft.sinks.Dfs.heal]]).
  * The new version is staged at `<path>.new`: it is fully written,
  * marker included, before the live dir is retired, so a crash after
  * the retire rolls forward to it rather than redoing the batch.
  *
  * Exactly-once under foreachBatch's at-least-once redelivery: the
  * committed batch id rides INSIDE the versioned dir (`_batch` control
  * file — underscore-prefixed, invisible to parquet readers), so the
  * sketch and its progress marker swap atomically. A replayed batch id
  * ≤ the stored one is a no-op. Because merge is exact long addition,
  * the streamed sketch is bit-identical to a batch rebuild over the
  * same rows (spec-pinned).
  *
  * Single-writer contract (as everywhere in this engine): one ingest
  * loop owns a sketch path.
  */
object SketchIngest {

  /** Start the ingest loop: `rows` must contain `valueCol` and
    * `groupCols`. The sketch lands at `sketchPath` (live parquet dir +
    * `_batch` marker inside).
    */
  def sketchIngest(
      rows: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      lo: Double,
      hi: Double,
      nBins: Int,
      sketchPath: String,
      checkpoint: String
  ): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestSketchBatch(batch, batchId, valueCol, groupCols, lo, hi, nBins, sketchPath)
        ()
      }
      .start()

  /** One micro-batch; exposed for batch-mode reuse and the spec's
    * streamed==rebuild and crash-window tests. Returns true when the
    * batch was applied, false when it was recognized as a replay.
    */
  def ingestSketchBatch(
      batch: DataFrame,
      batchId: Long,
      valueCol: String,
      groupCols: Seq[String],
      lo: Double,
      hi: Double,
      nBins: Int,
      sketchPath: String
  ): Boolean =
    ingestCountBatch(
      batch,
      batchId,
      b => Sketches.histogramSketch(b, valueCol, groupCols, lo, hi, nBins),
      groupCols :+ "bin",
      sketchPath
    )

  /** The general form behind [[ingestSketchBatch]]: maintain ANY
    * at-rest keyed-count table (`keyCols` + a long `n`) whose merge is
    * exact addition — histogram sketches, DSIR gram-bucket models,
    * vocabulary counts. `fold` turns a micro-batch into its keyed
    * counts; the rest is the shared swap/marker protocol (object
    * scaladoc). Addition-mergeable state is the entire trick: streamed
    * == batch rebuild bit-identically, in any delivery order.
    *
    * Designed for BOUNDED tables (sketch grids, hashed-bucket models,
    * CMS cells): the merge reads and rewrites the whole table each
    * batch, so per-batch cost is O(table). Keep unbounded keyed counts
    * (e.g. a raw vocabulary) out of this loop — fold them into a
    * bounded sketch first (`TextAnalysis.boilerFoldCms` is the worked
    * example replacing the vocabulary-sized exact segment table).
    */
  def ingestCountBatch(
      batch: DataFrame,
      batchId: Long,
      fold: DataFrame => DataFrame,
      keyCols: Seq[String],
      path: String,
      finish: DataFrame => DataFrame = identity
  ): Boolean =
    ingestAdditiveBatch(batch, batchId, fold, keyCols, Seq("n"), path, finish)

  /** Multi-measure generalization of [[ingestCountBatch]]: maintain an
    * at-rest keyed table of ANY set of long measures whose merge is
    * exact addition — an incrementally-maintained materialized
    * aggregate (e.g. revenue + line counts per (nation, nation, year),
    * the q113 trade view, kept live as fact rows stream in). Same
    * bounded-table contract and swap/marker protocol as the count
    * form; because every measure merges by exact long addition, the
    * streamed view equals a batch rebuild bit-identically in any
    * delivery order (spec-pinned in SketchIngestSpec).
    */
  def ingestAdditiveBatch(
      batch: DataFrame,
      batchId: Long,
      fold: DataFrame => DataFrame,
      keyCols: Seq[String],
      measureCols: Seq[String],
      path: String,
      finish: DataFrame => DataFrame = identity
  ): Boolean = {
    import org.apache.spark.sql.functions.{col, sum}
    val spark = batch.sparkSession
    val fs = Dfs.fs(spark, path)
    val live = new HPath(path)
    val stored = readCommitted(spark, path)
    if (stored.exists(_._1 >= batchId)) return false
    // merging onto an uncommitted first write would count it twice
    if (stored.isEmpty) Dfs.rmTree(fs, live)

    val batchCounts = fold(batch)
    // `finish` post-processes the MERGED table before it is committed —
    // e.g. HeavyHitterIngest's deterministic Misra-Gries prune keeping
    // the at-rest state bounded. Identity for plain additive state.
    val merged = finish(stored.fold(batchCounts) { case (_, current) =>
      current
        .unionByName(batchCounts)
        .groupBy(keyCols.map(col): _*)
        .agg(
          sum(col(measureCols.head)).as(measureCols.head),
          measureCols.tail.map(m => sum(col(m)).as(m)): _*
        )
    })

    val fresh = Dfs.staged(live)
    Dfs.rmTree(fs, fresh) // stray .new from a pre-swap crash: never acknowledged, rebuild
    merged.coalesce(1).write.parquet(fresh.toString)
    Dfs.writeSmall(fs, new HPath(fresh, "_batch"), batchId.toString)
    Dfs.swap(fs, live, fresh)
    true
  }

  /** The committed table at `path` and the batch id it was committed
    * at, after healing a crashed swap. None means no committed state:
    * nothing at rest, or a first write that the heal promoted from a
    * `.new` torn before its `_batch` marker landed (every writer
    * commits the marker before the swap). The writer and every reader
    * start here, so none of them sees the counts, or only part of the
    * files, of a write that was never acknowledged.
    */
  def readCommitted(spark: SparkSession, path: String): Option[(Long, DataFrame)] = {
    val fs = Dfs.fs(spark, path)
    val live = new HPath(path)
    Dfs.heal(fs, live)
    committedBatch(fs, live).map(b => (b, spark.read.parquet(path)))
  }

  /** The batch id the live sketch was committed at, if any. */
  def committedBatch(fs: FileSystem, live: HPath): Option[Long] = {
    val marker = new HPath(live, "_batch")
    if (fs.exists(live) && Dfs.existsSmall(fs, marker))
      Some(Dfs.readSmallString(fs, marker).trim.toLong)
    else None
  }
}

package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.sinks.Dfs

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.Scd2

/** Structured-Streaming composition of the CDC pipeline (SURVEY.md §2.9).
  *
  * The reference consumes Kafka one event at a time (~110 events/s,
  * commit-per-event, fire-and-forget daemon threads —
  * `consumer.py:104-228`). Here each micro-batch applies thousands of
  * events in one vectorized merge, and the "side effects" (delta export,
  * anomaly trigger) run inside the same `foreachBatch` transaction —
  * strictly stronger semantics (ST3) at orders of magnitude more
  * throughput.
  *
  * Exactly-once: checkpointed source offsets + idempotent merge keyed on
  * event_id (ST1: the reference's UNIQUE + ON CONFLICT DO NOTHING
  * becomes dropDuplicates / dropDuplicatesWithinWatermark).
  */
object CdcStream {

  /** Wire schema of a CDC event on the bus (JSON value), mirroring the
    * reference's `CDCEvent` model (`app/app.py:80-89`).
    */
  val eventWireSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("event_type", StringType),
    StructField("company_id", StringType),
    StructField("table_name", StringType),
    StructField("ts", TimestampType),
    StructField("key_column", StringType),
    StructField("key_value", StringType),
    StructField("old_values", MapType(StringType, StringType)),
    StructField("new_values", MapType(StringType, StringType))
  ))

  /** S7/ST5: Kafka source wiring (reference `consumer.py:377-397`).
    * Format-string based — compiles without kafka jars; untested in this
    * environment (no broker), the tested path is [[fileEventStream]]
    * which exercises identical downstream plumbing.
    */
  def fromKafka(spark: SparkSession, servers: String, topic: String): DataFrame =
    fromWire(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )

  /** Wire deserialization: JSON `value` bytes -> typed event columns.
    * Factored out of [[fromKafka]] so the exact bytes-on-the-bus path is
    * testable without a broker (CdcStreamSpec round-trips
    * [[toWire]] ∘ [[fromWire]] through a streamed micro-batch).
    */
  def fromWire(wire: DataFrame): DataFrame =
    wire
      .select(from_json(col("value").cast("string"), eventWireSchema).as("e"))
      .select("e.*")

  /** Wire serialization: (key = `{company}_{table}`, value = event JSON)
    * — exactly what [[toKafka]] puts on the bus.
    */
  def toWire(events: DataFrame): DataFrame =
    events.select(
      concat_ws("_", col("company_id"), col("table_name")).as("key"),
      to_json(struct(events.columns.toIndexedSeq.map(col): _*)).as("value")
    )

  /** S6: Kafka sink — key `{company}_{table}` (NOT the reference's
    * `{company}_{table}_{event_type}` at `app/app.py:275`, which breaks
    * per-record ordering across event types; SURVEY.md ST2 records this
    * as an intended-semantics fix).
    */
  def toKafka(events: DataFrame, servers: String, topic: String, checkpoint: String): StreamingQuery =
    toWire(events)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** File-based event stream (the locally testable source: parquet files
    * dropped into a directory are the "topic").
    */
  def fileEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventWireSchema).parquet(dir)

  /** ST1: at-least-once -> effectively-once dedup with event-time
    * watermark bounding the dedup state.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Stable state-bucket id for a record key: `pmod(xxhash64(keys), n)`.
    * MUST stay fixed for the life of a state table (changing `n` scatters
    * keys across buckets; re-bucketing requires a full rebuild from the
    * event log, which CdcStreamSpec proves is always possible).
    */
  def stateBucket(keys: Seq[String], numBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong)).cast("int")

  /** ST3: apply each micro-batch of events to the SCD2 state table
    * transactionally, rewriting only the touched state BUCKETS.
    *
    * State layout: `statePath/bucket=<pmod(xxhash64(keys), numBuckets)>/`
    * parquet dirs, one data file per bucket. Each micro-batch is a
    * bucket refold ([[applyBatchToState]]): the batch's touched buckets
    * are read whole, their stored versions are replayed as events next
    * to the batch's events, and the version chain is folded again per
    * bucket, then each touched bucket dir is swapped for its new one.
    *
    * Cost model: read, shuffle and write bytes are all the bytes stored
    * in the touched buckets plus the batch, not O(total state) — the
    * property that survives 100 TB of SCD2 state (the reference rewrites
    * per EVENT, `consumer.py:152-197`; round 2 of this sink rewrote per
    * BATCH; both are O(state)). The figure to watch is stored bucket
    * bytes per touched key: every row of a touched bucket, untouched
    * keys included, crosses the one exchange (on the bucket id), and one
    * task sorts and writes each touched bucket as one file, so write
    * parallelism is the number of touched buckets. A batch that touches
    * few keys in big buckets therefore pays for the whole buckets;
    * `numBuckets` trades that against files at rest ([[rebucketState]]
    * changes it). On a cluster the same dataflow is `replaceWhere`
    * (Delta) or dynamic-partition overwrite; the bucket column doubles
    * as the pruning predicate.
    *
    * Crash recovery: each touched bucket is replaced with
    * [[graft.sinks.Dfs.swap]] and healed with [[graft.sinks.Dfs.heal]]
    * ([[recoverState]], before every batch). Buckets stage under
    * `<statePath>.tmp`, so a crashed swap rolls back; the bucket is then
    * fully old or fully new, and the idempotent event_id refold makes
    * the checkpoint's replayed batch safe against partially-applied
    * buckets.
    */
  def scd2Sink(
      events: DataFrame,
      statePath: String,
      checkpoint: String,
      keys: Seq[String] = Seq("company_id", "table_name", "key_value"),
      numBuckets: Int = 16
  ): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatchToState(batch, statePath, keys, numBuckets)
      }
      .start()

  /** One micro-batch of [[scd2Sink]], exposed for batch-mode use and
    * direct testing: a bucket refold of the touched buckets.
    *
    *  1. The batch, deduplicated on event_id and tagged with its
    *     [[stateBucket]], is cached once, so the source scan and decode
    *     run once: the job that fills the cache also observes the touched
    *     bucket ids (at most numBuckets ints), and the write reads it. The
    *     cache is dropped when the batch ends, applied or not, so a
    *     long-running sink holds no block (and writes no checkpoint
    *     file) past its current batch.
    *  1. The touched bucket dirs are read with the state schema (the
    *     fold's output schema, so no schema-inference job) and their
    *     versions map back to events: `data` → payload, `valid_from` →
    *     ts.
    *  1. Stored and batch events are repartitioned by bucket, deduped on
    *     (bucket, keys, event_id) and folded with [[Scd2.versionChain]]
    *     over (bucket, keys). Both key sets contain the bucket, so the
    *     repartition is the only exchange, and the window's sort already
    *     orders the rows by bucket for the partitioned write: one task
    *     writes each touched bucket, as one file.
    *  1. The result is staged under `<statePath>.tmp` and each touched
    *     bucket dir is swapped in individually ([[scd2Sink]]'s crash
    *     note).
    *
    * The dedup key is equivalent to [[Scd2.apply]]'s event_id dedup over
    * the same events: the pinned batch is already unique on event_id, and
    * the versions stored for one key carry distinct event ids, so the
    * only duplicates are batch events replayed onto a key that already
    * holds them — exactly what `Scd2.apply(stored ∪ batch)` removes.
    * Re-applying an already-applied batch therefore leaves every bucket's
    * content unchanged, and untouched keys in a touched bucket refold to
    * the identical rows.
    */
  def applyBatchToState(
      batch: DataFrame,
      statePath: String,
      keys: Seq[String] = Seq("company_id", "table_name", "key_value"),
      numBuckets: Int = 16
  ): Unit = {
    val spark = batch.sparkSession
    val root = new HPath(statePath)
    val fs = root.getFileSystem(Dfs.conf(spark))
    recoverRootSwap(fs, statePath) // BEFORE mkdir: an empty shell root must not mask a mid-rebucket .old
    Dfs.mkdirs(fs, root)
    recoverState(fs, root)
    checkBucketMarker(fs, root, numBuckets)
    val eventCols = keys ++ Seq("event_id", "event_type", "new_values", "ts")
    val touchedObs = Observation("touched_buckets")
    val pinned = batch
      .dropDuplicates("event_id")
      .select(eventCols.map(col) :+ stateBucket(keys, numBuckets).as("bucket"): _*)
      .observe(touchedObs, collect_set(col("bucket")).as("buckets"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // fills the cache in one pass, and the observation fires on it
      pinned.write.format("noop").mode("overwrite").save()
      val touched = touchedObs.get("buckets").asInstanceOf[scala.collection.Seq[Int]].sorted
      if (touched.isEmpty) return
      val existingDirs = touched
        .map(b => new HPath(root, s"bucket=$b"))
        .filter(fs.exists(_))
        .map(_.toString)
      val events =
        if (existingDirs.isEmpty) pinned
        else
          spark.read
            .schema(Scd2.versionChain(pinned.drop("bucket"), keys).schema) // no inference job
            .parquet(existingDirs.toIndexedSeq: _*)
            .select(
              keys.map(col) ++ Seq(
                col("event_id"),
                col("event_type"),
                col("data").as("new_values"),
                col("valid_from").as("ts"),
                stateBucket(keys, numBuckets).as("bucket")
              ): _*
            )
            .unionByName(pinned)
      val partition = "bucket" +: keys
      val tmp = statePath + ".tmp"
      Scd2
        .versionChain(
          events.repartition(col("bucket")).dropDuplicates(partition :+ "event_id"),
          partition
        )
        .write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
      touched.foreach { b =>
        val fresh = new HPath(s"$tmp/bucket=$b")
        if (fs.exists(fresh)) Dfs.swap(fs, new HPath(root, s"bucket=$b"), fresh)
      }
      Dfs.rmTree(fs, new HPath(tmp))
    } finally pinned.unpersist(blocking = false) // a long-running sink must not accumulate pins
  }

  /** Read back the SCD2 state table. A PURE snapshot read — safe to run
    * concurrently with an in-flight [[applyBatchToState]] (mutating the
    * directory here could move a stale `.old` back over a swap in
    * progress): per bucket it reads the live dir, falling back to
    * `bucket=N.old` only when the live dir is mid-swap absent (a
    * consistent pre-swap view). Plain partition discovery would instead
    * UNION both versions — duplicate keys with conflicting is_current
    * rows. Recovery itself stays where the writer runs
    * ([[applyBatchToState]] calls [[recoverState]] before each batch).
    *
    * The frame is built with the schema stored in one bucket file's
    * parquet footer ([[graft.sinks.Dfs.readParquet]]), so building it
    * runs no job; with no bucket dir at all the root is read with
    * Spark's inference.
    *
    * Consistency window: the dir listing and the footer read here are
    * eager but Spark scans the files lazily, so a swap that COMPLETES
    * between this call and execution can delete files the plan selected
    * — the query fails with a missing-file error. A swap that deletes
    * the footer's file before the footer is read fails this call with
    * the same error, and it surfaces: no fallback to inference or to an
    * empty schema. That failure is transient and honest: retry the read.
    * Do NOT "fix" it with `spark.sql.files.ignoreMissingFiles` — that
    * turns the same race into a silently EMPTY bucket (missing rows, no
    * error). Readers needing stronger isolation under a live writer
    * belong on a snapshot-isolated table format (Delta/Iceberg), where
    * this whole swap protocol is a transactional `replaceWhere`.
    */
  def readState(spark: SparkSession, statePath: String): DataFrame = {
    // root-level .old fallback (mid-[[rebucketState]] crash): pure, like
    // the per-bucket fallback below — recovery stays with the writer
    val fs = Dfs.fs(spark, statePath)
    val oldRoot = Dfs.retired(new HPath(statePath))
    val rootDir =
      if (!hasBucketDirs(fs, new HPath(statePath)) && hasBucketDirs(fs, oldRoot)) oldRoot.toString
      else statePath
    val dirs = Dfs.listDirs(fs, new HPath(rootDir)).filter(_.getName.startsWith("bucket="))
    def isRetired(d: HPath) = d.getName.endsWith(Dfs.RetiredSuffix)
    val live = dirs.filter(!isRetired(_)).map(_.getName).toSet
    val readable = dirs.collect {
      case d if !isRetired(d) => d.toString
      case d if !live.contains(d.getName.stripSuffix(Dfs.RetiredSuffix)) => d.toString
    }
    if (readable.isEmpty) spark.read.parquet(rootDir).drop("bucket")
    else Dfs.readParquet(spark, readable).drop("bucket")
  }

  /** Re-bucket a state table to a new modulus — grow a 16-bucket table
    * to 256 as key cardinality grows (the per-key bucket id
    * [[stateBucket]] is frozen at table creation; changing `numBuckets`
    * in place would scatter keys across buckets and corrupt every
    * subsequent merge). The SCD2 state table itself already holds every
    * row (all versions + validity intervals), so re-bucketing is a
    * LAYOUT-ONLY rewrite of current state: read it, re-partition by the
    * new modulus, swap the whole root. No event-log replay is needed —
    * though the log remains the disaster-recovery source of truth
    * (CdcStreamSpec proves `Scd2.apply(readEventLog(...))` rebuilds the
    * identical state, which also covers a lost/corrupt state table).
    *
    * Single-writer: stop the [[scd2Sink]] stream before re-bucketing and
    * restart it with the new `numBuckets` after — ENFORCED, not advisory:
    * the root's `_graft_buckets` marker records the live modulus and
    * [[applyBatchToState]] require()s a match before every batch, so a
    * sink restarted with the stale value fails fast instead of merging
    * against wrong buckets. Crash safety: the new layout is staged at
    * `<statePath>.rebucket` and the root replaced with
    * [[graft.sinks.Dfs.swap]]; a crash rolls back through
    * [[recoverRootSwap]] on the next batch or rebucket, and
    * [[readState]] reads the `.old` root meanwhile. At cluster scale the
    * same dataflow is a rewrite to a new table path + catalog/location
    * flip.
    */
  def rebucketState(
      spark: SparkSession,
      statePath: String,
      newNumBuckets: Int,
      keys: Seq[String] = Seq("company_id", "table_name", "key_value")
  ): Unit = {
    val root = new HPath(statePath)
    val fs = root.getFileSystem(Dfs.conf(spark))
    recoverRootSwap(fs, statePath)
    recoverState(fs, root)
    if (!hasBucketDirs(fs, root)) {
      // empty state: any modulus is layout-compatible, but the caller's
      // INTENT to switch must stick — record it so a sink restarted with
      // the pre-rebucket value fails fast instead of re-freezing it.
      // Create the root if it never existed: dropping the marker because
      // no directory was there yet would silently discard the intent.
      Dfs.mkdirs(fs, root)
      writeBucketMarker(fs, root, newNumBuckets)
      return
    }
    val staging = new HPath(statePath + ".rebucket")
    if (fs.exists(staging)) Dfs.rmTree(fs, staging)
    readState(spark, statePath)
      .withColumn("bucket", stateBucket(keys, newNumBuckets))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(staging.toString)
    // marker travels INSIDE the staging root so the swap below carries
    // data + contract atomically (and `.old` keeps the old pair)
    writeBucketMarker(fs, staging, newNumBuckets)
    Dfs.swap(fs, root, staging)
  }

  /** Heal a crash inside [[rebucketState]]'s root swap with
    * [[graft.sinks.Dfs.heal]]. The one site-specific step: next to a
    * `.old` root, a live root with no bucket dirs is an empty shell a
    * concurrent `mkdirs` manufactured mid-swap, not a table, so it is
    * removed first and the `.old` root restored.
    */
  private[streaming] def recoverRootSwap(fs: FileSystem, statePath: String): Unit = {
    val root = new HPath(statePath)
    if (!fs.exists(Dfs.retired(root))) return
    if (!hasBucketDirs(fs, root)) Dfs.rmTree(fs, root)
    Dfs.heal(fs, root, clearStaleOld = true)
  }

  /** The state table's frozen bucket modulus, recorded at the root as
    * `_graft_buckets` (the `_` prefix keeps it invisible to Spark's file
    * listings). [[stateBucket]] is a pure function of (keys, numBuckets):
    * a sink restarted with a DIFFERENT numBuckets than the table was laid
    * out with computes bucket ids against the wrong dirs and silently
    * merges against the wrong existing rows (missed versions, duplicate
    * is_current). The marker turns that silent corruption into a fail-fast
    * require at the top of every batch; [[rebucketState]] is the one
    * sanctioned way to change it.
    */
  private val BucketMarkerFile = "_graft_buckets"

  private def writeBucketMarker(fs: FileSystem, root: HPath, numBuckets: Int): Unit =
    Dfs.writeSmall(fs, new HPath(root, BucketMarkerFile), numBuckets.toString)

  private def checkBucketMarker(fs: FileSystem, root: HPath, numBuckets: Int): Unit = {
    val m = new HPath(root, BucketMarkerFile)
    if (Dfs.existsSmall(fs, m)) { // heals a crash mid marker-rewrite first
      val recorded = Dfs.readSmallString(fs, m).trim.toInt
      require(
        recorded == numBuckets,
        s"state table at $root is laid out with numBuckets=$recorded but the sink was " +
          s"started with numBuckets=$numBuckets; restart with $recorded or run " +
          "rebucketState to change the modulus"
      )
    } else writeBucketMarker(fs, root, numBuckets) // adopt: pre-marker tables freeze on first batch
  }

  private def hasBucketDirs(fs: FileSystem, root: HPath): Boolean =
    Dfs
      .listDirs(fs, root)
      .exists(p => p.getName.startsWith("bucket=") && !p.getName.endsWith(Dfs.RetiredSuffix))

  /** Heal every bucket a crash left mid-swap ([[graft.sinks.Dfs.heal]]);
    * the root listing finds them by their `.old` dirs.
    */
  private def recoverState(fs: FileSystem, root: HPath): Unit =
    Dfs.listDirs(fs, root).filter(_.getName.endsWith(Dfs.RetiredSuffix)).foreach { oldP =>
      val live = new HPath(oldP.getParent, oldP.getName.stripSuffix(Dfs.RetiredSuffix))
      Dfs.heal(fs, live, clearStaleOld = true)
    }

  final case class KeyedEvent(company_id: String, table_name: String, event_id: String)
  final case class TriggerFire(company_id: String, table_name: String, count: Long)

  /** ST4: the reference's every-Nth-event anomaly trigger
    * (`utils.py:73-98`: Redis INCR per (company,table), fire on every
    * 10th, 24h TTL) as a stateful streaming counter with a processing
    * time timeout standing in for the TTL.
    */
  def everyNthTrigger(
      events: Dataset[KeyedEvent],
      n: Int,
      // None => counters never expire (and the query quiesces when the
      // source drains — pending processing-time timeouts otherwise keep
      // scheduling micro-batches forever)
      ttl: Option[String] = Some("24 hours")
  ): Dataset[TriggerFire] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(e => (e.company_id, e.table_name))
      .flatMapGroupsWithState[Long, TriggerFire](OutputMode.Append, timeoutConf) {
        case ((company, table), batch, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(0L)
            val next = prev + batch.size
            state.update(next)
            ttl.foreach(state.setTimeoutDuration)
            // one fire per N-boundary crossed within the batch
            (prev / n + 1 to next / n).iterator.map(k => TriggerFire(company, table, k * n))
          }
      }
  }

  /** Gap-based event-time sessions, computed incrementally with the
    * built-in `session_window` (dynamic window merging in the streaming
    * state store — the streaming analog of [[graft.ops.Analytics
    * .sessionize]]; CdcStreamSpec pins streamed == batch session
    * boundaries). A session closes `gap` after its last event; the
    * watermark bounds state.
    */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 days"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("company_id"), col("table_name"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("company_id"),
        col("table_name"),
        col("n_events")
      )

  /** Stream-stream interval join: attribute each left-stream event to
    * the right-stream events of the same key inside
    * `[l.ts - within, l.ts]` — e.g. purchases (left) attributed to the
    * clicks (right) that preceded them. Both sides carry
    * watermarks so the join state is bounded: Spark retains left rows
    * only `within + watermark` past their event time. The streaming
    * counterpart of [[graft.ops.AsOfJoin]] (which picks the single
    * latest match; this emits every in-window pair — the streaming
    * state model cannot know "latest" until the watermark closes, so
    * pair-emission + downstream max is the scalable shape).
    */
  def joinWithin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      within: String,
      watermark: String = "1 hour"
  ): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    l.join(
      r,
      keyCond &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $within") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"),
      "inner"
    )
  }

  /** ST6: tumbling daily buckets with watermark — the anomaly series
    * feed, computed incrementally.
    */
  def dailyEventCounts(events: DataFrame, watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("company_id"), col("table_name"))
      .agg(count(lit(1)).as("value"))
      .select(
        to_date(col("window.start")).as("date"),
        col("company_id"),
        col("table_name"),
        col("value")
      )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** One knob for how the engine pins iterative / multiply-read
  * intermediates (LSH shingle sets, index builds, ANN probe cells,
  * connected-components rounds).
  *
  * Default: `localCheckpoint` — executor-local blocks, no lineage, no
  * distributed-FS writes. Fast, but the blocks die with their executor,
  * so on a preemptible 1000-executor cluster a lost node restarts the
  * whole iterative job (the 100 TB asterisk flagged in round 6).
  *
  * Opt-in: set `spark.graft.checkpointDir` to a Hadoop-FS directory
  * (`hdfs:`, `s3a:`, `file:`) and the SAME call sites route through
  * reliable `Dataset.checkpoint` — checkpoint files survive executor
  * loss, at the cost of a distributed write per materialization. Local
  * runs and the bench leave it unset; a long iterative job on
  * preemptible capacity sets it once on the session.
  */
object Materialize {

  /** Session conf key: when set (non-empty), intermediates are reliably
    * checkpointed under this directory instead of localCheckpoint'ed.
    */
  val CheckpointDirConf = "spark.graft.checkpointDir"

  // SparkContext.setCheckpointDir mints a fresh UUID subdir per call, so
  // re-applying the same conf value on every materialization would
  // scatter files; remember what was last applied per application.
  private val applied = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** True when the session routes through reliable checkpoints. */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(CheckpointDirConf).exists(_.trim.nonEmpty)

  /** Materialize `df` per the session's durability conf.
    *
    * ALWAYS eager, in both modes — there is deliberately no `eager`
    * knob (it was removed once always-eager became load-bearing, so a
    * call site can't read as construction-side-effect free when it
    * isn't). A lazy checkpoint's FIRST materialization happens in
    * whatever thread first acts on a consuming plan; when the pinned
    * block is one leg of a diamond whose other leg is a broadcast
    * build side (this engine's standard model-pin shape), that thread
    * is an AQE `broadcast-exchange-*` thread, and Spark's
    * `RDDCheckpointData.checkpoint` (companion lock → RDD lock) can
    * interleave with `DAGScheduler.getCacheLocs` (RDD lock → companion
    * lock) on the same RDD — an ABBA deadlock observed in this
    * environment as a permanent hang of the whole application (jstack:
    * `broadcast-exchange-107` vs `dag-scheduler-event-loop`, round
    * 12). Materializing at pin time runs the checkpoint's one job from
    * the controlled caller thread with no concurrent stage sharing the
    * RDD; every later access sees an already-checkpointed block and
    * takes neither lock in a nested order.
    */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(CheckpointDirConf).map(_.trim).filter(_.nonEmpty) match {
      case Some(dir) =>
        val key = spark.sparkContext.applicationId
        if (applied.put(key, dir) != dir) spark.sparkContext.setCheckpointDir(dir)
        // Eager reliable checkpoint runs TWO jobs over the plan: the
        // eager count, then the ReliableRDDCheckpointData write, which
        // re-executes the (un-persisted) RDD. A TRANSIENT cache makes
        // the count populate it and the checkpoint write read from it —
        // one plan execution + one cache read instead of two
        // executions, and `observe` metrics inside the plan fire once,
        // preserving clusters()' one-materializing-job-per-round
        // convergence accounting in reliable mode too. Unpersisted
        // immediately: the returned frame reads the checkpoint FILES,
        // never this cache. If the CALLER already cached this plan
        // (storageLevel consults the shared CacheManager), both jobs
        // read their cache and the transient persist/unpersist pair is
        // skipped — re-persisting would be a no-op but the paired
        // unpersist would silently drop the caller's cache entry.
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try df.checkpoint(eager = true)
          finally df.unpersist(blocking = false)
        } else df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** [[apply]] and the row count, taken by an observation in the same
    * job — no second pass over the pinned blocks.
    */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = apply(df.observe(obs, count(lit(1)).as("n")))
    (pinned, obs.get("n").asInstanceOf[Long])
  }
}

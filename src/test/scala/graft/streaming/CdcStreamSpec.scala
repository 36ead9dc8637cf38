package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Scd2

class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mkEvents(rows: (String, String, String, String, String, Timestamp)*) =
    rows.toDF("event_id", "event_type", "company_id", "table_name", "key_value", "ts")
      .withColumn("key_column", lit("k"))
      .withColumn("old_values", map().cast("map<string,string>"))
      .withColumn("new_values", map(lit("v"), col("event_id")))
      .select(CdcStream.eventWireSchema.fieldNames.map(col).toIndexedSeq: _*)

  test("streamed scd2 state equals batch fold over all events") {
    val tmp = Files.createTempDirectory("cdcstream").toString
    val srcDir = s"$tmp/events"
    val statePath = s"$tmp/scd2_state"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))

    val batch1 = mkEvents(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")),
      ("e2", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")),
      ("e3", "insert", "c1", "t1", "k2", ts("2024-01-01 00:00:00"))
    )
    val batch2 = mkEvents(
      ("e4", "update", "c1", "t1", "k1", ts("2024-01-03 00:00:00")),
      ("e5", "delete", "c1", "t1", "k2", ts("2024-01-04 00:00:00")),
      ("e2", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")) // replay dup
    )
    batch1.coalesce(1).write.mode("append").parquet(srcDir)

    val q = CdcStream.scd2Sink(
      CdcStream.fileEventStream(spark, srcDir),
      statePath,
      s"$tmp/ckpt"
    )
    q.processAllAvailable()
    batch2.coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    val keys = Seq("company_id", "table_name", "key_value")
    val streamed = spark.read.parquet(statePath)
    val batchFold = Scd2.apply(batch1.unionByName(batch2), keys)
    val proj = Seq("key_value", "event_id", "is_current")
    assert(
      streamed.select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet ===
        batchFold.select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet
    )
    // k1 current version is e4; k2 deleted -> no current
    val current = Scd2.currentState(streamed)
    assert(current.filter($"key_value" === "k1").select("event_id").as[String].head() === "e4")
    assert(current.filter($"key_value" === "k2").count() === 0)
  }

  test("scd2 sink resumes from its checkpoint after a restart (ST5)") {
    val tmp = Files.createTempDirectory("restart").toString
    val srcDir = s"$tmp/events"
    val statePath = s"$tmp/state"
    val ckpt = s"$tmp/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val batch1 = mkEvents(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")),
      ("e2", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00"))
    )
    val batch2 = mkEvents(
      ("e3", "update", "c1", "t1", "k1", ts("2024-01-03 00:00:00")),
      ("e4", "insert", "c1", "t1", "k2", ts("2024-01-01 00:00:00"))
    )
    batch1.coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = CdcStream.scd2Sink(CdcStream.fileEventStream(spark, srcDir), statePath, ckpt)
    q1.processAllAvailable()
    q1.stop() // "crash": the query goes away, the checkpoint stays

    batch2.coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = CdcStream.scd2Sink(CdcStream.fileEventStream(spark, srcDir), statePath, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(statePath)
    val full = Scd2.apply(batch1.unionByName(batch2), Seq("company_id", "table_name", "key_value"))
    val proj = Seq("key_value", "event_id", "is_current")
    assert(
      streamed.select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet ===
        full.select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet
    )
  }

  test("readState mid-swap: pure snapshot read, sees .old fallback, mutates nothing") {
    val tmp = Files.createTempDirectory("midswap").toString
    val statePath = s"$tmp/state"
    val batch = mkEvents((1 to 12).map { i =>
      (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
    }: _*)
    CdcStream.applyBatchToState(batch, statePath, numBuckets = 4)
    val full = CdcStream.readState(spark, statePath)
      .select("key_value", "event_id").as[(String, String)].collect().toSet
    assert(full.size === 12)

    // simulate a crash between Dfs.swap's two moves: one bucket exists
    // only as .old
    val root = new java.io.File(statePath)
    val victim = root.listFiles.filter(_.getName.startsWith("bucket=")).head
    val oldPath = java.nio.file.Paths.get(victim.getPath + ".old")
    java.nio.file.Files.move(victim.toPath, oldPath)

    // the read falls back to the .old version (consistent pre-swap view)
    // and MUST NOT touch the directory — a concurrent writer owns it
    val before = root.listFiles.map(_.getName).toSet
    val got = CdcStream.readState(spark, statePath)
      .select("key_value", "event_id").as[(String, String)].collect().toSet
    assert(got === full)
    assert(root.listFiles.map(_.getName).toSet === before, "readState must not mutate")

    // the WRITER recovers the swap on its next batch
    CdcStream.applyBatchToState(
      mkEvents(("e99", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00"))),
      statePath, numBuckets = 4)
    assert(!java.nio.file.Files.exists(oldPath), "writer-side recovery clears .old")
    assert(CdcStream.readState(spark, statePath)
      .filter(col("event_id") === "e99").count() === 1)
  }

  test("a micro-batch touching one bucket rewrites exactly one partition directory") {
    val tmp = Files.createTempDirectory("incr").toString
    val srcDir = s"$tmp/events"
    val statePath = s"$tmp/state"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // spread 20 keys over 8 buckets so the state has several partitions
    val batch1 = mkEvents((1 to 20).map { i =>
      (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
    }: _*)
    batch1.coalesce(1).write.mode("append").parquet(srcDir)
    val q = CdcStream.scd2Sink(
      CdcStream.fileEventStream(spark, srcDir), statePath, s"$tmp/ckpt", numBuckets = 8)
    q.processAllAvailable()

    def listing(): Map[String, Set[String]] = {
      val root = new java.io.File(statePath)
      root.listFiles.filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map { d =>
        d.getName -> d.listFiles.map(f => s"${f.getName}@${f.lastModified}").toSet
      }.toMap
    }
    val before = listing()
    assert(before.size >= 2, s"need several buckets, got ${before.keys}") // precondition

    // second micro-batch touches a single existing key -> a single bucket
    mkEvents(("e99", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val after = listing()

    assert(after.keySet === before.keySet) // no partition appears/disappears
    val changed = before.keys.filter(d => before(d) != after(d))
    assert(changed.size === 1, s"exactly one bucket dir may be rewritten, got $changed")

    // and the state is still the exact batch fold
    val all = batch1.unionByName(
      mkEvents(("e99", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00"))))
    val proj = Seq("key_value", "event_id", "is_current")
    assert(
      CdcStream.readState(spark, statePath)
        .select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet ===
        Scd2.apply(all, Seq("company_id", "table_name", "key_value"))
          .select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet
    )
  }

  private val stateKeys = Seq("company_id", "table_name", "key_value")

  /** Every column of an SCD2 table, as comparable strings. */
  private def fullRows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    df.select(
      (stateKeys ++ Seq("event_id", "event_type")).map(col) ++ Seq(
        to_json(col("data")),
        col("valid_from").cast("string"),
        col("valid_to").cast("string"),
        col("is_current").cast("string")
      ): _*
    ).collect().map(_.toSeq.map(v => String.valueOf(v))).toSet

  private def bucketOf(keyValue: String, numBuckets: Int): Int =
    Seq(("c1", "t1", keyValue)).toDF(stateKeys: _*)
      .select(CdcStream.stateBucket(stateKeys, numBuckets)).as[Int].head()

  test("a rewritten bucket holds exactly one data file, untouched keys included") {
    val statePath = Files.createTempDirectory("onefile").toString + "/state"
    val batch1 = mkEvents((1 to 20).map { i =>
      (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
    }: _*)
    CdcStream.applyBatchToState(batch1, statePath, numBuckets = 2)
    val b = bucketOf("k1", 2)
    val others = (2 to 20).count(i => bucketOf(s"k$i", 2) == b)
    assert(others > 0, "precondition: k1's bucket also holds untouched keys")

    CdcStream.applyBatchToState(
      mkEvents(("e99", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00"))),
      statePath, numBuckets = 2)
    val files = new java.io.File(s"$statePath/bucket=$b").listFiles.map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(files.length === 1, s"bucket=$b data files: ${files.mkString(", ")}")
    assert(CdcStream.readState(spark, statePath).count() === 21)
  }

  test("a micro-batch leaves no cached block and no checkpoint file behind") {
    val tmp = Files.createTempDirectory("nopin").toString
    val statePath = s"$tmp/state"
    val ckptDir = new java.io.File(s"$tmp/ckpt")
    val ckptConf = graft.ops.Materialize.CheckpointDirConf
    val lastRddBefore = spark.sparkContext.parallelize(Seq(1)).id
    spark.conf.set(ckptConf, ckptDir.toURI.toString)
    try {
      CdcStream.applyBatchToState(mkEvents((1 to 8).map { i =>
        (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:0$i:00"))
      }: _*), statePath, numBuckets = 4)
      // the second batch also reads stored buckets
      CdcStream.applyBatchToState(
        mkEvents(("e9", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00"))),
        statePath, numBuckets = 4)
    } finally spark.conf.unset(ckptConf)
    val pinned = spark.sparkContext.getPersistentRDDs.keys.filter(_ > lastRddBefore)
    assert(pinned.isEmpty, s"RDDs still persisted: $pinned")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val written = if (ckptDir.exists) files(ckptDir) else Seq.empty
    assert(written.isEmpty, s"checkpoint files: ${written.mkString(", ")}")
    assert(CdcStream.readState(spark, statePath).count() === 9)
  }

  for (numBuckets <- Seq(1, 4)) {
    test(s"bucket refold keeps the merge guarantees (numBuckets = $numBuckets)") {
      val statePath = Files.createTempDirectory("refold").toString + "/state"
      val batch1 = mkEvents(
        (1 to 12).map { i =>
          (s"a$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
        } ++ Seq(
          ("u1", "update", "c1", "t1", "k1", ts("2024-01-03 00:00:00")),
          ("u2", "update", "c1", "t1", "k2", ts("2024-01-02 00:00:00")),
          ("d3", "delete", "c1", "t1", "k3", ts("2024-01-02 00:00:00"))
        ): _*
      )
      CdcStream.applyBatchToState(batch1, statePath, numBuckets = numBuckets)
      val before = CdcStream.readState(spark, statePath)

      // batch 2: a late k1 event between its two versions, a new k2
      // version, and a replayed batch-1 event
      val batch2 = mkEvents(
        ("late", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")),
        ("u2b", "update", "c1", "t1", "k2", ts("2024-01-04 00:00:00")),
        ("u1", "update", "c1", "t1", "k1", ts("2024-01-03 00:00:00"))
      )
      val touchedBuckets = Set(bucketOf("k1", numBuckets), bucketOf("k2", numBuckets))
      val untouched = (3 to 12).map(i => s"k$i").filter(k => touchedBuckets(bucketOf(k, numBuckets)))
      assert(untouched.nonEmpty, "precondition: the touched buckets hold untouched keys")
      val beforeUntouched = fullRows(before.filter(col("key_value").isin(untouched: _*)))

      CdcStream.applyBatchToState(batch2, statePath, numBuckets = numBuckets)
      val after = CdcStream.readState(spark, statePath)

      // untouched keys in a touched bucket come back identical
      assert(fullRows(after.filter(col("key_value").isin(untouched: _*))) === beforeUntouched)

      // the late event lands mid-chain with both neighbours' valid_to right
      val k1 = after.filter(col("key_value") === "k1").orderBy("valid_from")
        .select("event_id", "valid_to", "is_current").as[(String, Option[Timestamp], Boolean)]
        .collect().toSeq
      assert(k1 === Seq(
        ("a1", Some(ts("2024-01-02 00:00:00")), false),
        ("late", Some(ts("2024-01-03 00:00:00")), false),
        ("u1", None, true)
      ))

      // the final state is the batch fold over every event
      val expected = fullRows(Scd2.apply(batch1.unionByName(batch2), stateKeys))
      assert(fullRows(after) === expected)

      // re-applying the same batch is a no-op
      CdcStream.applyBatchToState(batch2, statePath, numBuckets = numBuckets)
      assert(fullRows(CdcStream.readState(spark, statePath)) === expected)
    }
  }

  test("the sink write plans one exchange, on the bucket, and no sort of its own") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener

    val statePath = Files.createTempDirectory("sinkplan").toString + "/state"
    CdcStream.applyBatchToState(mkEvents((1 to 12).map { i =>
      (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
    }: _*), statePath, numBuckets = 4)

    val helper = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (helper.find(qe.executedPlan) {
              case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
                c.outputPath.getName == "state.tmp"
              case _ => false
            }.isDefined) writes.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a second batch, so the write reads stored buckets as well
      CdcStream.applyBatchToState(mkEvents(
        ("e99", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")),
        ("e98", "insert", "c1", "t1", "k13", ts("2024-01-02 00:00:00"))
      ), statePath, numBuckets = 4)
      val qe = writes.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, "the sink write was not observed")
      val plan = qe.executedPlan
      val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, s"exchanges:\n$plan")
      assert(exchanges.head.outputPartitioning.toString.startsWith("hashpartitioning(bucket#"),
        s"exchange is not on the bucket:\n$plan")
      // the dedup's sort (a map payload rules out a hash aggregate) and
      // the window's, which leads with the bucket; none on the bucket
      // alone, the ordering the partitioned write would add
      val sortKeys = helper.collect(plan) { case s: SortExec => s }
        .map(_.sortOrder.map(_.child.references.head.name))
      assert(sortKeys.size === 2, s"sorts:\n$plan")
      assert(sortKeys.contains(Seq("bucket") ++ stateKeys ++ Seq("ts", "event_id")), s"sorts:\n$plan")
      assert(!sortKeys.contains(Seq("bucket")), s"the write added a sort of its own:\n$plan")
    } finally spark.listenerManager.unregister(listener)
  }

  test("rebucketState grows the modulus without changing content; streamed==batch holds after; single-key batch rewrites one NEW-modulus bucket") {
    val tmp = Files.createTempDirectory("rebucket").toString
    val srcDir = s"$tmp/events"
    val statePath = s"$tmp/state"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val keys = Seq("company_id", "table_name", "key_value")
    val proj = Seq("key_value", "event_id", "is_current")

    // build a 4-bucket table over 20 keys
    val batch1 = mkEvents((1 to 20).map { i =>
      (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
    }: _*)
    CdcStream.applyBatchToState(batch1, statePath, numBuckets = 4)
    def bucketIds(): Set[Int] = new java.io.File(statePath).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt).toSet
    assert(bucketIds().forall(_ < 4))
    val before = CdcStream.readState(spark, statePath)
      .select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet

    CdcStream.rebucketState(spark, statePath, newNumBuckets = 16)

    // content identical, layout now on the 16-modulus, no residue
    assert(CdcStream.readState(spark, statePath)
      .select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet === before)
    assert(bucketIds().exists(_ >= 4), s"expected new-modulus buckets, got ${bucketIds()}")
    assert(!Files.exists(java.nio.file.Paths.get(statePath + ".old")))
    assert(!Files.exists(java.nio.file.Paths.get(statePath + ".rebucket")))

    // streamed == batch still holds, streaming with the NEW modulus
    val batch2 = mkEvents(
      ("e21", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")),
      ("e22", "insert", "c1", "t1", "k21", ts("2024-01-01 00:21:00"))
    )
    batch2.coalesce(1).write.mode("append").parquet(srcDir)
    val q = CdcStream.scd2Sink(
      CdcStream.fileEventStream(spark, srcDir), statePath, s"$tmp/ckpt", numBuckets = 16)
    q.processAllAvailable()

    assert(
      CdcStream.readState(spark, statePath)
        .select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet ===
        Scd2.apply(batch1.unionByName(batch2), keys)
          .select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet
    )

    // a single-key micro-batch rewrites exactly one NEW-modulus bucket dir
    def listing(): Map[String, Set[String]] = {
      val root = new java.io.File(statePath)
      root.listFiles.filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map { d =>
        d.getName -> d.listFiles.map(f => s"${f.getName}@${f.lastModified}").toSet
      }.toMap
    }
    val preTouch = listing()
    mkEvents(("e99", "update", "c1", "t1", "k5", ts("2024-01-03 00:00:00")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val postTouch = listing()
    assert(postTouch.keySet === preTouch.keySet)
    val changed = preTouch.keys.filter(d => preTouch(d) != postTouch(d))
    assert(changed.size === 1, s"exactly one new-modulus bucket may be rewritten, got $changed")
  }

  test("rebucketState records intent even when the state root never existed") {
    val tmp = Files.createTempDirectory("rebucket-intent").toString
    val statePath = s"$tmp/state"
    // rebucket BEFORE any batch ever created the root: the caller's
    // intent must stick, not silently vanish with the missing directory
    CdcStream.rebucketState(spark, statePath, newNumBuckets = 8)
    val batch = mkEvents(("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")))
    // a sink restarted with the pre-rebucket modulus fails fast...
    val e = intercept[IllegalArgumentException] {
      CdcStream.applyBatchToState(batch, statePath, numBuckets = 4)
    }
    assert(e.getMessage.contains("numBuckets=8"))
    // ...and the recorded modulus proceeds normally
    CdcStream.applyBatchToState(batch, statePath, numBuckets = 8)
    assert(CdcStream.readState(spark, statePath).count() === 1)
  }

  test("rebucketState root-swap crash heals: reader falls back purely, writer recovers") {
    val tmp = Files.createTempDirectory("rebucketcrash").toString
    val statePath = s"$tmp/state"
    val batch = mkEvents((1 to 8).map { i =>
      (s"e$i", "insert", "c1", "t1", s"k$i", ts(f"2024-01-01 00:${i}%02d:00"))
    }: _*)
    CdcStream.applyBatchToState(batch, statePath, numBuckets = 4)
    val want = CdcStream.readState(spark, statePath)
      .select("key_value", "event_id").as[(String, String)].collect().toSet

    // simulate the crash between rebucketState's two root moves: the
    // live root is gone, the whole table sits at <state>.old
    java.nio.file.Files.move(
      java.nio.file.Paths.get(statePath), java.nio.file.Paths.get(statePath + ".old"))

    // pure reader: sees the pre-swap table, mutates nothing
    assert(CdcStream.readState(spark, statePath)
      .select("key_value", "event_id").as[(String, String)].collect().toSet === want)
    assert(Files.exists(java.nio.file.Paths.get(statePath + ".old")))

    // writer: next micro-batch restores the root and applies on top —
    // even though createDirectories would otherwise manufacture an
    // empty shell root that masks the .old
    CdcStream.applyBatchToState(
      mkEvents(("e9", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00"))),
      statePath, numBuckets = 4)
    assert(!Files.exists(java.nio.file.Paths.get(statePath + ".old")))
    val got = CdcStream.readState(spark, statePath)
    assert(got.filter(col("event_id") === "e9").count() === 1)
    assert(got.select("key_value").distinct().count() === 8)
  }

  test("SCD2 state rebuilds exactly from the append-only event log (source of truth)") {
    // disaster-recovery property: the partitioned event log alone is
    // sufficient to reconstruct the state table the streaming sink
    // maintains — fold(readEventLog(appendEventLog(events))) == fold(events)
    val tmp = Files.createTempDirectory("rebuild").toString
    val logPath = s"$tmp/eventlog"
    val events = mkEvents(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")),
      ("e2", "update", "c1", "t1", "k1", ts("2024-01-02 00:00:00")),
      ("e3", "insert", "c2", "t2", "k2", ts("2024-01-01 00:00:00")),
      ("e4", "delete", "c2", "t2", "k2", ts("2024-01-03 00:00:00"))
    )
    graft.sinks.Sinks.appendEventLog(events.filter($"event_id".isin("e1", "e3")), logPath)
    graft.sinks.Sinks.appendEventLog(events.filter($"event_id".isin("e2", "e4")), logPath)
    val keys = Seq("company_id", "table_name", "key_value")
    val rebuilt = Scd2.apply(
      graft.sinks.Sinks.readEventLog(spark, logPath).drop("event_date"),
      keys
    )
    val direct = Scd2.apply(events, keys)
    val proj = Seq("key_value", "event_id", "is_current")
    assert(
      rebuilt.select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet ===
        direct.select(proj.map(col): _*).as[(String, String, Boolean)].collect().toSet
    )
  }

  test("every-Nth trigger fires once per N events per key") {
    val tmp = Files.createTempDirectory("trig").toString
    val srcDir = s"$tmp/events"
    val events = (1 to 25).map(i => CdcStream.KeyedEvent("c1", "t1", s"e$i")) ++
      (1 to 9).map(i => CdcStream.KeyedEvent("c2", "t2", s"f$i"))
    events.toDF().coalesce(1).write.mode("append").parquet(srcDir)

    val stream = spark.readStream
      .schema("company_id string, table_name string, event_id string")
      .parquet(srcDir)
      .as[CdcStream.KeyedEvent]
    val fires = CdcStream.everyNthTrigger(stream, n = 10, ttl = None)
    val q = fires.writeStream
      .format("memory")
      .queryName("fires")
      .outputMode(OutputMode.Append)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("fires").as[CdcStream.TriggerFire].collect().toSet
    assert(got === Set(
      CdcStream.TriggerFire("c1", "t1", 10),
      CdcStream.TriggerFire("c1", "t1", 20)
    ))
  }

  test("kafka wire format round-trips exactly through a streamed micro-batch") {
    val tmp = Files.createTempDirectory("wire").toString
    val srcDir = s"$tmp/wire"
    // payload exercises the full wire surface: nested maps, null map
    // values, empty maps, unicode, quotes-in-values
    val events = Seq(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00"),
        Map.empty[String, String], Map("v" -> "1", "name" -> "acme \"inc\" ü")),
      ("e2", "update", "c1", "t1", "k1", ts("2024-01-02 12:34:56"),
        Map("v" -> "1"), Map("v" -> null)),
      ("e3", "delete", "c2", "t9", "k2", ts("2024-01-03 23:59:59"),
        Map("v" -> "9"), Map.empty[String, String])
    ).toDF("event_id", "event_type", "company_id", "table_name", "key_value", "ts",
      "old_values", "new_values")
      .withColumn("key_column", lit("k"))
      .select(CdcStream.eventWireSchema.fieldNames.map(col).toIndexedSeq: _*)

    // producer side: the exact (key, value) projection toKafka publishes
    CdcStream.toWire(events).coalesce(1).write.mode("append").parquet(srcDir)
    // consumer side: fromKafka's parse, driven as a real micro-batch
    val q = CdcStream
      .fromWire(spark.readStream.schema("key string, value string").parquet(srcDir))
      .writeStream.format("memory").queryName("wire_rt").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()

    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.select(CdcStream.eventWireSchema.fieldNames.map(col).toIndexedSeq: _*)
        .as[(String, String, String, String, Timestamp, String, String,
          Map[String, String], Map[String, String])]
        .collect().toSet
    assert(setOf(spark.table("wire_rt")) === setOf(events))
    // and the bus key partitions per (company, table) for ordered apply
    val keys = CdcStream.toWire(events).select("key").as[String].collect().toSet
    assert(keys === Set("c1_t1", "c2_t9"))
  }

  test("watermark dedup drops replayed event ids") {
    val tmp = Files.createTempDirectory("dedup").toString
    val srcDir = s"$tmp/events"
    mkEvents(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")),
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")),
      ("e2", "insert", "c1", "t1", "k2", ts("2024-01-01 00:05:00"))
    ).coalesce(1).write.mode("append").parquet(srcDir)
    val q = CdcStream
      .dedupWithinWatermark(CdcStream.fileEventStream(spark, srcDir))
      .writeStream.format("memory").queryName("deduped").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("deduped").select("event_id").as[String].collect().sorted.toSeq === Seq("e1", "e2"))
  }

  test("streamed session windows match batch sessionize boundaries") {
    val tmp = Files.createTempDirectory("sess").toString
    val srcDir = s"$tmp/events"
    // k-partition c1/t1: two sessions (00:00+00:10, then 01:00 after the
    // 30-minute gap); c2/t2: one single-event session
    val evs = mkEvents(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 00:00:00")),
      ("e2", "update", "c1", "t1", "k1", ts("2024-01-01 00:10:00")),
      ("e3", "update", "c1", "t1", "k2", ts("2024-01-01 01:00:00")),
      ("e4", "insert", "c2", "t2", "k9", ts("2024-01-01 00:05:00"))
    )
    evs.coalesce(1).write.mode("append").parquet(srcDir)
    val q = CdcStream
      .sessionCounts(CdcStream.fileEventStream(spark, srcDir))
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // advance the watermark past every session's close so they all emit
    mkEvents(("e9", "insert", "c9", "t9", "k9", ts("2024-01-09 00:00:00")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions")
      .filter($"company_id".isin("c1", "c2"))
      .select(date_format($"session_start", "yyyy-MM-dd HH:mm:ss"), $"company_id", $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("2024-01-01 00:00:00", "c1", 2L),
      ("2024-01-01 01:00:00", "c1", 1L),
      ("2024-01-01 00:05:00", "c2", 1L)
    ))
  }

  test("stream-stream interval join matches the batch inequality join") {
    val tmp = Files.createTempDirectory("ssjoin").toString
    val lDir = s"$tmp/purchases"
    val rDir = s"$tmp/clicks"
    val purchases = Seq(
      ("p1", "u1", ts("2024-01-01 10:00:00")),
      ("p2", "u1", ts("2024-01-01 12:00:00")),
      ("p3", "u2", ts("2024-01-01 10:30:00"))
    ).toDF("pid", "user", "ts")
    val clicks = Seq(
      ("c1", "u1", ts("2024-01-01 09:40:00")), // within 30m of p1
      ("c2", "u1", ts("2024-01-01 09:00:00")), // too early for p1
      ("c3", "u1", ts("2024-01-01 11:50:00")), // within 30m of p2
      ("c4", "u2", ts("2024-01-01 10:30:00")), // equal ts -> inclusive
      ("c5", "u3", ts("2024-01-01 10:00:00"))  // wrong key
    ).toDF("cid", "user", "cts")
    purchases.coalesce(1).write.mode("append").parquet(lDir)
    clicks.coalesce(1).write.mode("append").parquet(rDir)
    val joined = CdcStream.joinWithin(
      spark.readStream.schema("pid string, user string, ts timestamp").parquet(lDir),
      spark.readStream.schema("cid string, user string, cts timestamp").parquet(rDir),
      Seq("user"), "ts", "cts", within = "30 minutes"
    )
    val q = joined
      .select(col("pid"), col("cid"))
      .writeStream.format("memory").queryName("attrib").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attrib").as[(String, String)].collect().toSet
    assert(got === Set(("p1", "c1"), ("p2", "c3"), ("p3", "c4")))
  }

  test("streaming daily counts match batch gap-less aggregation") {
    val tmp = Files.createTempDirectory("daily").toString
    val srcDir = s"$tmp/events"
    mkEvents(
      ("e1", "insert", "c1", "t1", "k1", ts("2024-01-01 05:00:00")),
      ("e2", "insert", "c1", "t1", "k2", ts("2024-01-01 23:59:59")),
      ("e3", "insert", "c1", "t1", "k3", ts("2024-01-03 00:00:00"))
    ).coalesce(1).write.mode("append").parquet(srcDir)
    val q = CdcStream
      .dailyEventCounts(CdcStream.fileEventStream(spark, srcDir))
      .writeStream.format("memory").queryName("daily").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // append-mode windows emit only once the watermark passes their end:
    // push a later event to advance the watermark beyond 01-03's window
    mkEvents(("e9", "insert", "c1", "t1", "k9", ts("2024-01-07 00:00:00")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("daily")
      .select(date_format($"date", "yyyy-MM-dd"), $"value")
      .as[(String, Long)].collect().toMap
    assert(got === Map("2024-01-01" -> 2L, "2024-01-03" -> 1L))
  }
}

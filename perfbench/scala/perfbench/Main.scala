package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftSession, Pipeline}
import graft.sources.{SnapshotSource, SnapshotStore}
import graft.streaming.CdcStream

/** Spark side of the benchmark: runs one workload against the engine's
  * public entry points and writes raw samples to a JSON report.
  *
  * Usage: `perfbench.Main <workload> <inputs> <work> <seconds> <trace 0|1>
  * <cores> <setups> <report.json>`. Inputs are files made by `gen.py`;
  * every intermediate goes under `<work>`.
  */
object Main {

  final case class Args(
      workload: String,
      inputs: String,
      work: String,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      setups: Int,
      out: String
  )

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toInt,
      argv(6).toInt, argv(7))
    val report = new Report
    val t0 = System.nanoTime()
    var spark = session(a.cores, a.work)
    report.value("session_start_s", (System.nanoTime() - t0) / 1e9)
    report.value("calibration_start_s", calibrate(spark, a.cores))
    try {
      run(spark, a, report, "")
      report.value("calibration_end_s", calibrate(spark, a.cores))
      // the traced run repeats the CDC workloads on one core: layers
      // whose time does not change are fixed cost, not compute
      if (a.trace) {
        spark.stop()
        spark = session(1, a.work)
        run(spark, a.copy(trace = false, seconds = a.seconds / 2, setups = 1, cores = 1), report, "single.")
      }
    } catch {
      case e: Throwable => report.fail(s"${a.workload}: ${e.toString.take(400)}")
    } finally {
      report.write(a.out)
      spark.stop()
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = GraftSession
      .builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fixed pure-CPU probe (the shape of the engine's own bench
    * calibration), for comparing runs taken on a drifting host. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cores).select(sum(col("id") % 97L)).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  private def run(spark: SparkSession, a: Args, report: Report, prefix: String): Unit = {
    val trace = new Trace(spark, a.trace)
    val w: Workload = a.workload match {
      case "cdc_upload" => new CdcUpload(spark, trace, a, report, prefix)
      case "cdc_backfill" => new CdcBackfill(spark, trace, a, report, prefix)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    (0 until a.setups).foreach { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      report.sample(prefix + "setup_rep_s", (System.nanoTime() - t0) / 1e9)
    }
    val t1 = System.nanoTime()
    w.warm()
    report.value(prefix + "warm_s", (System.nanoTime() - t1) / 1e9)
    trace.drain()
    trace.reset()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val ops = w.measure(t0 + (a.seconds * 1e9).toLong)
    report.value(prefix + "measured_s", (System.nanoTime() - t0) / 1e9)
    report.value(prefix + "process_cpu_s", (os.getProcessCpuTime - cpu0) / 1e9)
    report.value(prefix + "ops", ops.toDouble)
    w.check()
    trace.drain()
    if (a.trace || prefix.nonEmpty) w.layers(prefix, full = a.trace)
    trace.detach()
    w.close()
  }

  // ------------------------------------------------------------ helpers

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      Files.copy(f, to.resolve(from.relativize(f).toString), StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** (files, bytes) under `p`. */
  def treeSize(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def readTsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One workload: repeated set-ups, one untimed warm operation, a timed
  * phase, output checks and, when traced, per-layer values. */
trait Workload {
  /** Fresh state the measured operations start from; `rep` counts the
    * repetitions, and the last one stays for the measured phase. */
  def setup(rep: Int): Unit
  /** One operation like the measured ones, so that they run warm. */
  def warm(): Unit
  /** Runs operations until `deadlineNs`; returns how many ran. */
  def measure(deadlineNs: Long): Int
  def check(): Unit
  /** Per-layer values; `full = false` records only the phase walls. */
  def layers(prefix: String, full: Boolean): Unit
  def close(): Unit = ()
}

/** Raw samples and values, written as one JSON object. */
final class Report {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    synchronized(samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)
  def value(name: String, v: Double): Unit = synchronized(values(name) = v)

  /** Counts one operation; `ok = false` (or a thrown error) fails it. */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Throwable => errors += s"$what: ${e.toString.take(400)}"; false }
    if (!ok) {
      failed += 1
      if (errors.lastOption.forall(!_.startsWith(what))) errors += s"$what: check failed"
    }
    ok
  }

  def fail(msg: String): Unit = synchronized { attempted += 1; failed += 1; errors += msg }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def write(path: String): Unit = synchronized {
    val s = samples.map { case (k, v) => s"${str(k)}: [${v.map(num).mkString(", ")}]" }.mkString(", ")
    val vs = values.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val json = s"""{"attempted": $attempted, "failed": $failed, "errors": [${errors.map(str).mkString(", ")}],
                  | "samples": {$s}, "values": {$vs}}""".stripMargin
    Files.write(Paths.get(path), json.getBytes("UTF-8"))
  }

}

// ---------------------------------------------------------------- cdc_upload

/** The paper's upload path at reference scale, closed loop: the next
  * upload starts when the previous one is visible in current state. */
final class CdcUpload(spark: SparkSession, trace: Trace, a: Main.Args, report: Report, prefix: String)
    extends Workload {
  import Main._

  final case class Upload(seq: Int, load: Boolean, company: String, table: String, file: String,
      rows: Long, ins: Long, upd: Long, del: Long) {
    def events: Long = ins + upd + del
  }

  val Phases = Seq("sources.snapshot_read", "ops.diff_publish", "sources.snapshot_store",
    "streaming.sink_batch", "streaming.read_state")
  val VisibleTimeoutS = 30.0
  val WireSchema = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))

  private val manifest = readTsv(s"${a.inputs}/uploads/manifest.tsv").map { r =>
    Upload(r(0).toInt, r(1) == "load", r(2), r(3), r(4), r(5).toLong, r(6).toLong, r(7).toLong, r(8).toLong)
  }
  private val (loads, updates) = manifest.partition(_.load)
  private var dir: String = _
  private var query: StreamingQuery = _
  private val applied = mutable.ArrayBuffer.empty[Upload]
  private var measuredUploads = 0
  private var measuredEvents = 0L
  private val perUpload = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val touchedBuckets = mutable.ArrayBuffer.empty[Double]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        progress += ((e.progress.numInputRows,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
  }
  if (a.trace) spark.streams.addListener(progressListener)

  private def topic = s"$dir/topic"
  private def state = s"$dir/state"

  def setup(rep: Int): Unit = {
    close()
    dir = s"${a.work}/cdc_${prefix}$rep"
    Files.createDirectories(Paths.get(topic))
    applied.clear()
    query = CdcStream.scd2Sink(
      CdcStream.fromWire(spark.readStream.schema(WireSchema).parquet(topic)),
      state,
      s"$dir/checkpoint"
    )
    loads.foreach(upload(_, measured = false))
  }

  def warm(): Unit = upload(updates.head, measured = false)

  def measure(deadlineNs: Long): Int = {
    progress.synchronized(progress.clear())
    val it = updates.iterator.drop(1)
    while (it.hasNext && System.nanoTime() < deadlineNs) upload(it.next(), measured = true)
    if (System.nanoTime() < deadlineNs) report.errors += "note: upload schedule exhausted before the deadline"
    report.value(prefix + "events", measuredEvents.toDouble)
    measuredUploads
  }

  private def bucketFiles(): Map[String, Set[String]] = {
    val root = new File(state)
    Option(root.listFiles).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(d => d.getName -> Option(d.list).map(_.toSet).getOrElse(Set.empty[String])).toMap
  }

  private def upload(u: Upload, measured: Boolean): Unit = {
    val csv = s"${a.inputs}/uploads/${u.file}"
    val store = s"$dir/store/${u.company}_${u.table}"
    val before = if (a.trace && measured) bucketFiles() else Map.empty[String, Set[String]]
    val walls0 = Phases.map(p => p -> trace.seconds(p).sum).toMap
    val t0 = System.nanoTime()
    val t0ms = System.currentTimeMillis()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var publish = 0.0
    val ok = report.op(s"upload ${u.seq} ${u.company}/${u.table}") {
      val (snap, prev) = trace.phase(Phases(0)) {
        val s = SnapshotSource.read(spark, csv)
        (s, SnapshotStore.readLatest(spark, store).map(SnapshotSource.Snapshot(_, s.keyColumn)))
      }
      trace.phase(Phases(1)) {
        // one file per upload, so a micro-batch sees all of it or none
        CdcStream.toWire(Pipeline.ingest(snap, prev, u.company, u.table))
          .coalesce(1).write.mode("append").parquet(topic)
      }
      publish = elapsed
      trace.phase(Phases(2))(SnapshotStore.write(snap.df, store))
      applied += u
      // processAllAvailable can return on a trigger that listed the topic
      // just before the publish; the read decides visibility
      var visible = false
      var tries = 0
      while (!visible && tries < 5 && elapsed < VisibleTimeoutS) {
        trace.phase(Phases(3))(query.processAllAvailable())
        visible = trace.phase(Phases(4)) {
          val r = CdcStream.readState(spark, state)
            .filter(col("is_current") && col("company_id") === u.company && col("table_name") === u.table)
            .agg(count(lit(1)), max(col("valid_from")))
            .head()
          r.getLong(0) == u.rows && !r.isNullAt(1) && r.getTimestamp(1).getTime >= t0ms
        }
        tries += 1
      }
      visible && elapsed <= VisibleTimeoutS
    }
    val fresh = elapsed
    System.err.println(f"[perfbench] upload ${u.seq}%d ${u.company}/${u.table} ok=$ok publish=$publish%.3f fresh=$fresh%.3f")
    if (measured && ok) {
      measuredUploads += 1
      measuredEvents += u.events
      report.sample(prefix + "freshness_s", fresh)
      report.sample(prefix + "publish_s", publish)
      perUpload += Phases.map(p => p -> (trace.seconds(p).sum - walls0(p))).toMap
      if (a.trace) {
        val after = bucketFiles()
        touchedBuckets += after.count { case (b, files) => before.get(b).forall(_ != files) }.toDouble
      }
    }
  }

  def check(): Unit = {
    report.op("event-type counts of the published log") {
      val got = CdcStream.fromWire(spark.read.parquet(topic)).groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Map("insert" -> applied.map(_.ins).sum, "update" -> applied.map(_.upd).sum,
        "delete" -> applied.map(_.del).sum).filter(_._2 > 0)
      if (got != want) report.errors += s"event types: got $got want $want"
      got == want
    }
    report.op("current state equals the last uploaded snapshots") {
      val got = CdcStream.readState(spark, state).filter(col("is_current"))
        .select("company_id", "table_name", "key_value", "data").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getMap[String, String](3).toMap)
        .toMap
      val last = applied.groupBy(u => (u.company, u.table)).values.map(_.maxBy(_.seq))
      val want = last.flatMap { u =>
        val lines = readLines(s"${a.inputs}/uploads/${u.file}")
        val header = lines.head.split(",", -1)
        lines.tail.map { l =>
          val cells = l.split(",", -1)
          (u.company, u.table, cells(0)) ->
            header.indices.drop(1).map(i => header(i) -> (if (cells(i).isEmpty) null else cells(i))).toMap
        }
      }.toMap
      if (got != want) report.errors += s"state: ${got.size} current rows, want ${want.size}; " +
        s"differing keys ${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))}"
      got == want
    }
  }

  private def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).toVector
    finally src.close()
  }

  def layers(prefix: String, full: Boolean): Unit = {
    val n = math.max(1, measuredUploads).toDouble
    Phases.foreach(p => report.value(s"$prefix$p.s", median(perUpload.map(_(p)).toSeq)))
    if (!full) return
    Phases.foreach { p =>
      val label = if (p == Phases(3)) Trace.StreamLabel else p
      val c = trace.countersOf(label)
      report.value(s"$p.jobs", c.jobs / n)
      report.value(s"$p.tasks", c.tasks / n)
      report.value(s"$p.cpu_s", c.cpuNs / 1e9 / n)
      report.value(s"$p.driver_s", trace.driverSeconds(p, label) / n)
    }
    val batches = progress.synchronized(progress.filter(_._1 > 0).toVector)
    Seq("addBatch", "getBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets").foreach { k =>
      report.value(s"streaming.${k}_ms", batches.map(_._2.getOrElse(k, 0L)).sum / n)
    }
    val (files, bytes) = treeSize(Paths.get(state))
    report.value("streaming.state_bytes", bytes.toDouble)
    report.value("streaming.state_files", files.toDouble)
    report.value("streaming.buckets_touched", median(touchedBuckets.toSeq))
    report.value("sinks.bytes_written_per_event",
      trace.countersOf(Trace.StreamLabel).outputBytes / math.max(1L, measuredEvents).toDouble)
  }

  override def close(): Unit = {
    if (query != null) {
      query.stop()
      query = null
    }
  }
}

// -------------------------------------------------------------- cdc_backfill

/** The same CDC operators over a bulk re-sync: a wide snapshot pair and
  * a multi-version event log, each step materialized. */
final class CdcBackfill(spark: SparkSession, trace: Trace, a: Main.Args, report: Report, prefix: String)
    extends Workload {
  import Main._

  val Steps = Seq("ops.diff", "ops.scd2_fold", "streaming.apply_batch", "ops.unpivot", "ops.anomaly")
  val Keys = Seq("company_id", "table_name", "key_value")

  private val in = s"${a.inputs}/backfill"
  private val expected: Map[String, String] = readTsv(s"$in/expected.tsv").map(r => r(0) -> r(1)).toMap
  private def exp(k: String): Long = expected(k).toLong
  private var dir: String = _
  private var opNo = 0
  private val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def snapA = SnapshotSource.Snapshot(spark.read.parquet(s"$in/snap_a.parquet"), "Company")
  private def snapB = SnapshotSource.Snapshot(spark.read.parquet(s"$in/snap_b.parquet"), "Company")
  private def log = spark.read.parquet(s"$in/log.parquet")
  private def diffEvents = spark.read.parquet(s"$dir/diff_events")
  private val logColumns = Seq("event_id", "event_type", "company_id", "table_name", "key_value", "ts", "new_values")

  def setup(rep: Int): Unit = {
    dir = s"${a.work}/backfill_${prefix}$rep"
    // the apply step's inputs: the diff's events (materialized once, so
    // every step sees the same event ids) and state seeded from the log
    Pipeline.ingest(snapB, Some(snapA), "ACME", "Income").write.mode("overwrite").parquet(s"$dir/diff_events")
    CdcStream.applyBatchToState(log, s"$dir/seed_state", Keys)
  }

  def warm(): Unit = backfillOnce(measured = false)

  def measure(deadlineNs: Long): Int = {
    var ops = 0
    while (ops == 0 || System.nanoTime() < deadlineNs) {
      backfillOnce(measured = true)
      ops += 1
    }
    ops
  }

  private def observed(df: DataFrame, name: String, metrics: org.apache.spark.sql.Column*): Map[String, Long] = {
    val o = Observation(name)
    Main.noop(df.observe(o, metrics.head, metrics.tail: _*))
    o.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
  }

  private def state(op: Int) = s"$dir/state_$op"

  private def backfillOnce(measured: Boolean): Unit = {
    opNo += 1
    val walls = mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try trace.phase(name)(body)
      finally walls(name) = (System.nanoTime() - t0) / 1e9
    }
    val typeCount = (t: String) => sum(when(col("event_type") === t, 1L).otherwise(0L)).as(t)
    val ok1 = report.op(s"backfill $opNo ops.diff") {
      val m = step(Steps(0)) {
        observed(Pipeline.ingest(snapB, Some(snapA), "ACME", "Income"), s"diff$opNo",
          typeCount("insert"), typeCount("update"), typeCount("delete"))
      }
      m == Map("insert" -> exp("inserts"), "update" -> exp("updates"), "delete" -> exp("deletes"))
    }
    val ok2 = report.op(s"backfill $opNo ops.scd2_fold") {
      val m = step(Steps(1)) {
        observed(Pipeline.applyEvents(log), s"fold$opNo", count(lit(1)).as("rows"),
          sum(when(col("is_current"), 1L).otherwise(0L)).as("current"))
      }
      m == Map("rows" -> exp("log_events"), "current" -> exp("log_current"))
    }
    val ok3 = report.op(s"backfill $opNo streaming.apply_batch") {
      rmTree(Paths.get(state(opNo - 1))) // the last one stays for check()
      copyTree(Paths.get(s"$dir/seed_state"), Paths.get(state(opNo)))
      step(Steps(2))(CdcStream.applyBatchToState(diffEvents, state(opNo), Keys))
      CdcStream.readState(spark, state(opNo)).count() ==
        exp("log_events") + exp("inserts") + exp("updates") + exp("deletes")
    }
    val ok4 = report.op(s"backfill $opNo ops.unpivot") {
      val m = step(Steps(3))(observed(Pipeline.unpivotExport(snapB, "Date"), s"unpivot$opNo", count(lit(1)).as("rows")))
      m("rows") == exp("rows_b") * exp("quarters")
    }
    val ok5 = report.op(s"backfill $opNo ops.anomaly") {
      val m = step(Steps(4)) {
        observed(Pipeline.anomalyScan(log, expected("start"), expected("end")), s"anomaly$opNo",
          count(lit(1)).as("rows"))
      }
      m("rows") == exp("series") * exp("days")
    }
    if (measured && ok1 && ok2 && ok3 && ok4 && ok5) {
      report.sample(prefix + "backfill_s", walls.values.sum)
      perOp += walls.toMap
    }
  }

  /** Order-independent fingerprint equality of two SCD2 tables. */
  private def sameState(x: DataFrame, y: DataFrame): Boolean = {
    def fp(df: DataFrame) = df.select(
      count(lit(1)),
      sum(xxhash64(col("company_id"), col("table_name"), col("key_value"), col("event_id"),
        col("event_type"), to_json(col("data")), col("valid_from"), col("valid_to"), col("is_current"))
        .cast("decimal(38,0)"))
    ).head()
    val (fx, fy) = (fp(x), fp(y))
    val same = fx == fy
    if (!same) report.errors += s"apply_batch state fingerprint $fx != Scd2.apply fingerprint $fy"
    same
  }

  def check(): Unit = report.op("apply_batch state equals Scd2.apply over the same events") {
    sameState(CdcStream.readState(spark, state(opNo)),
      Pipeline.applyEvents(log.unionByName(diffEvents.select(logColumns.map(col): _*))))
  }

  def layers(prefix: String, full: Boolean): Unit = {
    val n = math.max(1, perOp.size).toDouble
    Steps.foreach(s => report.value(s"$prefix$s.s", median(perOp.map(_(s)).toSeq)))
    if (!full) return
    Steps.foreach { s =>
      val c = trace.countersOf(s)
      report.value(s"$s.jobs", c.jobs / n)
      report.value(s"$s.cpu_s", c.cpuNs / 1e9 / n)
      report.value(s"$s.shuffle_bytes", c.shuffleBytes / n)
      report.value(s"$s.spill_bytes", c.spillBytes / n)
    }
  }
}

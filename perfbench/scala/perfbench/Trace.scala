package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Phase timer plus, when tracing, a job/task attribution listener.
  *
  * Every call into the engine is wrapped in [[phase]]. Untraced, a phase
  * only records its wall interval. Traced, the phase name is also set as
  * the job description, and the listener attributes each job and its
  * tasks to that label: jobs, tasks, executor CPU, shuffle bytes, spill
  * bytes and output bytes. Jobs of a streaming query carry their own
  * query id and are attributed to [[StreamLabel]] whatever thread
  * started them.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }

  /** phase name -> (epoch ms at start, wall seconds) per call */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Double)]]
  private val counters = mutable.HashMap.empty[String, Counters]
  /** label -> job intervals (epoch ms) */
  private val jobSpans = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val jobLabel = mutable.HashMap.empty[Int, (String, Long)]
  private val stageLabel = mutable.HashMap.empty[Int, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val label =
        if (props.exists(_.getProperty(StreamIdKey) != null)) StreamLabel
        else props.flatMap(p => Option(p.getProperty(DescriptionKey))).getOrElse("unlabelled")
      jobLabel(e.jobId) = (label, e.time)
      e.stageIds.foreach(stageLabel(_) = label)
      counters.getOrElseUpdate(label, new Counters).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobLabel.remove(e.jobId).foreach { case (label, start) =>
        jobSpans.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += ((start, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val c = counters.getOrElseUpdate(stageLabel.getOrElse(e.stageId, "unlabelled"), new Counters)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(DescriptionKey)
    if (enabled) sc.setJobDescription(name)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      synchronized(walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((start, secs)))
      if (enabled) sc.setJobDescription(before)
    }
  }

  def drain(): Unit = if (enabled) ListenerBusDrain(spark.sparkContext)

  def detach(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  def seconds(name: String): Seq[Double] =
    synchronized(walls.get(name).map(_.map(_._2).toSeq).getOrElse(Nil))

  def countersOf(label: String): Counters = synchronized(counters.getOrElse(label, new Counters))

  /** Wall time of `phase` not covered by any job of `jobLabel`. */
  def driverSeconds(phase: String, jobLabel: String): Double = synchronized {
    val spans = jobSpans.getOrElse(jobLabel, mutable.ArrayBuffer.empty)
    walls.getOrElse(phase, mutable.ArrayBuffer.empty).map { case (s, secs) =>
      (secs - covered(s, s + (secs * 1000).toLong, spans.toSeq) / 1000.0).max(0.0)
    }.sum
  }

  def reset(): Unit = synchronized {
    walls.clear(); counters.clear(); jobSpans.clear()
  }
}

object Trace {
  val DescriptionKey = "spark.job.description"
  val StreamIdKey = "sql.streaming.queryId"
  val StreamLabel = "streaming.sink_batch"

  /** Length of [s, e] covered by the union of `spans`. */
  def covered(s: Long, e: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (a, b) => (a.max(s), b.min(e)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        total += curE - curS
        curS = a; curE = b
      } else curE = curE.max(b)
    }
    total + (curE - curS)
  }
}

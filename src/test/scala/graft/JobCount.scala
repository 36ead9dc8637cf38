package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs started while `body` runs: a `SparkListener` counting
  * `onJobStart`, with the listener bus flushed before it is attached
  * and before the count is read. Suites run one at a time, so every
  * job in the window belongs to `body`.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusFlush(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusFlush(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

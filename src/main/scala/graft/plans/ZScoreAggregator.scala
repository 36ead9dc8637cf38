package graft.plans

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.model.AnomalyPoint

/** Typed aggregate scoring a whole per-key daily series in one pass —
  * the custom-surface op SURVEY.md §2.11 calls out (replacing the
  * reference's external Azure Anomaly Detector,
  * `automl_anomaly_detection.py:120-141`).
  *
  * Same model as [[graft.ops.Anomaly.score]] (trailing-window z-score,
  * stddev floored at 1e-3, anomaly-ratio cap, min-points guard) but as
  * an `Aggregator[IN, BUF, OUT]`, so it composes with `groupByKey.agg`
  * in batch AND with `mapGroupsWithState` in streaming where a window
  * function cannot run. ZScoreAggregatorSpec asserts agreement with the window
  * implementation.
  *
  * Scale: the buffer is the (date, value) series of ONE key — daily
  * granularity means ≤ a few thousand points per key regardless of row
  * count; partial buffers merge associatively map-side.
  */
class ZScoreAggregator(
    lookback: Int = 7,
    threshold: Double = 2.0,
    maxAnomalyRatio: Double = 0.25,
    minPoints: Int = 12
) extends Aggregator[(String, Double), Seq[(String, Double)], Seq[AnomalyPoint]]
    with Serializable {

  override def zero: Seq[(String, Double)] = Seq.empty

  override def reduce(buf: Seq[(String, Double)], pt: (String, Double)): Seq[(String, Double)] =
    buf :+ pt

  override def merge(a: Seq[(String, Double)], b: Seq[(String, Double)]): Seq[(String, Double)] =
    a ++ b

  override def finish(buf: Seq[(String, Double)]): Seq[AnomalyPoint] = {
    val pts = buf.sortBy(_._1).toIndexedSeq
    val n = pts.length
    val scored = pts.zipWithIndex.map { case ((date, value), i) =>
      val windowVals = pts.slice(math.max(0, i - lookback), i).map(_._2)
      val expected = if (windowVals.isEmpty) None else Some(windowVals.sum / windowVals.length)
      val std =
        if (windowVals.length < 2) None
        else {
          val m = windowVals.sum / windowVals.length
          Some(math.sqrt(windowVals.map(v => (v - m) * (v - m)).sum / (windowVals.length - 1)))
        }
      val score = (expected, std) match {
        case (Some(e), Some(s)) => math.abs(value - e) / math.max(s, 1e-3)
        case _ => 0.0
      }
      AnomalyPoint(date, value, expected.getOrElse(value), score, is_anomaly = false)
    }
    // ratio cap: only the top floor(n * ratio) scores may flag
    val cap = math.floor(n * maxAnomalyRatio).toLong
    val ranked = scored.sortBy(p => (-p.score, p.ts)).zipWithIndex.map { case (p, idx) =>
      p.ts -> (idx + 1 <= cap)
    }.toMap
    scored.map(p =>
      p.copy(is_anomaly = n >= minPoints && p.score > threshold && ranked(p.ts))
    )
  }

  override def bufferEncoder: Encoder[Seq[(String, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Double)]]()

  override def outputEncoder: Encoder[Seq[AnomalyPoint]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[AnomalyPoint]]()
}

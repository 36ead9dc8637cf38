package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact-arithmetic top-component PCA over an embedding column — the
  * dimensionality-reduction half of an embedding curation pipeline
  * (project corpus vectors onto their principal direction for
  * binning, diversity sampling, or 1-D indexing).
  *
  * Scale shape: the ONLY corpus-sized work is (a) one pass building the
  * d×d Gram matrix + column sums via an additive `Aggregator` (partial
  * buffers merge map-side; d² longs per partition, NOT per row), and
  * (b) one map-side projection pass. The d×d covariance (d = 64 here)
  * collects to the driver where the power iteration runs — the same
  * bounded-model discipline as Markov.stationary and the k-means
  * centroid loop.
  *
  * Determinism (bit-identical vs the mirrored SQL oracle): inputs are
  * quantized to integers (q = floor(x·S)), so Gram sums, column sums,
  * and the centered covariance n·G − s_i·s_j are EXACT BIGINTs in any
  * summation order. Each power step re-quantizes: t_ij =
  * floor((c_ij·x_j)·2^40) summed exactly, then one max-normalization
  * division — every FP op is a single pinned multiply/divide/floor, so
  * the driver loop and the oracle's CTE chain agree bit-for-bit.
  *
  * Integer bounds (documented, asserted): with |x| < 2 and S = 2^14,
  * q < 2^15; for n rows, n·G_ij ≲ n²·2^30 and s_i·s_j ≲ n²·2^30 — so
  * the centered-covariance longs stay exact only for n up to ~92k rows
  * per fit (n²·2^30 < 2^63). `normalizedFromStats` enforces this at
  * runtime with overflow-checked arithmetic (`multiplyExact`/
  * `subtractExact`) rather than an a-priori row bound, so looser
  * actual magnitudes get the full headroom and a genuine overflow
  * fails loudly instead of silently wrapping. Fitting on a larger
  * corpus first SAMPLES down to a fit set (standard practice: the
  * principal direction stabilizes long before millions of rows); the
  * projection pass itself is unbounded.
  */
object Pca {

  /** Quantized integer form of the vector column: floor(x·scale). */
  def quantized(vecCol: Column, scale: Double): Column =
    transform(vecCol, x => floor(x.cast("double") * scale).cast("long"))

  /** One-pass Gram + sums + count: buffer = [d² gram | d sums | n]. */
  private class GramAggregator(d: Int)
      extends Aggregator[Seq[Long], Array[Long], Array[Long]]
      with Serializable {
    override def zero: Array[Long] = new Array[Long](d * d + d + 1)
    override def reduce(buf: Array[Long], q: Seq[Long]): Array[Long] = {
      val a = q.toArray
      var i = 0
      while (i < d) {
        val qi = a(i)
        var j = 0
        val row = i * d
        while (j < d) { buf(row + j) += qi * a(j); j += 1 }
        buf(d * d + i) += qi
        i += 1
      }
      buf(d * d + d) += 1L
      buf
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
  }

  /** Fit the top principal direction of `vecCol` (dimension `d`) and
    * return its quantized form p_i = floor(v_i·2^20) — the integer
    * vector the projection pass dot-products against.
    */
  def fitTopComponent(
      df: DataFrame,
      vecCol: String,
      d: Int,
      iters: Int = 30,
      scale: Double = 16384.0
  ): Array[Long] = {
    val cn = normalizedCovariance(df, vecCol, d, scale)
    quantizeComponent(powerLoop(cn, d, iters))
  }

  /** Top TWO principal directions: the second via deflation of the
    * normalized covariance by the QUANTIZED first component — λ̂ and
    * the outer-product correction are built from exact-integer p₁
    * products (every per-term floor/divide/multiply pinned), so the
    * oracle replays the deflation bit-for-bit, same as the first
    * component's loop.
    */
  def fitTopTwoComponents(
      df: DataFrame,
      vecCol: String,
      d: Int,
      iters: Int = 30,
      scale: Double = 16384.0
  ): (Array[Long], Array[Long]) = {
    val cn = normalizedCovariance(df, vecCol, d, scale)
    val p1 = quantizeComponent(powerLoop(cn, d, iters))
    // vᵀv and vᵀCv from quantized p₁: exact longs / per-term floors
    var vtv = 0L
    p1.foreach(p => vtv += p * p)
    var t = 0L
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        t += math.floor(cn(i)(j) * (p1(i) * p1(j)).toDouble).toLong
        j += 1
      }
      i += 1
    }
    val lambda = t.toDouble / vtv.toDouble
    val cn2 = Array.tabulate(d, d) { (i, j) =>
      cn(i)(j) - lambda * ((p1(i) * p1(j)).toDouble / vtv.toDouble)
    }
    (p1, quantizeComponent(powerLoop(cn2, d, iters)))
  }

  /** The model's at-rest row form: one (i, j, n) row per Gram cell,
    * (i, −1, n) per column sum, (−1, −1, n) for the count — a single
    * keyed LONG-count table whose merge is exact addition, so
    * [[graft.streaming.SketchIngest.ingestCountBatch]] maintains it
    * exactly-once from streamed vector batches and a fit from the
    * at-rest table equals a batch fit BIT-IDENTICALLY (spec-pinned).
    */
  def gramTable(df: DataFrame, vecCol: String, d: Int, scale: Double = 16384.0): DataFrame = {
    val stats = gramStats(df, vecCol, d, scale)
    val rows = (for { i <- 0 until d; j <- 0 until d } yield Row(i.toLong, j.toLong, stats(i * d + j))) ++
      (0 until d).map(i => Row(i.toLong, -1L, stats(d * d + i))) :+
      Row(-1L, -1L, stats(d * d + d))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1),
      StructType(
        Seq(
          StructField("i", LongType, nullable = false),
          StructField("j", LongType, nullable = false),
          StructField("n", LongType, nullable = false)
        )
      )
    )
  }

  /** Fit the top component from an at-rest [[gramTable]] (batch-built,
    * streamed-maintained, or compacted — all equal under exact
    * addition). Same pinned arithmetic as [[fitTopComponent]].
    */
  def fitTopComponentFromTable(table: DataFrame, d: Int, iters: Int = 30): Array[Long] = {
    val stats = new Array[Long](d * d + d + 1)
    table.select(col("i"), col("j"), col("n").cast("long")).collect().foreach { r =>
      val (i, j, v) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (i < 0) stats(d * d + d) = v
      else if (j < 0) stats(d * d + i.toInt) = v
      else stats(i.toInt * d + j.toInt) = v
    }
    quantizeComponent(powerLoop(normalizedFromStats(stats, d), d, iters))
  }

  private def gramStats(df: DataFrame, vecCol: String, d: Int, scale: Double): Array[Long] = {
    import df.sparkSession.implicits._
    df.select(quantized(col(vecCol), scale).as("q"))
      .as[Seq[Long]]
      .select(new GramAggregator(d).toColumn)
      .head()
  }

  private def normalizedCovariance(
      df: DataFrame,
      vecCol: String,
      d: Int,
      scale: Double
  ): Array[Array[Double]] =
    normalizedFromStats(gramStats(df, vecCol, d, scale), d)

  private def normalizedFromStats(stats: Array[Long], d: Int): Array[Array[Double]] = {
    val n = stats(d * d + d)
    require(n > 1, s"PCA fit needs >1 rows, got $n")
    val s = Array.tabulate(d)(i => stats(d * d + i))
    // centered covariance (×n² scaling — irrelevant under normalization).
    // Overflow-CHECKED: n·G_ij and s_i·s_j wrap int64 near n ~ 92k rows
    // (see the class doc bound); a fit on an unsampled corpus must fail
    // loudly here, not silently produce a wrapped covariance.
    val cov = Array.tabulate(d, d) { (i, j) =>
      try
        Math.subtractExact(
          Math.multiplyExact(n, stats(i * d + j)),
          Math.multiplyExact(s(i), s(j))
        )
      catch {
        case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"PCA covariance overflow at cell ($i,$j) with n=$n: the exact-long " +
              "bound (~92k rows at the default scale) is exceeded — sample the fit set down"
          )
      }
    }
    var m = 0L
    cov.foreach(_.foreach(c => if (math.abs(c) > m) m = math.abs(c)))
    require(m > 0L, "degenerate (zero-variance) input")
    Array.tabulate(d, d)((i, j) => cov(i)(j).toDouble / m.toDouble)
  }

  private def powerLoop(cn: Array[Array[Double]], d: Int, iters: Int): Array[Double] = {
    var x = Array.fill(d)(1.0)
    var it = 0
    while (it < iters) {
      val y = Array.tabulate(d) { i =>
        var acc = 0L
        var j = 0
        while (j < d) { acc += math.floor(cn(i)(j) * x(j) * 1099511627776.0).toLong; j += 1 }
        acc
      }
      var my = 0L
      y.foreach(v => if (math.abs(v) > my) my = math.abs(v))
      require(my > 0L, s"power iteration collapsed at step $it")
      x = y.map(v => v.toDouble / my.toDouble)
      it += 1
    }
    x
  }

  private def quantizeComponent(x: Array[Double]): Array[Long] =
    x.map(v => math.floor(v * 1048576.0).toLong)

  /** Map-side projection: exact integer dot product of the quantized
    * vectors against the quantized component (no shuffle, no join —
    * the component rides as a literal array).
    */
  def projectionScore(vecCol: Column, p: Array[Long], scale: Double): Column = {
    val pLit = array(p.map(lit): _*)
    aggregate(
      zip_with(quantized(vecCol, scale), pLit, (a, b) => a * b),
      lit(0L),
      (acc, v) => acc + v
    )
  }
}

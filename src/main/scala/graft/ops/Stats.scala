package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Exact-moment statistics over integer-valued columns. Extends the
  * engine's profiling surface (`Skew`, `Sketches`) with cross-column
  * dependence — the "which raw features are redundant" question a
  * training-data pipeline asks before building quality models
  * (cf. `Dsir`'s feature picks).
  *
  * Determinism contract: Pearson r is computed from EXACT integer
  * moments — each pairwise sum Σa, Σa², Σab is accumulated as
  * DECIMAL(38,0) (no long overflow at 100 TB row counts, no FP
  * accumulation order), cast to double once, and combined in one fixed
  * IEEE expression. Any aggregation/merge order gives the same bits,
  * so the driver's hash-compare holds cross-engine.
  *
  * Scale shape: ONE full-scan aggregate with map-side partial
  * aggregation produces a single row of 3·C + C·(C−1)/2 decimals
  * (C = #columns); the pairwise output grid is derived from that row
  * without touching the data again.
  */
object Stats {

  private def unorderedPairs(cols: Seq[String]): Seq[(String, String)] =
    for { i <- cols.indices; j <- (i + 1) until cols.size } yield (cols(i), cols(j))

  /** The 1-row moment frame behind [[pearsonMatrix]] — n plus per-col
    * `s_<c>`/`ss_<c>` and per-pair `sp_<a>_<b>` decimal sums. Exposed
    * so the moments can live AT REST: every measure merges by exact
    * addition (count + decimal(38,0) sums), so
    * `SketchIngest.ingestAdditiveBatch` with this as the fold keeps the
    * table live from streamed rows and [[pearsonFromMoments]] over the
    * streamed table equals [[pearsonMatrix]] over the raw rows
    * bit-identically (spec-pinned, the entropy/PMI at-rest discipline).
    */
  def pearsonMoments(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    // r20: native 128-bit moment pass ([[graft.plans.MomentSums]]) —
    // the composed decimal(38,0) form paid a per-row, per-moment
    // BigDecimal promote/multiply/add (measured ~1.1 s of pure decimal
    // CPU over q98's 600k rows); the native aggregator accumulates
    // every moment as a signed-128 integer (exact 64×64→128 products,
    // carry-propagated adds) and the decimal(38,0) columns are
    // reconstructed from the ONE aggregated row. Values and output
    // schema are bit-identical (MomentSumsSpec pins the composed form,
    // nulls and >2⁶³ products included); exactness holds until a sum
    // leaves ±2¹²⁷ — beyond decimal(38,0)'s own ±10³⁸ envelope.
    val flat = df.agg(
      graft.plans.MomentSums.agg(array(cols.map(c => col(c).cast("long")): _*)).as("_m")
    )
    val names = cols.flatMap(c => Seq(s"s_$c", s"ss_$c")) ++
      unorderedPairs(cols).map { case (a, b) => s"sp_${a}_$b" }
    flat.select(
      graft.plans.MomentSums.nCol(col("_m")).as("n") +:
        names.zipWithIndex.map { case (nm, m) =>
          graft.plans.MomentSums.momentCol(col("_m"), m).as(nm)
        }: _*
    )
  }

  /** The correlation grid from a 1-row [[pearsonMoments]] frame
    * (inline, at-rest, or streamed-maintained — all equal under exact
    * addition). One row in, C(C-1)/2 rows out: a tiny per-pair
    * projection + union, never touching the raw data.
    */
  def pearsonFromMoments(moments: DataFrame, cols: Seq[String]): DataFrame = {
    val outs = unorderedPairs(cols).map { case (a, b) =>
      val nd = col("n").cast("double")
      val sa = col(s"s_$a").cast("double")
      val sb = col(s"s_$b").cast("double")
      val saa = col(s"ss_$a").cast("double")
      val sbb = col(s"ss_$b").cast("double")
      val sab = col(s"sp_${a}_$b").cast("double")
      // a zero-variance column has no defined correlation: null, not
      // NaN/Inf (the 0-denominator guard mirrors the oracle's CASE)
      val den = sqrt(nd * saa - sa * sa) * sqrt(nd * sbb - sb * sb)
      moments.select(
        lit(a).as("col_a"),
        lit(b).as("col_b"),
        col("n"),
        when(den =!= lit(0.0), (nd * sab - sa * sb) / den).as("corr")
      )
    }
    outs.reduce(_ unionByName _)
  }

  /** All pairwise Pearson correlations between `cols` (pre-projected
    * integral columns of `df`). Output: (col_a, col_b, n, corr) for
    * every unordered pair a < b in the given order.
    */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame =
    // Pin the 1-row moments frame: every per-pair branch references it,
    // and without the pin each union branch would re-run the full scan.
    pearsonFromMoments(Materialize(pearsonMoments(df, cols)), cols)

  /** Per-group least-squares trend line of integral `yCol` over
    * integral `xCol` — the "is this source's daily volume drifting"
    * monitoring fit. Same exact-moment discipline as [[pearsonMatrix]]:
    * decimal sums, one fixed IEEE expression per group —
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    * A single-point (or single-x) group has zero denominator → null
    * slope/intercept in both engines (0/0 NaN is avoided by the
    * explicit null guard).
    *
    * One shuffle to per-group moments (map-side combined); the fit is a
    * projection of the tiny moments table.
    */
  def trendPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String
  ): DataFrame =
    trendFromMoments(trendMoments(df, groupCols, xCol, yCol), groupCols)

  /** The per-group OLS moment table behind [[trendPerGroup]] —
    * (groupCols..., n, sx, sy, sxx, sxy), every measure an exact count
    * or decimal(38,0) sum. Addition-mergeable, so
    * `SketchIngest.ingestAdditiveBatch` with this as the fold maintains
    * it from streamed rows and [[trendFromMoments]] over the streamed
    * table equals the batch fit bit-identically (spec-pinned).
    */
  def trendMoments(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String
  ): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = col(xCol)
    val y = col(yCol)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(dec(x)).as("sx"),
        sum(dec(y)).as("sy"),
        // decimal factors BEFORE the product — see pearsonMoments
        sum(dec(x) * dec(x)).as("sxx"),
        sum(dec(x) * dec(y)).as("sxy")
      )
  }

  /** The least-squares fit from a [[trendMoments]] table (inline,
    * at-rest, or streamed-maintained): a pure projection of the tiny
    * moments table, one fixed IEEE expression per group.
    */
  def trendFromMoments(moments: DataFrame, groupCols: Seq[String]): DataFrame = {
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double")
    val sxy = col("sxy").cast("double")
    val den = nd * sxx - sx * sx
    moments.select(
      groupCols.map(col) ++ Seq(
        col("n"),
        when(den =!= lit(0.0), (nd * sxy - sx * sy) / den).as("slope"),
        when(den =!= lit(0.0), (sy * sxx - sx * sxy) / den).as("intercept")
      ): _*
    )
  }

  /** Shannon entropy (nats) of the token distribution per `groupCol` —
    * the "how diverse is this source's text" profile a mixture-weighting
    * pipeline reads before boosting a source ([[Dsir]] consumes the same
    * kind of signal).
    *
    * H = ln N − (Σ c·ln c)/N over per-(group, token) counts c. Bit-exact
    * cross-engine via the house discipline: ln is [[Dsir.glog]]
    * (integer-argument, IEEE-exact ops only), and the Σ is an exact LONG
    * sum of per-token `c · round(glog(c)·1e9)` terms — associative and
    * commutative, so shuffle/merge order cannot move a bit. One
    * corpus-scan shuffle on (group, token) with map-side combine, then a
    * tiny per-group fold.
    */
  def tokenEntropy(df: DataFrame, textCol: String, groupCol: String): DataFrame =
    tokenEntropyFromCounts(
      df.select(col(groupCol), explode(Fns.tokens(col(textCol))).as("token"))
        .groupBy(col(groupCol), col("token"))
        .agg(count(lit(1)).as("n")),
      groupCol
    )

  /** [[tokenEntropy]] from an already-built (`groupCol`, token, n)
    * count table — e.g. one continuously maintained by
    * `SketchIngest.ingestCountBatch` (addition-mergeable, so the streamed
    * table is bit-identical to a batch rebuild and this read gives the
    * same entropies; spec-pinned). Keep the keyed table bounded
    * (hashed/bounded vocabularies) per the `SketchIngest` contract.
    */
  def tokenEntropyFromCounts(counts: DataFrame, groupCol: String): DataFrame = {
    val scale = 1000000000L
    counts
      .groupBy(col(groupCol))
      .agg(
        sum(col("n")).as("n_tokens"),
        sum(col("n") * round(Dsir.glog(col("n")) * scale).cast("long")).as("sq")
      )
      .select(
        col(groupCol),
        col("n_tokens"),
        (Dsir.glog(col("n_tokens")) -
          col("sq").cast("double") / lit(scale.toDouble) / col("n_tokens").cast("double"))
          .as("entropy")
      )
  }

  /** Pointwise mutual information grid between two categorical columns
    * — the split-leakage / source-vs-language dependence check:
    * pmi(x,y) = ln n_xy + ln N − ln n_x − ln n_y (nats; > 0 means the
    * pair co-occurs more than independence predicts). All four logs are
    * integer-argument [[Dsir.glog]] in ONE fixed expression —
    * bit-identical cross-engine, no cross-row accumulation at all.
    *
    * Shape: one corpus shuffle builds the (x, y) grid; marginals and the
    * total are re-aggregations of that tiny grid (never a second corpus
    * scan) and ride back on broadcasts.
    */
  def pmiGrid(df: DataFrame, xCol: String, yCol: String): DataFrame =
    pmiFromCounts(df.groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("n")), xCol, yCol)

  /** [[pmiGrid]] from an already-built (`xCol`, `yCol`, n) joint-count
    * table — the at-rest form: a `SketchIngest.ingestCountBatch` loop keeps
    * the (bounded) grid live, and this read derives marginals, total,
    * and PMI from the tiny table alone, never touching the corpus.
    * Addition-mergeable counts ⇒ streamed == batch bit-identically
    * (spec-pinned).
    */
  /** Population stability index between a REFERENCE and a CURRENT
    * categorical distribution — the standard "did this feature /
    * source-mix / event-mix drift since the model was fit?" monitor a
    * training pipeline runs before trusting a refresh (common gates:
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 act).
    *
    * PSI = Σ_k (p_k − q_k)·ln(p_k/q_k) over Laplace-smoothed shares
    * p_k = (c_k+1)/(C+K), q_k = (r_k+1)/(R+K) (K = union key count —
    * smoothing keeps keys seen on only ONE side finite instead of ±∞).
    * House determinism discipline: each ln is integer-argument
    * [[Dsir.glog]], each per-key term is quantized ONCE to a long
    * (`round(term·1e9)`), and PSI is the exact long sum of those —
    * order-independent under any shuffle/merge, replayable in SQL.
    *
    * Shape: the count tables are bounded-cardinality (the
    * `SketchIngest` contract), so this is a full-outer join of two
    * tiny frames + 1-row total broadcasts — never a corpus scan.
    */
  def psi(reference: DataFrame, current: DataFrame, keyCol: String): DataFrame =
    psiFromCounts(
      reference.groupBy(col(keyCol)).agg(count(lit(1)).as("n")),
      current.groupBy(col(keyCol)).agg(count(lit(1)).as("n")),
      keyCol
    )

  /** [[psi]] from already-built (`keyCol`, n) count tables — the
    * at-rest form: both sides can be `SketchIngest.ingestCountBatch`-
    * maintained tables (addition-mergeable ⇒ streamed == batch), so
    * drift is monitored from two tiny tables without touching either
    * corpus.
    */
  def psiFromCounts(refCounts: DataFrame, curCounts: DataFrame, keyCol: String): DataFrame =
    psiCore(refCounts, curCounts, Nil, keyCol)
      .select(col("n_keys"), col("ref_n"), col("cur_n"), col("psi"))

  /** PSI per group — "WHICH source / language / shard drifted?", the
    * production monitoring shape: one PSI row per `groupCol` value over
    * that group's own key distribution, totals, and smoothing. Same
    * determinism discipline as [[psiFromCounts]]; the count tables stay
    * bounded (groups × keys), so this is still joins of tiny frames.
    */
  def psiPerGroup(
      refCounts: DataFrame,
      curCounts: DataFrame,
      groupCol: String,
      keyCol: String
  ): DataFrame = psiCore(refCounts, curCounts, Seq(groupCol), keyCol)

  private def psiCore(
      refCounts: DataFrame,
      curCounts: DataFrame,
      groupCols: Seq[String],
      keyCol: String
  ): DataFrame = {
    val scale = 1000000000L
    val gs = groupCols.map(col)
    // NULL-SAFE joins throughout (the SnapshotDiff full-outer
    // convention): a null key is a legitimate category — a plain
    // equi-join would carry it as TWO unmatched rows (inflating n_keys
    // and mis-smoothing both sides), and a null GROUP would silently
    // vanish from the per-group output at the totals join
    val ref = refCounts.select(
      groupCols.map(g => col(g).as(s"__rg_$g")) :+
        col(keyCol).as("__rk") :+ col("n").cast("long").as("__rn"): _*
    )
    val cur = curCounts.select(
      groupCols.map(g => col(g).as(s"__cg_$g")) :+
        col(keyCol).as("__ck") :+ col("n").cast("long").as("__cn"): _*
    )
    val joinCond = (groupCols.map(g => col(s"__rg_$g") <=> col(s"__cg_$g")) :+
      (col("__rk") <=> col("__ck"))).reduce(_ && _)
    val joined = Materialize(
      ref
        .join(cur, joinCond, "full_outer")
        .select(
          groupCols.map(g => coalesce(col(s"__rg_$g"), col(s"__cg_$g")).as(g)) ++ Seq(
            coalesce(col("__rn"), lit(0L)).as("r"),
            coalesce(col("__cn"), lit(0L)).as("c")
          ): _*
        )
    )
    val tot = joined
      .groupBy(gs: _*)
      .agg(
        sum(col("r")).as("bigR"),
        sum(col("c")).as("bigC"),
        count(lit(1)).as("k")
      )
    val p = (col("c") + 1).cast("double") / (col("bigC") + col("k")).cast("double")
    val q = (col("r") + 1).cast("double") / (col("bigR") + col("k")).cast("double")
    val lr = Dsir.glog(col("c") + 1) - Dsir.glog(col("bigC") + col("k")) -
      Dsir.glog(col("r") + 1) + Dsir.glog(col("bigR") + col("k"))
    val tq = round((p - q) * lr * lit(scale.toDouble)).cast("long").as("tq")
    val out = Seq(
      col("k").as("n_keys"),
      col("bigR").as("ref_n"),
      col("bigC").as("cur_n"),
      (col("sq").cast("double") / lit(scale.toDouble)).as("psi")
    )
    if (groupCols.isEmpty) {
      // 1-row aggregates on BOTH sides so empty inputs still yield ONE
      // row — (n_keys 0, nulls) — matching the SQL oracle's global agg
      joined
        .crossJoin(broadcast(tot))
        .select(tq)
        .agg(sum(col("tq")).as("sq"))
        .crossJoin(broadcast(tot))
        .select(out: _*)
    } else {
      val totR = tot.select(
        groupCols.map(g => col(g).as(s"__tg_$g")) ++
          Seq(col("bigR"), col("bigC"), col("k")): _*
      )
      val totCond = groupCols.map(g => col(g) <=> col(s"__tg_$g")).reduce(_ && _)
      joined
        .join(broadcast(totR), totCond)
        .select(gs ++ Seq(col("bigR"), col("bigC"), col("k"), tq): _*)
        .groupBy(gs ++ Seq(col("bigR"), col("bigC"), col("k")): _*)
        .agg(sum(col("tq")).as("sq"))
        .select(gs ++ out: _*)
    }
  }

  /** Jensen–Shannon divergence between a REFERENCE and a CURRENT
    * categorical distribution — [[psi]]'s bounded, symmetric sibling
    * (JSD ∈ [0, ln 2] even with disjoint supports, so it needs NO
    * Laplace smoothing and never saturates the way PSI's smoothed
    * log-ratios can on one-sided keys).
    *
    * JSD = ½Σ p·ln(p/m) + ½Σ q·ln(q/m) with m = (p+q)/2. With integer
    * counts c/C and r/R, p/m = 2·c·R/(c·R + r·C), so each ln is
    * `ln 2 + glog(c·R) − glog(c·R + r·C)` — integer-argument glog, the
    * house discipline; per-key terms quantize once to longs, the sum
    * is exact, one readback division. Exact cross-engine while the
    * count·total products stay under 2⁶² (downscale both count tables
    * proportionally beyond — JSD is scale-invariant).
    *
    * Returns 1 row (n_keys, ref_n, cur_n, jsd); jsd null when either
    * side is empty (divergence from nothing is undefined).
    */
  def jsd(reference: DataFrame, current: DataFrame, keyCol: String): DataFrame =
    jsdFromCounts(
      reference.groupBy(col(keyCol)).agg(count(lit(1)).as("n")),
      current.groupBy(col(keyCol)).agg(count(lit(1)).as("n")),
      keyCol
    )

  /** [[jsd]] from already-built (`keyCol`, n) count tables — the
    * at-rest/streamed form (same contract as [[psiFromCounts]]).
    */
  def jsdFromCounts(refCounts: DataFrame, curCounts: DataFrame, keyCol: String): DataFrame = {
    val ref = refCounts.select(col(keyCol).as("__rk"), col("n").cast("long").as("__rn"))
    val cur = curCounts.select(col(keyCol).as("__ck"), col("n").cast("long").as("__cn"))
    val joined = Materialize(
      ref
        .join(cur, col("__rk") <=> col("__ck"), "full_outer")
        .select(
          coalesce(col("__rn"), lit(0L)).as("r"),
          coalesce(col("__cn"), lit(0L)).as("c")
        )
    )
    val tot = joined.agg(
      sum(col("r")).as("bigR"),
      sum(col("c")).as("bigC"),
      count(lit(1)).as("k")
    )
    val ln2 = lit(0.6931471805599453)
    // Three glog subtrees composed in ONE projection exceed janino's
    // 64 KB generated-method limit: every run logged `ERROR
    // CodeGenerator: Failed to compile` and the stage silently fell
    // back to interpreted execution (r13 ADVICE). Stage each glog in
    // its OWN projection with a Materialize barrier between them —
    // consecutive selects would otherwise be re-fused by
    // CollapseProject, re-inlining the subtrees. The staged frames are
    // the bounded key grid (n_keys rows × a few longs), so the two
    // extra pins cost microjobs, and each generated method now holds
    // one glog. Inputs are floor-guarded to 1 (glog domain) — the
    // guarded value is only READ when its `when` branch is live, and
    // on a live branch the guard is a no-op (c>0 ∧ bigR>0 ⇒ c·bigR≥1).
    val grid = joined
      .crossJoin(broadcast(tot))
      .select(col("r"), col("c"), col("bigR"), col("bigC"))
    val s1 = Materialize(
      grid.withColumn("gp", Dsir.glog(greatest(col("c") * col("bigR"), lit(1L))))
    )
    val s2 = Materialize(
      s1.withColumn("gq", Dsir.glog(greatest(col("r") * col("bigC"), lit(1L))))
    )
    val s3 = s2.withColumn(
      "gd",
      Dsir.glog(greatest(col("c") * col("bigR") + col("r") * col("bigC"), lit(1L)))
    )
    val termP = when(
      col("c") > 0,
      (col("c").cast("double") / col("bigC").cast("double")) *
        (ln2 + col("gp") - col("gd"))
    ).otherwise(lit(0.0))
    val termQ = when(
      col("r") > 0,
      (col("r").cast("double") / col("bigR").cast("double")) *
        (ln2 + col("gq") - col("gd"))
    ).otherwise(lit(0.0))
    s3
      .select(round((termP + termQ) * lit(1e9)).cast("long").as("tq"))
      .agg(sum(col("tq")).as("sq"))
      .crossJoin(broadcast(tot))
      .select(
        col("k").as("n_keys"),
        col("bigR").as("ref_n"),
        col("bigC").as("cur_n"),
        when(
          col("bigR") > 0 && col("bigC") > 0,
          col("sq").cast("double") / lit(2000000000.0)
        ).as("jsd")
      )
  }

  /** Spearman rank correlation between two integer-valued columns —
    * monotone dependence where [[pearsonMatrix]] sees only linear; the
    * robust "does quality rise with length at all?" profiling question.
    *
    * Never ranks raw rows: collapse to the bounded joint value grid,
    * take each marginal's running count from ONE partitioned-window
    * pass over its own (bounded) marginal grid, and use DOUBLED
    * midranks 2·rank(v) = 2·nBelow(v) + c(v) + 1 — integers, so tied
    * ranks stay exact. ρ is then Pearson over the doubled ranks
    * weighted by the joint counts: decimal(38,0) moments, one fixed
    * IEEE expression (the two sqrt calls are IEEE-exact ops). The
    * doubling cancels between numerator and denominator.
    *
    * Cross-engine exactness: moments grow as n³ — below n ≈ 4·10⁴ every
    * cast operand stays under 2⁶⁴ where both engines' decimal→double
    * casts agree bit-for-bit (the q98 hazard note); beyond that ρ is
    * still deterministic per engine (exact decimals, fixed expression),
    * only the final quotient's last bit is engine-dependent.
    *
    * Returns 1 row (n, rho); rho null when either column is constant.
    */
  def spearman(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bucketWidth: Long = 1024L
  ): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val joint = Materialize(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .groupBy(col(xCol).cast("long").as("vx"), col(yCol).cast("long").as("vy"))
        .agg(count(lit(1)).as("c"))
    )
    def marginalRanks(vCol: String): DataFrame = {
      val m = joint.groupBy(col(vCol).as("v")).agg(sum(col("c")).as("mc"))
      PrefixSum
        .cumsum(m, "v", Seq("mc"), bucketWidth)
        .select(
          col("v").as(vCol),
          (lit(2L) * (col("cum_mc") - col("mc")) + col("mc") + 1L).as(s"r_$vCol")
        )
    }
    joint
      .join(broadcast(marginalRanks("vx")), "vx")
      .join(broadcast(marginalRanks("vy")), "vy")
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(sum(dec(col("c")) * dec(col("r_vx"))), lit(0).cast("decimal(38,0)")).as("sx"),
        coalesce(sum(dec(col("c")) * dec(col("r_vy"))), lit(0).cast("decimal(38,0)")).as("sy"),
        coalesce(
          sum(dec(col("c")) * dec(col("r_vx")) * dec(col("r_vx"))),
          lit(0).cast("decimal(38,0)")
        ).as("sxx"),
        coalesce(
          sum(dec(col("c")) * dec(col("r_vy")) * dec(col("r_vy"))),
          lit(0).cast("decimal(38,0)")
        ).as("syy"),
        coalesce(
          sum(dec(col("c")) * dec(col("r_vx")) * dec(col("r_vy"))),
          lit(0).cast("decimal(38,0)")
        ).as("sxy")
      )
      .select(
        col("n"),
        when(
          dec(col("n")) * col("sxx") - col("sx") * col("sx") >
            lit(0).cast("decimal(38,0)") &&
            dec(col("n")) * col("syy") - col("sy") * col("sy") >
              lit(0).cast("decimal(38,0)"),
          (dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")))
        ).as("rho")
      )
  }

  /** Cohen's kappa between two categorical label columns — chance-
    * corrected agreement, the label-QA statistic for "does the cheap
    * heuristic / second annotator / replacement model agree with the
    * gold labels beyond what marginals alone predict?" (raw accuracy
    * rewards majority-class collapse; kappa doesn't).
    *
    * Exact by construction: with N = Σn, A = Σ_k n_kk (the diagonal)
    * and E = Σ_k rowSum_k·colSum_k, kappa = (A·N − E)/(N² − E) — every
    * product runs in decimal(38,0) with decimal FACTORS (the moment
    * discipline: no silent int64 wrap at any corpus size a 38-digit
    * value can hold), ONE IEEE division at the end. Perfect-chance
    * denominators (N² = E, e.g. a single label on both sides) yield
    * null, not a division artifact.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame =
    kappaFromCounts(
      df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("n")),
      aCol,
      bCol
    )

  /** [[cohenKappa]] from an already-built (`aCol`, `bCol`, n) joint-
    * count table — the at-rest/streamed form, same contract as
    * [[pmiFromCounts]]: the grid is addition-mergeable, marginals and
    * the diagonal derive from the tiny table alone.
    *
    * Null-label policy: rows where EITHER label is null are DROPPED
    * (the standard treatment — agreement against a missing label is
    * undefined). Counting them would silently bias kappa toward 0:
    * they'd inflate N while `null === null` can never reach `agree`
    * and a non-null-safe marginal join excludes them from E. Encode
    * "missing" as a real category up front if it should participate.
    */
  def kappaFromCounts(counts: DataFrame, aCol: String, bCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cab = Materialize(counts.filter(col(aCol).isNotNull && col(bCol).isNotNull))
    val pe = cab
      .groupBy(col(aCol)).agg(sum(col("n")).as("n_a"))
      .select(col(aCol).as("__k"), col("n_a"))
      .join(
        cab.groupBy(col(bCol)).agg(sum(col("n")).as("n_b"))
          .select(col(bCol).as("__k"), col("n_b")),
        Seq("__k")
      ) // inner join: a label absent from one side contributes 0 to E
      .agg(coalesce(sum(dec(col("n_a")) * dec(col("n_b"))), lit(0).cast("decimal(38,0)"))
        .as("e_num"))
    val agg = cab.agg(
      sum(col("n")).as("n_total"),
      coalesce(sum(when(col(aCol) === col(bCol), col("n"))), lit(0L)).as("agree")
    )
    agg
      .crossJoin(broadcast(pe))
      .select(
        col("n_total"),
        col("agree"),
        when(
          dec(col("n_total")) * dec(col("n_total")) =!= col("e_num"),
          (dec(col("agree")) * dec(col("n_total")) - col("e_num")).cast("double") /
            (dec(col("n_total")) * dec(col("n_total")) - col("e_num")).cast("double")
        ).as("kappa")
      )
  }

  /** Per-score positive/negative counts behind [[rocAuc]] — the
    * addition-mergeable (score, pos, neg) grid. `score` must be
    * integer-valued (quantize upstream; the grid is bounded by the
    * score alphabet, not the corpus). Rows with a null score or null
    * label are dropped (a rank for "no score" is undefined — encode a
    * sentinel score up front if unscored rows should participate).
    * Both measures merge by exact addition, so
    * `SketchIngest.ingestAdditiveBatch` with this as the fold keeps the
    * grid live from streamed rows and [[aucFromCounts]] over the
    * streamed table equals [[rocAuc]] over raw rows bit-identically.
    */
  def scoreCounts(df: DataFrame, scoreCol: String, label: Column): DataFrame =
    df.filter(col(scoreCol).isNotNull && label.isNotNull)
      .groupBy(col(scoreCol).cast("long").as("score"))
      .agg(
        sum(when(label, 1L).otherwise(0L)).as("pos"),
        sum(when(label, 0L).otherwise(1L)).as("neg")
      )

  /** Exact ROC-AUC of an integer-valued score against a boolean label —
    * the classifier-QA headline ("does the quality score actually rank
    * positives above negatives?"). AUC here is the exact
    * Mann–Whitney form P(s⁺ > s⁻) + ½·P(s⁺ = s⁻): over the score grid,
    * 2·P·N·AUC = Σ_s pos_s · (2·negBelow_s + neg_s) — an integer.
    *
    * Scale shape: ONE corpus scan collapses to the bounded score grid
    * (map-side partial agg); the running negative count comes from
    * [[PrefixSum.cumsum]] over that grid — never a global window, never
    * a corpus sort (the textbook AUC-by-ranks needs a global rank; this
    * form never ranks raw rows at all).
    *
    * Exactness: the numerator accumulates in decimal(38,0) with decimal
    * FACTORS (the moment discipline); ONE IEEE division at the end.
    * Cross-engine bit-equality holds while 2·P·N < 2⁵³ (the q98
    * int→double exactness bound); beyond that the decimal math is still
    * exact and only the final quotient's last bit is engine-dependent.
    */
  def rocAuc(
      df: DataFrame,
      scoreCol: String,
      label: Column,
      bucketWidth: Long = 1024L
  ): DataFrame =
    aucFromCounts(scoreCounts(df, scoreCol, label), bucketWidth)

  /** [[rocAuc]] from an already-built (score, pos, neg) grid — the
    * at-rest/streamed form. Returns 1 row
    * (n_pos, n_neg, auc_num2x, auc): `auc_num2x` = 2·P·N·AUC exactly;
    * `auc` null when either class is empty (ranking one class against
    * nothing is undefined, not 0.5).
    */
  def aucFromCounts(counts: DataFrame, bucketWidth: Long = 1024L): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cum = PrefixSum.cumsum(counts, "score", Seq("neg"), bucketWidth)
    cum
      .agg(
        coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"),
        coalesce(
          sum(
            dec(col("pos")) *
              (lit(2).cast("decimal(38,0)") * dec(col("cum_neg") - col("neg")) +
                dec(col("neg")))
          ),
          lit(0).cast("decimal(38,0)")
        ).as("auc_num2x")
      )
      .select(
        col("n_pos"),
        col("n_neg"),
        col("auc_num2x"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          col("auc_num2x").cast("double") /
            (lit(2).cast("decimal(38,0)") * dec(col("n_pos")) * dec(col("n_neg")))
              .cast("double")
        ).as("auc")
      )
  }

  /** Per-group [[scoreCounts]] — the (group, score, pos, neg) grid
    * behind [[aucPerGroup]]; same mergeability/null contract.
    */
  def scoreCountsPerGroup(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      label: Column
  ): DataFrame =
    df.filter(col(scoreCol).isNotNull && label.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol).cast("long").as("score"))
      .agg(
        sum(when(label, 1L).otherwise(0L)).as("pos"),
        sum(when(label, 0L).otherwise(1L)).as("neg")
      )

  /** Stratified ROC-AUC — one exact AUC row per `groupCol` value
    * ("which source / language / shard does the score actually rank
    * well on?" — the q155-per-group pattern applied to [[rocAuc]]).
    * The running negative count is a window PARTITIONED BY the group
    * over the bounded per-group score grid — grid-sized, never a
    * global window, never a corpus sort.
    */
  def aucPerGroup(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      label: Column
  ): DataFrame =
    aucPerGroupFromCounts(scoreCountsPerGroup(df, groupCol, scoreCol, label), groupCol)

  /** [[aucPerGroup]] from an already-built (`groupCol`, score, pos,
    * neg) grid — the at-rest/streamed form.
    */
  def aucPerGroupFromCounts(counts: DataFrame, groupCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    counts
      .withColumn("cum_neg", sum(col("neg")).over(w))
      .groupBy(col(groupCol))
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        coalesce(
          sum(
            dec(col("pos")) *
              (lit(2).cast("decimal(38,0)") * dec(col("cum_neg") - col("neg")) +
                dec(col("neg")))
          ),
          lit(0).cast("decimal(38,0)")
        ).as("auc_num2x")
      )
      .select(
        col(groupCol),
        col("n_pos"),
        col("n_neg"),
        col("auc_num2x"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          col("auc_num2x").cast("double") /
            (lit(2).cast("decimal(38,0)") * dec(col("n_pos")) * dec(col("n_neg")))
              .cast("double")
        ).as("auc")
      )
  }

  /** Gini concentration of a non-negative integer-valued column — the
    * inequality profile ("is 1% of users/sources/tokens producing 90%
    * of the volume?") a pipeline reads before trusting per-entity
    * aggregates. Sample form G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx).
    *
    * Never sorts raw rows: collapse to the bounded distinct-value grid
    * (map-side partial agg), take the running count from
    * [[PrefixSum.cumsum]], and expand each value's rank-sum in closed
    * form — the c copies of value v occupy ranks nBelow+1..nBelow+c, so
    * Σ i·x over them = v·(c·nBelow + c·(c+1)/2), an exact integer.
    * Numerator/denominator accumulate in decimal(38,0); one IEEE
    * division (exact cross-engine under the 2⁵³ cast bound — q98 note).
    * Returns 1 row (n, sum_v, gini); gini null when n = 0 or Σx = 0.
    */
  def gini(df: DataFrame, valueCol: String, bucketWidth: Long = 1024L): DataFrame =
    giniFromCounts(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).cast("long").as("v"))
        .agg(count(lit(1)).as("c")),
      bucketWidth
    )

  /** [[gini]] from an already-built (v, c) value-count grid — the
    * at-rest/streamed form (the grid is addition-mergeable).
    */
  def giniFromCounts(counts: DataFrame, bucketWidth: Long = 1024L): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cum = PrefixSum.cumsum(counts, "v", Seq("c"), bucketWidth)
    val below = dec(col("cum_c") - col("c"))
    // 2·Σ i·x expanded per grid value WITHOUT any division: the c
    // copies of v contribute v·(2·c·nBelow + c·(c+1)) — c·(c+1) is
    // always even, so this is exactly 2·(rank-sum) in pure integer
    // products; the /2 cancels against the numerator's 2.
    cum
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(sum(dec(col("v")) * dec(col("c"))), lit(0).cast("decimal(38,0)")).as("s"),
        coalesce(
          sum(
            dec(col("v")) *
              (lit(2).cast("decimal(38,0)") * dec(col("c")) * below +
                dec(col("c")) * (dec(col("c")) + lit(1).cast("decimal(38,0)")))
          ),
          lit(0).cast("decimal(38,0)")
        ).as("t2")
      )
      .select(
        col("n"),
        col("s").cast("long").as("sum_v"),
        when(
          col("n") > 0 && col("s") =!= lit(0).cast("decimal(38,0)"),
          (col("t2") -
            (dec(col("n")) + lit(1).cast("decimal(38,0)")) * col("s")).cast("double") /
            (dec(col("n")) * col("s")).cast("double")
        ).as("gini")
      )
  }

  /** Per-bin calibration counts behind [[eceFromBins]] — the
    * reliability-diagram table for a score that CLAIMS to be a
    * probability (score/`scale` ∈ [0,1]). Bin = floor(score·nBins/scale)
    * clamped to nBins−1; per bin: row count, positive count, exact
    * score sum — all addition-mergeable longs (the
    * `SketchIngest.ingestAdditiveBatch` shape), so the diagram is
    * maintainable at rest and never rescans the corpus. `acc`/`conf`
    * are floor(·10⁴)/10⁴ readbacks (the trunc4 discipline).
    *
    * Bound: `sum_score` accumulates as a long, so rows-per-bin·scale
    * must stay under 2⁶³ (~10¹² rows/bin at scale 10⁶) — comfortable
    * at any real calibration-set size; shard by a group column first
    * if a single bin could exceed it.
    */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      label: Column,
      scale: Long,
      nBins: Int
  ): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    require(scale > 0, "scale must be positive")
    val s = col(scoreCol).cast("long")
    df.filter(col(scoreCol).isNotNull && label.isNotNull)
      .groupBy(
        least(floor(s * nBins / scale.toDouble).cast("long"), lit(nBins - 1L)).as("bin")
      )
      .agg(
        count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("n_pos"),
        sum(s).as("sum_score")
      )
      .select(
        col("bin"),
        col("n"),
        col("n_pos"),
        col("sum_score"),
        (floor(col("n_pos").cast("double") * 10000.0 / col("n").cast("double")) / 10000.0)
          .as("acc"),
        (floor(
          col("sum_score").cast("double") * 10000.0 /
            (col("n").cast("double") * scale.toDouble)
        ) / 10000.0).as("conf")
      )
  }

  /** Expected calibration error from a [[calibrationBins]] table:
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b| — which telescopes per bin to
    * the INTEGER |n_pos_b·scale − sum_score_b|, so the numerator is an
    * exact long sum and the whole statistic is one IEEE division:
    * ece = ece_num / (scale·N). 1 row (n, ece_num, ece); ece null on an
    * empty table.
    */
  def eceFromBins(bins: DataFrame, scale: Long): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    bins
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(
          sum(abs(dec(col("n_pos")) * lit(scale).cast("decimal(38,0)") - dec(col("sum_score")))),
          lit(0).cast("decimal(38,0)")
        ).as("ece_num")
      )
      .select(
        col("n"),
        col("ece_num"),
        when(
          col("n") > 0,
          col("ece_num").cast("double") /
            (lit(scale).cast("decimal(38,0)") * dec(col("n"))).cast("double")
        ).as("ece")
      )
  }

  def pmiFromCounts(counts: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cxy = Materialize(counts)
    val cx = cxy.groupBy(col(xCol)).agg(sum(col("n")).as("n_x"))
    val cy = cxy.groupBy(col(yCol)).agg(sum(col("n")).as("n_y"))
    val tot = cxy.agg(sum(col("n")).as("n_total"))
    cxy
      .join(broadcast(cx), xCol)
      .join(broadcast(cy), yCol)
      .crossJoin(broadcast(tot))
      .select(
        col(xCol),
        col(yCol),
        col("n"),
        (Dsir.glog(col("n")) + Dsir.glog(col("n_total")) -
          Dsir.glog(col("n_x")) - Dsir.glog(col("n_y"))).as("pmi")
      )
  }
}

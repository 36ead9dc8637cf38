package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** DSIR-style importance resampling weights (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling"): score
  * every document in a raw corpus by how target-like its hashed n-gram
  * distribution is — `log w(x) = Σ_g [log p_target(bucket(g)) − log
  * p_raw(bucket(g))]` over the doc's unigrams+bigrams, with each
  * corpus modeled as a Laplace-smoothed multinomial over `nBuckets`
  * hash buckets. The standard data-selection pass: fit on a small
  * high-quality target corpus, score the whole raw crawl, keep the
  * top-weighted tail.
  *
  * Reference semantics: the reference has no corpus-selection surface
  * (per-cell cleaning only, `processing.py`); this extends the
  * LLM-curation superset from the paper's description.
  *
  * Scale shape (the 100 TB path): one explode over the corpus tokens
  * (map-side), ONE shuffle to count grams per (doc, bucket) — bucket
  * model fitting itself aggregates to `nBuckets` rows, map-side
  * partials doing almost all the work — then a BROADCAST join of the
  * ≤`nBuckets`-row log-ratio table back onto per-doc bucket counts and
  * one final groupBy(doc). Nothing ever pairs documents; the model
  * tables are KB-sized no matter the corpus.
  *
  * == Cross-engine determinism ==
  *
  * Two tricks make the scores hash-exact against a DuckDB oracle:
  *
  * '''Deterministic log.''' `libm` `ln` is NOT bit-identical between
  * the JVM and DuckDB (measured: 91 mismatched values in 1..3e6), so
  * [[glog]] computes ln(x) for integer x ≥ 1 from exactly-specified
  * IEEE-754 ops only: exponent via `length(bin(x))-1`, mantissa
  * m = x/2^e (exact — division by a power of two), two `sqrt`s
  * (IEEE-exact) to shrink the atanh-series argument, then a fixed
  * 8-term Horner polynomial of +,*,/ — every step bit-identical in any
  * IEEE-754 engine evaluating the same shape. Accuracy ≤ 2e-15 abs vs
  * `Math.log` over 1..3e6 (pinned in DsirSpec); bit-equality with
  * DuckDB verified over the same range.
  *
  * '''Order-independent sum.''' A double Σ over shuffled partitions is
  * order-sensitive; instead each bucket's log-ratio is quantized ONCE
  * to a long (`round(lr·scale)`) and per-doc scores are exact long
  * sums of those — associative, commutative, deterministic under any
  * partitioning. `logw = logw_q / scale` is a single shared IEEE
  * division at the end.
  */
object Dsir {

  /** Deterministic ln(x) for a positive integer-valued column. Only
    * IEEE-exact ops (see object scaladoc); NOT libm ln — a fixed
    * cross-engine-reproducible approximation within 2e-15 of it.
    */
  def glog(x: Column): Column = {
    val e = (length(bin(x)) - 1).cast("double")
    val m = x.cast("double") / pow(lit(2.0), e)
    val r = sqrt(sqrt(m))
    val z = (r - lit(1.0)) / (r + lit(1.0))
    val w = z * z
    val horner =
      lit(1.0) + w * (lit(1.0 / 3.0) + w * (lit(1.0 / 5.0) + w * (lit(1.0 / 7.0) +
        w * (lit(1.0 / 9.0) + w * (lit(1.0 / 11.0) + w * (lit(1.0 / 13.0) +
          w * lit(1.0 / 15.0)))))))
    e * lit(0.6931471805599453) + lit(8.0) * (z * horner)
  }

  /** Hash bucket for an n-gram string: first 24 bits of md5, mod
    * `nBuckets` — md5 is bit-identical everywhere, and 24 bits ≫ any
    * sane bucket count keeps the mod unbiased enough for a hashed
    * bag-of-grams model.
    */
  def gramBucket(gram: Column, nBuckets: Int): Column =
    conv(substring(md5(gram), 1, 6), 16, 10).cast("long") % nBuckets

  /** One row per (doc, gram-occurrence) with its hash bucket:
    * unigrams + bigrams over the shared [[Fns.tokens]] normalization.
    * Pure map-side explode — the only pass that reads full text.
    */
  def gramBuckets(df: DataFrame, textCol: String, idCol: String, nBuckets: Int): DataFrame =
    gramsOf(df, textCol, idCol, nBuckets, Nil)

  /** [[gramBuckets]] carrying extra per-doc columns (e.g. a class
    * label) through the explode — free, vs re-joining gram rows back
    * to a doc→label map on doc_id (a shuffle of the gram table).
    */
  def gramBucketsWith(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int,
      extra: (String, Column)*
  ): DataFrame =
    gramsOf(df, textCol, idCol, nBuckets, extra)

  private def gramsOf(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int,
      extra: Seq[(String, Column)]
  ): DataFrame = {
    // token expressions bound to the post-spread text column
    val toks = Fns.tokens(col("_g_text"))
    val unigrams = toks
    // empty-array literal via slice keeps the branch array<string>-typed
    val bigrams = when(
      size(toks) >= 2,
      transform(
        sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))
      )
    ).otherwise(slice(toks, lit(1), lit(0)))
    val keep = col(idCol).as("doc_id") +: extra.map { case (n, c) => c.as(n) }
    // spread before the gram explode + per-gram md5: the whole hash
    // pass otherwise runs in the scan's task count (guide §2.5; the
    // Spread gate is a no-op on well-partitioned input)
    Spread
      .byKey(df.select(keep :+ col(textCol).as("_g_text"): _*), col("doc_id"))
      .select(
        (col("doc_id") +: extra.map(e => col(e._1)) :+
          explode(concat(unigrams, bigrams)).as("gram")): _*
      )
      .select(col("doc_id") +: extra.map(e => col(e._1)) :+
        gramBucket(col("gram"), nBuckets).as("bucket"): _*)
  }

  /** The ≤`nBuckets`-row model table: for every bucket observed in the
    * RAW corpus, the quantized log-ratio
    * `lrq = round((glog(t+1) − glog(r+1) − (glog(T+B) − glog(R+B))) · scale)`
    * where t/r are target/raw bucket counts and T/R the corpus gram
    * totals (Laplace +1 smoothing, so target-absent buckets score
    * `glog(1) = 0` up top). Buckets absent from raw can never be hit by
    * a raw doc and are omitted.
    */
  def bucketLogRatios(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int,
      scale: Long
  ): DataFrame =
    ratiosFromGrams(
      gramBuckets(raw, textCol, idCol, nBuckets),
      gramBuckets(target, textCol, idCol, nBuckets),
      nBuckets,
      scale
    )

  private def ratiosFromGrams(
      rawG: DataFrame,
      tgtG: DataFrame,
      nBuckets: Int,
      scale: Long
  ): DataFrame =
    ratiosFromCounts(
      rawG.groupBy("bucket").agg(count(lit(1)).as("n")),
      tgtG.groupBy("bucket").agg(count(lit(1)).as("n")),
      nBuckets,
      scale
    )

  /** [[bucketLogRatios]] from pre-aggregated `(bucket, n)` count
    * tables — the at-rest model form. Count tables are exact-addition
    * mergeable, so they stream via
    * `SketchIngest.ingestCountBatch(..., modelFold(...), Seq("bucket"), ...)`
    * and a model over a growing corpus is maintained O(batch) per
    * batch; scoring composes via [[importanceWeightsFromModels]].
    */
  def ratiosFromCounts(
      rawCounts: DataFrame,
      tgtCounts: DataFrame,
      nBuckets: Int,
      scale: Long
  ): DataFrame = {
    val rCounts = rawCounts.select(col("bucket"), col("n").as("r"))
    val tCounts = tgtCounts.select(col("bucket"), col("n").as("t"))
    val totals = rCounts
      .agg(coalesce(sum(col("r")), lit(0L)).as("bigR"))
      .crossJoin(tCounts.agg(coalesce(sum(col("t")), lit(0L)).as("bigT")))
    // full outer: when scoring docs OUTSIDE the raw corpus, a bucket may
    // be target-only (within-corpus target ⊆ raw makes this a left join)
    rCounts
      .join(tCounts, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("r", "t"))
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        round(
          (glog(col("t") + 1) - glog(col("r") + 1) -
            (glog(col("bigT") + nBuckets) - glog(col("bigR") + nBuckets))) * scale
        ).cast("long").as("lrq")
      )
  }

  /** The micro-batch fold maintaining an at-rest `(bucket, n)` gram
    * model under `SketchIngest.ingestCountBatch` (keys = Seq("bucket")).
    */
  def modelFold(textCol: String, idCol: String, nBuckets: Int): DataFrame => DataFrame =
    b => gramBuckets(b, textCol, idCol, nBuckets).groupBy("bucket").agg(count(lit(1)).as("n"))

  /** Score `docs` against PRE-BUILT raw/target models (at-rest tables
    * from [[modelFold]] ingest, or any `(bucket, n)` pair): one explode
    * over the docs being scored, one broadcast join — scoring a
    * micro-batch never touches the corpora the models summarize.
    */
  def importanceWeightsFromModels(
      docs: DataFrame,
      rawCounts: DataFrame,
      tgtCounts: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    importanceWeightsFromModelsOverGrams(
      gramBuckets(docs, textCol, idCol, nBuckets), rawCounts, tgtCounts, nBuckets, scale)
  }

  /** [[importanceWeightsFromModels]] over an already-built
    * (doc_id, bucket) gram table — e.g. [[gramsFromPositions]] from a
    * shared pin. Bit-identical to the text form over the same multiset.
    */
  def importanceWeightsFromModelsOverGrams(
      grams: DataFrame,
      rawCounts: DataFrame,
      tgtCounts: DataFrame,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    // buckets unseen by EITHER model (brand-new vocabulary) fall back to
    // the smoothed prior ratio glog(1)−glog(1)−C = −C, so every gram of
    // a scored doc counts — an inner join would silently drop them
    val dflt = rawCounts
      .agg(coalesce(sum(col("n")), lit(0L)).as("bigR"))
      .crossJoin(tgtCounts.agg(coalesce(sum(col("n")), lit(0L)).as("bigT")))
      .select(
        round(
          (glog(lit(1)) - glog(lit(1)) -
            (glog(col("bigT") + nBuckets) - glog(col("bigR") + nBuckets))) * scale
        ).cast("long").as("lrq0")
      )
    grams
      .join(broadcast(ratiosFromCounts(rawCounts, tgtCounts, nBuckets, scale)), Seq("bucket"), "left")
      .crossJoin(broadcast(dflt))
      .withColumn("_lrq", coalesce(col("lrq"), col("lrq0")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("_lrq")).as("logw_q")
      )
      .withColumn("logw", col("logw_q").cast("double") / scale.toDouble)
  }

  /** Per-document importance weights of `raw` against `target`: one
    * row per raw doc with its gram count, the exact quantized
    * log-weight `logw_q` (long — sum of per-gram quantized ratios) and
    * `logw = logw_q / scale`. Rank/filter on `logw_q` desc for the
    * deterministic top-k selection; add Gumbel noise to `logw`
    * downstream for the paper's sampled variant.
    */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    // the raw gram table feeds BOTH the model fit and the per-doc score
    // join — pin it once (two longs per gram occurrence) instead of
    // re-running tokenize+md5 over the corpus for each branch
    val rawG = Materialize(gramBuckets(raw, textCol, idCol, nBuckets))
    val lr = ratiosFromGrams(rawG, gramBuckets(target, textCol, idCol, nBuckets), nBuckets, scale)
    scoreGrams(rawG, lr, scale)
  }

  /** [[importanceWeights]] for the common "target is a labeled subset
    * of the raw corpus" case (DSIR against an in-corpus quality
    * subset): ONE explode+hash pass total — each gram occurrence
    * carries a `targetCond` flag, the target model is the flagged
    * slice, and the pinned gram table feeds model fit and scoring both.
    */
  def importanceWeightsWithin(
      raw: DataFrame,
      targetCond: Column,
      textCol: String,
      idCol: String,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    val g = Materialize(
      gramsOf(raw, textCol, idCol, nBuckets, Seq("_tgt" -> targetCond))
    )
    importanceWeightsFromGramTable(g, nBuckets, scale)
  }

  /** [[importanceWeightsWithin]] from an already-built (and
    * caller-pinned) gram table carrying a boolean `_tgt` flag per gram
    * occurrence — e.g. [[gramsFromPositions]] over a shared
    * [[positionBuckets]] pin, optionally semi-joined to a surviving-doc
    * set. Bit-identical to the text form over the same multiset.
    */
  def importanceWeightsFromGramTable(
      g: DataFrame,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    // Fused within-corpus fit (guide §2.3 "aggregate before you
    // shuffle" / §2.4): target ⊆ raw here, so ONE aggregation of the
    // pinned gram table yields BOTH models' bucket counts — r over all
    // rows, t over the flagged slice. The model is BOUNDED (≤ nBuckets
    // rows by construction), so it COLLECTS (r20) and the per-bucket
    // quantized ratio rides the scoring pass as one array literal — the
    // stripBoilerplateFromCms / scoredCells pattern. vs r19's broadcast
    // form this removes the totals job, the broadcast build and the
    // score join; the counts, glog inputs (glogD is the bit-identical
    // driver twin, DsirSpec) and HALF_UP rounding ([[roundQ]]) are
    // unchanged, so every lrq bit — and the oracle hash — is identical.
    val rows = g
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("r"), count_if(col("_tgt")).as("t"))
      .collect()
    var bigR = 0L
    var bigT = 0L
    rows.foreach { r => bigR += r.getLong(1); bigT += r.getLong(2) }
    val corpusTerm = glogD(bigT + nBuckets) - glogD(bigR + nBuckets)
    val lrq = new Array[Long](nBuckets)
    rows.foreach { r =>
      lrq(r.getLong(0).toInt) = roundQ(
        (glogD(r.getLong(2) + 1) - glogD(r.getLong(1) + 1) - corpusTerm) * scale.toDouble)
    }
    // every bucket of g is in the fit by construction (the fit IS g's
    // aggregation), so the lookup is total — no default needed
    val lrqLit = element_at(typedLit(lrq.toSeq), col("bucket").cast("int") + 1)
    g.select(col("doc_id"), col("bucket"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(lrqLit).as("logw_q")
      )
      .withColumn("logw", col("logw_q").cast("double") / scale.toDouble)
  }

  /** Per-document surprisal under a hashed bigram model of the corpus —
    * the perplexity-filter pass (CCNet §3.3 scores against a reference
    * LM; self-scoring flags statistical outliers: boilerplate, alien
    * vocabulary, token salad). For each adjacent token pair, `−log
    * p(w2|w1) = log(C_ctx(w1)+B) − log(C_big(w1 w2)+1)` with add-one
    * smoothing over the `nBuckets`-bucket hashed event space; a doc's
    * `nll_q` is the exact long sum of the two PER-BUCKET quantized glog
    * tables (each ≤ nBuckets rows, broadcast), and `avg_nll` divides
    * out length so long docs aren't penalized. Context counts are true
    * CONTEXT occurrences (positions 1..n−1), not unigram counts, so
    * the model is a proper conditional.
    *
    * Same scale shape as [[importanceWeights]]: one explode (pinned —
    * it feeds two count fits and the scoring join), two tiny
    * aggregations, two broadcast joins, one final groupBy(doc). Same
    * determinism story: glog + quantized-long sums, hash-exact vs the
    * DuckDB oracle.
    */
  /** One row per adjacent token pair with hashed context and bigram
    * buckets — the shared position pass behind [[bigramSurprisal]] and
    * the streaming model folds.
    */
  /** One row per token POSITION with the position's unigram bucket
    * (`ub`) and — for non-final positions — the bigram bucket to its
    * right (`bb`, else null): the SHARED explode+hash pass from which
    * both gram views derive. [[gramsFromPositions]] rebuilds the DSIR
    * unigram+bigram multiset (== [[gramBuckets]]); [[pairsFromPositions]]
    * rebuilds the surprisal (ctx, bigram) pairs (== [[bigramPairBuckets]],
    * since a pair's context bucket IS its left token's unigram bucket).
    * A pipeline needing both (Curation stages 3+5) hashes n + (n−1)
    * grams here instead of (2n−1) + (2n−2) across two passes.
    */
  def positionBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int,
      extra: Seq[(String, Column)] = Nil
  ): DataFrame = {
    val keep = col(idCol).as("doc_id") +: extra.map { case (n, c) => c.as(n) }
    val keepNames = col("doc_id") +: extra.map(e => col(e._1))
    // spread before tokenize + per-position md5 (same §2.5 note as
    // [[gramsOf]]; no-op on well-partitioned input)
    Spread
      .byKey(df.select(keep :+ col(textCol).as("_p_text"): _*), col("doc_id"))
      .select(keepNames :+ Fns.tokens(col("_p_text")).as("_toks"): _*)
      .filter(size(col("_toks")) >= 1)
      .select(
        keepNames :+ explode(
          transform(
            sequence(lit(1), size(col("_toks"))),
            i =>
              struct(
                element_at(col("_toks"), i).as("u"),
                when(
                  i < size(col("_toks")),
                  concat(element_at(col("_toks"), i), lit(" "), element_at(col("_toks"), i + 1))
                ).as("b")
              )
          )
        ).as("p"): _*
      )
      .select(
        keepNames :+
          gramBucket(col("p.u"), nBuckets).as("ub") :+
          when(col("p.b").isNotNull, gramBucket(col("p.b"), nBuckets)).as("bb"): _*
      )
  }

  /** The [[gramBuckets]]-equivalent multiset from a [[positionBuckets]]
    * table: all unigram buckets plus the non-null bigram buckets.
    */
  def gramsFromPositions(pos: DataFrame, extraCols: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: extraCols.map(col)
    // ONE pass (r20): each position row explodes into its 1–2 buckets
    // in place — the former unionByName read the position pin twice
    // (two map stages per consumer). Same bucket multiset per doc
    // (union order never mattered: every consumer aggregates).
    pos
      .select(keep :+ explode(array(col("ub"), col("bb"))).as("bucket"): _*)
      .filter(col("bucket").isNotNull)
  }

  /** The [[bigramPairBuckets]]-equivalent pair table from a
    * [[positionBuckets]] table.
    */
  def pairsFromPositions(pos: DataFrame): DataFrame =
    pos.filter(col("bb").isNotNull).select(col("doc_id"), col("ub").as("cb"), col("bb"))

  def bigramPairBuckets(df: DataFrame, textCol: String, idCol: String, nBuckets: Int): DataFrame = {
    // same input spread as [[gramsOf]] (§2.5; no-op when well-partitioned)
    Spread
      .byKey(
        df.select(col(idCol).as("doc_id"), col(textCol).as("_b_text")),
        col("doc_id")
      )
      .select(col("doc_id"), Fns.tokens(col("_b_text")).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(1), size(col("_toks")) - 1),
            i =>
              struct(
                element_at(col("_toks"), i).as("ctx"),
                concat(element_at(col("_toks"), i), lit(" "), element_at(col("_toks"), i + 1))
                  .as("big")
              )
          )
        ).as("p")
      )
      .select(
        col("doc_id"),
        gramBucket(col("p.ctx"), nBuckets).as("cb"),
        gramBucket(col("p.big"), nBuckets).as("bb")
      )
  }

  /** Micro-batch folds maintaining the at-rest surprisal model under
    * `SketchIngest.ingestCountBatch`: context counts keyed `bucket`
    * (from `cb`) and bigram counts keyed `bucket` (from `bb`) — two
    * tables, two ingest paths, each with its own exactly-once marker.
    */
  def surprisalCtxFold(textCol: String, idCol: String, nBuckets: Int): DataFrame => DataFrame =
    b => bigramPairBuckets(b, textCol, idCol, nBuckets)
      .groupBy(col("cb").as("bucket")).agg(count(lit(1)).as("n"))

  def surprisalBigFold(textCol: String, idCol: String, nBuckets: Int): DataFrame => DataFrame =
    b => bigramPairBuckets(b, textCol, idCol, nBuckets)
      .groupBy(col("bb").as("bucket")).agg(count(lit(1)).as("n"))

  /** Both surprisal model halves in ONE keyed-count table
    * (`kind ∈ {ctx, big}`, `bucket`, `n`) so a single
    * `SketchIngest.ingestCountBatch` path (keys = kind, bucket) commits
    * them ATOMICALLY under one marker — the property that keeps a
    * crash between two separate model updates from ever letting the
    * halves drift apart (see `CorpusIngest.ingestCuratedBatch`).
    */
  def surprisalFold(textCol: String, idCol: String, nBuckets: Int): DataFrame => DataFrame =
    b => {
      val p = bigramPairBuckets(b, textCol, idCol, nBuckets)
      p.groupBy(lit("ctx").as("kind"), col("cb").as("bucket")).agg(count(lit(1)).as("n"))
        .unionByName(
          p.groupBy(lit("big").as("kind"), col("bb").as("bucket")).agg(count(lit(1)).as("n"))
        )
    }

  /** [[bigramSurprisalFromModels]] over the combined one-table model
    * from [[surprisalFold]].
    */
  def bigramSurprisalFromModel(
      docs: DataFrame,
      model: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame =
    bigramSurprisalFromModels(
      docs,
      model.filter(col("kind") === "ctx").select(col("bucket"), col("n")),
      model.filter(col("kind") === "big").select(col("bucket"), col("n")),
      textCol,
      idCol,
      nBuckets,
      scale
    )

  def bigramSurprisal(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    val pinned = Materialize(bigramPairBuckets(df, textCol, idCol, nBuckets))
    bigramSurprisalFromPairs(pinned, nBuckets, scale)
  }

  /** [[bigramSurprisal]] from an already-built (and caller-pinned)
    * (doc_id, cb, bb) pair table — e.g. [[pairsFromPositions]] over a
    * shared [[positionBuckets]] pin. Bit-identical to the text form.
    */
  def bigramSurprisalFromPairs(
      pairs: DataFrame,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    // BOUNDED-model collect (r20): both count tables are ≤ nBuckets
    // rows by construction, so ONE kind-exploded aggregation pass over
    // the (caller-pinned) pairs fits both, collects, and the quantized
    // glog tables ride the scoring pass as two array literals — where
    // the r19 form ran two aggregation jobs, built two broadcasts and
    // joined twice. Counts are identical (one k=0/k=1 row per pair);
    // glogD is the bit-identical driver twin of the glog column
    // (DsirSpec) and [[roundQ]] is Round's own HALF_UP, so every
    // glq — and the oracle hash — is unchanged.
    val counts = pairs
      .select(
        explode(
          array(
            struct(lit(0).as("k"), col("cb").as("b")),
            struct(lit(1).as("k"), col("bb").as("b"))
          )
        ).as("kb")
      )
      .groupBy(col("kb.k").as("k"), col("kb.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val glqU = new Array[Long](nBuckets)
    val glqB = new Array[Long](nBuckets)
    counts.foreach { r =>
      val b = r.getLong(1).toInt
      val n = r.getLong(2)
      if (r.getInt(0) == 0) glqU(b) = roundQ(glogD(n + nBuckets) * scale.toDouble)
      else glqB(b) = roundQ(glogD(n + 1) * scale.toDouble)
    }
    // every pair's cb/bb is in its fit by construction — lookups total
    val u = element_at(typedLit(glqU.toSeq), col("cb").cast("int") + 1)
    val b = element_at(typedLit(glqB.toSeq), col("bb").cast("int") + 1)
    pairs
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(u - b).as("nll_q")
      )
      .withColumn(
        "avg_nll",
        (col("nll_q").cast("double") / scale.toDouble) / col("n_bigrams")
      )
  }

  /** [[bigramSurprisal]] against PRE-BUILT at-rest model tables
    * ([[surprisalCtxFold]]/[[surprisalBigFold]] maintained by
    * `SketchIngest.ingestCountBatch`) — the STREAMING form: score a
    * micro-batch with one explode + two broadcast joins, never
    * touching the corpus the model summarizes. Buckets unseen by the
    * model take the smoothed priors (ctx: glog(0+B); bigram:
    * glog(0+1) = 0). When the model tables are the fold of the scored
    * docs themselves, output is bit-identical to [[bigramSurprisal]]
    * (spec-pinned).
    */
  def bigramSurprisalFromModels(
      docs: DataFrame,
      ctxCounts: DataFrame,
      bigCounts: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    bigramSurprisalFromModelsOverPairs(
      bigramPairBuckets(docs, textCol, idCol, nBuckets),
      ctxCounts,
      bigCounts,
      nBuckets,
      scale
    )
  }

  /** [[bigramSurprisalFromModels]] over an already-built (doc_id, cb,
    * bb) pair table — e.g. [[pairsFromPositions]] from a shared pin.
    * Bit-identical to the text form.
    */
  def bigramSurprisalFromModelsOverPairs(
      pairs: DataFrame,
      ctxCounts: DataFrame,
      bigCounts: DataFrame,
      nBuckets: Int = 4096,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(nBuckets > 0 && scale > 0, "need nBuckets > 0, scale > 0")
    val ctxT = ctxCounts.select(
      col("bucket").as("cb"),
      round(glog(col("n") + nBuckets) * scale).cast("long").as("glq_u")
    )
    val bigT = bigCounts.select(
      col("bucket").as("bb"),
      round(glog(col("n") + 1) * scale).cast("long").as("glq_b")
    )
    val dfltU = math.round(glogD(nBuckets.toLong) * scale)
    pairs
      .join(broadcast(ctxT), Seq("cb"), "left")
      .join(broadcast(bigT), Seq("bb"), "left")
      .withColumn("_u", coalesce(col("glq_u"), lit(dfltU)))
      .withColumn("_b", coalesce(col("glq_b"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("_u") - col("_b")).as("nll_q")
      )
      .withColumn(
        "avg_nll",
        (col("nll_q").cast("double") / scale.toDouble) / col("n_bigrams")
      )
  }

  /** Driver-side twin of `round(d).cast("long")` — Spark's
    * Round(DoubleType, 0) is `BigDecimal.valueOf(d).setScale(0,
    * HALF_UP)` (the CellOps.round6 convention; HALF_UP, not
    * math.round's floor(+0.5), so negative log-ratios round away from
    * zero exactly like the column form), and the long cast of the
    * integral result is exact at these magnitudes.
    */
  private[ops] def roundQ(d: Double): Long =
    java.math.BigDecimal
      .valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .longValue()

  /** Driver-side twin of [[glog]] (same IEEE op sequence on the JVM —
    * bit-identical to the Column form, DsirSpec-pinned); used for
    * literal defaults where the value is a compile-time constant.
    */
  private[ops] def glogD(x: Long): Double = {
    require(x >= 1, "glogD domain: x >= 1")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val m = x.toDouble / math.pow(2.0, e.toDouble)
    val r = math.sqrt(math.sqrt(m))
    val z = (r - 1.0) / (r + 1.0)
    val w = z * z
    val horner = 1.0 + w * (1.0 / 3.0 + w * (1.0 / 5.0 + w * (1.0 / 7.0 +
      w * (1.0 / 9.0 + w * (1.0 / 11.0 + w * (1.0 / 13.0 + w * (1.0 / 15.0)))))))
    e.toDouble * 0.6931471805599453 + 8.0 * (z * horner)
  }

  private def scoreGrams(rawG: DataFrame, lr: DataFrame, scale: Long): DataFrame =
    rawG
      .join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("lrq")).as("logw_q")
      )
      .withColumn("logw", col("logw_q").cast("double") / scale.toDouble)
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.ops._

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL) per
  * implemented operator from SURVEY.md §2.
  *
  * Numeric-parity conventions (Spark vs DuckDB must hash-match):
  *  - money sums are computed as integer cent-sums
  *    (`round(x*100)::long`), which are EXACT in any summation order;
  *  - small-magnitude derived doubles (avgs, scores, similarities) are
  *    `round(_, 4)`;
  *  - `floor()` instead of double->int casts (DuckDB rounds, Spark
  *    truncates);
  *  - timestamps are exported as epoch micros or formatted strings,
  *    never raw (ns-vs-us parquet physical types).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** money -> exact integer cents (deterministic across engines). */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  private def microsOf(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Last-event-per-user state within a time window — the "snapshot at t"
    * used to exercise the CDC diff on the deterministic events table.
    * Reads via eventsBetween so the range predicate prunes parquet row
    * groups instead of filtering post-conversion.
    */
  private def snapshotAt(s: SparkSession, dir: String, lo: String, hi: String): DataFrame =
    Analytics
      .latestPerKey(
        graft.sources.Tables.eventsBetween(s, dir, lo, hi),
        Seq("user_id"),
        "ts",
        "event_id"
      )
      .select(col("user_id"), col("value"), col("event_type").as("etype"), col("props"))

  private[graft] val prevLo = "2024-01-10 00:00:00"
  private[graft] val prevHi = "2024-01-10 06:00:00"
  private[graft] val newLo = "2024-01-20 00:00:00"
  private[graft] val newHi = "2024-01-20 06:00:00"

  /** The explicit state list for the Markov queries — known event
    * vocabulary; states outside the list are excluded by contract
    * (both sides pivot on exactly these — shared with the generated
    * oracle in [[SparkEntryOracles]]).
    */
  private[graft] val markovStates = Seq("click", "error", "purchase", "signup", "view")

  /** Shared recall-gate tail of the ANN driver queries (q40/q71/q73/
    * q75): per-query hits against the exact top-5, plus corpus recall
    * computed EXACTLY — CAST(Σ hits AS DOUBLE) / (5.0 · CAST(n_queries
    * AS DOUBLE)), integer window sums and one fixed IEEE expression, so
    * the SQL oracle replays every bit (the earlier avg() over per-query
    * recall doubles was summation-order-dependent). Rows survive only
    * when the corpus bound holds, so a recall collapse still fails the
    * driver's rows>0 check loudly.
    */
  private def annRecallGate(exact: DataFrame, approx: DataFrame): DataFrame = {
    // single-partition window, BOUNDED by construction (r20 window
    // audit): its input is one row per PROBE QUERY (the fixed ≤20-query
    // recall set), never corpus rows — at any corpus size this stays a
    // one-task pass over ≤20 rows. A broadcast-agg rewrite would
    // re-execute (or have to pin) the whole ANN subtree twice.
    val w = Window.partitionBy(lit(1))
    exact
      .join(
        approx.select(col("qid"), col("cid"), lit(1L).as("_hit")),
        Seq("qid", "cid"),
        "left"
      )
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("hits"))
      .select(col("qid"), col("hits"), (col("hits") / 5.0).as("recall_at_5"))
      .withColumn(
        "corpus_recall",
        sum(col("hits")).over(w).cast("double") /
          (lit(5.0) * count(lit(1)).over(w).cast("double"))
      )
      .filter(col("corpus_recall") >= 0.9)
  }

  /** Flagship: CDC snapshot diff on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    SnapshotDiff.diff(
      snapshotAt(spark, dir, "2024-01-10 00:00:00", "2024-01-20 00:00:00"),
      Some(snapshotAt(spark, dir, "2024-01-01 00:00:00", "2024-01-10 00:00:00")),
      "user_id"
    )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesBase ++ queriesRound12

  private def queriesBase: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 + A-class: filtered scan with predicate pushdown + exact agg
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(
            cents(col("l_extendedprice")) *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))
          ).as("revenue_e4"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("n")
        )
    }),

    // J1: the core CDC snapshot-diff operator (insert/update/delete)
    "q02_snapshot_diff" -> ((s, dir) => {
      SnapshotDiff
        .diff(snapshotAt(s, dir, newLo, newHi), Some(snapshotAt(s, dir, prevLo, prevHi)), "user_id")
        .select(
          col("event_type"),
          col("key_value"),
          size(col("changed")).as("n_changed"),
          element_at(col("old_values"), "value").cast("double").as("old_value"),
          element_at(col("new_values"), "value").cast("double").as("new_value")
        )
    }),

    // A4/W2: SCD2 fold (valid_from / valid_to / is_current)
    "q03_scd2_versions" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 30)
      Scd2
        .apply(ev, Seq("user_id"), payloadCol = "props")
        .select(
          col("user_id"),
          col("event_id"),
          col("data"),
          microsOf(col("valid_from")).as("vf_us"),
          microsOf(col("valid_to")).as("vt_us"),
          col("is_current")
        )
    }),

    // P4/W1: current-state view (latest version per key)
    "q04_current_state" -> ((s, dir) => {
      Analytics
        .latestPerKey(t(s, dir, "events"), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("value"))
    }),

    // A1: event histogram with rollup grand total
    "q05_event_histogram" -> ((s, dir) => Analytics.eventHistogram(t(s, dir, "events"))),

    // A2/J4/ST6: daily tumbling counts, calendar gap-filled with zeros
    "q06_daily_gapfill" -> ((s, dir) => {
      val daily =
        Analytics.dailyCounts(t(s, dir, "events"), filterExpr = col("event_type") === "error")
      Analytics
        .gapFill(daily, "2023-12-28", "2024-02-03")
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"), col("value"))
    }),

    // O1-O3: deterministic top-k
    "q07_top_orders" -> ((s, dir) => {
      Analytics
        .topK(t(s, dir, "orders"), "o_totalprice", "o_orderkey", 10)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    }),

    // W3/W4: rolling z-score anomaly detection over the daily series
    "q08_anomaly_scores" -> ((s, dir) => {
      val daily =
        Analytics.dailyCounts(t(s, dir, "events"), filterExpr = col("event_type") === "error")
      val series = Analytics
        .gapFill(daily, "2023-12-28", "2024-02-03")
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"), col("value"))
      Anomaly
        .score(series, Seq.empty, lookback = 7, threshold = 2.0)
        .select(
          col("date"),
          col("value"),
          round(col("expected_value"), 4).as("expected_value"),
          round(col("score"), 4).as("score"),
          col("is_anomaly")
        )
    }),

    // R1: unpivot wide -> long
    "q09_unpivot_lineitem" -> ((s, dir) => {
      Reshape.unpivot(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        idCols = Seq("l_orderkey", "l_linenumber"),
        valueCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      )
    }),

    // R2/R3: pivot long -> wide with plan-time value list
    "q10_pivot_events" -> ((s, dir) => {
      Reshape
        .pivotCounts(
          t(s, dir, "events"),
          "user_id",
          "event_type",
          Seq("click", "error", "purchase", "signup", "view")
        )
        // n_ prefix: bare `view` is a reserved word in the oracle dialect
        .select(
          col("user_id"),
          col("click").as("n_click"),
          col("error").as("n_error"),
          col("purchase").as("n_purchase"),
          col("signup").as("n_signup"),
          col("view").as("n_view")
        )
    }),

    // U1 + broadcast join: union of heterogeneous inputs + dim join
    "q11_union_by_nation" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.unionByName(su)
        .join(broadcast(t(s, dir, "nation")), col("nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"))
    }),

    // U2: anti join (key-set difference). The orders side is restricted
    // to one year so the difference is non-empty at every SF (with the
    // full table every customer has an order and the check is vacuous).
    "q12_customers_no_orders" -> ((s, dir) => {
      val orders95 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1996-01-01"))
      t(s, dir, "customer")
        .join(orders95, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),

    // F1-F7: scalar function surface (sanitize/hash/split/cast)
    "q13_scalar_functions" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        Fns.sanitizeName(col("p_type")).as("type_sanitized"),
        substring(md5(col("p_name")), 1, 8).as("name_md5_8"),
        element_at(split(col("p_brand"), "#"), 2).as("brand_id"),
        upper(element_at(split(col("p_type"), " "), 1)).as("type_head"),
        Fns.toNumeric(col("p_size")).as("size_num")
      )
    }),

    // J1 generalized: composite-key diff (engine extension; the
    // reference keys on the single first column only)
    "q45_multikey_diff" -> ((s, dir) => {
      def snap(lo: String, hi: String) =
        Analytics
          .latestPerKey(
            graft.sources.Tables.eventsBetween(s, dir, lo, hi),
            Seq("user_id", "event_type"),
            "ts",
            "event_id"
          )
          .select(col("user_id"), col("event_type"), col("value"))
      SnapshotDiff
        .diffKeys(snap(newLo, newHi), snap(prevLo, prevHi), Seq("user_id", "event_type"))
        .select(
          col("user_id").cast("long").as("user_id"),
          col("event_type"),
          col("change_type"),
          element_at(col("old_values"), "value").cast("double").as("old_value"),
          element_at(col("new_values"), "value").cast("double").as("new_value")
        )
    }),

    // J1 detail: per-column {old,new} change map, exploded
    "q14_changed_columns" -> ((s, dir) => {
      SnapshotDiff
        .diff(snapshotAt(s, dir, newLo, newHi), Some(snapshotAt(s, dir, prevLo, prevHi)), "user_id")
        .filter(col("event_type") === "update")
        .select(col("key_value"), explode(col("changed")).as(Seq("col_name", "ch")))
        .select(
          col("key_value"),
          col("col_name"),
          col("ch.old").as("old_val"),
          col("ch.new").as("new_val")
        )
    }),

    // J2-ish: per-key previous-version lookup via lag
    "q15_prev_value_lookup" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id") < 10)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("value"), col("prev_value"))
    }),

    // Dedup: exact (hash-groupBy on content fingerprint)
    "q16_dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    // Dedup: brute-force word-3-gram Jaccard via shingle inverted index
    "q17_ngram_jaccard" -> ((s, dir) => {
      Dedup
        // maxDocFreq = None: EXACT mode (the default caps posting lists
        // and would make the result approximate — not hash-pinnable)
        .ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", shingleSize = 3,
          threshold = 0.5, maxDocFreq = None)
        .select(col("i"), col("j"), (floor(col("jaccard") * 10000) / 10000).as("jaccard"))
    }),

    // Dedup: MinHash + LSH banding (candidates verified by exact Jaccard).
    // Oracle: DedupSimilaritySpec asserts LSH pair set == exact-Jaccard
    // pair set at this threshold (recall 1 on this corpus), so the
    // exact-Jaccard SQL is a valid hash oracle for the LSH output.
    "q18_minhash_lsh" -> ((s, dir) => {
      Dedup
        // maxBucket = None: exact mode for the hash oracle
        .minHashLshPairs(t(s, dir, "documents"), "text", "doc_id", threshold = 0.5,
          maxBucket = None)
        .select(col("i"), col("j"), (floor(col("jaccard") * 10000) / 10000).as("jaccard"))
    }),

    // Dedup: 64-bit SimHash, banded candidates, hamming <= 16. Token
    // hash is the md5-derived 60-bit variant so DuckDB can replay the
    // whole pipeline hash-exactly (see Dedup.md5TokenHash; the xxhash64
    // default is pinned bit-parity in HashExpressionsSpec instead).
    "q19_simhash_pairs" -> ((s, dir) => {
      Dedup
        .simHashPairs(t(s, dir, "documents"), "text", "doc_id", maxHamming = 16,
          maxBucket = None, tokenHash = Dedup.md5TokenHash)
        .select(col("i"), col("j"), col("hamming").cast("long").as("hamming"))
    }),

    // Similarity search: brute-force cosine top-5 for 20 query vectors
    "q20_embedding_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 20), "embedding", "vec_id", 5)
        .select(
          col("qid"),
          col("cid"),
          round(col("cosine"), 4).as("cs4"),
          col("rank").cast("long").as("rnk")
        )
    }),

    // kNN classification: exact cosine top-5 neighbors majority-voted
    // into a predicted label per query (ties: votes desc, nearer
    // neighbor wins, then smaller label). votes is a long count and
    // confidence one IEEE long/long division rounded to 4dp, so the
    // relational replay is hash-exact.
    "q76_knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .knnClassify(emb, emb.filter(col("vec_id") < 20), "embedding", "vec_id", "label", k = 5)
    }),

    // Similarity: IVF ANN (Lloyd k-means cells, nProbe probing) measured
    // as recall against the exact brute-force top-5. HASH-EXACT as of
    // round 12: training is quantized-integer Lloyd (order-independent
    // means, exact-integer assignment cosines), so the oracle replays
    // the full training loop as a CTE chain; the in-query recall gate
    // stays as the operational collapse alarm.
    "q40_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      annRecallGate(
        Similarity
          .bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
          .select(col("qid"), col("cid")),
        Similarity.ivfTopK(emb, qs, "embedding", "vec_id", 5, nCells = 16, nProbe = 8)
      )
    }),

    // Similarity: random-hyperplane LSH candidate pairs above cosine 0.3
    "q21_embedding_lsh" -> ((s, dir) => {
      Dedup
        .embeddingNearDupPairs(t(s, dir, "embeddings"), "embedding", "vec_id", dim = 64,
          threshold = 0.3, maxBucket = None)
        .select(col("i"), col("j"), round(col("cosine"), 4).as("cs4"))
    }),

    // Text analysis: marker-token language ID
    "q22_langid" -> ((s, dir) => TextAnalysis.langId(t(s, dir, "documents"), "text", "doc_id")),

    // Text analysis: surface-statistics quality scoring
    "q23_text_quality" -> ((s, dir) => TextAnalysis.quality(t(s, dir, "documents"), "text", "doc_id")),

    // Text analysis: token counting (whitespace + BPE-ish estimate)
    "q24_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"), "text", "doc_id")),

    // Text analysis: normalized-content fingerprint + dup-group size
    "q25_fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(t(s, dir, "documents"), "text", "doc_id")),

    // Gopher-style repetition/format quality signals. Duplicate lines
    // are synthesized deterministically (same concat in the oracle) so
    // the duplicate-line fractions are exercised non-vacuously.
    "q43_gopher_quality" -> ((s, dir) => {
      val lined = t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws(
          "\n",
          col("text"),
          substring(col("text"), 1, 40),
          substring(col("text"), 1, 40),
          lit("unique tail")
        ).as("text")
      )
      TextAnalysis.gopherQuality(lined, "text", "doc_id")
    }),

    // PII redaction (emails/URLs synthesized deterministically per doc —
    // the corpus itself carries none, which would make the check vacuous)
    "q44_pii_redaction" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com or https://ex.org/p/"),
          col("doc_id").cast("string")
        ).as("text")
      )
      TextAnalysis.redactPii(withPii, "text", "doc_id")
    }),

    // Deterministic stratified sampling: 20 docs per (lang, source)
    // stratum by md5-order (reproducible reservoir analog)
    "q47_stratified_sample" -> ((s, dir) => {
      Sampling
        .perGroupSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
          Seq("lang"),
          "doc_id",
          20
        )
        .select(col("doc_id"), col("lang"))
    }),

    // Token-budget mixing: walk each lang stratum in md5 order keeping
    // docs until ~2000 whitespace tokens are accumulated (soft cap)
    "q48_token_budget_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), size(Fns.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling
        .budgetPerGroup(docs, Seq("lang"), "doc_id", "n_tokens", 2000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // Sequence packing: docs -> ~4000-token training sequences per lang
    "q54_sequence_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), size(Fns.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling
        .packSequences(docs, Seq("lang"), "doc_id", "n_tokens", 4000L)
        .select(col("doc_id"), col("lang"), col("seq_id"))
    }),

    // Domain-mix report: per-source doc/token counts and token share —
    // the input to mixture-weight decisions (which sources to up/down
    // sample). ONE scan+groupBy; the grand total is a window over the
    // already-aggregated handful of source rows (not a second scan).
    "q57_source_mix" -> ((s, dir) => {
      // unpartitioned share-of-total window, BOUNDED by construction
      // (r20 window audit): it runs over the POST-aggregation frame —
      // one row per source — never corpus rows; a broadcast-agg
      // rewrite would re-execute the tokenize aggregation twice
      val wAll = Window.partitionBy()
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(Fns.tokens(col("text")))).cast("long").as("n_tokens")
        )
        .select(
          col("source"),
          col("n_docs"),
          col("n_tokens"),
          (floor(col("n_tokens") * 10000.0 / sum(col("n_tokens")).over(wAll)) / 10000.0)
            .as("token_share")
        )
    }),

    // Containment dedup: docs wholly contained (word-aligned) in a
    // longer doc. Non-vacuous by construction: every doc_id % 31 == 0
    // contributes a 12-token middle slice as a synthetic "excerpt" doc
    // guaranteed to be contained in its parent. Exact mode for the hash
    // oracle (maxDocFreq = None).
    "q59_containment_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val slices = docs
        .filter(col("doc_id") % 31 === 0)
        .select(
          (col("doc_id") + 600000L).as("doc_id"),
          concat_ws(" ", slice(Fns.tokens(col("text")), 3, 12)).as("text")
        )
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(slices)
      Dedup.containmentPairs(corpus, "text", "doc_id", shingleSize = 8, maxDocFreq = None)
    }),

    // Substring-level exact dedup (Lee et al. 2022): maximal token runs
    // occurring >= 2 times corpus-wide, as [start, end) token offsets.
    // Catches shared boilerplate inside otherwise-unique documents —
    // the level below q16's whole-document fingerprints. Grams+postings
    // +run-merge; no pairing stage, so no quadratic blowup to cap.
    // Raw-string grams here so DuckDB replays the equality classes
    // (hashGrams=true, the xxhash64 production default, is spec-pinned
    // equal on a collision-free corpus).
    "q65_duplicate_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "text", "doc_id",
        gramTokens = 8, minCount = 2, hashGrams = false)),

    // The doc-level signal over q65's spans: duplicated-token fraction
    // per document (what a curation pipeline thresholds to drop mostly-
    // boilerplate docs). Integer counts + floor-trunc4 fraction.
    "q66_dup_span_fraction" -> ((s, dir) =>
      Dedup.duplicateSpanFraction(t(s, dir, "documents"), "text", "doc_id",
        gramTokens = 8, minCount = 2, hashGrams = false)),

    // SemDeDup end-to-end (Abbas et al. 2023): q21's LSH-bucket +
    // exact-cosine pair stage -> connected components -> keep the
    // min-id representative per component with its component size.
    // Same params as q21 so the candidate generation is the already-
    // pinned one; maxBucket=None because the oracle replays unbounded
    // buckets.
    "q67_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id", dim = 64,
        threshold = 0.3, maxBucket = None)),

    // Corpus recon, exact-replayable half: pairwise source-similarity
    // matrix from per-source MinHash slot signatures over word 3-gram
    // shingles (the hash-exact counterpart of corpusOverlapEstimate's
    // HLL pass). md5 token hash for the oracle replay; production
    // default is xxhash64 (same trade as q19).
    "q68_source_similarity" -> ((s, dir) =>
      Dedup.sourceSimilarityMatrix(t(s, dir, "documents"), "text", "source",
        shingleSize = 3, numSlots = 128, tokenHash = Some(Dedup.md5TokenHash))),

    // Corpus recon report: ranked source-pair list (the order the exact
    // decontamination/cross-dedup pass consumes pairs in). The driver
    // compares the hash-exact half — MinHash matrix + rank; the HLL
    // whole-document overlap columns ride along in the operator but are
    // sketch-implementation-specific, so the query projects them out
    // (same split as corpusOverlapEstimate being spec-only).
    "q74_corpus_recon" -> ((s, dir) =>
      Dedup
        .corpusRecon(t(s, dir, "documents"), "text", "source",
          shingleSize = 3, numSlots = 128, tokenHash = Some(Dedup.md5TokenHash))
        .select(col("rnk"), col("source_a"), col("source_b"),
          col("matching_slots"), col("est_jaccard"))),

    // Corpus-relative frequency quality score (libm-free CCNet stand-in):
    // per doc, mean corpus df of token occurrences + rare-occurrence
    // fraction (integer rare rule: df*1000 <= n_docs*permille).
    "q69_corpus_freq_quality" -> ((s, dir) =>
      TextAnalysis.corpusFrequencyScore(t(s, dir, "documents"), "text", "doc_id")),

    // PQ ANN: m=8 one-byte codes per 64-dim vector (32x at-rest cut vs
    // float32); like q40, no SQL oracle can score an approximate index,
    // so the recall gate lives IN the query — rows only survive when
    // the corpus-level recall@5 bound holds.
    // Robust anomaly scoring: per-event-type median/MAD robust z over
    // the event values (50% breakdown point vs the mean/std model).
    // Hash-exact: exact-percentile parity is pinned by q51, everything
    // downstream is single IEEE ops; MAD=0 groups yield null scores.
    "q72_robust_anomaly" -> ((s, dir) =>
      Anomaly
        .robustScore(t(s, dir, "events"), Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"), col("robust_z"),
          col("is_anomaly"))),

    "q71_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      annRecallGate(
        Similarity
          .bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
          .select(col("qid"), col("cid")),
        Similarity
          .pqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64, m = 8, kCodes = 256, rerank = 16)
      )
    }),

    // IVF-PQ composition — the real 100 TB ANN shape: IVF prunes WHICH
    // vectors are scored (nProbe of nCells cells), PQ shrinks WHAT is
    // scanned for them (8 one-byte codes vs 64 floats), exact rerank
    // keeps the final ranking honest. Like q40/q71, no SQL oracle can
    // score an approximate index, so the recall gate lives IN the query
    // — rows only survive when corpus-level recall@5 >= 0.9 holds.
    "q73_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      annRecallGate(
        Similarity
          .bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
          .select(col("qid"), col("cid")),
        Similarity.ivfPqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64,
          nCells = 16, nProbe = 8, m = 8, kCodes = 256, rerank = 16)
      )
    }),

    // Residual IVF-PQ (Jégou §IV opt-in): the PQ codes quantize
    // v - centroid(cell) instead of the raw vector — the standard
    // recall-per-byte win at the same (m, kCodes) budget, decoded as
    // centroid + residual at probe time. Same in-query recall@5 >= 0.9
    // gate as q73 (no SQL oracle can score an approximate index); the
    // residual >= residual-free comparison at a tight code budget is
    // spec-pinned (DedupSimilaritySpec).
    "q75_ivfpq_residual_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      annRecallGate(
        Similarity
          .bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
          .select(col("qid"), col("cid")),
        Similarity.ivfPqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64,
          nCells = 16, nProbe = 8, m = 8, kCodes = 256, rerank = 16, residual = true)
      )
    }),

    // JL random projection 64 -> 16 dims, long format for the compare
    // (one row per (vec_id, dim_idx); the operator itself returns the
    // projected array for pipeline composition).
    "q70_random_projection" -> ((s, dir) =>
      Similarity
        .randomProject(t(s, dir, "embeddings"), "embedding", "vec_id", dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim_idx", "value")))),

    // Data-mix drift: per-source TV / chi-square divergence vs the
    // corpus token distribution over the top-200 tokens. Hash-exact by
    // construction: IEEE-only per-cell terms, DECIMAL(30,12) sums (see
    // TextAnalysis.sourceDivergence's determinism contract).
    "q60_source_divergence" -> ((s, dir) =>
      TextAnalysis.sourceDivergence(t(s, dir, "documents"), "text", "source", topK = 200)),

    // Mixture flattening: alpha=0.5 temperature sampling over sources
    // (small sources up-weighted vs their natural share; sqrt-only so
    // the draw replays bit-identically in the oracle — see
    // Sampling.temperatureSample).
    "q61_temperature_mix" -> ((s, dir) =>
      Sampling
        .temperatureSample(t(s, dir, "documents"), "source", "doc_id", targetRows = 2000L)
        .select(col("doc_id"), col("source"))),

    // Gopher repetition, n-gram half: top-2/3-gram char fraction +
    // duplicated-5-gram mass, per doc, entirely map-side (the oracle
    // replays the same math relationally — independent formulation).
    "q62_ngram_repetition" -> ((s, dir) =>
      TextAnalysis.ngramRepetition(t(s, dir, "documents"), "text", "doc_id")),

    // Context-window chunking: 64-token chunks with 8 tokens of left
    // overlap — the document -> training-sequence prep step; map-side
    // posexplode, no shuffle.
    "q63_chunk_documents" -> ((s, dir) =>
      TextAnalysis
        .chunkDocuments(t(s, dir, "documents"), "text", "doc_id", chunkTokens = 64, overlap = 8)),

    // DQ: key-skew profile of the event stream's user_id — the
    // hot-key measurement that justifies salting / AQE skew handling.
    "q64_skew_profile" -> ((s, dir) =>
      Checks.skewProfile(t(s, dir, "events"), "user_id", topK = 20)),

    // A1-via-chatbot: the reference chatbot's one real query shape
    // (chatbot.py:150-163) — last-7-days filter + per-type counts +
    // rollup grand total, anchored at the newest event for determinism
    "q58_chatbot_rollup" -> ((s, dir) => Chatbot.historicalAsOf(t(s, dir, "events"), days = 7)),

    // Benchmark decontamination: training docs sharing any word 3-gram
    // with the eval split (doc_id % 97 == 0 plays the benchmark)
    "q55_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "text",
          "doc_id",
          n = 3
        )
    }),

    // Incremental exact dedup: a new batch (half replayed corpus text,
    // half genuinely-new suffixed text) deduped against the full corpus
    // via bloom prefilter + exact anti-join confirm
    "q56_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newBatch = docs
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(
          docs
            .filter(col("doc_id") % 7 === 1)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(" v2")).as("text"))
        )
      Dedup.incrementalExact(newBatch, docs, "text", "doc_id", expectedHistoryItems = 100000L)
    }),

    // Deterministic train/val/test split: md5-hex bucket in [0,4096)
    // carved by cumulative fractions — stable under reprocessing/
    // appends/repartitioning, entirely map-side (no global window)
    "q53_split_assignment" -> ((s, dir) => {
      Sampling.assignSplit(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      )
    }),

    // Multimodal: binary media column + metadata projection (decode is
    // stubbed; the Spark plumbing — schema/pruning/batching — is real)
    "q26_multimodal_meta" -> ((s, dir) => {
      Multimodal.metadata(Multimodal.attachBinary(t(s, dir, "documents"), "text", "doc_id"))
    }),

    // J2/W2: point-in-time (as-of) state — the temporal-table lookup
    "q27_asof_state" -> ((s, dir) => {
      val scd = Scd2.apply(
        graft.sources.Tables.eventsBetween(s, dir, "2024-01-01 00:00:00", "2024-01-20 00:00:00"),
        Seq("user_id"),
        payloadCol = "props"
      )
      Scd2
        .asOf(scd, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
        .select(col("user_id"), col("event_id"), col("data"))
    }),

    // A5/ST4 (batch analog): every-Nth-event marker per key
    "q28_every_nth" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("seq", row_number().over(w))
        .filter(pmod(col("seq"), lit(10)) === 0)
        .select(col("user_id"), col("event_id"), col("seq").cast("long").as("seq"))
    }),

    // P2: drop rows whose payload columns are all null
    "q29_drop_allnull_rows" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")).as("lang"),
          when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("source")).as("source")
        )
        .na.drop("all", Seq("lang", "source"))
    }),

    // Custom Aggregator surface (§2.11): per-key series scored by the
    // typed ZScoreAggregator (same model as q08; agreement with the
    // window implementation is asserted in ZScoreAggregatorSpec, so a
    // rows-only check suffices here)
    "q31_anomaly_aggregator" -> ((s, dir) => {
      import s.implicits._
      val daily =
        Analytics.dailyCounts(t(s, dir, "events"), filterExpr = col("event_type") === "error")
      val series = Analytics
        .gapFill(daily, "2023-12-28", "2024-02-03")
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"), col("value"))
      series
        .as[(String, Double)]
        .groupByKey(_ => 0)
        .agg(new graft.plans.ZScoreAggregator(lookback = 7, threshold = 2.0).toColumn)
        .flatMap(_._2)
        .select(
          col("ts").as("date"),
          col("value"),
          round(col("expected_value"), 4).as("expected_value"),
          round(col("score"), 4).as("score"),
          col("is_anomaly")
        )
    }),

    // Vocabulary: deterministic top-k corpus token frequencies
    "q32_top_tokens" -> ((s, dir) =>
      TextAnalysis.topTokens(t(s, dir, "documents"), "text", 20)),

    // TF-IDF weights (df/N over the full corpus, output restricted)
    "q33_tfidf" -> ((s, dir) => {
      TextAnalysis
        .tfIdf(t(s, dir, "documents"), "text", "doc_id")
        .filter(col("doc_id") < 50)
    }),

    // Corpus near-dedup: cluster MinHash-LSH pairs, keep min-id per
    // cluster. Oracle: LSH pairs == exact-Jaccard pairs on this corpus
    // (DedupSimilaritySpec), so the keepers equal connected-component
    // minima over the exact pair set — computed in SQL via a recursive
    // transitive-closure CTE.
    "q34_dedup_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(docs, "text", "doc_id", threshold = 0.5,
        maxBucket = None)
      Dedup.dedupCorpus(docs, "doc_id", pairs).select(col("doc_id"))
    }),

    // Exact interpolated percentiles per group (sort-based `percentile`;
    // both engines use the same linear-interpolation definition, so the
    // match is bit-exact — verified including float representation)
    "q51_percentiles" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"),
          expr("percentile(n_chars, 0.99)").as("p99"),
          count(lit(1)).as("n")
        )
    }),

    // Canonical 3-way analytical join (TPC-H Q3 shape): dim filter
    // broadcast, fact-fact shuffle join, agg + deterministic top-10
    "q52_shipping_priority" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-01-01"))
        .select(
          col("l_orderkey"),
          cents(col("l_extendedprice")).as("pc"),
          round(col("l_discount") * 100).cast("long").as("dc")
        )
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("pc") * (lit(100L) - col("dc"))).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("l_orderkey"))
        .limit(10)
        .select(
          col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"),
          col("revenue_e4")
        )
    }),

    // Distinct aggregates (absent from the reference; table stakes at
    // scale — Catalyst plans the expand + two-phase agg)
    "q38_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")
        )
    }),

    // CUBE grouping sets over two dimensions with subtotal labels
    "q39_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"),
          col("sum_qty")
        )
    }),

    // Top-k per group: highest-value orders within each market segment
    "q36_topk_per_segment" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")))
      Analytics
        .topKPerGroup(
          o.join(c, col("o_custkey") === col("c_custkey")),
          Seq("c_mktsegment"),
          "o_totalprice",
          "o_orderkey",
          3
        )
        .select(
          col("c_mktsegment"),
          col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"),
          col("rank").cast("long").as("rnk")
        )
    }),

    // Sessionization: 30-minute-gap sessions per user
    "q37_sessionize" -> ((s, dir) => {
      Analytics
        .sessionize(
          t(s, dir, "events").filter(col("user_id") < 20),
          Seq("user_id"),
          "ts",
          "event_id",
          gapSeconds = 1800
        )
        .select(col("user_id"), col("event_id"), col("session_id"))
    }),

    // As-of join (engine extension; absent from the reference): each
    // purchase matched to the user's latest click at or before it
    "q35_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      AsOfJoin
        .asOf(purchases, clicks, Seq("user_id"), "ts", "click_ts", prefix = "m_")
        .select(
          col("user_id"),
          col("event_id"),
          col("m_click_id").as("click_id"),
          unix_micros(col("m_click_ts").cast("timestamp")).as("click_ts_us")
        )
    }),

    // Skew mitigation: two-phase salted count+sum must equal the plain
    // aggregate (the oracle computes it unsalted — algebraic identity)
    "q41_salted_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_cents"))
      Skew
        .saltedCountSum(li, Seq("l_returnflag"), "price_cents")
        .select(col("l_returnflag"), col("n"), col("sum").as("sum_cents"))
    }),

    // F2/F4/F5/F6: the name/id scalar functions not covered by q13
    "q42_name_functions" -> ((s, dir) => {
      val sheet = regexp_replace(col("p_name"), " ", "-")
      t(s, dir, "part").select(
        col("p_partkey"),
        Fns.metricSafeName(
          concat(col("p_name"), lit(" ("), col("p_type"), lit(") 50% & up"))
        ).as("metric_name"),
        Fns.statementOf(sheet).as("stmt"),
        Fns.frequencyOf(sheet).as("freq"),
        Fns.contentId(col("p_brand"), col("p_name")).as("content_id"),
        Fns.companyIdFromFilename(concat(sheet, lit(".xlsx"))).as("company_id")
      )
    }),

    // Range join (engine extension; survey lists range/interval joins
    // absent): orders within 90 days of each customer's first order,
    // via the chunked equi-join — never a broadcast-nested-loop
    "q46_range_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      val iv = o
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("lo"))
        .select(
          col("o_custkey"),
          col("lo"),
          (col("lo") + expr("INTERVAL 90 DAYS")).as("hi")
        )
      RangeJoin
        .pointInInterval(o, iv, Seq("o_custkey"), "o_orderdate", "lo", "hi",
          chunkSeconds = 30L * 86400L)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          unix_micros(col("lo").cast("timestamp")).as("lo_us")
        )
    }),

    // Data-quality referential check: orders whose customer is missing
    // from a (deterministically restricted) parent set — violations out
    "q49_referential_check" -> ((s, dir) => {
      val parent = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"))
      Checks
        .orphans(t(s, dir, "orders"), parent, Seq("o_custkey"), Seq("c_custkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orphans"))
    }),

    // Interval-overlap join: each customer's first-120-days-of-1995
    // window against their first-120-days-of-1996 window (overlaps only
    // when the 1995 window starts late and the 1996 one starts early)
    "q50_interval_overlap" -> ((s, dir) => {
      def firstWindow(yr: Int) =
        t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === yr)
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("lo"))
          .withColumn("hi", col("lo") + expr("INTERVAL 120 DAYS"))
      RangeJoin
        .intervalOverlap(
          firstWindow(1995),
          firstWindow(1996),
          Seq("o_custkey"),
          "lo", "hi", "lo", "hi",
          chunkSeconds = 60L * 86400L
        )
        .select(
          col("o_custkey"),
          unix_micros(col("lo").cast("timestamp")).as("lo_us"),
          unix_micros(col("r_lo").cast("timestamp")).as("r_lo_us")
        )
    }),

    // F9: JSON encode/decode round trip of the event payload
    "q30_json_roundtrip" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 20)
      val encoded = ev.select(
        col("event_id"),
        to_json(struct(col("event_type"), col("value"))).as("payload")
      )
      encoded
        .select(
          col("event_id"),
          expr("from_json(payload, 'event_type string, value double')").as("p")
        )
        .select(col("event_id"), col("p.event_type").as("event_type"), col("p.value").as("value"))
    }),

    // Mergeable histogram sketches: per-source n_chars histograms (64
    // bins over [0, 1024)), merged to a corpus-level 'ALL' sketch by
    // exact long addition — the pre-aggregation that answers quantile
    // questions at 100 TB without rescanning raw data — then p50/p90/p99
    // read from the sketches by in-bin linear interpolation.
    "q77_sketch_quantiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sk = Sketches.histogramSketch(docs, "n_chars", Seq("source"), 0.0, 1024.0, 64)
      val all = Sketches
        .mergeSketches(sk, Nil)
        .withColumn("source", lit("ALL"))
        .select(col("source"), col("bin"), col("n"))
      Sketches
        .quantilesFromSketch(
          sk.select(col("source"), col("bin"), col("n")).unionByName(all),
          Seq("source"),
          Seq(0.5, 0.9, 0.99),
          0.0,
          1024.0,
          64
        )
        .select(col("source"), col("p"), round(col("q_est"), 4).as("q_est"))
    }),

    // Corpus-level boilerplate strip: a deterministic 8-token license
    // header + footer is affixed to every doc (the corpus itself has no
    // cross-doc boilerplate, which would make the check vacuous), then
    // segments occurring in >= 50 distinct docs are stripped and the
    // doc text rebuilt from the survivors.
    "q78_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("begin standard license header notice text follows now "),
          col("text"),
          lit(" copyright footer all rights reserved forever here end")
        ).as("text")
      )
      TextAnalysis.stripBoilerplate(docs, "text", "doc_id", segTokens = 8, minDocs = 50)
    }),

    // DSIR importance resampling: score every doc by how 'en'-like its
    // hashed unigram+bigram distribution is (target = lang='en' docs,
    // raw = whole corpus). Hash-exact across engines via the
    // deterministic glog + quantized-long-sum tricks (Dsir scaladoc).
    "q79_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dsir.importanceWeightsWithin(
        docs,
        col("lang") === "en",
        "text",
        "doc_id",
        nBuckets = 4096,
        scale = 1000000000L
      )
    }),

    // Z-order (Morton) clustering key over (l_partkey, l_suppkey):
    // per-row 32-bit z-value from 16-bit ranks against the observed
    // bounds (one bounded min/max agg — 4 longs to the driver), plus
    // the 64-way file bucket a clustered write would assign (top 6
    // z-bits — exact shift, no sampling, so the oracle reproduces it).
    // Exact integer arithmetic end-to-end: hash-exact across engines.
    "q80_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val Array(b) = li
        .agg(
          min(col("l_partkey").cast("long")), max(col("l_partkey").cast("long")),
          min(col("l_suppkey").cast("long")), max(col("l_suppkey").cast("long"))
        )
        .collect()
      val z = ZOrder.zValue2(
        col("l_partkey"), b.getLong(0), b.getLong(1),
        col("l_suppkey"), b.getLong(2), b.getLong(3)
      )
      li.select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        col("l_suppkey"),
        z.as("zval")
      ).withColumn("zbucket", shiftright(col("zval"), 26))
    }),

    // CDF / rank normalization from the histogram sketch — per-row
    // percent-rank WITHOUT a global sort: cumulative bin counts (exact
    // longs) broadcast back onto rows, linear in-bin interpolation.
    "q81_cdf_normalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sk = Sketches.histogramSketch(docs, "n_chars", Seq("source"), 0.0, 1024.0, 64)
      Sketches.cdfFromSketch(
        docs.select(col("doc_id"), col("source"), col("n_chars")),
        "n_chars",
        Seq("source"),
        sk,
        0.0,
        1024.0,
        64
      )
    }),

    // Sketch-driven equi-depth partitioning: assign each doc a stable
    // balanced partition id from the GLOBAL n_chars sketch (the
    // skew-proof, cross-job-stable alternative to repartitionByRange
    // sampling), then prove the balance + range-contiguity properties
    // as per-pid stats.
    "q82_equidepth" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sk = Sketches.histogramSketch(docs, "n_chars", Nil, 0.0, 1024.0, 64)
      Sketches
        .equiDepthPartition(
          docs.select(col("doc_id"), col("n_chars")),
          "n_chars",
          sk,
          0.0,
          1024.0,
          64,
          k = 16
        )
        .groupBy(col("pid"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("lo_chars"),
          max(col("n_chars")).as("hi_chars")
        )
    }),

    // Perplexity filtering: per-doc surprisal under a hashed bigram
    // model of the corpus itself (CCNet-style statistical quality
    // pass). Deterministic via glog + per-bucket quantized long sums.
    "q83_perplexity" -> ((s, dir) =>
      Dsir.bigramSurprisal(t(s, dir, "documents"), "text", "doc_id")
    ),

    // Split-leakage QA: after the deterministic 80/10/10 carve, how
    // many val/test docs share a 3-token shingle with train. The
    // reference side is the train corpus — shuffle equi-join on the
    // gram, not a broadcast.
    "q84_split_leakage" -> ((s, dir) =>
      TextAnalysis.splitLeakage(
        t(s, dir, "documents"),
        "text",
        "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      )
    ),

    // Boilerplate strip from the AT-REST segment-count model (the
    // streaming stage-0 path): the model is boilerFold run over two
    // DISJOINT halves and merged by exact long addition — what
    // SketchIngest maintains across micro-batches — and the strip
    // flags against the merged counts. Hash-exact against the SAME
    // one-pass oracle as q78: merged fold == in-corpus frequencies is
    // the equivalence this query pins cross-engine.
    "q85_boiler_from_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("begin standard license header notice text follows now "),
          col("text"),
          lit(" copyright footer all rights reserved forever here end")
        ).as("text")
      )
      val fold = TextAnalysis.boilerFold("text", "doc_id", segTokens = 8)
      val model = fold(docs.filter(col("doc_id") % 2 === 0))
        .unionByName(fold(docs.filter(col("doc_id") % 2 =!= 0)))
        .groupBy(col("seg"))
        .agg(sum(col("n")).as("n"))
      TextAnalysis.stripBoilerplateFromModel(docs, "text", "doc_id", 8, 50, model)
    }),

    // The COMPOSED five-stage curation pipeline end-to-end, hash-exact:
    // boilerplate strip (synthetic frequent header) → quality gate →
    // perplexity gate fitted on the post-quality survivors → exact
    // dedup → DSIR selection against the lang='en' target with the
    // exact rank cut (oracle-grade opt-in; the sketch-CDF default is
    // the scale path, exercised by CurationSpec). Every stage's
    // arithmetic reuses an already-oracled kernel (q78/q23/q83/q16/q79),
    // so this query pins their COMPOSITION — including the stage
    // handoffs (rebuilt text feeding the gates, survivor-set model
    // fits) — against one assembled DuckDB chain.
    "q86_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("begin standard license header notice text follows now "),
          col("text"),
          lit(" copyright footer all rights reserved forever here end")
        ).as("text"),
        col("lang")
      )
      val (kept, _) = graft.ops.Curation.curateDeferred(
        docs,
        "text",
        "doc_id",
        targetCond = col("lang") === "en",
        minQuality = 0.3,
        maxAvgNll = 9.0,
        segTokens = 8,
        minDocsBoiler = 50,
        keepFraction = 0.5,
        exactRank = true
      )
      kept
    }),
    // Retrieval: BM25 top-k over posting lists — candidate postings
    // pruned by a broadcast of the query tokens BEFORE any shuffle;
    // idf via the integer-argument glog difference, per-term scores
    // quantized to longs, per-(query,doc) sums exact. Deterministic
    // rank ties broken by doc_id.
    "q87_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark join merge"),
        (2L, "window filter scan"),
        (3L, "customer vector data")
      ).toDF("query_id", "qtext")
      // r20: corpus-direct form — the token prune runs BELOW the
      // tf-aggregation (only the query's tokens' occurrences shuffle)
      // and the pin shrinks from the full posting table to the
      // candidate set; results == bm25TopK over invertedIndex
      // (spec-pinned)
      Retrieval.bm25TopKFromCorpus(
        t(s, dir, "documents"), "text", "doc_id", qs, "query_id", "qtext", k = 5)
    }),
    // Classification: hashed-gram multinomial NB (fastText-style
    // langid/quality classifier) — train on even doc_ids, predict
    // lang for odd. Every score an exact quantized-long sum; argmax
    // tie-broken by label asc. The synthetic lang labels carry no
    // real text signal (ClassifySpec proves learning on separable
    // data); this query pins the hash-exact scoring mechanics.
    "q88_nb_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
      val test = docs.filter(col("doc_id") % 2 =!= 0)
      Classify
        .nbTrainPredict(train, test, "text", "doc_id", "lang")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("pred"), col("score_q"), col("n_grams"))
    }),
    // Ordered funnel: users completing view → click → purchase, each
    // step strictly after the previous one's completion time. Every
    // later stage joins only its own type-pruned slice on user_id.
    "q89_funnel" -> ((s, dir) =>
      Analytics.funnel(
        t(s, dir, "events"),
        "user_id",
        "ts",
        "event_type",
        Seq("view", "click", "purchase")
      )),
    // Weekly retention triangle: cohort week = floor(days since
    // 2024-01-01 / 7) of each user's first event; distinct users per
    // (cohort_week, week_offset). Integer week math — no
    // engine-specific week truncation.
    "q90_retention" -> ((s, dir) =>
      Analytics.retentionCohorts(t(s, dir, "events"), "user_id", "ts", "2024-01-01")),
    // TPC-H Q5-shaped six-table join: revenue by nation where customer
    // and supplier share the nation, one order-year, one region. Fixed
    // dims (region, nation) broadcast by hand; supplier/customer joins
    // stay shuffle joins so the plan survives SFs where they stop
    // fitting in memory (AQE broadcasts them at small SF on its own).
    // Revenue is the house exact integer form: cents x (100 - discount
    // cents), summed as longs.
    "q91_local_supplier_volume" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      val n = t(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_suppkey"),
        cents(col("l_extendedprice")).as("pc"),
        round(col("l_discount") * 100).cast("long").as("dc")
      )
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("pc") * (lit(100L) - col("dc"))).as("revenue_e4"),
          count(lit(1)).as("n_items")
        )
    }),
    // Trailing 7-day active users per day — (user, day) dedup once,
    // then a map-side explode into window-end days replaces the
    // range join. Exact distinct counts; the HLL per-day-sketch form
    // is the at-rest scale path (RollingDistinctSpec).
    "q92_rolling_actives" -> ((s, dir) =>
      Analytics.rollingActiveUsers(t(s, dir, "events"), "user_id", "ts", windowDays = 7)),
    // Efraimidis–Spirakis weighted sample without replacement, weights
    // = n_chars: exponential keys from seeded md5 uniforms via the
    // integer-argument glog, k smallest win. Bit-exact cross-engine.
    "q93_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars",
        "doc_id",
        k = 100,
        seed = "g93"
      )),
    // First-order Markov transitions over per-user event sequences:
    // one user-key shuffle feeds the lead() window, then a tiny k×k
    // grid agg; P(to|from) from exact-long counts.
    "q94_event_transitions" -> ((s, dir) =>
      Analytics.eventTransitions(t(s, dir, "events"), "user_id", "ts", "event_id", "event_type")),
    // TPC-H Q10-shaped returned-item revenue: revenue is pre-aggregated
    // to one row per customer BEFORE the customer join (the join input
    // shrinks from line items to customers), nation broadcasts, top-20
    // total-ordered by (revenue desc, custkey).
    "q95_returned_items" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-04-01") && col("o_orderdate") < lit("1996-07-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(
          col("l_orderkey"),
          cents(col("l_extendedprice")).as("pc"),
          round(col("l_discount") * 100).cast("long").as("dc")
        )
      val rev = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("pc") * (lit(100L) - col("dc"))).as("revenue_e4"))
      val c = t(s, dir, "customer").select(
        col("c_custkey"),
        col("c_name"),
        col("c_nationkey"),
        cents(col("c_acctbal")).as("acctbal_cents")
      )
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      rev
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue_e4"), col("acctbal_cents"))
    }),
    // Deterministic Lloyd's k-means on exact integer features
    // (n_chars × space count), k=4, 3 iterations; output is the final
    // cluster profile in exact longs. Each iteration: map-side assign
    // against literal centroids + a k-row groupBy.
    "q96_kmeans" -> ((s, dir) => {
      val p = t(s, dir, "documents").select(
        col("doc_id"),
        col("n_chars").as("x"),
        (length(col("text")) - length(translate(col("text"), " ", ""))).cast("long").as("y")
      )
      Cluster.kmeansProfile(p, "doc_id", "x", "y", k = 4, iters = 3)
    }),
    // Misra–Gries heavy hitters with exact confirm: tokens holding
    // ≥ 2% of all token occurrences, exact counts. Pass 1 is map-side
    // constant-memory summaries; pass 2 a broadcast semi-join + count.
    "q97_heavy_hitters" -> ((s, dir) =>
      Sketches.heavyHitters(
        t(s, dir, "documents").select(explode(Fns.tokens(col("text"))).as("token")),
        "token",
        capacity = 64,
        minFreq = 0.02
      )),
    // Pearson correlation matrix from EXACT integer moments (decimal
    // sums, one full-scan agg with map-side combine); the r values are
    // one fixed IEEE expression over exact sums — bit-identical
    // cross-engine. Price is in whole DOLLARS, not cents: correlation
    // is scale-invariant, and the dollar moments stay below 2^53 at
    // bench scale, where int64→double casts are exact in BOTH engines
    // (DuckDB's int128→double is off by 1 ulp above 2^64 — measured).
    "q98_correlation" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice")).cast("long").as("price_d"),
        round(col("l_discount") * 100).cast("long").as("disc_c"),
        round(col("l_tax") * 100).cast("long").as("tax_c")
      )
      Stats.pearsonMatrix(l, Seq("qty", "price_d", "disc_c", "tax_c"))
    }),
    // Shannon entropy (nats) of each source's token distribution —
    // source-diversity profiling via glog + exact quantized-long sums.
    "q99_source_entropy" -> ((s, dir) =>
      Stats.tokenEntropy(t(s, dir, "documents"), "text", "source")),
    // Pointwise mutual information between lang and source — the
    // dependence / leakage check. One corpus shuffle builds the grid;
    // marginals are re-aggregations of the grid riding broadcasts.
    "q100_lang_source_pmi" -> ((s, dir) =>
      Stats.pmiGrid(t(s, dir, "documents"), "lang", "source")),
    // TPC-H Q14-shaped promo revenue share: conditional aggregation
    // over the part join, ratio from exact cent sums.
    "q101_promo_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-05-01") && col("l_shipdate") < lit("1996-06-01"))
        .select(
          col("l_partkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev")
        )
      val p = t(s, dir, "part").select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("is_promo"), col("rev")).otherwise(lit(0L))).as("promo_revenue_e4"),
          sum(col("rev")).as("total_revenue_e4")
        )
        .select(
          col("promo_revenue_e4"),
          col("total_revenue_e4"),
          (lit(100.0) * col("promo_revenue_e4").cast("double") /
            col("total_revenue_e4").cast("double")).as("promo_pct")
        )
    }),
    // TPC-H Q18-shaped large orders: the quantity rollup happens on
    // lineitem ALONE (one groupBy, map-side combined), and only the
    // ≥150 survivors join orders/customer — the join input collapses
    // before any wide row is built.
    "q102_large_orders" -> ((s, dir) => {
      val lq = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
        .filter(col("total_qty") >= 150L)
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        cents(col("o_totalprice")).as("totalprice_cents")
      )
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      lq.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("c_name"), col("order_date"), col("totalprice_cents"), col("total_qty"))
    }),
    // TPC-H Q4-shaped priority report: orders with ≥1 returned line in
    // the window, counted by priority — a LEFT SEMI join (no row
    // multiplication however many lines match).
    "q103_priority_returns" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-04-01"))
      val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      o.join(ret, o("o_orderkey") === ret("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),
    // Cluster-balanced sample: k-means assignment (as q96), then the 25
    // smallest seeded-md5 keys per cluster — the even-across-modes
    // selection step of a curation mixture.
    "q104_cluster_sample" -> ((s, dir) => {
      val p = t(s, dir, "documents").select(
        col("doc_id"),
        col("n_chars").as("x"),
        (length(col("text")) - length(translate(col("text"), " ", ""))).cast("long").as("y")
      )
      Cluster.clusterBalancedSample(p, "doc_id", "x", "y", k = 4, iters = 3, perCluster = 25, seed = "g104")
    }),
    // Monthly revenue per order priority with running cumulative cents
    // and cumulative share — the partitioned running-total window shape
    // (never a global sort; one shuffle on the priority key).
    "q105_cumulative_revenue" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(
          col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month")
        )
        .agg(sum(cents(col("o_totalprice"))).as("month_cents"))
      val byP = Window.partitionBy(col("o_orderpriority"))
      val cum = byP.orderBy(col("month")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      monthly
        .withColumn("cum_cents", sum(col("month_cents")).over(cum))
        .withColumn(
          "cum_share",
          col("cum_cents").cast("double") / sum(col("month_cents")).over(byP).cast("double")
        )
    }),
    // TPC-H Q17-shaped small-quantity revenue: lineitems with qty below
    // half their part's average. The correlated average is ONE partial
    // agg per part joined back on the part key, and the threshold
    // compare is pure integers (qty·2·cnt < sum_qty) — no division, no
    // FP, exact at any scale.
    "q106_small_qty_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(
        col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        cents(col("l_extendedprice")).as("pc")
      )
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      l.join(perPart, col("l_partkey") === col("pk"))
        .filter(col("qty") * 2L * col("cnt") < col("sum_qty"))
        .agg(
          sum(col("pc")).as("revenue_cents"),
          count(lit(1)).as("n_items")
        )
    }),
    // TPC-H Q15-shaped top supplier: quarterly revenue per supplier,
    // keep every supplier tying the maximum. The max is a 1-row
    // broadcast; equality is exact (integer revenue), so the argmax is
    // deterministic cross-engine — the classic "join back to the max"
    // without a window over everything.
    "q107_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(
          sum(cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("revenue_e4")
        )
      val mx = rev.agg(max(col("revenue_e4")).as("max_rev"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val top = rev
        .crossJoin(broadcast(mx))
        .filter(col("revenue_e4") === col("max_rev"))
      // the tied-max set is a handful of rows — IT broadcasts onto
      // supplier, never the other way around
      sup
        .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("revenue_e4"))
    }),
    // Language-ID evaluation: confusion matrix of labeled vs predicted
    // lang. The label rides THROUGH the langid projection (no re-join
    // on doc_id); one tiny grid shuffle + a window over the grid.
    "q108_langid_confusion" -> ((s, dir) =>
      Classify.confusionMatrix(
        TextAnalysis.langId(t(s, dir, "documents"), "text", "doc_id", keep = Seq("lang")),
        "lang",
        "pred_lang"
      )),
    // Winsorized length profile: clamp n_chars into each source's
    // sketch-derived [p05, p95] band (bounds broadcast, clamp is a
    // projection), then exact quantized-long sums of the clamped
    // values. The robust-preprocessing composition over q77's sketch.
    "q110_winsorized_lengths" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sk = Sketches.histogramSketch(docs, "n_chars", Seq("source"), 0.0, 1024.0, 64)
      Sketches
        .winsorizeFromSketch(docs, "n_chars", Seq("source"), sk, 0.05, 0.95, 0.0, 1024.0, 64)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(round(col("n_chars_winsor") * 10000).cast("long")).as("sum_winsor_q")
        )
    }),
    // 3-feature k-means profile over the N-D core: (n_chars, spaces,
    // 'e'-count), k=3, 2 iterations — same map-side literal-centroid
    // assignment, exact-long profile output.
    "q112_kmeans_3d" -> ((s, dir) => {
      val p = t(s, dir, "documents").select(
        col("doc_id"),
        col("n_chars").as("x"),
        (length(col("text")) - length(translate(col("text"), " ", ""))).cast("long").as("y"),
        (length(col("text")) - length(translate(col("text"), "e", ""))).cast("long").as("z")
      )
      Cluster
        .kmeansAssignND(p, "doc_id", Seq("x", "y", "z"), k = 3, iters = 2)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"),
          sum(col("z")).as("sum_z")
        )
    }),
    // Month-over-month revenue growth per priority: lag() on the
    // aggregated month grid (tiny, partitioned by priority — never a
    // window over raw orders). Growth is a fixed-order double ratio of
    // exact cent sums; the first month's growth is null in both engines.
    "q111_mom_growth" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(
          col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month")
        )
        .agg(sum(cents(col("o_totalprice"))).as("month_cents"))
      val byP = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
      monthly
        .withColumn("prev_cents", lag(col("month_cents"), 1).over(byP))
        .withColumn(
          "growth",
          when(
            col("prev_cents").isNotNull && col("prev_cents") =!= 0L,
            (col("month_cents") - col("prev_cents")).cast("double") /
              col("prev_cents").cast("double")
          )
        )
    }),
    // Per-type least-squares trend of daily event volume — the drift
    // monitor. Day index and counts are exact integers; the fit is the
    // exact-moment OLS (one grid shuffle + a moments projection).
    "q109_daily_trend" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(
          col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x")
        )
        .agg(count(lit(1)).as("y"))
      Stats
        .trendPerGroup(daily, Seq("event_type"), "x", "y")
        .withColumnRenamed("n", "n_days")
    })
  )

  /** Round-12 additions: the remaining classic TPC-H join shapes
    * (Q7/Q8/Q9/Q12/Q13/Q19/Q21/Q22 re-expressed over this schema) and
    * the distribution window functions (ntile / percent_rank /
    * cume_dist — always partitioned; the global-window ban holds).
    * All money math follows the cents/e4 integer conventions; every
    * threshold that TPC-H states as an average is cross-multiplied
    * into integer form (no FP compare can flip a boundary row).
    */
  private def queriesRound12: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q7 shape: bilateral trade volume — revenue by (supplier
    // nation, customer nation, year). Dims broadcast; the only big
    // shuffle is lineitem⋈orders on the order key.
    "q113_nation_pair_volume" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val cus = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select(
          col("l_orderkey"),
          col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (cents(col("l_extendedprice")) *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
        )
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("snk"))
        .join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev")).as("revenue_e4"), count(lit(1)).as("n_lines"))
    }),
    // TPC-H Q8 shape: market share of NATION_3 suppliers within ASIA
    // customers, per year. Numerator and denominator are exact e4
    // integers; the share is the single int/int double division.
    "q114_market_share" -> ((s, dir) => {
      val asiaNations = t(s, dir, "nation")
        .join(
          broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey")
        )
        .select(col("n_nationkey").as("cnk"))
      val cus = t(s, dir, "customer")
        .join(broadcast(asiaNations), col("c_nationkey") === col("cnk"), "left_semi")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val supN3 = t(s, dir, "supplier")
        .join(
          broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey")
        )
        .select(col("s_suppkey").as("n3_suppkey"))
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_suppkey"),
        col("l_shipdate"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
      )
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(supN3), col("l_suppkey") === col("n3_suppkey"), "left_outer")
        .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(
          sum(when(col("n3_suppkey").isNotNull, col("rev")).otherwise(0L)).as("nation_rev_e4"),
          sum(col("rev")).as("total_rev_e4")
        )
        .withColumn(
          "mkt_share",
          col("nation_rev_e4").cast("double") / col("total_rev_e4").cast("double")
        )
    }),
    // TPC-H Q9 shape: profit by supplier nation × year, with
    // p_retailprice·qty as the cost leg (no partsupp table in this
    // schema). rev and cost are both e4 integers.
    "q115_profit_by_nation" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("nation"))
      val prt = t(s, dir, "part").select(col("p_partkey"), cents(col("p_retailprice")).as("cost_c"))
      val li = t(s, dir, "lineitem").select(
        col("l_partkey"),
        col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        round(col("l_quantity")).cast("long").as("qty"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
      )
      li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("nation"), col("l_year"))
        .agg(sum(col("rev") - col("cost_c") * col("qty") * 100L).as("profit_e4"))
    }),
    // TPC-H Q12 shape: per line status, how many high- vs low-priority
    // orders shipped in 1997 — the count-if discipline on a joined
    // stream (one shuffle on the order key, dims none).
    "q116_linestatus_priority" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)
          ).as("high_line_count"),
          sum(
            when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)
          ).as("low_line_count")
        )
    }),
    // TPC-H Q13 shape: distribution of orders-per-customer, zero bucket
    // included via the left outer join. Two shuffles: custkey, then the
    // tiny count-of-counts grid.
    "q117_custdist" -> ((s, dir) => {
      val perCust = t(s, dir, "customer")
        .select(col("c_custkey"))
        .join(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"),
          "left_outer"
        )
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    }),
    // TPC-H Q19 shape: disjunctive brand/size/quantity predicates —
    // three OR'd conjunct groups evaluated in one joined pass (the
    // filter sits above a single partkey equi-join; no union of scans).
    "q118_disjunctive_revenue" -> ((s, dir) => {
      val prt = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = t(s, dir, "lineitem").select(
        col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
      )
      li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) && col("qty").between(1, 20)) ||
            (col("p_brand") === "Brand#22" && col("p_size").between(10, 30) && col("qty").between(10, 30)) ||
            (col("p_brand") === "Brand#33" && col("p_size").between(20, 50) && col("qty").between(20, 50))
        )
        .agg(sum(col("rev")).as("revenue_e4"), count(lit(1)).as("n_items"))
    }),
    // TPC-H Q21 shape: among orders drawing on ≥2 distinct suppliers,
    // find the ones where EXACTLY ONE supplier had a returned line, and
    // charge that supplier. Pure aggregation — no correlated EXISTS
    // pair, one (orderkey, suppkey) rollup then an orderkey rollup.
    "q119_sole_failing_supplier" -> ((s, dir) => {
      val perOrderSupp = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("has_ret"))
      val perOrder = perOrderSupp
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_supp"),
          sum(col("has_ret")).as("n_ret_supp"),
          max(when(col("has_ret") === 1L, col("l_suppkey"))).as("failing_supp")
        )
        .filter(col("n_supp") >= 2L && col("n_ret_supp") === 1L)
      perOrder
        .join(
          broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("failing_supp") === col("s_suppkey")
        )
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    }),
    // TPC-H Q22 shape: idle rich customers — balance above the global
    // average of positive balances (cross-multiplied to exact cents ·
    // count, never an FP threshold) and no orders (anti join).
    "q120_idle_rich_customers" -> ((s, dir) => {
      val cus = t(s, dir, "customer").select(
        col("c_custkey"),
        col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_c")
      )
      val thr = cus
        .filter(col("bal_c") > 0L)
        .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("cnt"))
      val ord = t(s, dir, "orders").select(col("o_custkey"))
      cus
        .crossJoin(broadcast(thr))
        .filter(col("bal_c") * col("cnt") > col("sum_c"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_cents"))
    }),
    // Distribution windows I: decile profile of document length per
    // source — ntile(10) over a TOTAL order (n_chars, doc_id), then a
    // per-(source, decile) rollup. Partitioned window; 20 sources ≫ 1
    // partition each.
    "q121_length_deciles" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("source"), col("decile"))
        .agg(
          count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars")
        )
    }),
    // Distribution windows II: percent_rank / cume_dist of customer
    // balance within each nation, over a total order (bal, custkey).
    // Both are single int/int divisions — bit-identical cross-engine.
    "q122_balance_ranks" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .filter(col("c_nationkey") < 5)
        .select(
          col("c_nationkey").cast("long").as("nationkey"),
          col("c_custkey"),
          cents(col("c_acctbal")).as("bal_c")
        )
      val w = Window.partitionBy(col("nationkey")).orderBy(col("bal_c"), col("c_custkey"))
      base
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
    }),
    // Markov-chain stationary distribution of the event-type process:
    // the corpus work is ONE partitioned-window pass + a k² grid; the
    // k×k matrix collects to the driver and 12 power-method steps run
    // there with every FP op pinned (see Markov.stationary — mirrored
    // literally by the generated oracle CTE chain).
    "q123_markov_stationary" -> ((s, dir) =>
      Markov.stationary(
        s,
        Markov.transitionCounts(t(s, dir, "events"), "user_id", "ts", "event_id", "event_type"),
        markovStates,
        iters = 12
      )),
    // TPC-H Q2 shape: cheapest-line supplier per part — the argmin
    // join-back discipline (grouped min, join back on the min, integer
    // tie-break by min suppkey), then a nation rollup. No window over
    // parts, no correlated subquery.
    "q124_min_cost_supplier" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), cents(col("l_extendedprice")).as("pc"))
      val mn = l.groupBy(col("l_partkey").as("pk")).agg(min(col("pc")).as("m"))
      val cheap = l
        .join(mn, col("l_partkey") === col("pk") && col("pc") === col("m"))
        .groupBy(col("l_partkey"))
        .agg(min(col("l_suppkey")).as("cheap_supp"), min(col("pc")).as("min_cents"))
      cheap
        .join(
          broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
          col("cheap_supp") === col("s_suppkey")
        )
        .join(
          broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey")
        )
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_parts"), sum(col("min_cents")).as("sum_min_cents"))
    }),
    // TPC-H Q11 shape: parts whose revenue exceeds 0.1% of the global
    // total — the HAVING-above-global-scalar discipline, integer
    // cross-multiplied (part_e4 · 1000 > total_e4), total as a 1-row
    // broadcast.
    "q125_important_parts" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(
        col("l_partkey"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
      )
      val perPart = l.groupBy(col("l_partkey")).agg(sum(col("rev")).as("value_e4"))
      val total = perPart.agg(sum(col("value_e4")).as("total_e4"))
      perPart
        .crossJoin(broadcast(total))
        .filter(col("value_e4") * 1000L > col("total_e4"))
        .select(col("l_partkey"), col("value_e4"))
    }),
    // TPC-H Q16 shape: distinct supplier count per (brand, size) for a
    // size set with one brand excluded — supplier relationships derived
    // from lineitem (this schema has no partsupp).
    "q126_part_supplier_counts" -> ((s, dir) => {
      val prt = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#11" && col("p_size").isin(1, 5, 9, 13, 17))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),
    // EWMA of daily event volume with α = 1/2 over a 30-day horizon.
    // Dyadic weights 2^(29−k) make numerator AND denominator exact
    // BIGINTs in any summation order (the one FP op is the final
    // division) — the order-independent-sum discipline, applied to a
    // decayed moving average. Each observed day scatters to its ≤30
    // forward targets (an equi-join grid, never a per-row loop).
    "q127_ewma_daily" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val contrib = daily
        .withColumn("k", explode(sequence(lit(0), lit(29))))
        .select(
          col("event_type").as("et"),
          date_add(col("d"), col("k").cast("int")).as("td"),
          expr("n * shiftleft(cast(1 as bigint), 29 - k)").as("wn"),
          expr("shiftleft(cast(1 as bigint), 29 - k)").as("w")
        )
      val agg = contrib
        .groupBy(col("et"), col("td"))
        .agg(sum(col("wn")).as("num"), sum(col("w")).as("den"))
      agg
        .join(daily, col("et") === col("event_type") && col("td") === col("d"))
        .select(
          col("event_type"),
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n"),
          col("num"),
          col("den"),
          (col("num").cast("double") / col("den").cast("double")).as("ewma")
        )
    }),
    // Day-of-week seasonality profile: per (type, weekday) mean daily
    // volume plus spike/quiet day counts — thresholds cross-multiplied
    // to exact integers (n·nd > 2·tt), never an FP compare.
    "q128_dow_seasonality" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(
          col("event_type"),
          to_date(col("ts")).as("d")
        )
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", dayofweek(col("d")).cast("long"))
      val stats = daily
        .groupBy(col("event_type").as("et"), col("dow").as("sdow"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("tt"))
      daily
        .join(broadcast(stats), col("event_type") === col("et") && col("dow") === col("sdow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(
          max(col("nd")).as("n_days"),
          max(col("tt")).as("total"),
          sum(when(col("n") * col("nd") > col("tt") * 2L, 1L).otherwise(0L)).as("spike_days"),
          sum(when(col("n") * col("nd") * 2L < col("tt"), 1L).otherwise(0L)).as("quiet_days"),
          (max(col("tt")).cast("double") / max(col("nd")).cast("double")).as("avg_n")
        )
    }),
    // Top-component PCA projection of the embedding corpus: one
    // Gram-aggregator pass (d² longs per PARTITION, additive merge),
    // driver power iteration with every FP op pinned and every sum an
    // exact integer (see Pca), then a map-side integer dot-product
    // projection — top 50 by (score, id). The oracle replays the
    // identical quantized iteration as a generated CTE chain.
    "q129_pca_projection" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = Pca.fitTopComponent(emb, "embedding", d = 64, iters = 30, scale = 16384.0)
      emb
        .select(
          col("vec_id"),
          col("label").cast("long").as("label"),
          Pca.projectionScore(col("embedding"), p, 16384.0).as("score_q")
        )
        .orderBy(col("score_q").desc, col("vec_id"))
        .limit(50)
    }),
    // Explicit GROUPING SETS (beyond the q39 cube / q05 rollup):
    // (nation), (nation, year), () in ONE aggregation pass with
    // per-column grouping flags — no union of three scans.
    "q130_grouping_sets" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .join(
          broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey")
        )
        .join(
          broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey")
        )
        .select(
          col("nation"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (cents(col("l_extendedprice")) *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
        )
      base
        .groupingSets(
          Seq(Seq(col("nation")), Seq(col("nation"), col("l_year")), Seq.empty[Column]),
          col("nation"),
          col("l_year")
        )
        .agg(
          sum(col("rev")).as("revenue_e4"),
          grouping(col("nation")).cast("long").as("g_nation"),
          grouping(col("l_year")).cast("long").as("g_year")
        )
    }),
    // RANGE-frame trailing window: 7-CALENDAR-day revenue sum per
    // event type over an integer day index — RANGE (value-based)
    // semantics, not ROWS: gaps in the calendar shrink the frame.
    "q131_trailing_week" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(
          col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("di")
        )
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("di")).rangeBetween(-6, 0)
      daily.withColumn("trailing7", sum(col("n")).over(w))
    }),
    // Set-op surface: INTERSECT of two order-year customer key sets
    // (distinct semantics), then a segment rollup.
    "q132_repeat_customers" -> ((s, dir) => {
      def buyers(yr: Int) =
        t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === yr)
          .select(col("o_custkey"))
      buyers(1996)
        .intersect(buyers(1997))
        .join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")
        )
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_repeat"))
    }),
    // Two-component PCA: second direction via pinned-FP deflation of
    // the normalized covariance by the quantized first component, then
    // a label × sign-quadrant rollup of both projections (exact
    // integer scores; the heavy work is the same one Gram pass + two
    // map-side projections).
    "q133_pca_quadrants" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (p1, p2) = Pca.fitTopTwoComponents(emb, "embedding", d = 64, iters = 30, scale = 16384.0)
      emb
        .select(
          col("label").cast("long").as("label"),
          Pca.projectionScore(col("embedding"), p1, 16384.0).as("s1q"),
          Pca.projectionScore(col("embedding"), p2, 16384.0).as("s2q")
        )
        .groupBy(col("label"), (col("s1q") >= 0L).as("pos1"), (col("s2q") >= 0L).as("pos2"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("s1q")).as("sum1_q"),
          sum(col("s2q")).as("sum2_q")
        )
    }),
    // Blocked fuzzy matching: Levenshtein ≤ 4 over DISTINCT part names
    // paired only within a block (the text after the first space) —
    // distinct-then-block-then-pair, never an all-pairs product.
    "q134_fuzzy_part_names" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .select(col("p_name"))
        .distinct()
        .withColumn("blk", expr("substring(p_name, instr(p_name, ' ') + 1)"))
      val a = names.select(col("blk"), col("p_name").as("name_a"))
      val b = names.select(col("blk").as("blk_b"), col("p_name").as("name_b"))
      a.join(b, col("blk") === col("blk_b") && col("name_a") < col("name_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("lev") <= 4L)
        .select(col("name_a"), col("name_b"), col("lev"))
    }),
    // GLOBAL cumulative sum without a global window: the two-phase
    // scan (bucketed partitioned cumsum + driver prefix of the bounded
    // bucket-total vector + broadcast offsets) — bit-identical to the
    // single-window oracle because every sum is long addition.
    "q135_cumulative_daily" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("di"))
        .agg(count(lit(1)).as("n"))
      PrefixSum
        .cumsum(daily, "di", Seq("n"), bucketWidth = 32L)
        .select(col("di"), col("n"), col("cum_n"))
    }),
    // Exact two-sample Kolmogorov–Smirnov distance between two
    // sources' length distributions: D·n₁·n₂ maximized as an INTEGER
    // before the one division — no FP inside the max.
    "q136_ks_lengths" -> ((s, dir) =>
      PrefixSum.ksTest(
        t(s, dir, "documents"),
        "n_chars",
        col("source") === "src0",
        col("source") === "src1",
        bucketWidth = 256L
      )),
    // Theil–Sen robust trend per event type: median of all pairwise
    // slopes on the (day, count) grid — pairs are grid², not rows²,
    // and the median is the same interpolated exact percentile the
    // engine's anomaly stack already pins against quantile_cont.
    "q137_theil_sen" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(
          col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x")
        )
        .agg(count(lit(1)).as("y"))
      val a = daily.select(col("event_type").as("et"), col("x").as("x1"), col("y").as("y1"))
      val bb = daily.select(col("event_type").as("et2"), col("x").as("x2"), col("y").as("y2"))
      val slopes = a
        .join(bb, col("et") === col("et2") && col("x1") < col("x2"))
        .select(
          col("et").as("event_type"),
          ((col("y2") - col("y1")).cast("double") / (col("x2") - col("x1")).cast("double"))
            .as("slope")
        )
      val med = slopes
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"), expr("percentile(slope, 0.5)").as("median_slope"))
      daily
        .join(broadcast(med), "event_type")
        .groupBy(col("event_type"))
        .agg(
          max(col("n_pairs")).as("n_pairs"),
          max(col("median_slope")).as("median_slope"),
          expr("percentile(cast(y as double) - median_slope * cast(x as double), 0.5)")
            .as("median_intercept")
        )
    }),
    // Chi-squared independence of event type × weekday: per-cell
    // O·N − R·C is an EXACT long; the cell term (diff²/den, two pinned
    // FP ops) is floor-quantized to e-6 so the statistic is an
    // order-independent long sum — no FP Σ across shuffled cells.
    "q138_chi2_independence" -> ((s, dir) => {
      val grid = t(s, dir, "events")
        .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
      val rt = grid.groupBy(col("event_type").as("et")).agg(sum(col("o")).as("r"))
      val ct = grid.groupBy(col("dow").as("dw")).agg(sum(col("o")).as("c"))
      val tot = grid.agg(sum(col("o")).as("n"))
      val cells = grid
        .join(broadcast(rt), col("event_type") === col("et"))
        .join(broadcast(ct), col("dow") === col("dw"))
        .crossJoin(broadcast(tot))
        .withColumn("diff", col("o") * col("n") - col("r") * col("c"))
        .withColumn("den", col("n") * col("r") * col("c"))
        .withColumn(
          "term_q",
          floor(
            col("diff").cast("double") * col("diff").cast("double") /
              col("den").cast("double") * 1000000.0
          ).cast("long")
        )
      cells.agg(
        max(col("n")).as("n"),
        ((countDistinct(col("event_type")) - 1L) * (countDistinct(col("dow")) - 1L)).as("dof"),
        sum(col("term_q")).as("chi2_q"),
        (sum(col("term_q")).cast("double") / 1000000.0).as("chi2")
      )
    }),
    // Benford leading-digit profile of order totals: expected counts
    // from glog (the engine's IEEE-exact cross-engine ln), deviation
    // floor-quantized — digit-grid math is 9 rows, map-side.
    "q139_benford" -> ((s, dir) => {
      val digits = t(s, dir, "orders")
        .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n_d"))
      val tot = digits.agg(sum(col("n_d")).as("n"))
      digits
        .crossJoin(broadcast(tot))
        .withColumn(
          "expected",
          col("n").cast("double") *
            ((Dsir.glog(col("digit") + 1) - Dsir.glog(col("digit"))) / Dsir.glog(lit(10)))
        )
        .withColumn(
          "dev_q",
          floor((col("n_d").cast("double") - col("expected")) * 1000000.0).cast("long")
        )
        .select(col("digit"), col("n_d"), col("n"), col("expected"), col("dev_q"))
    }),
    // Bitwise-aggregate surface: per-user weekday activity mask via
    // bit_or(1 << dow), then a histogram of masks with bit_count.
    "q140_activity_bitmaps" -> ((s, dir) => {
      val masks = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          expr("bit_or(shiftleft(cast(1 as bigint), dayofweek(to_date(ts)) - 1))").as("mask")
        )
      masks
        .groupBy(col("mask"))
        .agg(count(lit(1)).as("n_users"))
        .withColumn("days_active", bit_count(col("mask")).cast("long"))
    }),
    // Multiset difference (EXCEPT ALL): 1996 shipment suppliers minus
    // 1997's, multiplicity-aware — the occurrences a plain EXCEPT
    // (distinct) silently collapses.
    "q141_supplier_except_all" -> ((s, dir) => {
      def ships(yr: Int) =
        t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")) === yr)
          .select(col("l_suppkey"))
      ships(1996)
        .exceptAll(ships(1997))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("surplus"))
    }),
    // Ordered string aggregation: per supplier nation, the sorted CSV
    // of distinct brands shipped — distinct BEFORE the collect (the
    // list is vocabulary-bounded, never row-bounded), sort inside the
    // engine for a deterministic concatenation.
    "q142_brand_signature" -> ((s, dir) => {
      val distinctPairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"))
        .join(
          broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey")
        )
        .join(
          broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey")
        )
        .join(
          broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey")
        )
        .select(col("nation"), col("p_brand"))
        .distinct()
      distinctPairs
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n_brands"),
          concat_ws(",", sort_array(collect_list(col("p_brand")))).as("brand_csv")
        )
    }),
    // Array set-op surface: brand overlap between ADJACENT nations
    // (nationkey n vs n+1) via array_intersect over vocabulary-bounded
    // collect_set arrays, sorted for a deterministic CSV.
    "q143_common_brands" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"))
        .join(
          broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey")
        )
        .join(
          broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey")
        )
        .select(col("s_nationkey").cast("long").as("nk"), col("p_brand"))
        .distinct()
      val sets = pairs
        .groupBy(col("nk"))
        .agg(collect_set(col("p_brand")).as("brands"))
      val a = sets.select(col("nk"), col("brands").as("b1"))
      val b = sets.select((col("nk") - 1L).as("nk2"), col("brands").as("b2"))
      a.join(b, col("nk") === col("nk2"))
        .filter(col("nk") < 6L)
        .select(
          col("nk"),
          size(array_intersect(col("b1"), col("b2"))).cast("long").as("n_common"),
          concat_ws(",", array_sort(array_intersect(col("b1"), col("b2")))).as("common_csv")
        )
    }),
    // Regex extraction surface: capitalized-token counts per source
    // (simple char-class pattern — identical across regex dialects).
    "q144_capitalized_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          sum(size(regexp_extract_all(col("text"), lit("[A-Z][a-z]+"), lit(0))).cast("long"))
            .as("n_caps"),
          count(lit(1)).as("n_docs")
        )),
    // Date-arithmetic surface: orders landing within 3 days of their
    // month end, by priority — last_day + integer day difference.
    "q145_month_end_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(datediff(last_day(col("o_orderdate")), to_date(col("o_orderdate"))) <= 3)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents")
        )),
    // Deterministic mode-per-group: the most common language per
    // source via max(struct(cnt, lang)) over the count grid — a total
    // order (count, then lang desc as the tie-break), never the
    // engine-defined tie of a native mode().
    "q146_mode_lang" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .groupBy(col("source"))
        .agg(
          max(struct(col("cnt"), col("lang"))).as("_m"),
          sum(col("cnt")).as("n_docs")
        )
        .select(
          col("source"),
          col("_m.lang").as("top_lang"),
          col("_m.cnt").as("top_cnt"),
          col("n_docs")
        )
    }),
    // Fulfillment-latency distribution: ship date minus order date in
    // integer days, per priority — exact integer moments (sum, min,
    // max; the mean is one int/int division) plus the pinned
    // interpolated exact median.
    "q147_ship_delay" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          col("o_orderpriority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).cast("long").as("delay")
        )
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          min(col("delay")).as("min_d"),
          max(col("delay")).as("max_d"),
          sum(col("delay")).as("sum_d"),
          (sum(col("delay")).cast("double") / count(lit(1)).cast("double")).as("avg_d"),
          expr("percentile(delay, 0.5)").as("median_d")
        )
    }),
    // Incremental semantic dedup: today's embedding batch (vec_id % 5
    // == 0) finds its near-dups in the at-rest corpus (the rest) —
    // the inline two-frame form, spec-pinned bit-identical to the
    // bucket-pruned index probe (Dedup.incrementalSemanticNearDups /
    // EmbeddingLshIndexSpec), which is what makes the at-rest path's
    // results oracle-checkable here.
    "q148_incremental_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup
        .semanticNearDupsAgainst(
          e.filter(col("vec_id") % 5 =!= 0),
          e.filter(col("vec_id") % 5 === 0),
          "embedding", "vec_id", dim = 64, threshold = 0.3)
        .select(col("i"), col("j"), round(col("cosine"), 4).as("cs4"))
    }),
    // Distributed BPE merge learning, oracle-checked: the first 8
    // learned merges as (rank, left_sym, right_sym). The result is
    // bounded metadata (like q96's centroids), but the computation it
    // pins is the full distributed loop — vocabulary pass, 8 exact
    // pair-count aggregations, deterministic (cnt desc, l, r) argmaxes
    // and left-to-right non-overlapping re-segmentations — replayed
    // merge for merge by the generated oracle (bpeMergesSql).
    "q149_bpe_merges" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      Bpe
        .fitMerges(t(s, dir, "documents"), "text", nMerges = 8)
        .zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "left_sym", "right_sym")
    }),
    // BPE tokenizer APPLICATION: per-doc token counts under the 8
    // learned merges, vocabulary-joined (Bpe.tokenCounts — the merge
    // fold runs once per DISTINCT word, never per occurrence). The
    // oracle re-learns the same chain and maps each word through its
    // final segmentation, so fit AND apply are pinned end-to-end.
    "q150_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.fitMerges(docs, "text", nMerges = 8)
      Bpe.tokenCounts(docs, "text", "doc_id", merges)
    }),
    // Population stability index of the event-type mix across a fixed
    // calendar split — the feature/mix drift monitor a pipeline gates a
    // model refresh on. Laplace-smoothed shares, glog + per-key
    // quantized-long terms (exact order-independent sum); both count
    // tables are SketchIngest-maintainable at rest.
    "q151_psi_drift" -> ((s, dir) => {
      Stats.psi(
        sources.Tables.eventsBetween(s, dir, "2023-12-01 00:00:00", "2024-01-15 00:00:00"),
        sources.Tables.eventsBetween(s, dir, "2024-01-15 00:00:00", "2024-03-01 00:00:00"),
        "event_type"
      )
    }),
    // Cohen's kappa between the langid heuristic and the gold labels —
    // chance-corrected agreement over the q108 confusion counts.
    // Exact-integer moments (decimal products), one final IEEE division.
    "q152_lang_kappa" -> ((s, dir) =>
      Stats.cohenKappa(
        TextAnalysis.langId(t(s, dir, "documents"), "text", "doc_id", keep = Seq("lang")),
        "lang",
        "pred_lang"
      )),
    // Per-doc out-of-vocabulary rate against the corpus's own top-300
    // vocabulary (count desc, token asc — deterministic) — the
    // tokenizer-coverage gate; the vocab is an at-rest table input, so
    // swapping vocabularies never rescans the corpus.
    "q153_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.oovRate(docs, "text", "doc_id", TextAnalysis.topTokens(docs, "text", 300))
    }),
    // WITHIN-doc repeated-segment removal (keep-first) — the crawl
    // artifact the corpus-frequency strip can't catch; one segment
    // explode + one (doc_id, seg)-partitioned window, no model.
    "q154_strip_repeats" -> ((s, dir) =>
      TextAnalysis.stripRepeatedSegments(t(s, dir, "documents"), "text", "doc_id",
        segTokens = 2)),
    // Per-group PSI — "which language's source mix drifted?": one PSI
    // row per lang over its own source distribution across a fixed
    // doc_id parity split. The production monitoring shape of q151.
    "q155_psi_per_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def cnt(cond: org.apache.spark.sql.Column) =
        docs.filter(cond).groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      Stats.psiPerGroup(
        cnt(col("doc_id") % 2 === 0),
        cnt(col("doc_id") % 2 === 1),
        "lang",
        "source"
      )
    }),
    // Exact ROC-AUC (Mann–Whitney with half-credit ties) of the
    // integer-quantized event value "ranking" purchases above the rest
    // — the classifier-QA headline stat, computed from the bounded
    // score grid + a distributed prefix sum: no global rank, no corpus
    // sort, 2·P·N·AUC an exact integer before the one division.
    "q156_roc_auc" -> ((s, dir) =>
      Stats
        .rocAuc(
          t(s, dir, "events").select(
            floor(col("value")).cast("long").as("score_i"),
            col("event_type")
          ),
          "score_i",
          col("event_type") === "purchase",
          bucketWidth = 64L
        )
        .select(
          col("n_pos"),
          col("n_neg"),
          col("auc_num2x").cast("long").as("auc_num2x"),
          col("auc")
        )),
    // Reliability diagram of a claimed-probability score (value/500):
    // per-bin row/positive counts + exact score sums — all addition-
    // mergeable longs, so the diagram is SketchIngest-maintainable at
    // rest; acc/conf are trunc4 readbacks.
    "q157_calibration_bins" -> ((s, dir) =>
      Stats.calibrationBins(
        t(s, dir, "events").select(
          floor(col("value")).cast("long").as("score_i"),
          col("event_type")
        ),
        "score_i",
        col("event_type").isin("purchase", "signup"),
        scale = 500L,
        nBins = 10
      )),
    // Expected calibration error over the q157 bins: the per-bin
    // n·|acc−conf| telescopes to the INTEGER |n_pos·scale − sum_score|,
    // so ECE is one exact long sum and one IEEE division.
    "q158_ece" -> ((s, dir) =>
      Stats
        .eceFromBins(
          Stats.calibrationBins(
            t(s, dir, "events").select(
              floor(col("value")).cast("long").as("score_i"),
              col("event_type")
            ),
            "score_i",
            col("event_type").isin("purchase", "signup"),
            scale = 500L,
            nBins = 10
          ),
          scale = 500L
        )
        .select(col("n"), col("ece_num").cast("long").as("ece_num"), col("ece"))),
    // Zipf profile: glog-OLS slope/intercept of log-freq vs log-rank
    // over the top-200 tokens — the "is this natural language?"
    // corpus fingerprint. TakeOrdered top-k + one bounded-collect rank
    // grid; quantized-long moments in decimal; two fixed IEEE
    // expressions.
    "q159_zipf_profile" -> ((s, dir) =>
      TextAnalysis.zipfProfile(t(s, dir, "documents"), "text", k = 200)),
    // Reciprocal-rank fusion of two BM25 parameterizations (the
    // standard multi-retriever ensemble; rank positions only, so
    // incomparable score scales fuse without calibration). Each
    // contribution is the exact integer 10⁹ div (60+rank); fused
    // scores exact long sums; per-query rank window over the
    // k·|lists|-row grid.
    "q160_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark join merge"),
        (2L, "customer vector data")
      ).toDF("query_id", "qtext")
      // both parameterizations from ONE shared candidate pass (r19);
      // r20: corpus-direct form — the token prune runs BELOW the
      // tf-aggregation and the pin is the candidate set, not the full
      // posting table (results == the postings form, spec-pinned)
      val Seq(lexical, flat) = Retrieval.bm25TopKMultiFromCorpus(
        t(s, dir, "documents"), "text", "doc_id", qs, "query_id", "qtext", k = 20,
        params = Seq((1.2, 0.75), (0.5, 0.5)))
      Retrieval.rrfFuse(Seq(lexical, flat), kConst = 60L, topN = 10)
    }),
    // Greedy maximal-marginal-relevance selection of 8 diverse
    // exemplars (rel = quantized self-energy, λ = 0.5): the
    // iterative-argmax class — each step one map-side projection over
    // the pinned corpus (selected vectors ride as literals) + a 1-row
    // TakeOrdered; exact-integer dots, ties by id. Oracle replays the
    // greedy loop as a generated MATERIALIZED CTE chain.
    "q161_mmr_select" -> ((s, dir) =>
      Similarity.mmrSelect(
        t(s, dir, "embeddings")
          .withColumn("rel_q", Similarity.quantizedEnergy(col("embedding"))),
        "vec_id",
        "embedding",
        "rel_q",
        k = 8,
        dim = 64,
        lambdaPerMille = 500
      )),
    // Stratified ROC-AUC: one exact AUC per source of n_chars
    // "predicting" lang='en' — which shard does a score rank well on?
    // Running negative counts via a window PARTITIONED BY source over
    // the bounded per-source score grid.
    "q162_auc_per_source" -> ((s, dir) =>
      Stats
        .aucPerGroup(t(s, dir, "documents"), "source", "n_chars", col("lang") === "en")
        .select(
          col("source"),
          col("n_pos"),
          col("n_neg"),
          col("auc_num2x").cast("long").as("auc_num2x"),
          col("auc")
        )),
    // Gini concentration of per-user event counts — activity
    // inequality. Raw rows never sort: the distinct-count grid +
    // distributed prefix sum + the closed-form rank-sum expansion.
    "q163_gini_activity" -> ((s, dir) =>
      Stats.gini(
        t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("n_events")),
        "n_events",
        bucketWidth = 16L
      )),
    // Per-doc 3-gram novelty of odd-id docs against the even-id
    // reference corpus — the memorization/freshness QA stat; shuffle
    // gram equi-join (the reference side is corpus-sized), trunc4 rate,
    // shingle-less docs keep a (0, 0, null) row.
    "q164_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.novelty(
        docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0),
        "text",
        "doc_id",
        n = 3
      )
    }),
    // Jensen–Shannon divergence of the event-type mix across the q151
    // calendar split — PSI's bounded symmetric sibling (no smoothing
    // needed: JSD is finite on one-sided keys). glog over integer
    // count·total products, quantized-long term sums.
    "q165_jsd_drift" -> ((s, dir) =>
      Stats.jsd(
        sources.Tables.eventsBetween(s, dir, "2023-12-01 00:00:00", "2024-01-15 00:00:00"),
        sources.Tables.eventsBetween(s, dir, "2024-01-15 00:00:00", "2024-03-01 00:00:00"),
        "event_type"
      )),
    // Spearman rank correlation of quantity vs extended price over one
    // ship-month — monotone dependence without ranking raw rows:
    // bounded joint grid, doubled midranks from marginal prefix sums,
    // decimal moments. The one-month slice keeps every cast operand
    // under 2^64, the cross-engine decimal->double parity bound.
    "q166_spearman" -> ((s, dir) =>
      Stats.spearman(
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1995-02-01"))
          .select(
            col("l_quantity").cast("long").as("qty"),
            cents(col("l_extendedprice")).as("price_c")
          ),
        "qty",
        "price_c",
        bucketWidth = 4096L
      )),
    // Retriever agreement: Jaccard@20 between the two q160 BM25
    // parameterizations per query — the "do my retrievers even
    // disagree enough to be worth fusing?" QA readback. Pure
    // composition over the bounded top-k grids: one full-outer join +
    // one grid aggregate, trunc4 ratio.
    "q167_retrieval_agreement" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark join merge"),
        (2L, "customer vector data")
      ).toDF("query_id", "qtext")
      // both parameterizations from ONE shared candidate pass (r19);
      // r20: corpus-direct form — the token prune runs BELOW the
      // tf-aggregation and the pin is the candidate set, not the full
      // posting table (results == the postings form, spec-pinned)
      val Seq(aT, bT) = Retrieval.bm25TopKMultiFromCorpus(
        t(s, dir, "documents"), "text", "doc_id", qs, "query_id", "qtext", k = 20,
        params = Seq((1.2, 0.75), (0.5, 0.5)))
      val a = aT.select(col("query_id"), col("doc_id"), lit(true).as("in_a"))
      val b = bT.select(col("query_id"), col("doc_id"), lit(true).as("in_b"))
      a.join(b, Seq("query_id", "doc_id"), "full_outer")
        .groupBy("query_id")
        .agg(
          sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_union")
        )
        .select(
          col("query_id"),
          col("n_both"),
          col("n_union"),
          (floor(col("n_both").cast("double") * 10000.0 / col("n_union").cast("double")) /
            10000.0).as("jaccard")
        )
    }),
    // At-rest BPE tokenizer MODEL (round 14): fit once, persist the
    // merge list as a versioned table (rank, left_sym, right_sym +
    // shape/normalization props), then tokenize THROUGH the table —
    // the fit-once-apply-everywhere path a real pipeline runs (before
    // this, a fresh session had to refit to tokenize). Same oracle as
    // q150: the model round-trip must be invisible in the result.
    // BpeSpec additionally pins from-model == inline in a FRESH
    // session and the fail-fast read contract (bare table / shape
    // mismatch / foreign normalization).
    "q168_bpe_model_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Bpe.fitAndWriteModel(docs, "text", "bpe_model_q168", nMerges = 8)
      Bpe.tokenCountsFromModel(docs, "text", "doc_id", "bpe_model_q168")
    }),
    // Perceptual image dedup (round 14), oracle-checked END TO END:
    // deterministic grayscale images synthesized from doc_id
    // (Multimodal.synthGrayImages — integer pixel function, PNG
    // lossless), then the PRODUCTION pipeline: ImageIO decode →
    // exact-integer 9×8 luminance downscale → dHash-64 gradient bits →
    // 4×16-bit pigeonhole banding → exact bit_count(xor) hamming ≤ 10.
    // The corpus is contrived (the md5TokenHash trade) but the oracle
    // replays the pixel math directly, so every stage of the real
    // dataflow is hash-pinned. Same-class images land at hamming ≤ 1
    // (brightness shift is gradient-invariant; the spot edit flips one
    // bit); cross-class hammings are effectively random (0 pairs ≤ 10
    // simulated at 5000 docs). ImageDedupSpec pins the at-rest bucketed
    // index probe == this inline form.
    "q169_image_dhash_pairs" -> ((s, dir) =>
      Dedup.imageHashPairs(ImageHash.DHash64)(
        Multimodal.synthGrayImages(t(s, dir, "documents"), "doc_id"),
        maxHamming = 10
      )),
    // EMBEDDING-level decontamination (round 14): flag corpus vectors
    // within cosine >= 0.3 of any eval vector (the q148 split) — the
    // paraphrase-contamination check q55's n-gram overlap cannot see.
    // Same seeded-plane probe chain as q148 (oracle replays it), then
    // a per-corpus-doc aggregate with clean docs kept as
    // (0, NULL, false) rows. SemanticDecontaminateSpec plants a
    // paraphrased duplicate and pins the at-rest index probe.
    "q170_semantic_decontaminate" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      TextAnalysis.semanticDecontaminate(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", dim = 64, threshold = 0.3
      )
    }),
    // Image CORPUS dedup (q34's shape over the q169 pair chain):
    // cluster the verified dHash pairs with pointer-jumping connected
    // components, keep the min-id representative per cluster. The
    // oracle replays pairs + a recursive transitive-closure CTE — so
    // hash+band+hamming+clustering is pinned end to end.
    "q171_image_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.imageHashPairs(ImageHash.DHash64)(
        Multimodal.synthGrayImages(docs, "doc_id"), maxHamming = 10)
      Dedup.dedupCorpus(docs.select(col("doc_id")), "doc_id", pairs)
    }),
    // The composed drift-monitor readback (round 14): PSI + JSD of the
    // q151/q165 calendar split in ONE row with alert flags — pins
    // streaming/DriftMonitor.driftFromCounts (whose count tables
    // SketchIngest maintains at rest) through the driver's oracle gate;
    // DriftMonitorSpec pins the streamed ingest == this batch form.
    "q172_drift_monitor" -> ((s, dir) => {
      def cnt(df: DataFrame) =
        df.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      graft.streaming.DriftMonitor.driftFromCounts(
        cnt(sources.Tables.eventsBetween(s, dir, "2023-12-01 00:00:00", "2024-01-15 00:00:00")),
        cnt(sources.Tables.eventsBetween(s, dir, "2024-01-15 00:00:00", "2024-03-01 00:00:00"))
      )
    }),
    // PRODUCTION-scale BPE apply (round 15, verdict r14 #1): per-doc
    // token counts under a 256-rank merge list through the native
    // BpeApplyMerges expression — the composed per-merge fold embeds
    // its child twice per level (~2^n tree nodes) and cannot even
    // REPRESENT this query. The list is the top-256 character bigrams
    // by corpus frequency ((cnt desc, l, r) ties): deterministic, NOT
    // an iterative fit (one aggregation + a bounded 256-row collect),
    // well-formed by construction — so the oracle can derive the same
    // ranked list in SQL and re-segment every vocabulary word through
    // a 256-step recursive CTE, hash-pinning the native merge loop at
    // 32× the q149/q168 fit chain's merge count. BpeApplyMergesSpec
    // additionally pins the expression bit-parity against the composed
    // fold (≤12 merges) and a sequential reference (1024 merges).
    "q173_bpe_apply_256" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Bpe.tokenCounts(docs, "text", "doc_id", Bpe.topCharBigrams(docs, "text", 256))
    }),
    // pHash-256 near-dup pairs (round 15, verdict r14 #3): the WIDE
    // perceptual hash for corpora past dHash-64's band space — 17×16
    // block-mean grid, 256 gradient bits in 4 longs, 8×32-bit pigeonhole
    // bands (guarantee to hamming 7, key space 2³² — the collision term
    // the r14 soak measured at 16-bit bands moves out past 10⁸ classes).
    // Same oracle discipline as q169: the corpus is synthesized from an
    // integer pixel function at 68×64 (4×4 pixels per cell — exact
    // 16-pixel block sums), PNG round-trips losslessly, and the oracle
    // replays pixel → block mean → gradient bit → 32-bit band → 256-bit
    // hamming directly. ImagePHashSpec pins the at-rest index probe ==
    // this inline form and the dHash↔pHash fail-closed contract.
    "q174_image_phash_pairs" -> ((s, dir) =>
      Dedup.imageHashPairs(ImageHash.PHash256)(
        Multimodal.synthGrayImagesWide(t(s, dir, "documents"), "doc_id"),
        maxHamming = 24
      )),
    // VIDEO content dedup (round 15, verdict r14 #5): sequence-level
    // near-dups over synthetic clips — per-frame dHash-64 (real PNG
    // decode per frame), ordered frame-hash 2-grams as the clip's
    // shingle set, then the EXISTING MinHash→LSH→exact-Jaccard pipeline
    // verbatim. The oracle replays the whole chain from the pixel
    // function: frame luminance → block means → gradient bits → gram
    // strings → exact ALL-PAIRS Jaccard ≥ 0.5 (the q17/q18 oracle
    // shape) — hash-exact because same-class clips hash frame-identical
    // (Jaccard exactly 1 → identical MinHash signatures → LSH recall is
    // guaranteed, not probabilistic) and cross-class clips share no
    // frame content (disjoint gram sets). One video per 5th document
    // keeps the per-frame codec cost benchable. VideoDedupSpec plants a
    // re-encoded clip and a trimmed clip behaviorally.
    "q175_video_neardup_pairs" -> ((s, dir) =>
      Dedup.videoNearDupPairs(
        Multimodal.synthVideoFrames(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "doc_id"),
        threshold = 0.5
      ))
  )

  /** Equivalent ANSI-SQL oracles (DuckDB) for every [[queries]] key —
    * generated builders live in [[SparkEntryOracles]] (split out in
    * round 14 purely for reviewability of the driver contract; the
    * map is unchanged).
    */
  def oracleSql: Map[String, String] = SparkEntryOracles.oracleSql
}

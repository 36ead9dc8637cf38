package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard. All are pure
  * DataFrame transforms — per-document signatures are computed with
  * codegen'd array expressions (no explode of shingles for signing, no
  * UDFs), candidate generation is a bucket equi-join (shuffle on the
  * bucket key), and verification touches only candidate pairs.
  *
  * Scale notes (100 TB): signatures are O(1) per document and computed
  * map-side; the only shuffles are (a) the bucket join on
  * (band_index, band_hash) and (b) the candidate-pair verify join. Skewed
  * buckets (boilerplate shingles) are bounded because bucket keys hash
  * the whole band of r minhashes, and AQE skew-join splitting handles
  * residual hot buckets.
  */
object Dedup {

  /** Default posting-list cap for every pair-generating operator in this
    * family ([[lshCandidates]], [[ngramJaccardPairs]], [[simHashPairs]],
    * [[embeddingNearDupPairs]]): pair emission is QUADRATIC in posting
    * list size, and an open-web corpus always has degenerate buckets
    * (boilerplate banners bucket 10⁵ docs together → 5×10⁹ pairs from
    * one bucket). The SAFE behavior — cap and count what was dropped —
    * is the default; exact/no-cap mode is the explicit opt-in
    * (`maxBucket = None`) used by the hash-pinned oracle entries.
    */
  val DefaultMaxBucket: Int = 1000

  /** Apply a posting-list cap with drop accounting: when a cap is set
    * and the caller passed an [[Observation]], the count of dropped
    * (over-cap) posting lists is recorded under `metricName` — readable
    * with `obs.get` after the first action. `observe` is a plan-level
    * metric collector (computed inside the same job, zero extra passes).
    */
  private def boundedPostings(
      postings: DataFrame,
      cap: Option[Int],
      dropMetrics: Option[Observation],
      metricName: String
  ): DataFrame = cap match {
    case None => postings
    case Some(m) =>
      val observed = dropMetrics.fold(postings)(obs =>
        postings.observe(
          obs,
          sum(when(size(col("ids")) > m, 1L).otherwise(0L)).as(metricName)
        )
      )
      observed.filter(size(col("ids")) <= m)
  }

  /** Exact dedup: group identical normalized text, keep the smallest id
    * (hash-groupBy — one shuffle on the fingerprint).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** Distinct word n-gram shingle set per document, as an array column.
    * Native one-pass tokenize + shingle expressions
    * ([[graft.plans.Tokenize]], [[graft.plans.DistinctShingles]]) — the
    * composed regex/zip_with pipeline was the hottest map stage of the
    * dedup family; both natives are bit-identical to it
    * (TextExpressionsSpec).
    */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    // spread the raw (id, text) rows before the tokenize+shingle
    // projection — the family's hottest map stage ran in as many tasks
    // as the scan had splits (one, for a single-row-group file); the
    // gate makes this a no-op on any well-partitioned input (§2.5)
    Spread
      .byKey(df.select(col(idCol).as("doc_id"), col(textCol).as("_sh_text")), col("doc_id"))
      .select(col("doc_id"), Fns.tokens(col("_sh_text")).as("toks"))
      .select(
        col("doc_id"),
        graft.plans.TextExpressions.distinctShingles(col("toks"), n).as("shingles")
      )
      .filter(size(col("shingles")) > 0)

  /** MinHash signature: sig[i] = min over shingles of h_i(shingle), the
    * classic permutation-min estimator (Broder '97). Shingle STRINGS are
    * hashed once to 64-bit bases; the k-function family then runs inside
    * the native [[graft.plans.MinHashSignature]] expression — ONE
    * primitive loop per row instead of k boxed transform/array_min
    * passes (q18 was round 1's slowest query; the k passes were why).
    * Signatures are bit-identical to the composed
    * `array_min(transform(hs, h => xxhash64(lit(i), h)))` form
    * (HashExpressionsSpec pins this).
    */
  def minHashSignatures(shingled: DataFrame, numHashes: Int): DataFrame =
    shingled.select(
      col("doc_id"),
      col("shingles"),
      graft.plans.MinHashSignature
        .minhashSignature(transform(col("shingles"), s => xxhash64(s)), numHashes)
        .as("sig")
    )

  /** Sorted pair combinations of a (small) posting list: all (ids[k],
    * ids[m]) with ids[k] < ids[m] (strict, BY VALUE — a duplicated id in
    * the list must not yield a self-pair, matching the `a.id < b.id`
    * condition of the self-join this replaces), as an array of structs —
    * pair generation without a self-join.
    */
  private def pairCombos(ids: Column): Column =
    // r20: native one-loop expression — the composed HOF chain it replaced
    // allocated a slice copy + filter array + transform array per anchor
    // element, interpreted (1.0–1.7 s of single-task CPU in the image
    // queries' coalesced reduce stages); bit-identical pair sets, parity
    // pinned in PairCombosSpec
    graft.plans.PairCombos.pairCombos(ids)

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and key each band by its hash. Documents sharing any band key are
    * candidate pairs.
    *
    * Pair generation goes through per-bucket posting lists (ONE shuffle
    * on the band key; a self-join would scan and shuffle the signature
    * plan twice). `maxBucket` caps the posting list a bucket may emit
    * pairs from: an open-web corpus has degenerate buckets (boilerplate
    * banners hash thousands of docs together) whose quadratic pair
    * blowup would dominate the job; dropping them loses only pairs that
    * other, selective bands still produce (any band match suffices).
    */
  /** One (band, bhash) struct per band of the signature — the SHARED
    * band-key derivation: in-corpus banding ([[lshCandidates]]) and the
    * at-rest index ([[writeMinHashIndex]]/[[incrementalNearDups]]) must
    * hash bands identically or cross-batch candidates would be missed.
    */
  private def bandKeyCols(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))
          .as("bhash")
      )
    }: _*)

  def lshCandidates(
      signed: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    val exploded = signed
      .select(col("doc_id"), explode(bandKeyCols(bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bhash").as("bhash"))
    val postings = exploded
      .groupBy(col("band"), col("bhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val bounded = boundedPostings(postings, maxBucket, dropMetrics, "dropped_buckets")
    bounded
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .distinct()
  }

  /** Exact Jaccard over candidate pairs only: join each side's shingle
    * set back in and compare with set-semantics array ops.
    */
  def verifyJaccard(candidates: DataFrame, shingled: DataFrame): DataFrame = {
    // id-dedupe the lookup sides: duplicated input ids would otherwise
    // multiply candidate rows through the joins
    val si = shingled.select(col("doc_id").as("i"), col("shingles").as("sh_i"))
      .dropDuplicates("i")
    val sj = shingled.select(col("doc_id").as("j"), col("shingles").as("sh_j"))
      .dropDuplicates("j")
    candidates
      .join(si, "i")
      .join(sj, "j")
      .select(
        col("i"),
        col("j"),
        (size(array_intersect(col("sh_i"), col("sh_j"))).cast("double") /
          size(array_union(col("sh_i"), col("sh_j"))).cast("double")).as("jaccard")
      )
  }

  /** Full MinHash+LSH near-dup pipeline: shingle -> sign -> band ->
    * bucket-join -> exact-verify. Returns (i, j, jaccard) pairs with
    * jaccard >= threshold among LSH candidates.
    */
  def minHashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // materialize the shingle sets once: the plan reads them three times
    // (signatures + both sides of the verify join) and the tokenization/
    // shingling projection is the single most expensive map stage.
    // localCheckpoint blocks are executor-local, spill to disk, and are
    // GC-cleaned — unlike cache() they don't pin memory indefinitely.
    // LAZY (eager=false): building the DataFrame stays side-effect free
    // (plan audits don't run jobs); the first action materializes and
    // every later read hits the blocks. localCheckpoint is lost on
    // executor failure; set [[Materialize.CheckpointDirConf]] to route
    // this (and every other engine intermediate) through reliable
    // checkpoints on preemptible clusters.
    val shingled = Materialize(shingleSets(df, textCol, idCol, shingleSize))
    val signed = minHashSignatures(shingled, numHashes)
    val cand = lshCandidates(signed, bands, numHashes / bands, maxBucket, dropMetrics)
    verifyJaccard(cand, shingled).filter(col("jaccard") >= threshold)
  }

  /** Brute-force n-gram Jaccard pairs via a shingle inverted-index join
    * (exact, no LSH): explode distinct shingles, self-join on shingle,
    * count intersections, compute |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxDocFreq` caps a shingle's posting list: an open-web corpus has
    * near-universal shingles (boilerplate) whose quadratic pair blowup
    * dominates the job. Dropping them UNDERCOUNTS intersections for
    * pairs that share them, so capped results are a (slightly
    * conservative) approximation — exact for every pair whose shared
    * shingles are all under the cap. The cap is ON by default
    * ([[DefaultMaxBucket]]) with the dropped-shingle count surfaced via
    * `dropMetrics` (`dropped_shingles`); pass `None` EXPLICITLY for the
    * exact mode the oracle entry (q17) pins.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.3,
      maxDocFreq: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    // materialized once (lazily — see minHashLshPairs), read twice
    // (inverted index + per-doc counts)
    val shingled = Materialize(shingleSets(df, textCol, idCol, shingleSize))
    val inv = shingled.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // duplicated input ids must not double-count intersections or
    // duplicate output rows: posting lists are SETS (same shuffle as the
    // list form) and the per-doc count projection is id-deduped (tiny)
    val counts = shingled
      .select(col("doc_id"), size(col("shingles")).as("n"))
      .dropDuplicates("doc_id")
    // one shuffle on shingle: collect each shingle's (small) posting list
    // and emit its pair combinations, instead of a self-join that would
    // recompute the whole upstream for both sides. Posting lists are
    // sorted so emitted pairs have i < j.
    val postings = inv
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val bounded = boundedPostings(postings, maxDocFreq, dropMetrics, "dropped_shingles")
    val inter = bounded
      .select(explode(pairCombos(col("ids"))).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "i").withColumnRenamed("n", "n_i"), "i")
      .join(counts.withColumnRenamed("doc_id", "j").withColumnRenamed("n", "n_j"), "j")
      .select(
        col("i"),
        col("j"),
        (col("inter").cast("double") / (col("n_i") + col("n_j") - col("inter")).cast("double"))
          .as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** Word-aligned exact-substring containment pairs: (inner_id,
    * outer_id) where the inner doc's full token sequence appears as a
    * contiguous run inside the outer doc's — the "drop documents wholly
    * contained in a longer document" dedup a crawl corpus needs (quoted
    * articles, syndicated excerpts, page fragments re-crawled inside
    * their parent page).
    *
    * NOT an all-pairs scan: if inner ⊆ outer then EVERY word
    * `shingleSize`-gram of the inner doc — in particular its globally
    * RAREST one — is also a gram of the outer doc. So each doc probes
    * with ONE shingle (its minimum-(doc-frequency, shingle) gram, a
    * deterministic argmin), candidates are that shingle's posting list,
    * and only candidates pay the exact `contains` verification on the
    * space-joined token strings (word-aligned by construction: both
    * sides are wrapped in sentinel spaces). One shuffle builds the
    * postings, one joins the probes, the verify joins touch candidates
    * only.
    *
    * Scope: docs with fewer than `shingleSize` tokens pass through
    * unexamined (they have no grams — pick `shingleSize` below the
    * shortest doc you care about). `maxDocFreq` caps posting lists like
    * the rest of the family (default [[DefaultMaxBucket]], drops counted
    * under `dropped_shingles`): a doc whose every gram is boilerplate-hot
    * loses its probe and yields no pairs — the conservative trade; pass
    * `None` for the exact mode the oracle entry (q59) pins. Exact dups
    * (equal token strings) are contained in BOTH directions and emit
    * both ordered pairs.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 8,
      maxDocFreq: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    // read three times (grams, probe argmin, verify joins) — materialize
    // lazily once, same pattern as minHashLshPairs
    val toks = Materialize(
      // spread before tokenize (guide §2.5 — the pin preserves the
      // scan's task count, so a one-split scan would serialize every
      // downstream shingle/verify stage too; no-op on partitioned input)
      Spread
        .byKey(df.select(col(idCol).as("doc_id"), col(textCol).as("_c_text")), col("doc_id"))
        .select(col("doc_id"), Fns.tokens(col("_c_text")).as("words"))
        .filter(size(col("words")) >= shingleSize)
        .select(col("doc_id"), concat_ws(" ", col("words")).as("tstr"), col("words"))
    )
    val sh = toks.select(
      col("doc_id"),
      explode(graft.plans.TextExpressions.distinctShingles(col("words"), shingleSize)).as("sh")
    )
    val postings = sh
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val bounded = Materialize(
      boundedPostings(postings, maxDocFreq, dropMetrics, "dropped_shingles")
    ) // probed twice: dfreq argmin + candidate join
    // each doc's probe = its rarest surviving gram (ties by gram text)
    val probe = sh
      .join(bounded.select(col("sh"), size(col("ids")).as("dfq")), "sh")
      .groupBy(col("doc_id"))
      .agg(min(struct(col("dfq"), col("sh"))).as("m"))
      .select(col("doc_id").as("inner_id"), col("m.sh").as("sh"))
    val cand = probe
      .join(bounded, "sh")
      .select(col("inner_id"), explode(col("ids")).as("outer_id"))
      .filter(col("inner_id") =!= col("outer_id"))
    cand
      .join(toks.select(col("doc_id").as("inner_id"), col("tstr").as("t_in")), "inner_id")
      .join(toks.select(col("doc_id").as("outer_id"), col("tstr").as("t_out")), "outer_id")
      .filter(
        contains(concat(lit(" "), col("t_out"), lit(" ")), concat(lit(" "), col("t_in"), lit(" ")))
      )
      .select(col("inner_id"), col("outer_id"))
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation WITH pointer jumping: each round a node adopts the
    * smallest label among itself and its neighbors (propagation), then
    * shortcuts to its new label's own label (path doubling — the
    * Shiloach–Vishkin / Hash-to-Min idea). Jumping makes convergence
    * O(log diameter) rounds instead of O(diameter): a 292-node straggly
    * component (q67's 0.3-cosine graph on the test corpus) converges in
    * 6 rounds where plain propagation needs >10 and previously returned
    * a SILENTLY unconverged 4-way split at the default cap. Returns
    * (doc_id, cluster) where cluster = min doc_id of the component.
    * Driver-free: every step is joins + a groupBy.
    *
    * If `maxIter` rounds pass with labels still moving this now THROWS
    * rather than returning partial components — with jumping the
    * default 20 rounds covers diameters up to ~2^20, so hitting the cap
    * means something is structurally wrong (e.g. a threshold so loose
    * the graph is one giant hairball) and a wrong-but-plausible answer
    * would poison every downstream dedup decision.
    *
    * Per-round cost design (round 7): each round runs exactly ONE job.
    * The round's projection carries a `chg` flag (a row changed iff its
    * neighborhood min undercut its label — knowable before applying
    * it), an `observe` node counts the flags as a metric of the
    * materializing scan itself, and the eager checkpoint that pins the
    * round doubles as the action that delivers the metric. This
    * replaces the r6 version's SECOND per-round action (a join +
    * limit/count against the previous round — it re-shuffled both
    * frames and its early-cancelled tasks raced accumulator cleanup,
    * the bench's log-noise source). The checkpoint-per-round stays: a
    * persist-based variant was measured (BENCH_NOTES r7) and lost ~30%
    * — per-round disk writes were never the cost at bench scale (~4 MB
    * of shuffle writes total), while the growing lineage persist can't
    * cut makes every round's Catalyst pass more expensive. With
    * [[Materialize.CheckpointDirConf]] set, rounds land on the
    * reliable store instead and survive executor loss — the
    * preemptible-cluster mode.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the edge list once: without this every iteration's
    // join re-executes the (possibly expensive) pair-producing plan.
    // Lazy: materializes during round 1's action.
    val edges = Materialize(
      pairs
        .select(col("i").as("id"), col("j").as("nb"))
        .unionByName(pairs.select(col("j").as("id"), col("i").as("nb")))
        .distinct()
    )
    // seed each node at least(own id, min neighbor id) — exactly what
    // round 1 of the identity-seeded loop computed before its jump, for
    // the same one aggregation the identity seed's distinct() cost; the
    // fixpoint (min id of the component, stable labels) is unchanged,
    // one full round less reaches it (r19, guide §1.2: fewer passes)
    var labels = edges
      .groupBy(col("id"))
      .agg(min(col("nb")).as("_mnb"))
      .select(col("id"), least(col("id"), col("_mnb")).as("cluster"))
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val nbLabels = edges
        .join(labels.select(col("id").as("nb"), col("cluster").as("nb_cluster")), "nb")
        .groupBy("id")
        .agg(min(col("nb_cluster")).as("min_nb"))
      // NULL min_nb (nothing improved) compares to NULL -> not counted
      val stepped = labels
        .select(col("id"), col("cluster").as("prev"))
        .join(nbLabels, Seq("id"), "left")
        .select(
          col("id"),
          col("prev"),
          least(col("prev"), coalesce(col("min_nb"), col("prev"))).as("c1")
        )
      // pointer jump: follow the adopted label (itself a node id) to
      // ITS current label and take the min — halves the remaining path
      // length every round. labels is the prior round's pinned frame,
      // so both uses below reuse the same blocks.
      val obs = Observation()
      val next = Materialize(
        stepped
          .join(labels.select(col("id").as("c1"), col("cluster").as("jump")), Seq("c1"), "left")
          .select(
            col("id"),
            least(col("c1"), coalesce(col("jump"), col("c1"))).as("cluster"),
            col("prev")
          )
          .select(col("id"), col("cluster"), (col("cluster") < col("prev")).as("chg"))
          .observe(obs, count_if(col("chg")).as("n_changed")) // the round's ONE job: pins blocks + delivers the metric
      )
      changed = obs.get.get("n_changed").collect { case n: Long => n }.getOrElse(0L) > 0L
      labels = next.drop("chg")
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"clusters() still moving after $maxIter rounds (covers diameters ~2^$maxIter " +
          "with pointer jumping) — the pair graph is pathologically connected; " +
          "tighten the pair threshold or raise maxIter"
      )
    labels
  }

  /** Corpus-level near-dedup: cluster LSH-verified pairs, keep the
    * smallest doc_id per cluster, pass through unpaired docs.
    */
  def dedupCorpus(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cl = clusters(pairs)
    df.join(cl.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("cluster").isNull || col("cluster") === col(idCol))
      .drop("cluster")
  }

  /** 64-bit SimHash per document: per bit, sum +1/-1 votes of every
    * token-hash (token multiplicity = weight), take the sign. Runs in
    * the native [[graft.plans.SimHash64]] expression — one pass over the
    * token hashes instead of 64 separate aggregate folds (the whole cost
    * of this operator at sf0.1 in BENCH_r01); output bit-identical to
    * the composed form (HashExpressionsSpec).
    */
  def simHashes(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tokenHash: Column => Column = t => xxhash64(t)
  ): DataFrame =
    // spread before the tokenize+vote projection (guide §2.5; no-op on
    // well-partitioned input)
    Spread
      .byKey(df.select(col(idCol).as("doc_id"), col(textCol).as("_sim_text")), col("doc_id"))
      .select(
        col("doc_id"),
        graft.plans.SimHash64
          .simhash64(transform(Fns.tokens(col("_sim_text")), t => tokenHash(t)))
          .as("simhash")
      )

  /** Oracle-replayable token hash: the first 15 hex chars of md5 as a
    * 60-bit long. xxhash64 (the default) has no DuckDB equivalent, so a
    * hash-exact driver check of the SimHash pipeline needs a token hash
    * BOTH engines can compute bit-identically — md5 is the shared
    * primitive (same q21 trade: the oracle pins the full banding /
    * hamming / pairing dataflow; the xxhash64 default stays the
    * production path, pinned bit-parity in HashExpressionsSpec).
    *
    * Known entropy quirk (accepted): 15 hex chars give 60 bits, so
    * token-hash bits 60–63 are constant 0 and the vote fold pins
    * simhash bits 0–3 to 0 as well — band 0's 16-bit bucket key
    * carries only 12 bits of entropy, i.e. ~16× more spurious band-0
    * candidates than the xxhash64 path (they are discarded by the
    * exact hamming verify, so results stay correct; only candidate
    * volume is unrepresentative of production). 16 hex chars would fix
    * it but can exceed Long.MaxValue, and signed-overflow semantics of
    * `conv(...)::long` are exactly the kind of cross-engine edge the
    * oracle hash must not depend on — 60 honest bits beat 64 risky
    * ones for a correctness gate.
    */
  val md5TokenHash: Column => Column =
    t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** SimHash near-dup pairs: band the 64 bits into 4 x 16-bit keys
    * (pigeonhole: hamming distance <= 3 guarantees one identical band),
    * bucket-join, then verify hamming distance with bit_count(xor).
    * A SimHash is banded and compared exactly like a dHash-64, so this
    * is [[hammingPairs]] under [[ImageHash.DHash64]]'s banding.
    */
  def simHashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None,
      tokenHash: Column => Column = t => xxhash64(t)
  ): DataFrame =
    hammingPairs(
      simHashes(df, textCol, idCol, tokenHash), "simhash", ImageHash.DHash64,
      maxHamming, maxBucket, dropMetrics)

  /** (doc_id, `hashCol`, band, bhash): one row per band of each non-null
    * hash, banded by `family` — shared by in-corpus pair generation
    * ([[hammingPairs]]) and the at-rest index ([[hammingIndexRows]]),
    * which must band identically or cross-batch candidates would be
    * missed ([[bandKeyCols]]'s contract). Rows with a null hash are
    * excluded: an undecodable image must not bucket with other
    * undecodables.
    */
  private def hammingBandRows(
      signed: DataFrame,
      hashCol: String,
      family: ImageHash.Family
  ): DataFrame =
    signed
      .filter(col(hashCol).isNotNull)
      .select(col("doc_id"), col(hashCol), explode(family.bandKeys(col(hashCol))).as("bk"))
      .select(col("doc_id"), col(hashCol), col("bk.band").as("band"), col("bk.bhash").as("bhash"))

  /** Near-dup pairs of a perceptual/content hash column by pigeonhole
    * banding (dHash-64's 4×16 bits: hamming ≤ 3 GUARANTEES a shared
    * band; pHash-256's 8×32 bits: hamming ≤ 7) + the family's exact
    * hamming verify. A larger `maxHamming` keeps the guarantee only for
    * pairs that still agree on one band — the documented recall trade
    * of [[simHashPairs]]. `signed` is (doc_id, `hashCol`).
    */
  private def hammingPairs(
      signed: DataFrame,
      hashCol: String,
      family: ImageHash.Family,
      maxHamming: Int,
      maxBucket: Option[Int],
      dropMetrics: Option[Observation]
  ): DataFrame = {
    // per-bucket posting lists (one shuffle on the band key) rather than
    // a bucket self-join that would scan the signature plan twice
    val postings = hammingBandRows(signed, hashCol, family)
      .groupBy(col("band"), col("bhash"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col(hashCol).as("h")))).as("ids"))
      .filter(size(col("ids")) >= 2)
    // hamming verify BEFORE the distinct (r20, guide §2.3 filter-before-
    // exchange): the cross-band duplicate pairs used to ride the distinct
    // shuffle pre-verify — bucket-quadratic candidate rows serialized for
    // nothing (the r20 q169/q174 profile measured the coalesced reduce at
    // 1.0–1.7 s of single-task CPU, almost all of it this distinct).
    // hamming is per-row on columns the distinct already keyed (it is a
    // function of (h_i, h_j)), so distinct∘filter == filter∘distinct
    // with the SAME key set and the output multiset is unchanged.
    boundedPostings(postings, maxBucket, dropMetrics, "dropped_buckets")
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(
        col("p.i.doc_id").as("i"),
        col("p.j.doc_id").as("j"),
        col("p.i.h").as("h_i"),
        col("p.j.h").as("h_j"),
        family.hamming(col("p.i.h"), col("p.j.h")).as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select(col("i"), col("j"), col("hamming"))
  }

  /** The (doc_id, hash) frame of `images`: used as is when it already
    * carries the family's hash column (callers that decoded once, like
    * [[graft.streaming.ImageIngest]]), hashed from its (doc_id, media)
    * blobs otherwise.
    */
  private def imageHashes(family: ImageHash.Family, images: DataFrame): DataFrame =
    if (images.columns.contains(family.hashCol)) images else family.hash(images)

  /** Perceptual image dedup under a hash `family`
    * ([[ImageHash.DHash64]]: gradient-sign bits over an exact-integer
    * 9×8 luminance downscale; [[ImageHash.PHash256]]: the wide variant
    * for corpora past dHash's band space) + pigeonhole banding +
    * exact-hamming verify. `images` is (doc_id, media) or pre-computed
    * (doc_id, hash) rows ([[imageHashes]]). dHash ≤ 10 is the
    * conventional near-dup bar (brightness shifts land at 0, small
    * local edits at 1–8, re-encodes at 0 for lossless formats); each
    * family's default bar is the same ~9%-of-bits tolerance.
    * Undecodable/tiny images are excluded, never paired.
    */
  def imageHashPairs(family: ImageHash.Family)(
      images: DataFrame,
      maxHamming: Int = family.defaultMaxHamming,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame =
    hammingPairs(
      imageHashes(family, images), family.hashCol, family, maxHamming, maxBucket, dropMetrics)

  /** Embedding near-dup: random-hyperplane LSH buckets -> candidate
    * pairs -> exact cosine verify. Hyperplanes are derived from a fixed
    * seed so runs are reproducible.
    *
    * Same per-bucket posting-list shape as [[lshCandidates]] /
    * [[simHashPairs]]: all band keys per row come from ONE native
    * single-pass expression ([[graft.plans.HyperplaneBands]] — the
    * composed 16-chain `aggregate(zip_with(...))` projection was this
    * operator's dominant map stage), candidates come from one shuffle on
    * the band key — a bucket self-join would scan and recompute that
    * projection for BOTH join sides — and only candidate pairs join the
    * raw vectors back for the exact-cosine verify. Each plane dot
    * accumulates left-to-right over doubles, matching both the composed
    * fold (pinned bit-identical in
    * HashExpressionsSpec) and the DuckDB oracle's `list_reduce` replay
    * (q21's hash-exact check depends on it).
    *
    * SIZING (both failure modes MEASURED, Soak round 12): the band-key
    * width must keep the expected bucket size CONSTANT as the corpus
    * grows — bitsPerBand ≈ log2(N / targetBucketSize), target a few
    * tens. A key too narrow for the corpus fails one of two ways:
    * saturated buckets trip the `maxBucket` guard and the operator
    * silently returns zero pairs (4 bits at 200k vectors, soak run 1);
    * or, under the cap, bucket size — and with it candidate PAIRS —
    * grows linearly with N, which is quadratic total work (a fixed 10
    * bits measured exponent 1.94 in the 10×→100× decade, soak run 2;
    * log-scaled keys with ~20-vector buckets restore the linear pair
    * stage). Recall for high-threshold near-dups is unaffected by key
    * width (near-identical vectors collide per-band regardless).
    */
  /** The band-key width the SIZING rule above prescribes for an
    * n-vector corpus: smallest bits with expected bucket size ≤
    * `targetBucket` (soak-measured sweet spot ~20; floor 1 bit). Use
    * the corpus the structure will GROW TO, not today's batch — for an
    * at-rest index the width is frozen into the table contract.
    */
  def autoBandBits(n: Long, targetBucket: Int = 20): Int =
    math.max(1, math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)

  def embeddingNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      threshold: Double = 0.9,
      seed: Long = 42L,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    val planes = hyperplanes(dim, bands * bitsPerBand, seed)
    val exploded = df
      .select(
        col(idCol).as("doc_id"),
        posexplode(
          graft.plans.HyperplaneBands.hyperplaneBands(col(vecCol), planes, bitsPerBand)
        ).as(Seq("band", "bhash"))
      )
    val postings = exploded
      .groupBy(col("band"), col("bhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val bounded = boundedPostings(postings, maxBucket, dropMetrics, "dropped_buckets")
    val cand = bounded
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .distinct()
    val vi = df.select(col(idCol).as("i"), col(vecCol).as("v_i")).dropDuplicates("i")
    val vj = df.select(col(idCol).as("j"), col(vecCol).as("v_j")).dropDuplicates("j")
    cand
      .join(vi, "i")
      .join(vj, "j")
      // native single-loop cosine (graft.plans.CosineSimilarity) — the
      // candidate-verify pass is the hot loop of this operator
      .select(col("i"), col("j"), Fns.cosine(col("v_i"), col("v_j")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style end-to-end semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): bucket embeddings, verify candidate pairs with
    * exact cosine, connect the >=threshold pairs into components, and
    * keep ONE representative (the smallest id) per component. Output is
    * one row per SURVIVING document: (idCol, group_size), where
    * group_size is the size of its near-duplicate component (1 for a
    * document with no semantic duplicate).
    *
    * The paper clusters with k-means purely to bound the O(n^2)
    * within-cluster comparison; here the bounding structure is the
    * seeded hyperplane-LSH banding already used by
    * [[embeddingNearDupPairs]] — same complexity bound (per-bucket
    * posting lists, never corpus-wide all-pairs), but deterministic
    * and replayable in the DuckDB oracle (q67 pins the WHOLE pipeline
    * hash-exact, including component formation — k-means centroids
    * would make that impossible). Components beat the paper's
    * per-cluster greedy keep-one: they are order-independent, and
    * transitive chains (a~b, b~c) collapse to one survivor instead of
    * depending on scan order.
    *
    * Scale: pairs are bucket-bounded ([[embeddingNearDupPairs]]),
    * [[clusters]] is bounded-iteration label propagation with one job
    * per round, and the survivor filter is a left join on the
    * component labels — each stage shuffles on its natural key, no
    * driver-side data. Near-dup components are tiny in practice
    * (`group_size` is itself the skew diagnostic: a giant component
    * means the threshold is too loose).
    */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      threshold: Double = 0.9,
      seed: Long = 42L,
      maxBucket: Option[Int] = Some(DefaultMaxBucket)
  ): DataFrame = {
    val pairs =
      embeddingNearDupPairs(df, vecCol, idCol, dim, bands, bitsPerBand, threshold, seed, maxBucket)
    val cl = clusters(pairs) // (id, cluster) for every paired doc
    val sizes = cl.groupBy(col("cluster")).agg(count(lit(1)).as("group_size"))
    df.select(col(idCol))
      .join(cl.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("cluster").isNull || col("cluster") === col(idCol))
      .join(sizes, Seq("cluster"), "left")
      .select(col(idCol), coalesce(col("group_size"), lit(1L)).as("group_size"))
  }

  /** Incremental exact dedup: the rows of `newBatch` whose text
    * fingerprint (md5, same as [[exact]]) does NOT already appear in
    * `history` — the cross-ingestion dedup a continuously-growing corpus
    * needs (dedup each day's crawl against everything already kept).
    *
    * A Bloom filter over the history's xxhash64 texts (`bloom_filter_agg`,
    * sized by `expectedHistoryItems`/`fpp`) is collected once, then the
    * membership check is [[bloomAbsent]], the one the streaming ingests'
    * `CorpusIngest.CorpusIdGate` runs: rows the filter rejects are
    * DEFINITELY new and never shuffle; only the bloom-positive sliver
    * (true dupes plus an `fpp` fraction of false positives) pays the
    * exact anti-join against history. Output is exact, which is why the
    * driver oracle (q56) can pin it hash-exact against a plain NOT IN.
    *
    * Scale notes (100 TB): the filter is bounded by its bit sizing
    * (`optimalNumOfBits(expectedHistoryItems, fpp)`), not the data —
    * and clamped to Spark's runtime-bloom-filter conf ceilings
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`,
    * defaults 4M items / 8 MiB: raise them for a billion-doc corpus, or
    * dedup against a partitioned history with one filter per
    * partition; an undersized filter degrades GRACEFULLY to more
    * false positives, never to wrong output).
    */
  def incrementalExact(
      newBatch: DataFrame,
      history: DataFrame,
      textCol: String,
      idCol: String,
      expectedHistoryItems: Long = 1000000L,
      fpp: Double = 0.01
  ): DataFrame = {
    val fp = md5(col(textCol))
    val out = Seq(col(idCol).as("doc_id"), fp.as("fingerprint"))
    val bloomBytes = history
      .agg(bloomAgg(xxhash64(col(textCol)), expectedHistoryItems, fpp).as("bf"))
      .head()
      .getAs[Array[Byte]](0)
    // empty history aggregates to a null filter: everything is new
    if (bloomBytes == null) newBatch.select(out: _*)
    else
      bloomAbsent(newBatch, out, col(textCol), Some(bloomBytes),
        history.select(fp.as("fingerprint")), "fingerprint")._1
  }

  /** Shared builders for Spark's UNREGISTERED internal bloom expressions
    * (it uses them for runtime row-level join filtering): one aggregate
    * sized from (expectedItems, fpp) — clamped to the runtime-bloom
    * conf ceilings the 3-arg constructor `require`s — and one map-side
    * membership probe. Both [[incrementalExact]] and
    * [[graft.streaming.CorpusIngest]] build from HERE so sizing stays
    * identical and serialized filters remain merge-compatible.
    */
  private[graft] def bloomAgg(value: Column, expectedItems: Long, fpp: Double): Column = {
    val (items, bits) = bloomSizing(expectedItems, fpp)
    bloomAggWithBits(value, items, bits)
  }

  /** The (items, bits) a filter will actually be built with: fpp-optimal,
    * clamped to Spark's runtime-bloom conf ceilings (the 3-arg aggregate
    * constructor `require`s both). Exposed so persistent-state callers
    * (CorpusIngest) can RECORD the sizing next to the serialized filter
    * and rebuild merge-compatible deltas forever — `mergeInPlace` throws
    * unless bitSize and the (items, bits)-derived hash count both match.
    */
  private[graft] def bloomSizing(expectedItems: Long, fpp: Double): (Long, Long) = {
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val maxItems =
      sqlConf.getConfString("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits =
      sqlConf.getConfString("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val items = math.min(expectedItems, maxItems)
    val bits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp),
      maxBits
    )
    (items, bits)
  }

  /** Aggregate with EXPLICIT sizing — the merge-compatibility contract:
    * two filters built with the same (items, bits) always merge.
    */
  private[graft] def bloomAggWithBits(value: Column, items: Long, bits: Long): Column =
    GraftColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        GraftColumnBridge.expression(value),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(bits)
      ).toAggregateExpression()
    )

  // ------------------------------------------------------------------
  // At-rest band indexes: "dedup today's batch against the whole corpus
  // without touching most of it". Five families share one layout and one
  // protocol — text MinHash, video MinHash, embedding-LSH, and the
  // dHash-64 / pHash-256 Hamming family. An index holds one (id, value,
  // band, bhash, bkey) row per band of each document, bucketed by
  // `bkey = pmod(xxhash64(band, bhash), nBuckets)`. The value — MinHash
  // signature, embedding, or perceptual hash — rides on every band row
  // (bands× duplication, the price of a single-join probe): a probe
  // verifies candidates ENTIRELY inside the pruned buckets, with no
  // second scan over a doc-keyed table, which at 100 TB would
  // reintroduce the O(history)-per-batch trap.
  //
  // A family supplies only its band rows, its table-contract check and
  // its verify expression; [[writeBandIndex]], [[appendBandIndex]] and
  // [[probeBandIndex]] are the shared write, append and probe paths.
  // ------------------------------------------------------------------

  /** A family's (id, value, band, bhash) rows plus their bucket key. */
  private def withBucketKey(bandRows: DataFrame, nBuckets: Int): DataFrame =
    bandRows.withColumn("bkey", pmod(xxhash64(col("band"), col("bhash")), lit(nBuckets.toLong)))

  private def tableMeta(spark: org.apache.spark.sql.SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(graft.sinks.Sinks.parseIdent(spark, table))

  /** Record (or backfill) index contract props. Qualified names
    * (`db.idx`) are parsed like the SQL layer would — one pair of
    * backticks around the whole name breaks on the dot.
    */
  private def setTableProps(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      props: Map[String, String]
  ): Unit =
    spark.sql(
      s"ALTER TABLE ${graft.sinks.Sinks.parseIdent(spark, table).quotedString} " +
        s"SET TBLPROPERTIES (${props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ")})"
    )

  /** The bucket count an existing index was CREATED with — band keys
    * must keep hashing into the recorded bucket space, so appends and
    * probes derive it from the catalog's bucketSpec rather than trusting
    * a caller parameter (an index built at 32 buckets then appended
    * through a default-64 code path would fail on Spark's bucket-spec
    * mismatch — or worse, mis-bucket under a laxer writer; probing with
    * a different modulus would prune to the wrong buckets and silently
    * miss near-dups).
    */
  private def tableNumBuckets(
      spark: org.apache.spark.sql.SparkSession,
      table: String
  ): Int =
    tableMeta(spark, table).bucketSpec
      .map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(s"$table is not a bucketed index table"))

  /** Build an index from its rows. Staged publish (round 17, ADVICE
    * r16): the contract props land on the staging table BEFORE any data
    * is visible under `table`, so no crash can leave a props-less
    * data-bearing index for a later caller to backfill with the wrong
    * parameters — the write-then-ALTER sequence this replaced was worst
    * for the embedding index (seed/bitsPerBand are not data-pinnable)
    * and the video index (the legacy fallback classified it as TEXT).
    */
  private def writeBandIndex(
      rows: DataFrame,
      table: String,
      nBuckets: Int,
      props: Map[String, String],
      bucketCol: String = "bkey"
  ): Unit =
    graft.sinks.Sinks.writeBucketedWithProps(rows, table, Seq(bucketCol), nBuckets, props)

  /** Append a batch's band rows — the steady-state ingest path: indexing
    * the day's batch is O(batch), never a corpus rewrite; probes see
    * appended rows immediately. `rows` builds the batch's index rows for
    * a bucket count: `nBuckets` only applies when this append CREATES
    * the table, an existing index keeps the count its catalog entry
    * records ([[tableNumBuckets]]). `validate` is the family's contract
    * check against the existing index; `bucketCol` the column the table
    * is bucketed by (`bkey` for the band indexes, `gram` for the
    * gram-count index).
    */
  private def appendBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      rows: Int => DataFrame,
      nBuckets: Int,
      props: Map[String, String],
      validate: => Unit,
      bucketCol: String = "bkey"
  ): Unit = {
    // a crashed staged publish leaves the index only at __retire —
    // restore it so the existence check below sees it (dropping into the
    // create path here would discard the whole pre-crash index)
    graft.sinks.Sinks.recoverStagedPublish(spark, table)
    if (!spark.catalog.tableExists(table))
      // first append CREATES the table: staged publish stamps the
      // contract props before any data is visible (ADVICE r16 — the
      // create-then-ALTER window let a crash leave a props-less index)
      writeBandIndex(rows(nBuckets), table, nBuckets, props, bucketCol)
    else {
      // heal BEFORE validating: a legacy no-props index caught in a
      // compaction crash window would otherwise fail the validation's
      // data scan (missing live dir) instead of healing first. Read-only
      // heal here; appendBucketed below still does the clearStaleOld pass.
      graft.sinks.Sinks.recoverBucketedSwap(spark, table)
      validate
      val n = tableNumBuckets(spark, table)
      graft.sinks.Sinks.appendBucketed(rows(n), table, Seq(bucketCol), n)
    }
  }

  /** Near-dups of a NEW batch against an at-rest index. The batch's band
    * keys map to at most nBuckets distinct `bkey`s (driver-safe to
    * collect — bounded by the bucket count, not the batch), which prune
    * the index scan to matching buckets only; the batch side broadcasts
    * into the band join ([[joinBands]]), so the history never shuffles.
    *
    * `rows` builds the batch's index rows for the catalog's bucket
    * count; `validate` is the family's contract check, run after the
    * crash heals and before any band is hashed; `idCol`/`valCol` name
    * the index's id and carried value; `verify` scores a (history,
    * batch) value pair and `keep` filters on that score.
    */
  private def probeBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      rows: Int => DataFrame,
      validate: => Unit,
      idCol: String,
      valCol: String,
      verify: (Column, Column) => Column,
      keep: Column,
      broadcastRowLimit: Long,
      dropSameId: Boolean
  ): DataFrame = {
    import spark.implicits._
    // a crashed staged PUBLISH (index only at __retire) and a crashed
    // COMPACTION (data dir only at `.old`) must both heal restore-only
    // before the scan
    graft.sinks.Sinks.recoverStagedPublish(spark, table)
    graft.sinks.Sinks.recoverBucketedSwap(spark, table)
    val nBuckets = tableNumBuckets(spark, table)
    validate
    // probed twice: bkey collect + bucket join
    val batchRows = Materialize(batchSide(rows(nBuckets), idCol, valCol))
    val bkeys = batchRows.select(col("bkey")).distinct().as[Long].collect().sorted
    // empty batch (or all-null values): prune to nothing with lit(false)
    // rather than an early return — the result schema then derives from
    // the SAME plan as every other day (i carries the index's id type, j
    // the batch's; a hardcoded empty (long, long) frame made string-keyed
    // callers' unionByName fail only on empty-batch days)
    val pruned = spark
      .table(table)
      .filter(if (bkeys.isEmpty) lit(false) else col("bkey").isin(bkeys.toIndexedSeq: _*))
    joinBands(
      pruned, batchRows.drop("bkey"), idCol, valCol, verify, keep, broadcastRowLimit, dropSameId)
  }

  /** A batch's band rows with its id and value renamed to the (j, v_j)
    * of [[joinBands]]' batch side — renamed BEFORE the caller pins the
    * rows, so the join reads the pinned blocks directly.
    */
  private def batchSide(rows: DataFrame, idCol: String, valCol: String): DataFrame =
    rows.withColumnsRenamed(Map(idCol -> "j", valCol -> "v_j"))

  /** The join-and-verify half of every index probe ([[probeBandIndex]])
    * and of the inline two-frame form ([[semanticNearDupsAgainst]]):
    * join history band rows (idCol, valCol, band, bhash) to batch band
    * rows ([[batchSide]]: j, v_j, band, bhash) on (band, bhash), de-dup
    * multi-band matches, verify, filter. Returns (i = history id, j =
    * batch id, score).
    *
    * The broadcast is size-guarded: a backfill-sized batch past
    * `broadcastRowLimit` band rows (counted through a clamped `limit`,
    * so an over-Int limit cannot wrap) falls back to a shuffle join — still over the PRUNED buckets only, so the
    * shuffled history side stays O(matched buckets), not O(index).
    */
  private def joinBands(
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      valCol: String,
      verify: (Column, Column) => Column,
      keep: Column,
      broadcastRowLimit: Long,
      dropSameId: Boolean
  ): DataFrame = {
    val probe = math.min(broadcastRowLimit + 1, Int.MaxValue.toLong).toInt
    val fits = batch.limit(probe).count() <= broadcastRowLimit
    val joined = history.join(if (fits) broadcast(batch) else batch, Seq("band", "bhash"))
    // a replayed batch probing an index it was already appended to must
    // not match itself — unless the caller WANTS the same-id hits
    // (CorpusIngest uses dropSameId = false to detect replays: an (i==j)
    // match means this id is already indexed)
    val selfFiltered = if (dropSameId) joined.filter(col(idCol) =!= col("j")) else joined
    selfFiltered
      .select(col(idCol).as("i"), col("j"), col(valCol).as("v_i"), col("v_j"))
      .distinct() // a pair can match in several bands
      .select(col("i"), col("j"), verify(col("v_i"), col("v_j")))
      .filter(keep)
  }

  // ------------------------------------------------------------------
  // MinHash index (text and video): index rows carry the doc's FULL
  // signature; a probe's similarity is the standard MinHash ESTIMATE
  // (fraction of agreeing signature slots). Run [[verifyJaccard]] against
  // stored shingle sets when exactness is worth a second table.
  // ------------------------------------------------------------------

  /** Write the at-rest MinHash LSH index for cross-batch NEAR-dup
    * dedup ([[incrementalNearDups]] probes it).
    */
  def writeMinHashIndex(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      table: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 64
  ): Unit =
    writeBandIndex(
      minHashIndexRows(
        shingleSets(corpus, textCol, idCol, shingleSize), numHashes, bands, nBuckets),
      table,
      nBuckets,
      indexProps(numHashes, bands, TextSource)
    )

  /** The hashing parameters an index was WRITTEN with, recorded as table
    * properties so every later append/probe can be validated against the
    * whole table's contract — not one sampled row, which a mixed-length
    * index (bad earlier append) would slip past. `bands` matters as much
    * as `numHashes`: probing with a different banding than the index was
    * built with computes different (band, bhash) keys and silently
    * misses near-dups.
    */
  private val NumHashesProp = "graft.minhash.numHashes"
  private val BandsProp = "graft.minhash.bands"

  /** WHAT the signatures hash (round 16, video at-rest dedup): "text"
    * (word-shingle sets from [[shingleSets]]) or "video_framegram2"
    * (ordered frame-dHash 2-grams from [[videoShingles]]). Both emit
    * structurally identical (doc_id, sig, band, bhash, bkey) rows, so
    * WITHOUT this property a video probe against a text index would
    * "work" — join, estimate, return zero matches — instead of failing
    * on the modality mismatch. An index without the property is a
    * legacy TEXT index (every pre-r16 index was); `source` is not
    * data-pinnable (the rows look the same either way), so like the
    * embedding index's seed/bitsPerBand the no-props fallback adopts
    * the creating caller's value.
    */
  private val SourceProp = "graft.minhash.source"
  private[ops] val TextSource = "text"
  private[ops] val VideoSource = "video_framegram2"

  private def indexProps(numHashes: Int, bands: Int, source: String): Map[String, String] =
    Map(
      NumHashesProp -> numHashes.toString,
      BandsProp -> bands.toString,
      SourceProp -> source
    )

  /** Fail fast when the caller's (numHashes, bands) disagree with what
    * the index records. An index without the properties (created by a
    * legacy build, or by an [[appendToMinHashIndex]] first append that
    * crashed between table creation and the ALTER TABLE) is validated
    * against the DATA instead — signature length pins numHashes and
    * `max(band)+1` pins bands, since every indexed doc emits one row per
    * band — and the properties are then BACKFILLED so the weaker path
    * never runs again for this table. Backfill happens ONLY when data
    * exists to pin the parameters: an empty no-props index adopts
    * nothing, so a read-path probe run with default parameters cannot
    * freeze its defaults onto a table intended for different ones.
    */
  private def validateIndexParams(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int,
      bands: Int,
      source: String
  ): Unit = {
    val props = tableMeta(spark, table).properties
    // modality first: an absent source property means a legacy TEXT
    // index — only text callers may touch it (see [[SourceProp]])
    require(
      props.getOrElse(SourceProp, TextSource) == source,
      s"index $table holds ${props.getOrElse(SourceProp, TextSource)} signatures; " +
        s"caller probes/appends $source — cross-modality MinHash keys never match"
    )
    (props.get(NumHashesProp), props.get(BandsProp)) match {
      case (Some(nh), Some(b)) =>
        require(
          nh.toInt == numHashes && b.toInt == bands,
          s"index $table was written with (numHashes=$nh, bands=$b); " +
            s"caller asked for ($numHashes, $bands)"
        )
      case _ =>
        // backfill only parameters the DATA actually pins (plus the
        // caller's source, which data CANNOT pin — the emb-index
        // seed/bitsPerBand honesty note applies). An empty index
        // contradicts nothing — but freezing the caller's values
        // there would let a probe run with defaults poison a table
        // intended for different parameters before its first real append.
        if (pinParamsFromData(spark, table, numHashes, bands))
          setTableProps(spark, table, indexProps(numHashes, bands, source))
    }
  }

  /** Validate (numHashes, bands) against a props-less index's DATA —
    * signature length pins numHashes and `max(band)+1` pins bands,
    * since every indexed doc emits one row per band. Returns false on
    * an EMPTY index (nothing to pin), throws on a mismatch.
    */
  private def pinParamsFromData(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int,
      bands: Int
  ): Boolean = {
    val r = spark
      .table(table)
      .agg(
        min(size(col("sig"))).as("mn"),
        max(size(col("sig"))).as("mx"),
        max(col("band")).as("mb")
      )
      .head()
    if (r.isNullAt(0)) false
    else {
      require(
        r.getInt(0) == numHashes && r.getInt(1) == numHashes,
        s"index $table holds ${r.getInt(0)}..${r.getInt(1)}-hash signatures; " +
          s"caller asked for $numHashes"
      )
      require(
        r.getInt(2) == bands - 1,
        s"index $table holds bands 0..${r.getInt(2)}; caller asked for $bands bands"
      )
      true
    }
  }

  /** Append a new batch's band rows to an existing index (created on
    * first use) — [[appendBandIndex]]: O(batch), the index keeps its
    * recorded bucket count.
    */
  def appendToMinHashIndex(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      table: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 64
  ): Unit =
    appendMinHashIndex(
      shingleSets(batch, textCol, idCol, shingleSize), table, numHashes, bands, nBuckets,
      TextSource)

  private def appendMinHashIndex(
      shingled: DataFrame,
      table: String,
      numHashes: Int,
      bands: Int,
      nBuckets: Int,
      source: String
  ): Unit = {
    val spark = shingled.sparkSession
    appendBandIndex(
      spark, table, n => minHashIndexRows(shingled, numHashes, bands, n), nBuckets,
      indexProps(numHashes, bands, source),
      validateIndexParams(spark, table, numHashes, bands, source))
  }

  /** Compact a TEXT MinHash index ([[graft.sinks.Sinks.compactBucketed]])
    * and STAMP its contract props (round 17 — verdict r16 #6): a legacy
    * props-less index is validated against its data pins (signature
    * length, max band) and gains the full property set — including the
    * caller's modality — during the same maintenance pass, so the
    * grandfather clause ("no props ⇒ text") retires one compaction at a
    * time instead of living forever. Callers that compact via the bare
    * [[graft.sinks.Sinks.compactBucketed]] keep working; this is the
    * entry point the ingest loops use.
    */
  def compactTextMinHashIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int = 32,
      bands: Int = 8
  ): Unit = compactMinHashIndex(spark, table, numHashes, bands, TextSource)

  /** [[compactTextMinHashIndex]] for a VIDEO index (modality prop
    * `video_framegram2`).
    */
  def compactVideoMinHashIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int = 32,
      bands: Int = 8
  ): Unit = compactMinHashIndex(spark, table, numHashes, bands, VideoSource)

  private def compactMinHashIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int,
      bands: Int,
      source: String
  ): Unit = {
    stampMinHashIndexIfLegacy(spark, table, numHashes, bands, source)
    graft.sinks.Sinks.compactBucketed(spark, table)
  }

  /** OWNER-declared modality stamping of a props-less legacy MinHash
    * index (heals both crash protocols first, then validates). Unlike a
    * foreign probe — where "no props" must default to legacy text —
    * this entry is run by the index's OWNING loop, whose declared
    * modality is authoritative: it is how a pre-r17 crash-window video
    * index (or a genuine legacy text index) gets correctly stamped so
    * the grandfather clause retires. Hash params are still data-pinned;
    * an empty index adopts nothing. A propped index is validated
    * against the caller's full contract instead. Shared by
    * [[compactTextMinHashIndex]]/[[compactVideoMinHashIndex]] and the
    * video ingest loop's pre-probe adoption
    * ([[graft.streaming.VideoIngest]] — without which a legacy video
    * index would brick the loop on the cross-modality check before any
    * maintenance pass could reach it).
    */
  private[graft] def stampVideoMinHashIndexIfLegacy(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int,
      bands: Int
  ): Unit = stampMinHashIndexIfLegacy(spark, table, numHashes, bands, VideoSource)

  private def stampMinHashIndexIfLegacy(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numHashes: Int,
      bands: Int,
      source: String
  ): Unit = {
    // heal both crash protocols before validate touches data
    graft.sinks.Sinks.recoverStagedPublish(spark, table)
    graft.sinks.Sinks.recoverBucketedSwap(spark, table, clearStaleOld = true)
    if (!tableMeta(spark, table).properties.contains(SourceProp)) {
      if (pinParamsFromData(spark, table, numHashes, bands))
        setTableProps(spark, table, indexProps(numHashes, bands, source))
    } else
      // propped index: the caller's full contract must match it
      validateIndexParams(spark, table, numHashes, bands, source)
  }

  /** (doc_id, sig, band, bhash, bkey) index rows from a pre-computed
    * (doc_id, shingles) frame — text ([[shingleSets]]) and video
    * ([[videoShingles]]) indexes both feed it. Identical band hashing to
    * [[lshCandidates]] (shared `bandKeyCols`), so probing the index
    * finds exactly the cross pairs in-corpus banding would — pinned in
    * DedupSimilaritySpec.
    */
  private def minHashIndexRows(
      shingled: DataFrame,
      numHashes: Int,
      bands: Int,
      nBuckets: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    withBucketKey(
      minHashSignatures(shingled, numHashes)
        .select(col("doc_id"), col("sig"), explode(bandKeyCols(bands, numHashes / bands)).as("bk"))
        .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.bhash").as("bhash")),
      nBuckets
    )
  }

  /** Near-dup candidates of a NEW batch against the at-rest index
    * ([[writeMinHashIndex]]) — "dedup today's crawl against the whole
    * corpus" without touching most of it ([[probeBandIndex]]).
    * Similarity is the MinHash ESTIMATE from the carried signatures.
    * Returns (i = history doc, j = batch doc, est_jaccard >= threshold).
    */
  def incrementalNearDups(
      spark: org.apache.spark.sql.SparkSession,
      newBatch: DataFrame,
      table: String,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame =
    probeMinHashIndex(
      spark, shingleSets(newBatch, textCol, idCol, shingleSize), table,
      numHashes, bands, threshold, broadcastRowLimit, dropSameId, TextSource)

  /** The MinHash probe from a pre-computed (doc_id, shingles) frame;
    * `source` must match the index's recorded modality ([[SourceProp]]).
    */
  private def probeMinHashIndex(
      spark: org.apache.spark.sql.SparkSession,
      shingled: DataFrame,
      table: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      broadcastRowLimit: Long,
      dropSameId: Boolean,
      source: String
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    probeBandIndex(
      spark,
      table,
      n => minHashIndexRows(shingled, numHashes, bands, n),
      // a (numHashes, bands) mismatch vs the index would silently
      // corrupt band hashing and the estimator denominator
      validateIndexParams(spark, table, numHashes, bands, source),
      idCol = "doc_id",
      valCol = "sig",
      verify = (s, t) =>
        (aggregate(
          zip_with(s, t, (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L),
          (acc, v) => acc + v
        ).cast("double") / numHashes).as("est_jaccard"),
      keep = col("est_jaccard") >= threshold,
      broadcastRowLimit,
      dropSameId
    )
  }

  // ------------------------------------------------------------------
  // Embedding-LSH index — the semantic analogue of the MinHash index,
  // completing the dedup at-rest/streaming matrix: exact has the Bloom
  // incremental, substring has the gram index, MinHash has
  // writeMinHashIndex — this gives hyperplane-LSH semantic dedup the
  // same shape. Verification is the EXACT cosine of the carried vectors.
  // ------------------------------------------------------------------

  /** The hyperplane parameters an embedding-LSH index was WRITTEN with,
    * recorded as table properties (the [[writeMinHashIndex]]
    * discipline). All four matter: probing with different planes
    * (dim/bands/bitsPerBand/seed) computes different band keys and
    * silently misses near-dups. Unlike MinHash — where the data pins
    * both parameters — only `dim` (signature length) and `bands`
    * (max(band)+1) are data-pinnable here; `bitsPerBand` and `seed`
    * exist ONLY in the properties, so the no-props fallback of
    * [[validateEmbIndexParams]] is honest about adopting the caller's
    * values for those two.
    */
  private val EmbDimProp = "graft.emblsh.dim"
  private val EmbBandsProp = "graft.emblsh.bands"
  private val EmbBitsProp = "graft.emblsh.bitsPerBand"
  private val EmbSeedProp = "graft.emblsh.seed"

  private def embIndexProps(
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      seed: Long
  ): Map[String, String] =
    Map(
      EmbDimProp -> dim.toString,
      EmbBandsProp -> bands.toString,
      EmbBitsProp -> bitsPerBand.toString,
      EmbSeedProp -> seed.toString
    )

  /** Fail fast when the caller's plane parameters disagree with the
    * index contract. No-props indexes (legacy build, or a first append
    * that crashed between table creation and ALTER TABLE) validate
    * `dim`/`bands` against the DATA and then backfill — including the
    * data-unpinnable `bitsPerBand`/`seed` from the caller, which is
    * sound for the crash window (the same caller's parameters were in
    * flight) and documented as the residual trust for legacy tables.
    */
  private def validateEmbIndexParams(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      seed: Long
  ): Unit = {
    val props = tableMeta(spark, table).properties
    (props.get(EmbDimProp), props.get(EmbBandsProp), props.get(EmbBitsProp),
      props.get(EmbSeedProp)) match {
      case (Some(d), Some(b), Some(bits), Some(s)) =>
        require(
          d.toInt == dim && b.toInt == bands && bits.toInt == bitsPerBand && s.toLong == seed,
          s"index $table was written with (dim=$d, bands=$b, bitsPerBand=$bits, seed=$s); " +
            s"caller asked for ($dim, $bands, $bitsPerBand, $seed)"
        )
      case _ =>
        val r = spark
          .table(table)
          .agg(
            min(size(col("embedding"))).as("mn"),
            max(size(col("embedding"))).as("mx"),
            max(col("band")).as("mb")
          )
          .head()
        if (!r.isNullAt(0)) {
          require(
            r.getInt(0) == dim && r.getInt(1) == dim,
            s"index $table holds ${r.getInt(0)}..${r.getInt(1)}-dim embeddings; " +
              s"caller asked for $dim"
          )
          require(
            r.getInt(2) == bands - 1,
            s"index $table holds bands 0..${r.getInt(2)}; caller asked for $bands bands"
          )
          setTableProps(spark, table, embIndexProps(dim, bands, bitsPerBand, seed))
        }
    }
  }

  /** One (vec_id, embedding, band, bhash) row per band per vector — the
    * index rows before their bucket key, and both sides of the inline
    * form [[semanticNearDupsAgainst]].
    */
  private def embeddingBandRows(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      seed: Long
  ): DataFrame =
    df.select(
      col(idCol).as("vec_id"),
      col(vecCol).as("embedding"),
      posexplode(
        graft.plans.HyperplaneBands.hyperplaneBands(
          col(vecCol), hyperplanes(dim, bands * bitsPerBand, seed), bitsPerBand)
      ).as(Seq("band", "bhash"))
    )

  /** The exact-cosine verify of the embedding family (native single-loop
    * [[graft.plans.CosineSimilarity]] — the hot loop of the probe).
    */
  private val cosineVerify: (Column, Column) => Column =
    (a, b) => Fns.cosine(a, b).as("cosine")

  /** Build the at-rest embedding-LSH index: band rows bucketed on
    * `bkey`, plane parameters recorded as table properties. SIZING:
    * `bitsPerBand` must scale with the corpus — 2^bitsPerBand ≳ N /
    * targetBucketSize (the [[embeddingNearDupPairs]] lesson, measured in
    * the round-12 soak); an undersized band key makes every posting
    * bucket huge and the probe join quadratic in the bucket.
    */
  def writeEmbeddingLshIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      table: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      nBuckets: Int = 64
  ): Unit =
    writeBandIndex(
      withBucketKey(
        embeddingBandRows(corpus, vecCol, idCol, dim, bands, bitsPerBand, seed), nBuckets),
      table,
      nBuckets,
      embIndexProps(dim, bands, bitsPerBand, seed)
    )

  /** Append a new batch's band rows ([[appendBandIndex]]): O(batch),
    * validated against the plane contract, which is recorded when this
    * append CREATES the table.
    */
  def appendToEmbeddingLshIndex(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      table: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      nBuckets: Int = 64
  ): Unit = {
    val spark = batch.sparkSession
    appendBandIndex(
      spark,
      table,
      n => withBucketKey(embeddingBandRows(batch, vecCol, idCol, dim, bands, bitsPerBand, seed), n),
      nBuckets,
      embIndexProps(dim, bands, bitsPerBand, seed),
      validateEmbIndexParams(spark, table, dim, bands, bitsPerBand, seed)
    )
  }

  /** Near-dups of a NEW embedding batch against the at-rest index
    * ([[writeEmbeddingLshIndex]], probed by [[probeBandIndex]]).
    * Verification is the EXACT cosine of the stored vectors (the index
    * carries them — no second corpus join, unlike MinHash whose
    * in-index check is the signature estimate). Returns (i = history
    * id, j = batch id, cosine >= threshold).
    *
    * Plane parameters are read from the table contract
    * ([[validateEmbIndexParams]]); `dropSameId = false` turns same-id
    * matches into replay detection, the [[incrementalNearDups]]
    * convention the streaming ingest relies on.
    */
  def incrementalSemanticNearDups(
      spark: org.apache.spark.sql.SparkSession,
      newBatch: DataFrame,
      table: String,
      vecCol: String,
      idCol: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      threshold: Double = 0.9,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame =
    probeBandIndex(
      spark,
      table,
      n => withBucketKey(
        embeddingBandRows(newBatch, vecCol, idCol, dim, bands, bitsPerBand, seed), n),
      validateEmbIndexParams(spark, table, dim, bands, bitsPerBand, seed),
      idCol = "vec_id",
      valCol = "embedding",
      verify = cosineVerify,
      keep = col("cosine") >= threshold,
      broadcastRowLimit,
      dropSameId
    )

  /** Inline two-frame form of the index probe: band `history` on the
    * fly and find its near-dups of `batch` — semantically IDENTICAL to
    * [[incrementalSemanticNearDups]] over an index built from `history`
    * (spec-pinned; both run [[joinBands]]), which is what makes the
    * at-rest path's results oracle-checkable (driver q148 replays this
    * in DuckDB). Use the index form in production; this form costs a
    * full history banding pass per call.
    */
  def semanticNearDupsAgainst(
      history: DataFrame,
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      threshold: Double = 0.9,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame = {
    def bandRows(df: DataFrame) =
      embeddingBandRows(df, vecCol, idCol, dim, bands, bitsPerBand, seed)
    joinBands(
      bandRows(history),
      // pinned like the index path's batch rows: the broadcast-fit probe
      // counts these rows, and an unmaterialized plan would re-run the
      // batch's hyperplane banding once for the count and again for the
      // join
      Materialize(batchSide(bandRows(batch), "vec_id", "embedding")),
      idCol = "vec_id",
      valCol = "embedding",
      verify = cosineVerify,
      keep = col("cosine") >= threshold,
      broadcastRowLimit,
      dropSameId
    )
  }

  // ------------------------------------------------------------------
  // Hamming index (dHash-64 and pHash-256, parameterised by
  // [[ImageHash.Family]]) — the image analogue of the MinHash /
  // embedding-LSH indexes, completing the dedup at-rest matrix for the
  // multimodal column family. Rows are the family's band keys of each
  // image's hash (dHash-64: 4×16 bits; pHash-256: 8×32 bits, whose 2³²
  // key space keeps the cross-class collision term dHash's soak
  // measured — pairs ∝ nClasses²/2¹⁶ per band, exponent 1.28 at 9.7k
  // classes — flat out past 10⁸ classes). Verification is the exact
  // hamming of the carried hashes, no second table. The two families'
  // indexes fail closed against each other: different props keys AND a
  // max(band) data pin (3 vs 7).
  // ------------------------------------------------------------------

  /** Fail fast unless the index was written with `family`'s banding.
    * `backfill` gates the legacy-props ALTER TABLE: only WRITE-side
    * entry points ([[appendToImageHashIndex]]) may mutate catalog
    * metadata — the probe path is nominally read-only and must stay
    * runnable against a read-only/permission-restricted metastore, so
    * it validates via the same max(band) data pin WITHOUT persisting it.
    */
  private def validateHammingIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      family: ImageHash.Family,
      backfill: Boolean
  ): Unit =
    tableMeta(spark, table).properties.get(family.bandsProp) match {
      case Some(b) =>
        require(
          b.toInt == family.bands,
          s"index $table was written with $b ${family.name} bands; " +
            s"this engine probes ${family.bands}-band ${family.name}"
        )
      case None =>
        // data-pin like validateIndexParams: every indexed image emits
        // one row per band, so max(band)+1 pins the banding
        val r = spark.table(table).agg(max(col("band"))).head()
        if (!r.isNullAt(0)) {
          require(
            r.getInt(0) == family.bands - 1,
            s"index $table holds bands 0..${r.getInt(0)}; this engine probes ${family.bands} bands"
          )
          if (backfill) setTableProps(spark, table, hammingIndexProps(family))
        }
    }

  private def hammingIndexProps(family: ImageHash.Family): Map[String, String] =
    Map(family.bandsProp -> family.bands.toString)

  /** (doc_id, hash, band, bhash, bkey) index rows of non-null hashes. */
  private def hammingIndexRows(
      family: ImageHash.Family,
      hashed: DataFrame,
      nBuckets: Int
  ): DataFrame =
    withBucketKey(hammingBandRows(hashed, family.hashCol, family), nBuckets)

  /** Build the at-rest index of `family` from (doc_id, media) images or
    * pre-computed (doc_id, hash) rows (staged publish: the banding prop
    * lands before visibility).
    */
  def writeImageHashIndex(family: ImageHash.Family)(
      images: DataFrame,
      table: String,
      nBuckets: Int = 64
  ): Unit =
    writeBandIndex(
      hammingIndexRows(family, imageHashes(family, images), nBuckets), table, nBuckets,
      hammingIndexProps(family))

  /** O(batch) append of images' band rows ([[appendBandIndex]]);
    * `nBuckets` only applies when the append CREATES the table.
    */
  def appendToImageHashIndex(family: ImageHash.Family)(
      images: DataFrame,
      table: String,
      nBuckets: Int = 64
  ): Unit = {
    val spark = images.sparkSession
    val hashed = imageHashes(family, images)
    appendBandIndex(
      spark, table, n => hammingIndexRows(family, hashed, n), nBuckets,
      hammingIndexProps(family), validateHammingIndex(spark, table, family, backfill = true))
  }

  /** Perceptual near-dups of a NEW image batch — (doc_id, media) images
    * or pre-computed (doc_id, hash) rows — against the at-rest index
    * ([[probeBandIndex]]); only band-matched pairs pay the exact
    * hamming verify, which unlike the MinHash estimate is EXACT from
    * the carried hashes alone. Returns (i = indexed image, j = batch
    * image, hamming ≤ `maxHamming`).
    */
  def incrementalImageHashDups(family: ImageHash.Family)(
      spark: org.apache.spark.sql.SparkSession,
      images: DataFrame,
      table: String,
      maxHamming: Int = family.defaultMaxHamming,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame = {
    val hashed = imageHashes(family, images)
    probeBandIndex(
      spark,
      table,
      n => hammingIndexRows(family, hashed, n),
      validateHammingIndex(spark, table, family, backfill = false),
      idCol = "doc_id",
      valCol = family.hashCol,
      verify = (a, b) => family.hamming(a, b).as("hamming"),
      keep = col("hamming") <= maxHamming,
      broadcastRowLimit,
      dropSameId
    )
  }

  // ------------------------------------------------------------------
  // Video content dedup (round 15 — verdict r14 #5): sequence-level
  // near-dup detection composed from verified parts — per-frame dHash
  // ([[Multimodal.frameDHash64]]), ORDERED frame-hash 2-grams as the
  // clip's shingle set (order-sensitive: the same footage re-cut in a
  // different sequence shares frames but not grams), then the EXISTING
  // MinHash/LSH/exact-Jaccard pipeline verbatim ([[minHashSignatures]]
  // → [[lshCandidates]] → [[verifyJaccard]]). A re-encoded clip hashes
  // frame-identical (dHash survives lossless re-encodes and brightness
  // shifts) → identical gram set → Jaccard 1 → identical signatures →
  // guaranteed recall; a truncated/trimmed clip degrades gracefully
  // ((g−k)/g Jaccard for k lost grams).
  // ------------------------------------------------------------------

  /** Per-clip ordered frame-gram shingle sets: (doc_id = video_id,
    * shingles = distinct "fh_t:fh_{t+1}" strings). Undecodable frames
    * are dropped BEFORE pairing (the dHash null contract: noise must
    * not gram-match other noise); clips with fewer than 2 decodable
    * frames have no grams and are excluded, like empty-shingle docs in
    * [[shingleSets]].
    */
  def videoShingles(frames: DataFrame): DataFrame =
    Multimodal
      .frameDHash64(frames)
      .filter(col("fh").isNotNull)
      .groupBy(col("video_id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("fh")))).as("seq"))
      .filter(size(col("seq")) >= 2)
      .select(
        col("video_id").as("doc_id"),
        array_distinct(
          transform(
            sequence(lit(1), size(col("seq")) - 1),
            t =>
              concat_ws(
                ":",
                element_at(col("seq"), t).getField("fh"),
                element_at(col("seq"), t + 1).getField("fh")
              )
          )
        ).as("shingles")
      )

  /** Video near-dup pairs: (i, j, jaccard ≥ `threshold`) over the
    * frame-gram sets — [[minHashLshPairs]]'s band/bucket/verify shape
    * on [[videoShingles]]. Jaccard is floored to 4dp like the text
    * pipeline's oracle form.
    */
  def videoNearDupPairs(
      frames: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    videoNearDupPairsFromShingles(
      Materialize(videoShingles(frames)), threshold, numHashes, bands, maxBucket, dropMetrics)
  }

  /** [[videoNearDupPairs]] from a pre-computed — and MATERIALIZED —
    * (doc_id, shingles) frame (it is read twice: banding + exact
    * verify). The shape [[graft.streaming.VideoIngest]] threads its
    * one decode+shingle pass through.
    */
  def videoNearDupPairsFromShingles(
      shingled: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      dropMetrics: Option[Observation] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val signed = minHashSignatures(shingled, numHashes)
    val cand = lshCandidates(signed, bands, numHashes / bands, maxBucket, dropMetrics)
    verifyJaccard(cand, shingled)
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), (floor(col("jaccard") * 10000.0) / 10000.0).as("jaccard"))
  }

  // ------------------------------------------------------------------
  // Video MinHash index (round 16 — verdict r15 #3): the text index's
  // rows over each clip's frame-gram shingle set, so a probe verifies
  // candidates inside the pruned buckets via the signature ESTIMATE;
  // exact Jaccard needs the frame corpus and is the inline form's (or
  // [[incrementalVideoNearDupsExact]]'s) job. The index records
  // source=video_framegram2 ([[SourceProp]]), so text↔video
  // cross-probes fail closed even though the row schema matches.
  // ------------------------------------------------------------------

  /** Build the at-rest video MinHash index from a (video_id, frame_idx,
    * media) frame corpus.
    */
  def writeVideoMinHashIndex(
      frames: DataFrame,
      table: String,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 64
  ): Unit =
    writeBandIndex(
      minHashIndexRows(videoShingles(frames), numHashes, bands, nBuckets),
      table,
      nBuckets,
      indexProps(numHashes, bands, VideoSource)
    )

  /** O(batch) append of new clips' band rows from a pre-computed
    * (doc_id, shingles) frame — the shape [[graft.streaming.VideoIngest]]
    * threads its one shingle pass through; an existing index keeps its
    * recorded bucket count ([[appendBandIndex]]).
    */
  def appendToVideoIndexFromShingles(
      shingled: DataFrame,
      table: String,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 64
  ): Unit = appendMinHashIndex(shingled, table, numHashes, bands, nBuckets, VideoSource)

  /** Near-dups of a NEW batch of clips against the at-rest video index
    * — the [[incrementalNearDups]] shape on [[videoShingles]]: the
    * batch's band keys prune the index scan to matching buckets, the
    * batch side broadcasts (size-guarded), similarity is the MinHash
    * estimate from the carried signatures. Returns (i = indexed clip,
    * j = batch clip, est_jaccard ≥ threshold).
    */
  def incrementalVideoNearDups(
      spark: org.apache.spark.sql.SparkSession,
      frames: DataFrame,
      table: String,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame =
    incrementalVideoNearDupsFromShingles(
      spark, videoShingles(frames), table, numHashes, bands, threshold,
      broadcastRowLimit, dropSameId)

  /** [[incrementalVideoNearDups]] with an EXACT-Jaccard confirm
    * against the frame corpus (round 17 — verdict r16 #8): the at-rest
    * probe's standard verification is the MinHash ESTIMATE from the
    * carried signatures — the text-index contract, no second table
    * required. Callers that KEEP the frame corpus can opt into the
    * inline form's guarantee instead: every banded candidate pair is
    * verified by exact Jaccard over the gram sets. The estimate filter
    * is BYPASSED (not stacked — estimate-then-exact would inherit the
    * estimate's false negatives near the threshold), so the result is
    * exactly what inline banding over (corpus ∪ batch) yields for
    * cross pairs; the corpus is pruned to the candidate clips
    * (left_semi on the banded i-ids) BEFORE any decode/gram work, so
    * the confirm costs O(candidate clips), never O(corpus). Returns
    * (i, j, jaccard ≥ threshold) floored to 4dp like
    * [[videoNearDupPairs]].
    */
  def incrementalVideoNearDupsExact(
      spark: org.apache.spark.sql.SparkSession,
      frames: DataFrame,
      table: String,
      corpusFrames: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame =
    incrementalVideoNearDupsExactFromShingles(
      spark, Materialize(videoShingles(frames)), table, corpusFrames,
      numHashes, bands, threshold, broadcastRowLimit, dropSameId)

  /** [[incrementalVideoNearDupsExact]] from pre-computed batch
    * shingles (which must be MATERIALIZED — they feed the candidate
    * probe and the verify join).
    */
  def incrementalVideoNearDupsExactFromShingles(
      spark: org.apache.spark.sql.SparkSession,
      shingled: DataFrame,
      table: String,
      corpusFrames: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame = {
    // banded candidates with the estimate filter OPEN (threshold 0
    // keeps every banded pair — the same candidate set inline banding
    // yields for cross pairs)
    val cand = Materialize(
      probeMinHashIndex(
        spark, shingled, table, numHashes, bands, 0.0, broadcastRowLimit,
        dropSameId, VideoSource
      ).select(col("i"), col("j")))
    // prune the corpus to candidate i-clips before decode+gram
    val iFrames = corpusFrames.join(
      cand.select(col("i").as("video_id")).distinct(), Seq("video_id"), "left_semi")
    // batch-side gram sets win on a same-id collision (a replayed clip
    // is verified against what the BATCH carries, like the inline
    // form) — deterministic anti-join, not an arbitrary-keeper dedup
    val lookup = Materialize(
      shingled.unionByName(
        videoShingles(iFrames)
          .join(shingled.select(col("doc_id")), Seq("doc_id"), "left_anti")))
    // a candidate clip the caller's corpus can no longer gram (frames
    // purged by retention, or a stale corpus handle) would silently
    // DROP out of verifyJaccard's inner joins — the opt-in stronger
    // guarantee must never return quietly weaker results than the
    // estimate probe, so a coverage gap fails loud (candidate-bounded
    // check, never O(corpus))
    val uncovered = cand
      .select(col("i").as("doc_id"))
      .distinct()
      .join(lookup.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .limit(5)
      .collect()
    require(
      uncovered.isEmpty,
      "incrementalVideoNearDupsExact: candidate clips missing from (or no longer " +
        s"gram-able in) the supplied frame corpus: ${uncovered.map(_.get(0)).mkString(", ")}" +
        " — the exact confirm cannot verify them; pass the corpus the index was built " +
        "from, or use the estimate probe")
    verifyJaccard(cand, lookup)
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), (floor(col("jaccard") * 10000.0) / 10000.0).as("jaccard"))
  }

  /** [[incrementalVideoNearDups]] from pre-computed shingles. */
  def incrementalVideoNearDupsFromShingles(
      spark: org.apache.spark.sql.SparkSession,
      shingled: DataFrame,
      table: String,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      broadcastRowLimit: Long = 4000000L,
      dropSameId: Boolean = true
  ): DataFrame =
    probeMinHashIndex(
      spark, shingled, table, numHashes, bands, threshold, broadcastRowLimit,
      dropSameId, VideoSource)

  /** Map-side membership probe against a serialized bloom filter. */
  private def bloomProbe(bloomBytes: Array[Byte], value: Column): Column =
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes,
          org.apache.spark.sql.types.BinaryType
        ),
        GraftColumnBridge.expression(value)
      )
    )

  /** The bloom-fronted membership check: the rows of `batch`, projected
    * to `cols`, whose `key` is not in `stored`. A map-side probe of
    * `bloom` over `xxhash64(bloomKey)` tags each row in ONE pinning job,
    * which also counts the rows and the bloom-positives; only the
    * positives anti-join `stored`, and `stored` is not even planned
    * when there are none. Without a filter (`bloom = None`) every row
    * is a positive. Returns (absent rows, batch rows, positives): the
    * absent rows are the pinned negatives when nothing was positive,
    * else a lazy union with the confirmed positives. Exact either way —
    * a false positive costs a confirm, never the answer.
    */
  private[graft] def bloomAbsent(
      batch: DataFrame,
      cols: Seq[Column],
      bloomKey: Column,
      bloom: Option[Array[Byte]],
      stored: => DataFrame,
      key: String
  ): (DataFrame, Long, Long) = {
    val maybe = "__maybe"
    val obs = Observation()
    val tagged = Materialize(
      batch
        .select(cols :+ bloom.fold(lit(true))(b => bloomProbe(b, xxhash64(bloomKey))).as(maybe): _*)
        .observe(obs, count(lit(1)).as("n"), count_if(col(maybe)).as("maybe")))
    val m = obs.get
    val (n, positives) = (m("n").asInstanceOf[Long], m("maybe").asInstanceOf[Long])
    val definite = tagged.filter(!col(maybe)).drop(maybe)
    if (positives == 0L) (definite, n, 0L)
    else (
      definite.unionByName(tagged.filter(col(maybe)).drop(maybe).join(stored, Seq(key), "left_anti")),
      n, positives)
  }

  /** The seeded hyperplane family shared by the native expression, the
    * composed-form parity pin, and the DuckDB oracle replay
    * (SparkEntry.embeddingLshSql regenerates the same RNG sequence).
    */
  private[graft] def hyperplanes(dim: Int, n: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Substring-level exact duplication (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" family;
    * reference has no analog — document-level only): find the maximal
    * token runs of each document that occur ≥ `minCount` times ANYWHERE
    * in the corpus (other documents or elsewhere in the same one).
    * MinHash/SimHash/containment catch whole near-dup documents; this
    * catches the boilerplate paragraph pasted into a million otherwise
    * unique pages, which document-level dedup structurally cannot see.
    *
    * Bounded design — never a global suffix array (which needs the
    * corpus ordered in one place; Lee et al.'s own suffix automaton is
    * a single-machine program):
    *  1. slide a `gramTokens`-token window (stride 1) over each doc →
    *     (doc, pos, gram); linear in corpus token count, map-side;
    *  2. count gram occurrences corpus-wide (one hash shuffle,
    *     map-side partial aggregation) and keep positions whose gram
    *     reaches `minCount` via a semi join (AQE skew-split handles a
    *     mega-hot boilerplate gram; nothing is ever paired, so there is
    *     no quadratic candidate stage to cap);
    *  3. per doc, merge surviving positions into maximal spans
    *     (gaps-and-islands over a per-doc window: a gram starting
    *     within `gramTokens` of its predecessor overlaps or abuts it);
    *     [span_start, span_end) are token offsets, end exclusive.
    *
    * Every duplicated run of length >= gramTokens is covered exactly;
    * shorter duplicates are invisible (the Lee et al. threshold knob —
    * they use 50 BPE tokens). Output: (doc_id, span_start, span_end,
    * span_tokens), one row per maximal span.
    *
    * `hashGrams` (default ON — the at-scale configuration): carry each
    * gram as its xxhash64 instead of its ~8-token string, shrinking
    * the materialized position frame and the count/semi-join shuffle
    * by roughly the gram width (the gram VALUE never appears in the
    * output, only its equality classes). A 64-bit collision marks a
    * unique position as duplicated — expected ~(positions²/2⁶⁵) false
    * positives corpus-wide, i.e. a handful at 100 TB — and errs toward
    * over-removal, the conservative direction for training data (same
    * trade Lee et al. make with their hash-based bucketing). The q65
    * oracle entry opts OUT (`hashGrams = false`) so both engines
    * compare raw strings — the same exact-mode-for-the-oracle pattern
    * as q17's `maxDocFreq = None`; equality of the two modes on a
    * collision-free corpus is spec-pinned.
    */
  def duplicateSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      gramTokens: Int = 8,
      minCount: Int = 2,
      hashGrams: Boolean = true
  ): DataFrame = {
    require(gramTokens >= 1 && minCount >= 2, "need gramTokens >= 1, minCount >= 2")
    val k = gramTokens
    // (doc_id, pos, gram) — one row per window position; materialized
    // once (read by the count agg AND the semi join probe side)
    val grams = Materialize(gramPositions(df, textCol, idCol, k, hashGrams))
    val dupGrams = grams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("gram"))
    mergeIslands(grams.join(dupGrams, Seq("gram"), "left_semi"), k)
  }

  /** The sliding-window gram stage of [[duplicateSpans]]: one
    * (doc_id, pos, gram) row per window position, map-side.
    */
  private[graft] def gramPositions(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      hashGrams: Boolean
  ): DataFrame = {
    // hashed mode runs the native one-pass [[graft.plans.GramHashes]]
    // (bit-identical to the composed slice/concat_ws/xxhash64 form —
    // HashExpressionsSpec); the raw-string mode keeps the composed form
    // the DuckDB oracle replays
    val grams: Column =
      if (hashGrams) graft.plans.GramHashes.gramHashes(col("words"), k)
      else
        transform(
          sequence(lit(0), size(col("words")) - k),
          i => concat_ws(" ", slice(col("words"), i + 1, lit(k)))
        )
    // spread before tokenize + gram hashing (guide §2.5; no-op on
    // well-partitioned input)
    Spread
      .byKey(
        df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_gp_text")),
        col("doc_id")
      )
      .select(col("doc_id"), Fns.tokens(col("_gp_text")).as("words"))
      .filter(size(col("words")) >= k)
      .select(col("doc_id"), posexplode(grams).as(Seq("pos", "gram")))
  }

  /** The run-merge stage of [[duplicateSpans]]: gaps-and-islands over
    * each doc's surviving positions — a position extends the open span
    * iff it starts within k of its predecessor (overlap or abut).
    */
  private def mergeIslands(dupPos: DataFrame, k: Int): DataFrame = {
    val order = Window.partitionBy("doc_id").orderBy("pos")
    val acc = Window
      .partitionBy("doc_id")
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn(
        "brk",
        when(col("pos") - lag("pos", 1).over(order) <= k, 0L).otherwise(1L)
      )
      .withColumn("island", sum(col("brk")).over(acc))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end")
      )
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens")
      )
  }

  /** Per-document duplicated-token fraction — the filter SIGNAL layered
    * on [[duplicateSpans]] (curation pipelines threshold on it: "drop
    * documents more than X% duplicated" — the doc-level decision, where
    * [[removeDuplicateSpans]] is the span-level treatment). Every input
    * document appears exactly once: (doc_id, n_tokens, dup_tokens,
    * dup_frac), dup_tokens = total tokens covered by duplicate spans
    * (spans are disjoint by construction — islands are separated by
    * more than one gram length — so the sum never exceeds n_tokens),
    * dup_frac floor-truncated to 4 decimals from integer counts (the
    * engine's portable-fraction idiom; see `skewProfile`).
    */
  def duplicateSpanFraction(
      df: DataFrame,
      textCol: String,
      idCol: String,
      gramTokens: Int = 8,
      minCount: Int = 2,
      hashGrams: Boolean = true
  ): DataFrame = {
    val perDoc = duplicateSpans(df, textCol, idCol, gramTokens, minCount, hashGrams)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("dup_tokens"))
    df.select(
        col(idCol).cast("long").as("doc_id"),
        size(Fns.tokens(col(textCol))).cast("long").as("n_tokens")
      )
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(
          col("n_tokens") > 0,
          floor(coalesce(col("dup_tokens"), lit(0L)) * 10000.0 / col("n_tokens")) / 10000.0
        ).otherwise(0.0).as("dup_frac")
      )
  }

  /** Cross-corpus overlap estimate via mergeable HLL sketches — the
    * reconnaissance pass before committing to an exact decontamination
    * or cross-dedup job at scale: each corpus collapses to a
    * 2^lgConfigK-register sketch over its text fingerprints (one
    * map-side agg per corpus, bytes across the wire, NO join of the
    * corpora), and the union sketch gives |A|, |B|, |A∪B| estimates →
    * inclusion-exclusion |A∩B| and a Jaccard estimate. Standard HLL
    * relative error ≈ 1.04/√2^lgConfigK (~0.8% at the default 14);
    * the intersection inherits the union's absolute error, so tiny
    * overlaps between huge corpora read as noise — this ranks corpus
    * PAIRS for the exact pass ([[TextAnalysis.decontaminate]],
    * [[incrementalExact]]), it does not replace it. Sketches are
    * deterministic for a given input, so the estimate is stable
    * run-to-run.
    */
  def corpusOverlapEstimate(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      lgConfigK: Int = 14
  ): DataFrame = {
    def sketch(df: DataFrame, as: String) =
      df.agg(hll_sketch_agg(md5(col(textCol)), lit(lgConfigK)).as(as))
    sketch(a, "sk_a")
      .crossJoin(broadcast(sketch(b, "sk_b")))
      .select(
        hll_sketch_estimate(col("sk_a")).as("n_a"),
        hll_sketch_estimate(col("sk_b")).as("n_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("n_union")
      )
      .select(
        col("n_a"),
        col("n_b"),
        col("n_union"),
        greatest(lit(0L), col("n_a") + col("n_b") - col("n_union")).as("n_intersect"),
        when(
          col("n_union") > 0,
          greatest(lit(0L), col("n_a") + col("n_b") - col("n_union")).cast("double") /
            col("n_union")
        ).otherwise(0.0).as("jaccard_est")
      )
  }

  /** Exact-replayable counterpart of [[corpusOverlapEstimate]]: a
    * pairwise similarity matrix over every GROUP of one corpus (source,
    * domain, crawl snapshot, …) from per-group MinHash slot signatures.
    * Slot j of a group's signature is `min over its distinct shingles of
    * (hash(shingle) XOR seed_j)` — pure integer math, so unlike the HLL
    * recon pass the estimate replays bit-identically in the driver's
    * DuckDB oracle (q68), and the per-pair estimator is the standard
    * one-permutation-per-slot MinHash collision rate: E[matching/slots]
    * = Jaccard(shingles(A), shingles(B)).
    *
    * Scale shape (100 TB, millions of groups): the heavy work — distinct
    * (group, shingle) and the per-group signature agg — is one shuffle
    * each on bounded-width rows, and slot matching is an EQUI-join on
    * (slot_index, slot_value), i.e. collision lists per slot value,
    * never an all-pairs comparison of signatures. Only the optional
    * zero-fill of never-colliding pairs (`includeZeroPairs`) is
    * quadratic in #groups — it assembles the dense matrix callers want
    * at dashboard-sized group counts; pass false when groups number in
    * the millions and only colliding pairs matter (the candidate-pair
    * semantic, same contract as [[lshCandidates]]).
    *
    * Reference ties: complements `consumer.py`'s per-source ingest stats
    * (file:268-301 tracks sources independently; it has no cross-source
    * comparison) — this is the recon that decides which source pairs
    * feed [[TextAnalysis.decontaminate]] / cross-dedup first.
    */
  def sourceSimilarityMatrix(
      df: DataFrame,
      textCol: String,
      groupCol: String,
      shingleSize: Int = 3,
      numSlots: Int = 128,
      seed: Long = 7268L,
      includeZeroPairs: Boolean = true,
      tokenHash: Option[Column => Column] = None
  ): DataFrame = {
    require(numSlots > 0, s"numSlots must be positive, got $numSlots")
    val seeds = sourceSimilaritySeeds(numSlots, seed)
    // Per-DOCUMENT signatures first (one primitive loop per row via the
    // native XorMinSignature; never an explode of shingle occurrences),
    // then slot-wise min across a group's documents. min is
    // duplicate-insensitive and associative, so folding per-doc minima
    // is identical to signing the group's distinct shingle SET (which
    // the oracle computes) — with NO shuffle proportional to the corpus:
    // the only exchange carries #groups x numSlots rows. The slots frame
    // is read three times downstream (both join sides and the group
    // list), so it is pinned via Materialize rather than re-deriving the
    // signature pipeline per read.
    // production default (None): native one-pass GramHashes (xxhash64
    // gram hashes, no shingle-string array); custom hash (the oracle's
    // md5TokenHash): hash the materialized shingle strings.
    // spread before the per-doc signature projection (guide §2.5; no-op
    // on partitioned input): tokenize + shingle + hash + the
    // numSlots-way XOR-min fold is the whole per-row cost, and a
    // single-split corpus scan ran it serial (r20 q74 profile: 0.87 s
    // of CPU in ONE task). Keyed by the text (deterministic routing);
    // the downstream (source, slot) min-aggregation is order-free.
    val docSig = Spread
      .byKey(df.select(col(groupCol).as("source"), col(textCol).as("_ss_text")), col("_ss_text"))
      .select(
        col("source"),
        posexplode(
          graft.plans.XorMinSignature.xorMinSignature(
            tokenHash match {
              case None =>
                graft.plans.GramHashes.gramHashes(Fns.tokens(col("_ss_text")), shingleSize)
              case Some(f) =>
                transform(Fns.shingles(Fns.tokens(col("_ss_text")), shingleSize), g => f(g))
            },
            seeds
          )
        ).as(Seq("slot", "x"))
      )
    val slots = Materialize(
      docSig
        .filter(col("x").isNotNull) // shingle-less docs contribute nothing
        .groupBy(col("source"), col("slot"))
        .agg(min(col("x")).as("v"))
    )
    val matched = slots
      .as("a")
      .join(
        slots.as("b"),
        col("a.slot") === col("b.slot") && col("a.v") === col("b.v") &&
          col("a.source") < col("b.source")
      )
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("matching_slots"))
    val est = (m: Column) => m.cast("double") / numSlots
    if (!includeZeroPairs) {
      matched.select(
        col("source_a"),
        col("source_b"),
        col("matching_slots"),
        est(col("matching_slots")).as("est_jaccard")
      )
    } else {
      // dense-matrix assembly: quadratic in #groups by construction, so
      // the group list is broadcast (tiny) and the pair frame never
      // shuffles — the non-equi `<` join must NOT fall back to a
      // CartesianProduct under the engine-wide plan net.
      val srcs = slots.select(col("source")).distinct()
      val pairs = srcs
        .as("x")
        .join(broadcast(srcs.as("y")), col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
      pairs
        .join(matched, Seq("source_a", "source_b"), "left")
        .select(
          col("source_a"),
          col("source_b"),
          coalesce(col("matching_slots"), lit(0L)).as("matching_slots"),
          est(coalesce(col("matching_slots"), lit(0L))).as("est_jaccard")
        )
    }
  }

  /** The seeded slot-XOR family [[sourceSimilarityMatrix]] uses, exposed
    * so the q68 oracle replays the SAME literals (q21's seeded-replay
    * trade: determinism is part of the operator's contract).
    */
  def sourceSimilaritySeeds(numSlots: Int, seed: Long = 7268L): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numSlots)(rnd.nextLong())
  }

  /** Corpus reconnaissance report — the operational loop SURVEY §7.5
    * sketches, in one entry point: every source pair of a grouped
    * corpus, RANKED by shingle-level MinHash similarity
    * ([[sourceSimilarityMatrix]]'s exact-replayable estimate, the sort
    * key the exact decontamination / cross-dedup pass
    * ([[graft.ops.TextAnalysis.decontaminate]], [[incrementalExact]])
    * consumes pairs in), each annotated with whole-document overlap
    * estimates from per-source HLL sketches ([[corpusOverlapEstimate]]'s
    * math, batched: ONE sketch agg covers ALL sources — never a
    * per-pair pass over the corpus).
    *
    * The two estimators answer different questions on purpose: a pair
    * can share heavy boilerplate (high `est_jaccard`, shingle-level)
    * while sharing zero verbatim documents (`n_intersect` ≈ 0) — the
    * first routes it to cross-DEDUP, the second to DECONTAMINATION.
    * `rnk` orders by the shingle estimate (ties by pair name) because
    * near-duplicate mass, not just verbatim overlap, is what poisons a
    * training mix.
    *
    * Scale: the matrix half is the [[sourceSimilarityMatrix]] shape
    * (corpus-proportional work is two bounded-width shuffles); the HLL
    * half is one map-side sketch agg (#sources rows of ~2^lgConfigK
    * bytes) self-joined broadcast. The pair grid is quadratic in
    * #sources by construction — this is a dashboard/recon artifact over
    * tens-to-hundreds of sources, not a millions-of-groups operator
    * (for those, [[sourceSimilarityMatrix]] with
    * `includeZeroPairs = false` is the candidate-pair path).
    */
  def corpusRecon(
      df: DataFrame,
      textCol: String,
      groupCol: String,
      shingleSize: Int = 3,
      numSlots: Int = 128,
      seed: Long = 7268L,
      lgConfigK: Int = 14,
      tokenHash: Option[Column => Column] = None
  ): DataFrame = {
    val matrix = sourceSimilarityMatrix(
      df, textCol, groupCol, shingleSize, numSlots, seed,
      includeZeroPairs = true, tokenHash = tokenHash)
    val sketches = df
      .groupBy(col(groupCol).as("source"))
      .agg(
        hll_sketch_agg(md5(col(textCol)), lit(lgConfigK)).as("sk"),
        count(lit(1)).as("n_docs")
      )
    val hllPairs = sketches
      .as("a")
      .join(broadcast(sketches.as("b")), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        col("a.n_docs").as("docs_a"),
        col("b.n_docs").as("docs_b"),
        hll_sketch_estimate(col("a.sk")).as("n_a"),
        hll_sketch_estimate(col("b.sk")).as("n_b"),
        hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))).as("n_union")
      )
      .select(
        col("source_a"), col("source_b"), col("docs_a"), col("docs_b"),
        col("n_a"), col("n_b"), col("n_union"),
        greatest(lit(0L), col("n_a") + col("n_b") - col("n_union")).as("n_intersect")
      )
    matrix
      .join(hllPairs, Seq("source_a", "source_b"), "left")
      .withColumn(
        "rnk",
        row_number()
          .over(
            Window
              .partitionBy(lit(1))
              .orderBy(col("est_jaccard").desc, col("source_a"), col("source_b"))
          )
          .cast("long")
      )
  }

  /** Table property recording the gram length an at-rest gram index was
    * built with — probing or appending with a different k computes
    * different windows and silently corrupts counts, so every entry
    * point validates against it (same contract style as the MinHash
    * index's (numHashes, bands)).
    */
  private val GramTokensProp = "graft.gramindex.gramTokens"

  /** (gram, cnt) partial counts for one corpus/batch — the at-rest gram
    * index's row shape. Grams are ALWAYS hashed here (the gram string
    * never needs to be recovered from the index; 8 bytes/row vs ~50).
    */
  private def gramIndexRows(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    gramPositions(df, textCol, idCol, k, hashGrams = true)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))

  private def gramIndexTokens(spark: org.apache.spark.sql.SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(graft.sinks.Sinks.parseIdent(spark, table))
      .properties
      .get(GramTokensProp)
      .map(_.toInt)
      .getOrElse(
        throw new IllegalArgumentException(
          s"$table does not record $GramTokensProp — not a graft gram index"
        )
      )

  /** At-rest gram-count index over a corpus: (gram_hash, cnt) bucketed
    * by gram, the structure that makes substring dedup INCREMENTAL — a
    * new batch probes corpus-wide occurrence counts in O(batch) shuffle
    * without recounting the corpus ([[incrementalDuplicateSpans]]).
    * Counts are sum-on-read: [[appendToGramIndex]] appends per-batch
    * partial counts as their own rows (O(batch) per append, no rewrite)
    * and every probe aggregates — the same append-then-compact shape as
    * the MinHash index ([[graft.sinks.Sinks.compactBucketed]] merges
    * accumulated per-append files on the usual cadence).
    */
  def writeGramIndex(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      table: String,
      gramTokens: Int = 8,
      nBuckets: Int = 64
  ): Unit = {
    require(gramTokens >= 1, "need gramTokens >= 1")
    // staged publish (round 17): the gram index has NO props-less
    // fallback (gramIndexTokens throws), so the old write-then-ALTER
    // crash window left an index every later touch refused — now
    // unrepresentable
    writeBandIndex(gramIndexRows(corpus, textCol, idCol, gramTokens), table, nBuckets,
      gramIndexProps(gramTokens), bucketCol = "gram")
  }

  private def gramIndexProps(k: Int) = Map(GramTokensProp -> k.toString)

  /** Append a batch's partial gram counts (O(batch); creates the index
    * when absent with `nBuckets`, validates the recorded gram length and
    * keeps the recorded bucket count ([[tableNumBuckets]]) when present).
    * ORDER CONTRACT: probe the batch FIRST ([[incrementalDuplicateSpans]]),
    * then append it — appending first would make the batch's own grams
    * count as history and mark every position duplicated. Replay
    * protection is the ingest layer's job (exact-dedup the batch
    * against the corpus before this, as [[incrementalExact]] /
    * `CorpusIngest` already do) — the index stores counts, not ids, so
    * it cannot recognize a redelivered batch by itself.
    */
  def appendToGramIndex(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      table: String,
      gramTokens: Int = 8,
      nBuckets: Int = 64
  ): Unit = {
    val spark = batch.sparkSession
    // gram rows do not depend on the bucket count: the table is
    // bucketed by the gram hash itself
    appendBandIndex(
      spark, table, _ => gramIndexRows(batch, textCol, idCol, gramTokens), nBuckets,
      gramIndexProps(gramTokens), {
        val k = gramIndexTokens(spark, table)
        require(
          k == gramTokens,
          s"$table is a k=$k gram index; appending k=$gramTokens grams would corrupt counts")
      },
      bucketCol = "gram")
  }

  /** Fold the gram index's accumulated per-append partial counts into
    * one row per gram AND one file per bucket (the sum-on-read design
    * trades append cost for row growth: N appends leave up to N rows
    * per hot gram; probes stay correct — they aggregate — but scan more
    * rows and more files than needed). Same swap protocol and catalog
    * preservation as plain [[graft.sinks.Sinks.compactBucketed]]; run
    * it on the same fanout cadence as the MinHash index.
    */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    gramIndexTokens(spark, table) // fail fast on a non-gram-index table
    graft.sinks.Sinks.compactBucketed(
      spark,
      table,
      df => df.groupBy(col("gram")).agg(sum(col("cnt")).as("cnt"))
    )
  }

  /** [[duplicateSpans]] for a NEW batch against an indexed corpus: a
    * batch position is duplicated iff its gram's corpus-total count
    * (index history + in-batch occurrences) reaches `minCount` — by
    * construction EXACTLY the spans the offline operator would emit for
    * these docs over (indexed corpus ∪ batch), which the spec pins.
    *
    * Scale shape: the index side is never shuffled — its per-gram
    * aggregation and the count join both ride the table's bucketing
    * (plan-proof in the spec); only the batch's grams move. The index
    * scan is columnar and sequential (8-byte keys); Spark's runtime
    * bloom-filter join pruning applies when enabled. Probe FIRST, then
    * [[appendToGramIndex]] the same batch — see the order contract
    * there.
    */
  def incrementalDuplicateSpans(
      spark: org.apache.spark.sql.SparkSession,
      newBatch: DataFrame,
      table: String,
      textCol: String,
      idCol: String,
      minCount: Int = 2
  ): DataFrame = {
    require(minCount >= 2, "need minCount >= 2")
    // a crashed staged publish / compaction must not leave the probe
    // reading a missing table or data dir — heal restore-only first
    graft.sinks.Sinks.recoverStagedPublish(spark, table)
    graft.sinks.Sinks.recoverBucketedSwap(spark, table)
    val k = gramIndexTokens(spark, table)
    val pos = Materialize(gramPositions(newBatch, textCol, idCol, k, hashGrams = true))
    val inBatch = pos.groupBy(col("gram")).agg(count(lit(1)).as("bcnt"))
    // sum-on-read over per-append partial counts; bucketed agg — no
    // exchange on the index side
    val hist = spark.table(table).groupBy(col("gram")).agg(sum(col("cnt")).as("hcnt"))
    val dupGrams = inBatch
      .join(hist, Seq("gram"), "left")
      .filter(col("bcnt") + coalesce(col("hcnt"), lit(0L)) >= minCount)
      .select(col("gram"))
    mergeIslands(pos.join(dupGrams, Seq("gram"), "left_semi"), k)
  }

  /** Apply [[duplicateSpans]]: rebuild each document's text with the
    * duplicated token runs removed (the actual Lee et al. treatment —
    * they cut the duplicated substring, not the document). Documents
    * with no spans pass through verbatim; a fully-covered document
    * comes back with empty text (callers typically follow with a
    * min-length quality filter). Token-space surgery: the text is
    * re-tokenized, positions covered by any span are dropped, and the
    * survivors re-join with single spaces (the tokenizer's canonical
    * form — byte-exact reconstruction is not a goal of the family).
    * One broadcast-friendly aggregation of spans per doc + one join.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      spans: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val covered = (pos: Column, sp: Column) =>
      exists(sp, s => pos >= s.getField("span_start") && pos < s.getField("span_end"))
    df.join(perDoc, df(idCol).cast("long") === perDoc("doc_id"), "left")
      .withColumn(
        textCol,
        when(col("spans").isNull, col(textCol)).otherwise(
          concat_ws(
            " ",
            filter(
              Fns.tokens(col(textCol)),
              (_, i) => !covered(i.cast("long"), col("spans"))
            )
          )
        )
      )
      // drop by REFERENCE: dropping "doc_id" by name would also take the
      // caller's own id column out when idCol == "doc_id"
      .drop(perDoc("doc_id"))
      .drop(col("spans"))
  }
}

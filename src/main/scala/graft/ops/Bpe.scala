package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Byte-pair-encoding merge learning (Sennrich et al. '16) — the
  * tokenizer-training step of an LLM data pipeline, distributed the
  * way the algorithm actually scales: the corpus is touched ONCE to
  * build the (word, freq) vocabulary; every merge iteration runs on
  * that bounded vocab table only (pair-count aggregate + one argmax +
  * a map-side re-segmentation), never on the corpus again.
  *
  * Determinism: pair counts are exact longs; the argmax tie-breaks
  * (count desc, left asc, right asc), so the learned merge sequence is
  * a pure function of the corpus. BpeSpec pins the distributed fit
  * against an independent sequential reference implementation and the
  * classic (es, est)-first textbook example.
  *
  * Oracle-checked (q149): the distributed fit is replayed merge for
  * merge in generated DuckDB SQL (SparkEntry.bpeMergesSql — the
  * unrolled-CTE discipline that also replays k-means/PCA/IVF training),
  * with [[mergeAdjacent]]'s array fold mirrored as a string fold.
  * BpeSpec additionally pins the fit against an independent sequential
  * reference implementation.
  *
  * The per-iteration argmax is a 1-row collect (like k-means
  * centroids); lineage is cut every `checkpointEvery` merges via
  * [[Materialize]] so the vocab plan doesn't deepen linearly.
  */
object Bpe {

  /** Adjacent symbol pairs (l, r) of a symbol array, empty below 2
    * symbols (guarded — `sequence(1, 0)` would count DOWN).
    */
  private def adjacentPairs(syms: Column): Column =
    when(
      size(syms) >= 2,
      transform(
        sequence(lit(1), size(syms) - 1),
        j => struct(element_at(syms, j).as("l"), element_at(syms, j + 1).as("r"))
      )
    ).otherwise(slice(transform(syms, s => struct(s.as("l"), s.as("r"))), lit(1), lit(0)))

  /** Left-to-right non-overlapping merge of adjacent (a, b) into a+b.
    * A fold: the merged symbol a+b can never equal `a` (b is
    * non-empty), so "aaa" under (a,a) correctly becomes [aa, a] with
    * no just-merged flag.
    */
  def mergeAdjacent(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      slice(syms, lit(1), lit(0)), // typed empty array<string>
      (acc, e) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && e === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b)))
        ).otherwise(concat(acc, array(e)))
    )

  /** The bounded (word, freq, syms) vocabulary — the corpus's only
    * full pass. Words segment to single characters.
    */
  def vocabulary(df: DataFrame, textCol: String): DataFrame =
    // NOT spread (r19): the explode feeds a partial aggregation — a
    // pre-agg repartition shuffles raw text before aggregating (§2.3's
    // anti-pattern) and measured SLOWER than the one-task map stage
    df.select(explode(Fns.tokens(col(textCol))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
      .withColumn("syms", filter(split(col("w"), ""), s => s =!= ""))

  /** Learn up to `nMerges` merges. Stops early when no adjacent pair
    * is left or the best pair's count falls below `minCount`.
    */
  def fitMerges(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      minCount: Long = 2L,
      checkpointEvery: Int = 8
  ): Seq[(String, String)] = {
    var vocab = Materialize(vocabulary(df, textCol))
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val best = vocab
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l"), col("p.r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (best.isEmpty || best.head.getLong(2) < minCount) done = true
      else {
        val (a, b) = (best.head.getString(0), best.head.getString(1))
        merges += ((a, b))
        vocab = vocab.withColumn("syms", mergeAdjacent(col("syms"), a, b))
        if ((i + 1) % checkpointEvery == 0) vocab = Materialize(vocab)
      }
      i += 1
    }
    merges.result()
  }

  /** Apply a learned merge list to a symbol array, in rank order —
    * the COMPOSED reference form: one nested [[mergeAdjacent]] fold per
    * merge — and each fold embeds its child column TWICE (seed + fold
    * input), so the tree is ~2^n nodes: past ~15 merges the DRIVER dies
    * building the plan, long before janino sees it. Kept as the executable
    * spec of the apply semantics (BpeApplyMergesSpec pins the native
    * expression bit-parity against it); every production path goes
    * through [[applyMergesNative]], whose cost is independent of the
    * merge count (verdict r14 #1 — a 30k-merge model is unusable here
    * and fine there).
    */
  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (a, b)) => mergeAdjacent(c, a, b) }

  /** [[applyMerges]] as ONE native expression
    * ([[graft.plans.BpeApplyMerges]]): the whole rank-ordered merge
    * list rides along as a reference object (pair→rank hash map built
    * once per executor) and each word is segmented by the min-rank
    * merge loop in a primitive scan — bit-identical to the composed
    * fold, usable at production merge counts.
    */
  def applyMergesNative(syms: Column, merges: Seq[(String, String)]): Column =
    graft.plans.BpeApplyMerges.bpeApplyMerges(syms, merges)

  /** A deterministic STATIC merge list: the corpus's top-`n` character
    * bigrams by frequency ((cnt desc, l, r) ties), rank = list order.
    * NOT an iterative BPE fit — pair counts are taken once against the
    * char-seeded vocabulary, so building a 256-rank list costs ONE
    * aggregation and a bounded n-row collect instead of n argmax
    * rounds. Well-formed by construction (every component is a single
    * character), fully SQL-replayable — the production-merge-count
    * apply gate (q173) uses it to exercise [[applyMergesNative]] at
    * ranks the fit chain's per-merge oracle replay can't reach.
    */
  def topCharBigrams(df: DataFrame, textCol: String, n: Int): Seq[(String, String)] =
    vocabulary(df, textCol)
      .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(n)
      .select("l", "r")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq

  /** Tokenize a corpus with a learned merge list: one row per doc with
    * the BPE token array (per word, flattened in word order). Pure
    * map-side — but the merge fold runs once per word OCCURRENCE, so
    * prefer [[tokenCounts]] (or a [[segmentVocabulary]] join) when the
    * corpus is large and the vocabulary is not: a 9M-occurrence corpus
    * over a 20k-word vocabulary pays 450× more folds here (measured:
    * q150's first form took minutes at sf0.1; the vocab-join form runs
    * in seconds).
    */
  def tokenize(
      df: DataFrame,
      textCol: String,
      idCol: String,
      merges: Seq[(String, String)]
  ): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      flatten(
        transform(
          // null text tokenizes to ZERO tokens, not a null array —
          // otherwise size(bpe_tokens) reads -1/null for those docs
          // while tokenCounts' explode-and-coalesce path counts 0,
          // breaking the documented equivalence between the two
          coalesce(Fns.tokens(col(textCol)), typedLit(Seq.empty[String])),
          w => applyMergesNative(filter(split(w, ""), s => s =!= ""), merges)
        )
      ).as("bpe_tokens")
    )

  /** Each DISTINCT word's BPE segmentation under `merges` — the fold
    * runs once per vocabulary entry, never per occurrence. (w, bpe).
    */
  def segmentVocabulary(df: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame =
    // NOT spread (r19): the explode feeds the distinct's aggregation —
    // same §2.3 reasoning as [[vocabulary]]; the per-word merge loop
    // already runs post-shuffle at the distinct's parallelism
    df.select(explode(Fns.tokens(col(textCol))).as("w"))
      .distinct()
      .select(
        col("w"),
        applyMergesNative(filter(split(col("w"), ""), s => s =!= ""), merges).as("bpe")
      )

  /** Per-doc BPE token counts under `merges`, vocabulary-joined: one
    * corpus explode ⋈ the segmented vocabulary (broadcast-sized for
    * any real token alphabet), summed per doc. Token-less docs keep a
    * zero row (left join), matching `size(flatten(...))` of
    * [[tokenize]] exactly.
    */
  def tokenCounts(
      df: DataFrame,
      textCol: String,
      idCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    val wl = segmentVocabulary(df, textCol, merges)
      .select(col("w"), size(col("bpe")).cast("long").as("nt"))
    val counts = df
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("w"))
      .join(wl, "w")
      .groupBy("doc_id")
      .agg(sum("nt").as("n_bpe"))
    df.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
  }

  // ------------------------------------------------------------------
  // At-rest tokenizer model (round 14): fit ONCE, tokenize anywhere.
  // Before this, the learned merges lived only in the fitting session —
  // a fresh session had to re-run the full distributed fit to tokenize
  // a single batch. A real pipeline fits on the training corpus and
  // applies the frozen tokenizer to every later batch/stream; the model
  // table is that frozen artifact (the writePqIndex geometry-props
  // discipline: shape recorded at write time, REQUIRED and validated at
  // read time, so a half-written or foreign table fails fast instead of
  // silently mis-tokenizing).
  // ------------------------------------------------------------------

  /** Merge count recorded at write time; the reader validates the table
    * holds exactly this many contiguous ranks.
    */
  private val NMergesProp = "graft.bpe.nMerges"

  /** The pre-segmentation contract the merges were learned under —
    * merges are only meaningful against the SAME normalization
    * ([[Fns.tokens]] word split + character seeding). Recorded so a
    * model fitted under a future normalization change can't be silently
    * applied by an engine that segments differently (the unitScale
    * discipline of the PQ index).
    */
  private val NormProp = "graft.bpe.norm"
  private val NormContract = "fns.tokens/chars/v1"

  /** The staging/retire names of the model swap — the shared staged-
    * publish protocol ([[graft.sinks.Sinks.publishStaged]], round 17).
    */
  private def stageName(table: String): String = graft.sinks.Sinks.stagedName(table)
  private def retireName(table: String): String = graft.sinks.Sinks.retiredName(table)

  /** Restore-only heal of a model swap left mid-crash — delegates to
    * the shared [[graft.sinks.Sinks.recoverStagedPublish]]: a crash
    * between the two RENAMEs leaves the live name missing with the
    * previous model intact at `__retire`; rename it back so readers
    * keep working (restore, never advance — completing the swap is the
    * WRITER's job on its next run).
    */
  def recoverModelSwap(
      spark: org.apache.spark.sql.SparkSession,
      table: String
  ): Unit = graft.sinks.Sinks.recoverStagedPublish(spark, table)

  /** Persist a learned merge list as an at-rest model table: one row
    * per merge (rank 0-based, left_sym, right_sym), fit-shape props on
    * the table. A refit REPLACES the model (appending merges would
    * reorder history) — and the replacement is SWAP-PUBLISHED (round
    * 15, verdict r14 #2): the rows and props are written to a staging
    * table first and moved into place with two metastore-atomic
    * RENAMEs, so a reader concurrent with a refit sees the old model,
    * the new model, or a clean table-not-found in the one instant
    * between the renames — never a partial or props-less table (the
    * bare `saveAsTable(overwrite)` this replaces had a window where
    * rows existed without the [[NMergesProp]] shape contract).
    * [[readModel]] heals the crash window restore-only.
    */
  def writeModel(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      merges: Seq[(String, String)]
  ): Unit = {
    import spark.implicits._
    val stage = stageName(table)
    val retire = retireName(table)
    // heal a previous writer's crash window, then clear OUR leftovers
    recoverModelSwap(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS ${graft.sinks.Sinks.parseIdent(spark, stage).quotedString}")
    spark.sql(s"DROP TABLE IF EXISTS ${graft.sinks.Sinks.parseIdent(spark, retire).quotedString}")
    // catalog-orphaned warehouse dirs (a previous PROCESS's leftovers)
    // fail saveAsTable/RENAME with LOCATION_ALREADY_EXISTS; clear them
    // behind the content guard — never unconditionally (advice r14)
    Seq(table, stage, retire).foreach(graft.sinks.Sinks.clearOrphanTableDir(spark, _))
    merges.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "left_sym", "right_sym")
      .write
      .saveAsTable(stage)
    val stageIdent = graft.sinks.Sinks.parseIdent(spark, stage).quotedString
    spark.sql(
      s"ALTER TABLE $stageIdent SET TBLPROPERTIES " +
        s"('$NMergesProp'='${merges.size}', '$NormProp'='$NormContract')"
    )
    // the swap: live -> retire, stage -> live, drop retired — the
    // shared staged-publish retry loop (ADVICE r16-hardened: an
    // ambiguous stage->live success is detected by the staging table's
    // absence instead of demoting the just-published model, and a
    // failing live->retire demotion consumes a bounded attempt instead
    // of escaping uncaught). A READER racing the crash window heals
    // retire back to live (ADVICE r15); each retry demotes the
    // restored copy and tries again.
    graft.sinks.Sinks.publishStaged(spark, table)
  }

  /** [[fitMerges]] + [[writeModel]] in one call; returns the merges it
    * persisted (callers that keep tokenizing in-session skip the read).
    */
  def fitAndWriteModel(
      df: DataFrame,
      textCol: String,
      table: String,
      nMerges: Int,
      minCount: Long = 2L
  ): Seq[(String, String)] = {
    val merges = fitMerges(df, textCol, nMerges, minCount)
    writeModel(df.sparkSession, table, merges)
    merges
  }

  /** Read a model back in rank order, validating the recorded shape:
    * the props must exist (a bare table is not a model), the
    * normalization contract must match, and the rows must be exactly
    * ranks 0..n−1 (a partial overwrite or duplicate rank surfaces here,
    * not as a silently different tokenizer).
    *
    * `heal` (ADVICE r15): restoring a crashed swap is a metastore
    * WRITE (ALTER TABLE RENAME) on an otherwise read-only path — the
    * ONLY write this function can issue, needed solely to recover a
    * writer that died between the swap's two renames. Deployments
    * whose readers hold no metastore write rights pass `heal = false`;
    * a crashed swap then surfaces as table-not-found until the
    * writer's next run completes the recovery, which is the honest
    * read-only behavior (a heal-less reader can't distinguish "crashed
    * mid-swap" from "never written").
    */
  def readModel(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      heal: Boolean = true
  ): Seq[(String, String)] = {
    import spark.implicits._
    // a writer crash between the swap's two renames leaves the model
    // only at __retire; restore it so reads keep working (restore-only
    // — never roll the swap forward from a read path)
    if (heal) recoverModelSwap(spark, table)
    val props = spark.sessionState.catalog
      .getTableMetadata(graft.sinks.Sinks.parseIdent(spark, table))
      .properties
    val n = props
      .get(NMergesProp)
      .map(_.toInt)
      .getOrElse(
        throw new IllegalArgumentException(
          s"$table does not record $NMergesProp — not a graft BPE model"
        )
      )
    val norm = props.get(NormProp)
    require(
      norm.contains(NormContract),
      s"$table records tokenizer normalization ${norm.getOrElse("<absent>")} but this " +
        s"engine segments under $NormContract — applying merges across a normalization " +
        "change silently mis-tokenizes. Refit the model."
    )
    val rows = spark
      .table(table)
      .select(col("rank").cast("long"), col("left_sym"), col("right_sym"))
      .as[(Long, String, String)]
      .collect()
      .sortBy(_._1)
    require(
      rows.length == n && rows.map(_._1).toSeq == (0L until n.toLong),
      s"$table has ${rows.length} merge rows, shape says $n contiguous ranks"
    )
    rows.map { case (_, a, b) => (a, b) }.toSeq
  }

  /** [[tokenCounts]] against an at-rest model — a FRESH session
    * tokenizes any corpus without refitting (BpeSpec pins from-model ==
    * inline bit-identical, and the model read is a bounded-metadata
    * collect: tens-to-thousands of merge rows, never corpus-scale).
    */
  def tokenCountsFromModel(
      df: DataFrame,
      textCol: String,
      idCol: String,
      table: String
  ): DataFrame =
    tokenCounts(df, textCol, idCol, readModel(df.sparkSession, table))

  /** [[tokenize]] against an at-rest model (per-doc token arrays). */
  def tokenizeFromModel(
      df: DataFrame,
      textCol: String,
      idCol: String,
      table: String
  ): DataFrame =
    tokenize(df, textCol, idCol, readModel(df.sparkSession, table))
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Similarity}

/** Empirical scale soak (round 12 — VERDICT r11 #2): measure the
  * heaviest operator families at 1× and 10× of the sf0.1 workload and
  * report the scaling exponent log10(t10/t1) per family. All prior
  * 100×-claims rested on plan shape alone; this main turns them into
  * measured numbers (recorded in BENCH_NOTES.md).
  *
  * The corpus is SYNTHETIC and deterministic (hash-derived tokens /
  * vector coordinates — no RNG state, regeneration is bit-identical),
  * sized to match sf0.1's shape at 1× (5k docs of ~150 tokens, 2k
  * 64-dim vectors) and DESIGNED so per-row duplication structure stays
  * CONSTANT across scales — naive replication of real docs would make
  * every n-gram a corpus-wide duplicate at 10× and measure a semantic
  * explosion, not the engine:
  *  - 5% of docs are exact copies of another doc (a constant-rate
  *    exact-dedup load);
  *  - 10% share one 24-token boilerplate block (constant-rate span-
  *    dedup load with linear output);
  *  - 5% of vectors are near-copies of another vector (constant-rate
  *    semantic-dedup pair load); the rest are hash-uniform (mostly
  *    orthogonal, as real embedding tails are).
  *
  * Families measured (the r11 verdict's list):
  *  - `Curation.curate` — the composed five-stage pipeline;
  *  - `Dedup.duplicateSpans` — corpus-wide duplicated token runs;
  *  - `Dedup.semanticDedup` — LSH pairs → connected components;
  *  - `Similarity.writeIvfPqIndex` + `ivfPqTopKIndexed` — at-rest ANN
  *    build and probe (probe timed separately: at scale the build is
  *    one-off, the probe is the steady-state cost).
  *
  * Protocol: per family per scale, 1 warmup + `SOAK_ITERS` (default 2)
  * measured runs, MIN reported (the soak question is capacity, not
  * latency jitter — min is the least host-noise-polluted run). Scales
  * via `SOAK_SCALES` (default "1,10"; "1,10,100" adds a decade where
  * the data term dominates the fixed overhead). Output: one JSON line
  * with per-family seconds and per-adjacent-decade exponents.
  *
  * IVF sizing note: nCells grows as ~sqrt(N) across scales (16 at 1×),
  * the standard IVF density — cell COUNT and cell SIZE then both grow
  * ~sqrt(N). This is also an honest engine limit surfaced by the soak:
  * the map-side literal-centroid assignment folds nCells×dim doubles
  * into one expression, which is the right call for O(10²-10³) cells
  * and the wrong one for O(10⁵) (expression/codegen size) — at that
  * density assignment becomes a broadcast join, a different plan shape.
  */
object Soak {

  private def word(src: Column, p: Column): Column = {
    val pick = xxhash64(src, p, lit(1L))
    val head = pmod(xxhash64(src, p, lit(2L)), lit(100L))
    val tail = pmod(xxhash64(src, p, lit(3L)), lit(20000L))
    // 30% of positions draw from a 100-word head (stopword-ish mass),
    // the rest from a 20k vocabulary — keeps quality/statistics stages
    // exercised without vocabulary blowup
    concat(lit("w"), when(pmod(pick, lit(10L)) < 3, head).otherwise(tail))
  }

  private val boiler: String =
    (0 until 24).map(i => s"boil$i").mkString(" ")

  /** The synthetic corpus shape over an arbitrary id range, as a FRAME
    * — [[genDocs]]'s generator factored out so the ingest-gate soak
    * families can draw deterministic micro-batches from any id window.
    */
  private def docsFrame(spark: SparkSession, from: Long, n: Long): DataFrame = {
    val id = col("id")
    // 5% exact duplicates: doc 20k+7 regenerates doc 20k's text
    val src = when(pmod(id, lit(20L)) === 7L, id - 7L).otherwise(id)
    val len = (lit(50L) + pmod(xxhash64(src, lit(0L)), lit(200L))).cast("int")
    val text = concat_ws(
      " ",
      transform(sequence(lit(0), len - 1), p => word(src, p.cast("long")))
    )
    // 10% share one boilerplate block (constant-rate span-dedup load)
    val withBoiler =
      when(pmod(id, lit(10L)) === 3L, concat(text, lit(" " + boiler))).otherwise(text)
    spark
      .range(from, from + n)
      .select(
        id.as("doc_id"),
        withBoiler.as("text"),
        concat(lit("s"), pmod(xxhash64(id, lit(9L)), lit(5L))).as("source")
      )
  }

  /** n synthetic documents at `out` (idempotent: skipped if present). */
  def genDocs(spark: SparkSession, n: Long, out: String): Unit = {
    if (new java.io.File(s"$out/_SUCCESS").exists()) return
    docsFrame(spark, 0L, n).write.mode("overwrite").parquet(out)
  }

  /** n synthetic 64-dim embeddings at `out` (idempotent). */
  def genEmbeddings(spark: SparkSession, n: Long, out: String): Unit = {
    if (new java.io.File(s"$out/_SUCCESS").exists()) return
    val id = col("id")
    // 5% near-duplicates: vector 20k+3 = vector 20k plus a tiny
    // deterministic jitter (cosine ~0.9999 — well above any threshold)
    val src = when(pmod(id, lit(20L)) === 3L, id - 3L).otherwise(id)
    val jitter = when(pmod(id, lit(20L)) === 3L, lit(1.0)).otherwise(lit(0.0))
    val vec = transform(
      sequence(lit(0), lit(63)),
      d =>
        ((pmod(xxhash64(src, d.cast("long"), lit(5L)), lit(2000001L)).cast("double") /
          lit(1000000.0) - lit(1.0)) +
          jitter * pmod(xxhash64(id, d.cast("long"), lit(6L)), lit(1000L)).cast("double") /
          lit(100000.0)).cast("float")
    )
    spark
      .range(n)
      .select(id.as("vec_id"), vec.as("embedding"), pmod(id, lit(10L)).cast("int").as("label"))
      .write
      .mode("overwrite")
      .parquet(out)
  }

  /** Two wide snapshots with constant-RATE churn — the reference's CDC
    * shape at soak scale: 40 string columns keyed by `id`; snapshot B
    * updates 2% of rows (first 4 columns), deletes 1%, inserts 1% new
    * ids. Diff output rows stay ~4% of n at every scale.
    */
  def genSnapshots(spark: SparkSession, n: Long, out: String): Unit = {
    if (new java.io.File(s"$out/snapB/_SUCCESS").exists()) return
    val id = col("id")
    def cells(version: Column): Seq[Column] = (0 until 40).map { c =>
      val v = when(version === 1 && lit(c) < 4, lit(1L)).otherwise(lit(0L))
      concat(lit("v"), pmod(xxhash64(id, lit(c.toLong), v), lit(1000000L))).as(f"c$c%02d")
    }
    spark
      .range(n)
      .select((id +: cells(lit(0))): _*)
      .write.mode("overwrite").parquet(s"$out/snapA")
    val survivors = spark
      .range(n)
      .filter(pmod(id, lit(100L)) =!= 3L) // 1% deleted
      .select((id +: cells(when(pmod(id, lit(50L)) === 1L, 1L).otherwise(0L))): _*)
    val inserts = spark
      .range(n, n + n / 100) // 1% inserted
      .select((id +: cells(lit(0))): _*)
    survivors.unionByName(inserts).write.mode("overwrite").parquet(s"$out/snapB")
  }

  /** A synthetic CDC event stream: ~5 versions per key, deterministic
    * timestamps/payloads — the [[graft.ops.Scd2.apply]] fold input.
    */
  def genEvents(spark: SparkSession, n: Long, out: String): Unit = {
    if (new java.io.File(s"$out/_SUCCESS").exists()) return
    val id = col("id")
    spark
      .range(n)
      .select(
        concat(lit("e"), id).as("event_id"),
        pmod(xxhash64(id, lit(11L)), lit(n / 5)).as("key"),
        timestamp_seconds(lit(1600000000L) + pmod(xxhash64(id, lit(12L)), lit(31536000L)))
          .as("ts"),
        when(pmod(xxhash64(id, lit(13L)), lit(10L)) === 0L, "insert")
          .otherwise("update").as("event_type"),
        map(
          lit("c00"), concat(lit("v"), pmod(xxhash64(id, lit(14L)), lit(1000000L))),
          lit("c01"), concat(lit("v"), pmod(xxhash64(id, lit(15L)), lit(1000000L)))
        ).as("new_values")
      )
      .write.mode("overwrite").parquet(out)
  }

  private var session: SparkSession = _

  private def timed(iters: Int)(body: => Long): (Double, Long) = {
    // drop every pinned block between runs (the Bench discipline):
    // Materialize localCheckpoints are never unpersisted by the
    // operators, and letting them accrete across families measures
    // block-eviction/GC thrash, not the operator (first soak run:
    // a 7 s index build degraded to 180 s under accreted pins)
    def clear(): Unit =
      session.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    var rows = body // warmup
    val times = (1 to iters).map { _ =>
      clear()
      val t0 = System.nanoTime()
      rows = body
      (System.nanoTime() - t0) / 1e9
    }
    clear()
    (times.min, rows)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_soak")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SOAK_ITERS", "2").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    session = spark
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val multipliers =
      sys.env.getOrElse("SOAK_SCALES", "1,10").split(',').map(_.trim.toInt).toSeq
    // re-measure a subset without paying for the rest (e.g.
    // SOAK_FAMILIES=semantic_dedup after a geometry fix)
    val famFilter = sys.env.get("SOAK_FAMILIES").map(_.split(',').map(_.trim).toSet)
    def wanted(fam: String): Boolean = famFilter.forall(_.contains(fam))
    val scales = multipliers.map(m => m -> (5000L * m, 2000L * m))
    def nCellsAt(m: Int): Int = (16 * math.sqrt(m.toDouble)).toInt
    scales.foreach { case (m, (nd, ne)) =>
      genDocs(spark, nd, s"$base/x$m/documents")
      genEmbeddings(spark, ne, s"$base/x$m/embeddings")
      if (wanted("cdc_diff")) genSnapshots(spark, 20000L * m, s"$base/x$m")
      if (wanted("scd2_fold")) genEvents(spark, 20000L * m, s"$base/x$m/events")
    }

    def docs(m: Int) = spark.read.parquet(s"$base/x$m/documents")
    def emb(m: Int) = spark.read.parquet(s"$base/x$m/embeddings")

    val results = scala.collection.mutable.LinkedHashMap[String, Map[Int, (Double, Long)]]()

    if (wanted("curate")) results("curate") = scales.map { case (m, _) =>
      m -> timed(iters) {
        val (kept, _) = Curation.curateDeferred(
          docs(m), "text", "doc_id",
          targetCond = col("source") === "s1",
          minDocsBoiler = 50 * m // constant boilerplate RATE across scales
        )
        kept.count()
      }
    }.toMap

    if (wanted("duplicate_spans")) results("duplicate_spans") = scales.map { case (m, _) =>
      m -> timed(iters) {
        Dedup.duplicateSpans(docs(m), "text", "doc_id", gramTokens = 8, minCount = 2).count()
      }
    }.toMap

    if (wanted("semantic_dedup")) results("semantic_dedup") = scales.map { case (m, (_, ne)) =>
      // LSH geometry must SCALE with the corpus — keeping expected
      // bucket size CONSTANT, i.e. bits ≈ log2(N / targetBucketSize).
      // Both failure modes were MEASURED by this soak before the rule
      // went in: a FIXED 4-bit key at 200k vectors saturates every
      // bucket past the cap guard and the operator silently finds
      // nothing (run 1); a FIXED 10-bit key keeps buckets under the cap
      // but bucket size — and so candidate pairs — grows linearly with
      // N, which is QUADRATIC total work (run 2: exponent 1.94 in the
      // top decade, 293 s at 100×). Constant ~20-vector buckets hold
      // the pair stage linear; recall for high-threshold near-dups is
      // unaffected (near-identical vectors collide per-band at any key
      // width).
      val bits = Dedup.autoBandBits(ne)
      m -> timed(iters) {
        Dedup
          .semanticDedup(emb(m), "embedding", "vec_id", dim = 64,
            bitsPerBand = bits, threshold = 0.9)
          .count()
      }
    }.toMap

    // at-rest IVF-PQ: build once per scale (timed as its own family),
    // then the steady-state probe (20 queries)
    def dropSoakTable(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previous soak PROCESS leaves warehouse dirs a fresh
      // session's catalog doesn't know about — clear them or the
      // bucketed write fails with LOCATION_ALREADY_EXISTS
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    def dropSoakIndex(name: String): Unit =
      Seq(name, s"${name}__codebooks", s"${name}__centroids").foreach(dropSoakTable)
    /** Build families double as probe PREREQUISITES. Record the build
      * section only when the caller asked for the build family itself;
      * when only the probe is wanted, run the builds untimed and emit
      * nothing (ADVICE r16: a probe-only run used to report a
      * `<fam>_build` section the caller never requested). `prep` (table
      * drops) stays OUTSIDE the timed region, exactly as before.
      */
    def buildFamily(family: String, probeFamily: String)(prep: Int => Unit)(
        body: Int => Long): Unit =
      if (wanted(family) || wanted(probeFamily)) {
        val rows = scales.map { case (m, _) =>
          prep(m)
          if (wanted(family)) Some(m -> timed(1)(body(m)))
          else { body(m); None }
        }
        if (wanted(family)) results(family) = rows.flatten.toMap
      }
    buildFamily("ivfpq_build", "ivfpq_probe")(m => dropSoakIndex(s"soak_ivfpq_x$m")) { m =>
      Similarity.writeIvfPqIndex(
        emb(m), "embedding", "vec_id", s"soak_ivfpq_x$m",
        dim = 64, nCells = nCellsAt(m), m = 8, kCodes = 256)
      spark.table(s"soak_ivfpq_x$m").count()
    }

    if (wanted("ivfpq_probe")) results("ivfpq_probe") = scales.map { case (m, _) =>
      val queries = emb(m).filter(col("vec_id") < 20)
      m -> timed(iters) {
        Similarity
          .ivfPqTopKIndexed(spark, s"soak_ivfpq_x$m", queries, "embedding", "vec_id",
            k = 5, nProbe = 8, rerank = 16, corpus = Some(emb(m)))
          .count()
      }
    }.toMap

    // ANN TRAINING families, separately (round 14 — VERDICT r13 #2):
    // the composed ivfpq_build above measures the pair, but the three
    // quantizer trainings have different scaling terms — the coarse
    // Lloyd loop is nCells(~sqrt N)×N dots per round, flat-PQ is
    // 256×N subvector L2s per round per subspace, and residual-PQ adds
    // the per-row centroid subtraction — so each gets its own exponent
    // row. Probes are the steady-state cost, timed on their own.
    val ivfCents = scala.collection.mutable.Map[Int, Seq[(Long, Seq[Double])]]()
    buildFamily("ivf_build", "ivf_probe")(m => dropSoakTable(s"soak_ivf_x$m")) { m =>
      ivfCents(m) = Similarity.writeIvfIndex(
        emb(m), "embedding", "vec_id", s"soak_ivf_x$m", nCells = nCellsAt(m))
      spark.table(s"soak_ivf_x$m").count()
    }

    if (wanted("ivf_probe")) results("ivf_probe") = scales.map { case (m, _) =>
      val queries = emb(m).filter(col("vec_id") < 20)
      m -> timed(iters) {
        Similarity
          .ivfTopKIndexed(spark, s"soak_ivf_x$m", ivfCents(m), queries,
            "embedding", "vec_id", k = 5, nProbe = 8)
          .count()
      }
    }.toMap

    buildFamily("pq_build", "pq_probe")(m => dropSoakIndex(s"soak_pq_x$m")) { m =>
      Similarity.writePqIndex(
        emb(m), "embedding", "vec_id", s"soak_pq_x$m", dim = 64, m = 8, kCodes = 256)
      spark.table(s"soak_pq_x$m").count()
    }

    if (wanted("pq_probe")) results("pq_probe") = scales.map { case (m, _) =>
      val queries = emb(m).filter(col("vec_id") < 20)
      m -> timed(iters) {
        Similarity
          .pqTopKIndexed(spark, s"soak_pq_x$m", queries, "embedding", "vec_id",
            k = 5, rerank = 16, corpus = Some(emb(m)))
          .count()
      }
    }.toMap

    buildFamily("ivfpq_residual_build", "ivfpq_residual_probe")(
      m => dropSoakIndex(s"soak_ivfpqr_x$m")) { m =>
      Similarity.writeIvfPqIndex(
        emb(m), "embedding", "vec_id", s"soak_ivfpqr_x$m",
        dim = 64, nCells = nCellsAt(m), m = 8, kCodes = 256, residual = true)
      spark.table(s"soak_ivfpqr_x$m").count()
    }

    if (wanted("ivfpq_residual_probe")) results("ivfpq_residual_probe") =
      scales.map { case (m, _) =>
        val queries = emb(m).filter(col("vec_id") < 20)
        m -> timed(iters) {
          Similarity
            .ivfPqTopKIndexed(spark, s"soak_ivfpqr_x$m", queries, "embedding", "vec_id",
              k = 5, nProbe = 8, rerank = 16, corpus = Some(emb(m)))
            .count()
        }
      }.toMap

    // Native BPE apply vs MERGE COUNT (round 15 — verdict r14 #1): the
    // scale axis here is the MODEL, not the corpus — a production
    // tokenizer carries ~30k merges and apply cost must not grow with
    // them (the min-rank loop's per-pair work is one hash probe
    // whatever the list length). Corpus fixed at x1; merges = 256·m, so
    // m=100 is a 25.6k-merge model — production size. The list is
    // synthetic but WELL-FORMED (the fast-path contract): all 36²
    // alphabet bigrams (these actually fire on the corpus) + unique
    // 3-char-prefixed derivation chains (rank-map ballast that pairs
    // never match) — a fit this size would cost 25k argmax rounds for
    // the same apply-side shape. Expect exponent ≈ 0.
    if (wanted("bpe_apply")) results("bpe_apply") = scales.map { case (m, _) =>
      val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
      val bigrams: Seq[(String, String)] =
        for (x <- alphabet.toSeq; y <- alphabet.toSeq) yield (x.toString, y.toString)
      def pad3(b: Int): String = {
        val s = java.lang.Integer.toString(b, 36)
        "0" * (3 - s.length) + s
      }
      val need = 256 * m
      // each 20-char chain emits 17 merges ((2 until 19)) — dividing
      // by 18 under-produced the advertised merge count by ~6% at
      // large m (ADVICE r15)
      val nChains = math.max(0, (need - bigrams.size) / 17 + 1)
      val chains: Seq[(String, String)] = (0 until nChains).flatMap { b =>
        // 20-char word: unique 3-char prefix + deterministic tail — all
        // prefixes of length >= 3 are chain-unique, so every chain
        // output/component past the (bigram-derivable) 2-char root is
        // globally fresh and the whole list stays well-formed
        val s = pad3(b) + (0 until 17).map(i => alphabet(((b * 31 + i * 7) % 36 + 36) % 36)).mkString
        (2 until s.length - 1).map(k => (s.substring(0, k), s.substring(k, k + 1)))
      }
      val merges = (bigrams ++ chains).take(need)
      m -> timed(iters) {
        graft.ops.Bpe.tokenCounts(docs(1), "text", "doc_id", merges)
          .agg(org.apache.spark.sql.functions.sum(col("n_bpe")).as("s"))
          .head().getLong(0)
      }
    }.toMap

    // Native BPE apply vs TOKEN LENGTH (round 17 — verdict r16 #4):
    // the pathological-token edge behind the declined r15 #8 heap
    // rewrite, measured instead of argued. The scale axis is the WORD:
    // 64 unsegmented DNA-like blobs of 1000·m chars each (m=100 →
    // 100k-char tokens — the URL/DNA shape real crawls contain), with
    // a FIXED well-formed 528-merge list over the acgt alphabet that
    // actually fires in depth (16 char bigrams → all 256 2+2 quads →
    // 256 quad self-doubles), so the axis isolates length. The
    // min-rank loop's passes are bounded by the ranks PRESENT (≤ the
    // fixed merge count), each pass O(len) — expect exponent ≈ 1 in
    // length; a reading ≥ ~1.5 reopens the linked-list+heap apply
    // (BENCH_NOTES records the verdict either way). The scaladoc's
    // O(len²) worst case needs vocab size ≥ len, which no fixed
    // tokenizer model exhibits.
    if (wanted("bpe_apply_len")) results("bpe_apply_len") = scales.map { case (m, _) =>
      val alphabet = "acgt"
      val bigrams: Seq[(String, String)] =
        for (x <- alphabet.toSeq; y <- alphabet.toSeq) yield (x.toString, y.toString)
      val twos = bigrams.map { case (a, b) => a + b }
      val quads: Seq[(String, String)] = for (x <- twos; y <- twos) yield (x, y)
      val merges = bigrams ++ quads ++ quads.map { case (x, y) => (x + y, x + y) }
      val len = 1000 * m
      val blobs = (0 until 64).map { d =>
        val sb = new java.lang.StringBuilder(len)
        var s = d * 2654435761L + 17L
        (0 until len).foreach { _ =>
          s = s * 6364136223846793005L + 1442695040888963407L
          sb.append(alphabet(((s >>> 33) % 4).toInt))
        }
        (d.toLong, sb.toString)
      }
      val df = blobs.toDF("doc_id", "text")
      m -> timed(iters) {
        graft.ops.Bpe.tokenCounts(df, "text", "doc_id", merges)
          .agg(org.apache.spark.sql.functions.sum(col("n_bpe")).as("s"))
          .head().getLong(0)
      }
    }.toMap

    // Perceptual image dedup end to end (round 14): synth → PNG encode
    // → decode → dHash → band → verified pairs. nClasses scales with
    // the corpus so class size (~51) — and the per-doc duplicate rate —
    // stays constant; the per-row codec cost is linear by construction,
    // and the family exists to measure the 16-bit band space's
    // cross-class collision term (class-key pairs collide as
    // nClasses²/2¹⁷ per band — quadratic in class count, expected to
    // surface past ~10⁴ classes as a super-linear candidate tail).
    if (wanted("image_dhash")) results("image_dhash") = scales.map { case (m, _) =>
      val ids = spark.range(5000L * m).select(col("id").as("doc_id"))
      m -> timed(iters) {
        graft.ops.Dedup
          .imageHashPairs(graft.ops.ImageHash.DHash64)(
            graft.ops.Multimodal.synthGrayImages(ids, "doc_id", nClasses = 97 * m),
            maxHamming = 10)
          .count()
      }
    }.toMap

    // pHash-256 at the class count that collides dHash (round 15 —
    // verdict r14 #3): image_dhash's top decade measured exponent 1.28
    // at m=100 (500k images / 9.7k classes) from the 16-bit band
    // space's nClasses²/2¹⁷-per-band cross-class candidate term; the
    // 8×32-bit banding divides that term by 2¹⁶, so the same sweep
    // should hold ~linear (the per-image codec cost is ~3.8× — 68×64
    // pixels vs 36×32 — but constant per row).
    if (wanted("image_phash")) results("image_phash") = scales.map { case (m, _) =>
      val ids = spark.range(5000L * m).select(col("id").as("doc_id"))
      m -> timed(iters) {
        graft.ops.Dedup
          .imageHashPairs(graft.ops.ImageHash.PHash256)(
            graft.ops.Multimodal.synthGrayImagesWide(ids, "doc_id", nClasses = 97 * m),
            maxHamming = 24)
          .count()
      }
    }.toMap

    // Video content dedup (round 16 — verdict r15 #3): clips scale
    // with m, class count scales too so class size (~43 clips) — and
    // the per-clip duplicate rate — stays constant. Inline form pays
    // per-frame PNG decode (map-side linear) + the MinHash/LSH/exact
    // pipeline the text families already soaked; the index/probe pair
    // is the steady-state at-rest path (probe = 200-clip batch whose
    // classes all exist in the corpus — constant hit rate).
    def vidFrames(ids: org.apache.spark.sql.DataFrame, m: Int) =
      graft.ops.Multimodal.synthVideoFrames(ids, "doc_id", nVidClasses = 23 * m)
    def vidIds(from: Long, n: Long) =
      spark.range(from, from + n).select(col("id").as("doc_id"))
    if (wanted("video_dedup")) results("video_dedup") = scales.map { case (m, _) =>
      m -> timed(iters) {
        graft.ops.Dedup.videoNearDupPairs(vidFrames(vidIds(0L, 1000L * m), m)).count()
      }
    }.toMap

    buildFamily("video_index_build", "video_probe")(
      m => dropSoakTable(s"soak_video_x$m")) { m =>
      graft.ops.Dedup.writeVideoMinHashIndex(
        vidFrames(vidIds(0L, 1000L * m), m), s"soak_video_x$m")
      spark.table(s"soak_video_x$m").count()
    }

    if (wanted("video_probe")) results("video_probe") = scales.map { case (m, _) =>
      val probe = vidFrames(vidIds(1000L * m, 200L), m)
      m -> timed(iters) {
        graft.ops.Dedup
          .incrementalVideoNearDups(spark, probe, s"soak_video_x$m")
          .count()
      }
    }.toMap

    // Pending-store batch cost vs PARKED backlog (round 18 — verdict
    // r17 #1): the completeness gate rewrites the FULL still-pending
    // frame set every batch, so the steady-state batch cost must be
    // measured AGAINST backlog size, not batch size. Setup (untimed):
    // park 200*m split clips (2 of their 6-9 frames delivered,
    // expected_frames declared). Timed body: one batch of 10 WHOLE
    // fresh clips at a fresh batchId — the backlog carries forward
    // through every run, so each run pays the full read-union-rewrite.
    // Expect ~linear in parked clips (a full rewrite by design; the
    // pendingMaxAgeBatches eviction bound is what keeps the backlog
    // from growing unbounded in production). Compaction disabled so
    // the index's own maintenance cadence can't blur the pending path.
    if (wanted("video_pending")) results("video_pending") = scales.map { case (m, _) =>
      val idx = s"soak_vidpend_x$m"
      dropSoakTable(idx)
      val dir = s"$base/x$m/vidpend"
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val dirFs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (dirFs.exists(dirPath)) dirFs.delete(dirPath, true)
      def withExpFrom(full: org.apache.spark.sql.DataFrame)(
          part: org.apache.spark.sql.DataFrame) =
        part.join(
          full.groupBy(col("video_id")).agg(count(lit(1)).as("expected_frames")),
          Seq("video_id"))
      val parkedFull = vidFrames(vidIds(0L, 200L * m), m)
      var batchId = 0L
      graft.streaming.VideoIngest.ingestVideoBatch(
        withExpFrom(parkedFull)(parkedFull.filter(col("frame_idx") < 2)),
        s"$dir/corpus", idx, compactFanout = 0,
        pendingPath = Some(s"$dir/pending"), batchId = batchId)
      var nextFresh = 10000000L
      m -> timed(iters) {
        batchId += 1
        val whole = vidFrames(vidIds(nextFresh, 10L), m)
        nextFresh += 10L
        val st = graft.streaming.VideoIngest.ingestVideoBatch(
          withExpFrom(whole)(whole), s"$dir/corpus", idx, compactFanout = 0,
          pendingPath = Some(s"$dir/pending"), batchId = batchId)
        st.extra("deferred") // == 200*m: proves the backlog held through the run
      }
    }.toMap

    // Bloom-fronted corpus-id gate (round 20 — the soak row VERDICT
    // r18 #3 / r19 #5 asked for): steady-state NO-REPLAY batch cost vs
    // corpus size, with and without `idBloomPath`, for the near-dup
    // text surface and the video surface. Setup (untimed): a corpus
    // seeded by real ingest batches. Timed body: one constant-size
    // batch of FRESH ids — every membership check is then
    // bloom-negative, so with the gate the corpus id column is never
    // read (CorpusIdGateSpec pins that functionally) and per-batch cost
    // should hold FLAT across corpus decades, where the bloom-less
    // loop's anti-join scans grow with the corpus. compactFanout = 0 so
    // index-maintenance cadence can't blur the per-batch read cost.
    for (variant <- Seq("nobloom", "bloom")) {
      val fam = s"neardup_ingest_$variant"
      if (wanted(fam)) results(fam) = scales.map { case (m, (nd, _)) =>
        val dir = s"$base/x$m/ndgate_$variant"
        val dirPath = new org.apache.hadoop.fs.Path(dir)
        val dirFs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (dirFs.exists(dirPath)) dirFs.delete(dirPath, true)
        val idx = s"soak_ndgate_${variant}_x$m"
        dropSoakTable(idx)
        val bloomPath = if (variant == "bloom") Some(s"$dir/idbloom") else None
        val bloomItems = math.max(1000000L, nd * 2)
        // seed the corpus in 50k-doc ingest chunks (untimed)
        var seeded = 0L
        while (seeded < nd) {
          val chunk = math.min(50000L, nd - seeded)
          graft.streaming.CorpusIngest.ingestNearDupBatch(
            docsFrame(spark, seeded, chunk), s"$dir/corpus", idx,
            compactFanout = 0, idBloomPath = bloomPath, idBloomItems = bloomItems)
          seeded += chunk
        }
        var next = 50000000L
        m -> timed(iters) {
          // the batch carries a constant 10% of UNSHINGLEABLE (2-token)
          // docs — crawl reality, and the rows whose idempotence check
          // is the corpus-id membership probe the bloom gate fronts: an
          // all-long-doc no-replay batch exercises the gate only through
          // the orphan path, whose probe side is empty at runtime, so
          // both variants would skip the scan and measure nothing
          val longs = docsFrame(spark, next, 180L)
          val shorts = spark
            .range(next + 180L, next + 200L)
            .select(col("id").as("doc_id"), concat(lit("sd "), col("id")).as("text"))
          val st = graft.streaming.CorpusIngest.ingestNearDupBatch(
            longs.select(col("doc_id"), col("text")).unionByName(shorts),
            s"$dir/corpus", idx,
            compactFanout = 0, idBloomPath = bloomPath, idBloomItems = bloomItems)
          next += 200L
          st.kept
        }
      }.toMap
    }

    for (variant <- Seq("nobloom", "bloom")) {
      val fam = s"video_ingest_$variant"
      if (wanted(fam)) results(fam) = scales.map { case (m, _) =>
        val dir = s"$base/x$m/vidgate_$variant"
        val dirPath = new org.apache.hadoop.fs.Path(dir)
        val dirFs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (dirFs.exists(dirPath)) dirFs.delete(dirPath, true)
        val idx = s"soak_vidgate_${variant}_x$m"
        dropSoakTable(idx)
        val bloomPath = if (variant == "bloom") Some(s"$dir/idbloom") else None
        val nClips = 200L * m
        val bloomItems = math.max(1000000L, nClips * 2)
        var seeded = 0L
        while (seeded < nClips) {
          val chunk = math.min(5000L, nClips - seeded)
          graft.streaming.VideoIngest.ingestVideoBatch(
            vidFrames(vidIds(seeded, chunk), m), s"$dir/corpus", idx,
            compactFanout = 0, idBloomPath = bloomPath, idBloomItems = bloomItems)
          seeded += chunk
        }
        var next = 50000000L
        m -> timed(iters) {
          // 8 whole clips + 2 SINGLE-FRAME clips per batch: sub-2-frame
          // clips have no gram identity, so their idempotence check is
          // the corpus video_id membership probe the bloom gate fronts
          // (same rationale as the text surface's short docs)
          val whole = vidFrames(vidIds(next, 8L), m)
          val singles = vidFrames(vidIds(next + 8L, 2L), m).filter(col("frame_idx") === 0)
          val st = graft.streaming.VideoIngest.ingestVideoBatch(
            whole.unionByName(singles), s"$dir/corpus", idx,
            compactFanout = 0, idBloomPath = bloomPath, idBloomItems = bloomItems)
          next += 10L
          st.kept
        }
      }.toMap
    }

    // the reference's CDC core at soak scale: snapshot diff over wide
    // (40-col) snapshots with constant-rate churn, and the SCD2 fold
    // over a ~5-versions-per-key event stream
    if (wanted("cdc_diff")) results("cdc_diff") = scales.map { case (m, _) =>
      val a = spark.read.parquet(s"$base/x$m/snapA")
      val b = spark.read.parquet(s"$base/x$m/snapB")
      m -> timed(iters) {
        graft.ops.SnapshotDiff.diff(b, Some(a), "id").count()
      }
    }.toMap

    if (wanted("scd2_fold")) results("scd2_fold") = scales.map { case (m, _) =>
      val ev = spark.read.parquet(s"$base/x$m/events")
      m -> timed(iters) {
        graft.ops.Scd2(ev, Seq("key")).count()
      }
    }.toMap

    // at-rest BM25: build once per scale, then the steady-state probe —
    // 20 3-token queries over the head vocabulary, constant across
    // scales (the probe prunes to the queries' token buckets, so it
    // should track df growth, not corpus size)
    buildFamily("bm25_build", "bm25_probe")(
      m => Seq(s"soak_bm25_x$m", s"soak_bm25_x${m}__stats").foreach(dropSoakTable)) { m =>
      graft.ops.Retrieval.writeBm25Index(docs(m), "text", "doc_id", s"soak_bm25_x$m")
      spark.table(s"soak_bm25_x$m").count()
    }

    if (wanted("bm25_probe")) results("bm25_probe") = scales.map { case (m, _) =>
      val qs = (0 until 20).map(i => (i.toLong, s"w$i w${i + 1} w${i + 2}"))
        .toDF("qid", "qtext")
      m -> timed(iters) {
        graft.ops.Retrieval
          .bm25TopKIndexed(spark, s"soak_bm25_x$m", qs, "qid", "qtext", k = 5)
          .count()
      }
    }.toMap

    // Naive Bayes fit: one gram pass over the corpus into the bounded
    // (labels × 4096) model table
    if (wanted("nb_fit")) results("nb_fit") = scales.map { case (m, _) =>
      m -> timed(iters) {
        graft.ops.Classify.nbFit(docs(m), "text", "doc_id", "source").count()
      }
    }.toMap

    // at-rest embedding-LSH semantic index: build once per scale, then
    // the steady-state probe (a 500-vector "daily batch" re-keyed so
    // every probe row is a planted exact near-dup — constant hit rate
    // across scales). Band keys follow the constant-bucket rule the
    // semantic_dedup family measured out (log2(N/20)).
    def semBitsAt(ne: Long): Int = Dedup.autoBandBits(ne)
    val neAt = scales.toMap
    buildFamily("semlsh_build", "semlsh_probe")(
      m => dropSoakIndex(s"soak_semlsh_x$m")) { m =>
      Dedup.writeEmbeddingLshIndex(
        emb(m), "embedding", "vec_id", s"soak_semlsh_x$m",
        dim = 64, bitsPerBand = semBitsAt(neAt(m)._2), nBuckets = 64)
      spark.table(s"soak_semlsh_x$m").count()
    }

    if (wanted("semlsh_probe")) results("semlsh_probe") = scales.map { case (m, (_, ne)) =>
      val batch = emb(m)
        .filter(col("vec_id") < 500)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      m -> timed(iters) {
        Dedup
          .incrementalSemanticNearDups(
            spark, batch, s"soak_semlsh_x$m", "embedding", "vec_id",
            dim = 64, bitsPerBand = semBitsAt(ne), threshold = 0.99)
          .count()
      }
    }.toMap

    // within-doc repeated-segment removal: one explode + one
    // (doc_id, seg)-partitioned window — should hold ~linear
    if (wanted("strip_repeats")) results("strip_repeats") = scales.map { case (m, _) =>
      m -> timed(iters) {
        graft.ops.TextAnalysis
          .stripRepeatedSegments(docs(m), "text", "doc_id", segTokens = 2)
          .count()
      }
    }.toMap

    // per-doc OOV rate with the vocab trained inline (the q153 shape:
    // topTokens is a second wordcount pass; at-rest vocab halves it).
    // Measure via sum(n_oov), NOT count(): count() lets Catalyst
    // ELIMINATE the aggregate-keyed left join and the whole wordcount
    // with it (measured: flat 0.2 s across 1x..100x — a count of the
    // doc ids, not the operator)
    if (wanted("oov_rate")) results("oov_rate") = scales.map { case (m, _) =>
      m -> timed(iters) {
        val d = docs(m)
        graft.ops.TextAnalysis
          .oovRate(d, "text", "doc_id", graft.ops.TextAnalysis.topTokens(d, "text", 300))
          .agg(sum(col("n_oov")).as("s"), count(lit(1)).as("n"))
          .head()
          .getLong(1)
      }
    }.toMap

    // per-doc n-gram novelty against a same-scale reference half: the
    // shuffle gram equi-join shape (reference side is corpus-sized).
    // Measured via sum(n_seen) — count() would let Catalyst eliminate
    // the unique-keyed left join and the gram join with it (the
    // oov_rate lesson above).
    if (wanted("novelty")) results("novelty") = scales.map { case (m, _) =>
      m -> timed(iters) {
        val d = docs(m)
        graft.ops.TextAnalysis
          .novelty(
            d.filter(col("doc_id") % 2 =!= 0),
            d.filter(col("doc_id") % 2 === 0),
            "text", "doc_id", n = 3)
          .agg(sum(col("n_seen")).as("s"), sum(col("n_shingles")).as("t"))
          .head()
          .getLong(1)
      }
    }.toMap

    // exact ROC-AUC over a synthetic score/label: one corpus scan
    // collapsing to the bounded score grid + the two-phase prefix sum —
    // should hold ~linear in rows with a constant grid
    if (wanted("roc_auc")) results("roc_auc") = scales.map { case (m, _) =>
      m -> timed(iters) {
        val d = docs(m).select(
          length(col("text")).cast("long").as("score"),
          (col("doc_id") % 3 === 0).as("y")
        )
        graft.ops.Stats.rocAuc(d, "score", col("y")).head().getLong(0)
      }
    }.toMap

    val fams = results.map { case (fam, byScale) =>
      val times = multipliers
        .map(m => f""""t${m}_sec":${byScale(m)._1}%.2f,"rows$m":${byScale(m)._2}""")
        .mkString(",")
      val exps = multipliers
        .sliding(2)
        .collect { case Seq(a, b) =>
          val e = math.log(byScale(b)._1 / byScale(a)._1) / math.log(b.toDouble / a.toDouble)
          f""""exp_${a}_$b":$e%.2f"""
        }
        .mkString(",")
      // a single-scale run has no exponents — don't emit a dangling
      // comma (invalid JSON)
      s""""$fam":{${(Seq(times) ++ Some(exps).filter(_.nonEmpty)).mkString(",")}}"""
    }
    // teardown before the parse line (the Bench discipline)
    val line = fams.mkString(
      s"""{"metric":"soak","scales":[${multipliers.mkString(",")}],"families":{""",
      ",",
      "}}"
    )
    try {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    } catch { case _: Throwable => () }
    System.err.flush()
    println(line)
  }
}

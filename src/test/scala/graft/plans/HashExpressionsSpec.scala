package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.functions.Fns

/** Parity pins for the native hash expressions: each must be
  * bit-identical to the composed built-in formulation it replaced, on
  * real corpus data (so the recall/oracle evidence for the composed
  * forms transfers).
  */
class HashExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("MinHashSignature == composed array_min(transform(xxhash64)) form") {
    val numHashes = 32
    val based = docs
      .select(col("doc_id"), Fns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), array_distinct(Fns.shingles(col("toks"), 3)).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), transform(col("shingles"), s => xxhash64(s)).as("hs"))
    val composed = ComposedForms.minhashSignature(col("hs"), numHashes)
    val mismatches = based
      .select(
        col("doc_id"),
        MinHashSignature.minhashSignature(col("hs"), numHashes).as("native"),
        composed.as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
    // degenerate inputs must match the composed form too (the SQL
    // registration exposes them unguarded): empty array -> k nulls;
    // null ELEMENT -> contributes seeds(i), like xxhash64's null-skip
    val edge = Seq(
      (1L, Some(Seq[Option[Long]]())),
      (2L, Some(Seq[Option[Long]](Some(7L), None)))
    ).toDF("id", "hs")
    val edgeComposed = ComposedForms.minhashSignature(col("hs"), 4)
    val edgeMismatch = edge
      .select(
        MinHashSignature.minhashSignature(col("hs"), 4).as("native"),
        edgeComposed.as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(edgeMismatch === 0)
    // null INPUT is the one deliberate divergence: the native expression
    // null-propagates (SQL-idiomatic), where the composed form emits an
    // array of nulls as an artifact of array_min(transform(null))
    val nullRow = Seq(Option.empty[Seq[Long]]).toDF("hs")
      .select(MinHashSignature.minhashSignature(col("hs"), 4).as("native"))
      .head()
    assert(nullRow.isNullAt(0))
  }

  test("XorMinSignature == composed array_min(transform(xor)) form") {
    val seeds = graft.ops.Dedup.sourceSimilaritySeeds(32)
    val based = docs
      .select(col("doc_id"), Fns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Fns.shingles(col("toks"), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), transform(col("shingles"), s => xxhash64(s)).as("hs"))
    val composed = ComposedForms.xorMinSignature(col("hs"), seeds)
    val mismatches = based
      .select(
        XorMinSignature.xorMinSignature(col("hs"), seeds).as("native"),
        composed.as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
    // degenerate inputs: empty array -> k nulls; null elements skipped
    // (array_min semantics); all-null input array -> all-null output
    val edge = Seq(
      (1L, Some(Seq[Option[Long]]())),
      (2L, Some(Seq[Option[Long]](Some(7L), None))),
      (3L, Some(Seq[Option[Long]](None)))
    ).toDF("id", "hs")
    val edgeSeeds = seeds.take(4)
    val edgeComposed = ComposedForms.xorMinSignature(col("hs"), edgeSeeds)
    val edgeMismatch = edge
      .select(
        XorMinSignature.xorMinSignature(col("hs"), edgeSeeds).as("native"),
        edgeComposed.as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(edgeMismatch === 0)
    // null INPUT null-propagates, matching MinHashSignature's contract
    val nullRow = Seq(Option.empty[Seq[Long]]).toDF("hs")
      .select(XorMinSignature.xorMinSignature(col("hs"), edgeSeeds).as("native"))
      .head()
    assert(nullRow.isNullAt(0))
  }

  test("PqCodes == composed struct-argmin form, degenerate inputs null") {
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val m = 8; val sub = 8
    val rnd = new scala.util.Random(99L)
    val cbs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(_ => (0 until 16).map(_ => Seq.fill(sub)(rnd.nextGaussian())))
    val v = col("embedding").cast("array<double>")
    val composed = ComposedForms.pqCodes(v, cbs)
    val mismatches = emb
      .select(PqCodes.pqCodes(v, cbs).as("native"), composed.as("composed"))
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
    // a vector shorter than m*sub is a caller bug surfaced as null
    val short = Seq(Seq.fill(10)(0.5)).toDF("v")
      .select(PqCodes.pqCodes(col("v"), cbs).as("c"))
      .head()
    assert(short.isNullAt(0))
    val nul = Seq(Option.empty[Seq[Double]]).toDF("v")
      .select(PqCodes.pqCodes(col("v"), cbs).as("c"))
      .head()
    assert(nul.isNullAt(0))
  }

  test("SimHash64 == composed 64-aggregate shiftleft/or fold") {
    val hashed = docs.select(
      col("doc_id"),
      transform(Fns.tokens(col("text")), t => xxhash64(t)).as("hs")
    )
    val composed = ComposedForms.simhash64(col("hs"))
    val mismatches = hashed
      .select(SimHash64.simhash64(col("hs")).as("native"), composed.as("composed"))
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("HyperplaneBands == composed per-plane aggregate(zip_with) fold") {
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val planes = graft.ops.Dedup.hyperplanes(dim = 64, n = 16, seed = 42L)
    val composedKeys = transform(
      ComposedForms.bandKeys(col("embedding"), planes, 4),
      s => s.getField("bhash")
    )
    val mismatches = emb
      .select(
        HyperplaneBands.hyperplaneBands(col("embedding"), planes, 4).as("native"),
        composedKeys.as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
    // edge cases: null vector null-propagates; a null ELEMENT poisons
    // every dot (null > 0 is false in the composed when) -> all-zero keys
    val tiny = Seq(Seq(1.0, -2.0), Seq(3.0, 4.0))
    val edge = Seq(
      (1L, Some(Seq[Option[Double]](Some(1.0), None))),
      (2L, None)
    ).toDF("id", "v")
    val got = edge
      .select(col("id"), HyperplaneBands.hyperplaneBands(col("v"), tiny, 1).as("k"))
      .as[(Long, Option[Seq[Long]])]
      .collect()
      .toMap
    assert(got(1L) === Some(Seq(0L, 0L)))
    assert(got(2L) === None)
    // dimension mismatch raises rather than silently truncating
    val err = intercept[Exception] {
      Seq(Seq(1.0)).toDF("v")
        .select(HyperplaneBands.hyperplaneBands(col("v"), tiny, 1)).collect()
    }
    assert(err.getMessage.contains("length"))
  }

  test("SQL function registration: cosine_sim / minhash_signature / simhash64 callable from SQL") {
    GraftExtensions.register(spark)
    Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(11L, 22L)))
      .toDF("a", "b", "hs")
      .createOrReplaceTempView("ext_t")
    val row = spark
      .sql("""SELECT cosine_sim(a, b) AS cs,
              |       minhash_signature(hs, 4) AS sig,
              |       simhash64(hs) AS sh FROM ext_t""".stripMargin)
      .head()
    assert(row.getAs[Double]("cs") === 1.0)
    assert(row.getAs[Seq[Long]]("sig").length === 4)
    val toks = spark
      .sql("SELECT distinct_shingles(tokenize('A b c a b c'), 2) AS s")
      .as[Seq[String]].head()
    assert(toks === Seq("a b", "b c", "c a"))
    // parity with the Column API on the same input
    val viaColumn = Seq((Seq(11L, 22L))).toDF("hs")
      .select(SimHash64.simhash64(col("hs"))).as[Long].head()
    assert(row.getAs[Long]("sh") === viaColumn)
  }

  test("GramHashes == composed transform(slice/concat_ws/xxhash64) form; short/empty/null") {
    val k = 8
    val words = docs
      .select(col("doc_id"), Fns.tokens(col("text")).as("words"))
      .filter(size(col("words")) >= k)
    val composed = words
      .select(col("doc_id"), ComposedForms.gramHashes(col("words"), k).as("g"))
    val native = words
      .select(col("doc_id"), graft.plans.GramHashes.gramHashes(col("words"), k).as("g"))
    assert(
      composed.orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq ===
        native.orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    )
    // short input -> empty array (total semantics); null -> null
    val edge = Seq((1L, Some(Seq("a", "b"))), (2L, None))
      .toDF("id", "w")
      .select(col("id"), graft.plans.GramHashes.gramHashes(col("w").cast("array<string>"), k).as("g"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)))
      .toMap
    assert(edge(1L).exists(_.asInstanceOf[scala.collection.Seq[_]].isEmpty))
    assert(edge(2L).isEmpty)
  }

  test("native codegen: simhash64/cosine_sim projects stay inside WholeStageCodegen") {
    // CodegenFallback expressions force the enclosing Project out of
    // whole-stage codegen; the doGenCode static-call forms (round 12)
    // must keep the stage fused
    import org.apache.spark.sql.execution.WholeStageCodegenExec

    def fusedProject(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan
        .collect { case w: WholeStageCodegenExec => w }
        .exists(_.toString.contains("Project"))

    // input must be a real scan: a local relation constant-folds the
    // whole project at plan time (interpreted, no codegen at all), and
    // a HOF-producing child like transform() is itself CodegenFallback
    // and would collapse into the project
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    assert(
      fusedProject(
        emb.select(SimHash64.simhash64(col("embedding").cast("array<bigint>")).as("s"))
      ),
      "simhash64 project fell out of WholeStageCodegen"
    )
    assert(
      fusedProject(
        emb.select(CosineSimilarity.cosineSim(col("embedding"), col("embedding")).as("cs"))
      ),
      "cosine_sim project fell out of WholeStageCodegen"
    )
    // and the generated path computes the same values as interpreted
    val viaCodegen = emb
      .select(CosineSimilarity.cosineSim(col("embedding"), col("embedding")).as("cs"))
      .as[Double].collect()
    assert(viaCodegen.nonEmpty && viaCodegen.forall(v => math.abs(v - 1.0) < 1e-12))
    // every remaining native expression also fuses (reference-object
    // call into the shared nullSafeEval) — and executes, over a scan
    val all = docs.select(
      TextExpressions.tokenize(col("text")).as("toks"),
      GramHashes.gramHashes(TextExpressions.tokenize(col("text")), 3).as("gh")
    )
    assert(fusedProject(all), "tokenize/gramHashes project fell out of WholeStageCodegen")
    assert(all.count() > 0)
    val planes = Seq.tabulate(16)(p => Seq.tabulate(64)(d => ((p * 64 + d) % 7 - 3) / 3.0))
    val sig = emb.select(
      MinHashSignature
        .minhashSignature(col("embedding").cast("array<bigint>"), 8).as("mh"),
      XorMinSignature
        .xorMinSignature(col("embedding").cast("array<bigint>"), Seq(3L, 5L, 7L)).as("xm"),
      HyperplaneBands.hyperplaneBands(col("embedding"), planes, bitsPerBand = 4).as("hb")
    )
    assert(fusedProject(sig), "signature project fell out of WholeStageCodegen")
    assert(sig.count() > 0)
    // PqCodes fuses too, and — critically — its generated code must SET
    // ev.isNull for the documented null-on-short-vector contract (a
    // fused consumer would otherwise dereference a null ArrayData with
    // isNull=false). Exercise through a real parquet scan so the
    // project actually code-gens instead of constant-folding.
    val m = 4; val sub = 2
    val cbs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => (0 until 3).map(c => Seq.tabulate(sub)(d => (s + c + d).toDouble)))
    val pqDir = java.nio.file.Files.createTempDirectory("pq_codegen").toString
    Seq(
      (1L, Some(Seq.tabulate(m * sub)(_.toDouble))), // well-formed
      (2L, Some(Seq(0.5, 1.5, 2.5))),                // too short -> null
      (3L, Option.empty[Seq[Double]])                // null input -> null
    ).toDF("id", "v").write.mode("overwrite").parquet(pqDir)
    val pqScan = spark.read.parquet(pqDir)
      .select(col("id"), PqCodes.pqCodes(col("v"), cbs).as("c"))
    assert(fusedProject(pqScan), "pq_codes project fell out of WholeStageCodegen")
    val pqGot = pqScan.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(pqGot(1L).exists(_.asInstanceOf[scala.collection.Seq[_]].size == m))
    assert(pqGot(2L).isEmpty, "short vector must be null through codegen, not a live ArrayData")
    assert(pqGot(3L).isEmpty)
    // and a fused CONSUMER of the possibly-null result survives the
    // short-vector row (the exact shape the isNull fix protects)
    val consumed = spark.read.parquet(pqDir)
      .select(col("id"), coalesce(size(PqCodes.pqCodes(col("v"), cbs)), lit(-1)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(consumed === Map(1L -> m, 2L -> -1, 3L -> -1))
  }

  test("SimHash64 edge cases: empty input -> 0, null -> null") {
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, None)
    ).toDF("id", "hs")
    val got = df
      .select(col("id"), SimHash64.simhash64(col("hs")).as("s"))
      .as[(Long, Option[Long])]
      .collect()
      .toMap
    assert(got(1L) === Some(0L))
    assert(got(2L) === None)
  }
}

package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Bpe
import graft.ops.Similarity.TrainScale

/** Every native expression in `plans/` on both of Spark's evaluation
  * paths, against its composed or reference form ([[ComposedForms]]).
  *
  *  - '''interpreted''': `wholeStage=false` and `factoryMode=NO_CODEGEN`,
  *    so projections run through `InterpretedUnsafeProjection` and call
  *    `eval` — the path Spark falls back to when code generation fails;
  *  - '''generated''': `wholeStage=true`, `factoryMode=CODEGEN_ONLY` and
  *    `codegen.fallback=false`, so a kernel whose generated code does
  *    not compile fails instead of falling back; the kernel's project
  *    must sit inside a `WholeStageCodegenExec`.
  *
  * Inputs come from an RDD, not a local relation: the optimizer folds a
  * project over a local relation at plan time, interpreted, and neither
  * path would run. Rows cover null input, empty arrays, null elements,
  * NaN where the kernel is numeric, and a width that a kernel
  * `require`s must raise on both paths.
  */
class NativeKernelParitySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private sealed abstract class Mode(val name: String, val confs: Map[String, String])
  private case object Interpreted
      extends Mode(
        "interpreted",
        Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      )
  private case object Generated
      extends Mode(
        "generated",
        Map(
          "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false"
        )
      )
  private val modes = Seq(Interpreted, Generated)

  private def inMode[T](m: Mode)(body: => T): T = {
    val saved = m.confs.keys.map(k => k -> spark.conf.getOption(k))
    m.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** An RDD-backed frame with an `id` per row (its index). */
  private def frame(ddl: String, rows: Seq[Any]*): DataFrame = {
    val schema = StructType.fromDDL(s"id BIGINT, $ddl")
    val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  /** NaN-aware, comparable form of a collected value; a struct whose
    * fields are all null reads as null (how the ops consume it).
    */
  private def norm(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case r: Row if r.toSeq.forall(_ == null) => null
    case r: Row => r.toSeq.map(norm).toList
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case other => other
  }

  /** The executed plan took the path `m` names: a project inside a
    * WholeStageCodegenExec when generated, no generated stage at all
    * when interpreted.
    */
  private def assertPath(m: Mode, plan: SparkPlan): Unit = {
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    m match {
      case Generated =>
        assert(stages.exists(_.child.exists(_.isInstanceOf[ProjectExec])), s"project fell out of WholeStageCodegen:\n$plan")
      case Interpreted => assert(stages.isEmpty, s"generated stage:\n$plan")
    }
  }

  /** id -> `c` over `df` in the current mode; the native side also
    * checks that the mode really took the path it names.
    */
  private def run(m: Mode, df: DataFrame, c: Column, native: Boolean): Map[Long, Any] = {
    val q = df.select(col("id"), c.as("out"))
    val got = q.collect().map(r => r.getLong(0) -> norm(r.get(1))).toMap
    if (native) assertPath(m, q.queryExecution.executedPlan)
    got
  }

  /** `native` == `reference` on every row of `df`, on both paths.
    * `expected` replaces the reference on the ids it lists: the rows
    * where a kernel diverges from its composed form by contract.
    */
  private def parity(
      df: DataFrame,
      native: Column,
      reference: Column,
      expected: Map[Long, Any] = Map.empty
  ): Unit =
    modes.foreach { m =>
      inMode(m) {
        val refRows = if (expected.isEmpty) df else df.filter(!col("id").isin(expected.keys.toSeq: _*))
        val want = run(m, refRows, reference, native = false) ++
          expected.map { case (k, v) => k -> norm(v) }
        val got = run(m, df, native, native = true)
        assert(got.keySet === want.keySet, m.name)
        got.keys.toSeq.sorted.foreach(id => assert(got(id) === want(id), s"${m.name}, id $id"))
      }
    }

  private def mentions(err: Throwable, msg: String): Boolean =
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null).exists(e => String.valueOf(e).contains(msg))

  /** Evaluating `native` over `df` raises on both paths, with `msg` in
    * the error or one of its causes.
    */
  private def raises(df: DataFrame, native: Column, msg: String): Unit =
    modes.foreach { m =>
      inMode(m) {
        val err = intercept[Throwable](df.select(native).collect())
        assert(mentions(err, msg), s"${m.name}: $err")
      }
    }

  // ---- inputs ----

  private val rnd = new scala.util.Random(7L)
  private val dense: Seq[Seq[Double]] =
    Seq.fill(12)(Seq.fill(4)(math.round(rnd.nextGaussian() * 1000) / 100.0))
  private val longs: Seq[Seq[Long]] =
    Seq.fill(8)(Seq.fill(1 + rnd.nextInt(6))(rnd.nextLong()))

  /** Width-4 vectors: dense rows, then null, a null element, NaN, zeros. */
  private val vecRows: Seq[Seq[Any]] = dense.map(Seq(_)) ++ Seq(
    Seq(null),
    Seq(Seq(1.0, null, -2.0, 0.5)),
    Seq(Seq(0.5, Double.NaN, 1.0, 2.0)),
    Seq(Seq(0.0, 0.0, 0.0, 0.0))
  )
  private lazy val vecs = frame("v ARRAY<DOUBLE>", vecRows: _*)
  private lazy val vecPairs = vecs.select(col("id"), col("v").as("a"), reverse(col("v")).as("b"))
  private val vecNull = 12L
  private val vecZeros = vecNull + 3
  private lazy val width3 = frame("v ARRAY<DOUBLE>", Seq(Seq(1.0, 2.0, 3.0)), Seq(Seq.empty[Double]))

  /** Ids 1 and 3 share a vector: ties go to the smaller id. */
  private val cents: Seq[(Long, Seq[Double])] = Seq(
    3L -> Seq(1.0, 0.0, 0.0, 0.0),
    2L -> Seq(0.0, 1.0, -1.0, 0.0),
    5L -> Seq(0.5, 0.5, 0.5, 0.5),
    1L -> Seq(1.0, 0.0, 0.0, 0.0)
  )
  /** m = 2 subspaces of width 2, k = 3 codes each. */
  private val cbs: Seq[Seq[Seq[Double]]] = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, -1.0), Seq(-2.0, 3.0)),
    Seq(Seq(0.5, 0.5), Seq(-1.0, 0.0), Seq(2.0, 2.0))
  )

  private lazy val hashes = frame(
    "hs ARRAY<BIGINT>",
    longs.map(Seq(_)) ++ Seq(Seq(null), Seq(Seq.empty[Long]), Seq(Seq(7L, null, -3L))): _*
  )
  private val hashNull = longs.size.toLong

  private val texts = Seq(
    "the the the a of and is",
    "Hello, WORLD!  foo42--bar",
    "one\none\none\n  \n\ttab line\n",
    "你好 世界 你好 世界 mixed ascii",
    "ÉÀÜ Straße İstanbul",
    "a b a b a b c",
    "singleword",
    "   ",
    ""
  )
  private lazy val text = frame("text STRING", texts.map(Seq(_)) :+ Seq(null): _*)

  /** Token arrays: split texts, then null, an empty array, a null element. */
  private lazy val toks = frame(
    "toks ARRAY<STRING>",
    texts.map(t => Seq(t.split(" ").filter(_.nonEmpty).toSeq)) ++ Seq(
      Seq(null),
      Seq(Seq.empty[String]),
      Seq(Seq("a", null, "b", "a", "b"))
    ): _*
  )
  private val toksNull = texts.size.toLong

  // ---- ANN quantizers ----

  test("QuantizeVec: both paths == composed transform/floor, double and float input") {
    val withEmpty = frame("v ARRAY<DOUBLE>", (vecRows :+ Seq(Seq.empty[Double])): _*)
    parity(withEmpty, CellOps.quantizeVec(col("v"), TrainScale), ComposedForms.quantizeVec(col("v")))
    val floats = withEmpty.select(col("id"), col("v").cast("array<float>").as("v"))
    parity(floats, CellOps.quantizeVec(col("v"), TrainScale), ComposedForms.quantizeVec(col("v")))
  }

  test("NearestCell: both paths == -array_max(scoredCells).negid; nullable and non-null child; width raises") {
    parity(
      vecs,
      CellOps.nearestCell(col("v"), cents),
      ComposedForms.nearestCell(col("v"), cents),
      expected = Map(vecNull -> null)
    )
    val nonNull = coalesce(col("v"), typedLit(Seq(0.0, 1.0, 0.0, 0.0)))
    parity(vecs, CellOps.nearestCell(nonNull, cents), ComposedForms.nearestCell(nonNull, cents))
    raises(width3, CellOps.nearestCell(col("v"), cents), "centroid width")
  }

  test("TopCells: both paths == slice(reverse(array_sort(scoredCells))) ids; width raises") {
    for (nProbe <- Seq(2, 10))
      parity(
        vecs,
        CellOps.topCells(col("v"), cents, nProbe),
        ComposedForms.topCells(col("v"), cents, nProbe),
        expected = Map(vecNull -> null)
      )
    raises(width3, CellOps.topCells(col("v"), cents, 2), "centroid width")
  }

  test("PqCodes: both paths == composed argmin (null elements read as 0.0); short vector is null") {
    val zeroed = transform(col("v"), x => coalesce(x, lit(0.0)))
    parity(
      vecs.unionByName(width3.select((col("id") + 100).as("id"), col("v"))),
      PqCodes.pqCodes(col("v"), cbs),
      ComposedForms.pqCodes(zeroed, cbs),
      expected = Map(vecNull -> null, 100L -> null, 101L -> null)
    )
  }

  /** All 9 code pairs, then null codes, a null code, a null, an unknown
    * cent_id, and three degenerate code arrays: out of range, too
    * short, empty.
    */
  private lazy val codes = frame(
    "codes ARRAY<INT>, cent_id BIGINT",
    (for (a <- 0 until 3; b <- 0 until 3) yield Seq(Seq(a, b), cents(a % cents.size)._1)) ++ Seq(
      Seq(null, 3L),
      Seq(Seq(1, null), 3L),
      Seq(Seq(1, 2), null),
      Seq(Seq(1, 2), 99L),
      Seq(Seq(0, 3), 3L),
      Seq(Seq(0), 3L),
      Seq(Seq.empty[Int], 3L)
    ): _*
  )
  private val degenerateCodes: Map[Long, Any] = Seq(13L, 14L, 15L).map(_ -> null).toMap

  test("PqReconstruct: both paths == composed concat decode; out-of-range or short codes are null") {
    parity(
      codes,
      CellOps.pqReconstruct(col("codes"), cbs),
      ComposedForms.pqDecode(col("codes"), cbs),
      expected = degenerateCodes
    )
  }

  test("PqReconstructResidual: both paths == composed zip_with(centMap, decode, +); width raises") {
    parity(
      codes,
      CellOps.pqReconstructResidual(col("codes"), col("cent_id"), cbs, cents),
      ComposedForms.pqDecodeResidual(col("codes"), col("cent_id"), cbs, cents),
      expected = degenerateCodes
    )
    val narrow = Seq(3L -> Seq(1.0, 0.0, 0.0))
    raises(codes, CellOps.pqReconstructResidual(col("codes"), col("cent_id"), cbs, narrow), "centroid width")
  }

  test("ResidualVec: both paths == composed zip_with(quantize, centMap, -); width raises") {
    val withCells = vecs.select(
      col("id"),
      col("v"),
      when(col("id") === 0, lit(null)).when(col("id") === 1, lit(99L))
        .otherwise(element_at(typedLit(cents.map(_._1)), (col("id") % cents.size + 1).cast("int")))
        .as("cent_id")
    )
    parity(
      withCells,
      CellOps.residualVec(col("v"), col("cent_id"), cents, TrainScale),
      ComposedForms.residualVec(col("v"), col("cent_id"), cents)
    )
    raises(
      width3.select(col("id"), col("v"), lit(3L).as("cent_id")),
      CellOps.residualVec(col("v"), col("cent_id"), cents, TrainScale),
      "centroid width"
    )
  }

  test("CosineSimilarity: both paths == the sequential fold (null elements read as 0.0); zero is NaN; width raises") {
    def zeroed(c: Column) = transform(c, x => coalesce(x, lit(0.0)))
    parity(
      vecPairs,
      CosineSimilarity.cosineSim(col("a"), col("b")),
      ComposedForms.cosine(zeroed(col("a")), zeroed(col("b"))),
      expected = Map(vecZeros -> Double.NaN)
    )
    raises(
      width3.select(col("v").as("a"), typedLit(Seq(1.0, 2.0, 3.0, 4.0)).as("b")),
      CosineSimilarity.cosineSim(col("a"), col("b")),
      "length mismatch"
    )
  }

  // ---- signatures and hashes ----

  test("HyperplaneBands: both paths == composed aggregate(zip_with) fold; null is null; width raises") {
    val planes = graft.ops.Dedup.hyperplanes(dim = 4, n = 8, seed = 42L)
    parity(
      vecs,
      HyperplaneBands.hyperplaneBands(col("v"), planes, 4),
      transform(ComposedForms.bandKeys(col("v"), planes, 4), s => s.getField("bhash")),
      expected = Map(vecNull -> null)
    )
    raises(width3, HyperplaneBands.hyperplaneBands(col("v"), planes, 4), "length")
  }

  test("MinHashSignature: both paths == composed array_min(transform(xxhash64)); null is null") {
    parity(
      hashes,
      MinHashSignature.minhashSignature(col("hs"), 4),
      ComposedForms.minhashSignature(col("hs"), 4),
      expected = Map(hashNull -> null)
    )
  }

  test("XorMinSignature: both paths == composed array_min(transform(xor)); null is null") {
    val seeds = Seq(3L, 5L, -99L)
    parity(
      hashes,
      XorMinSignature.xorMinSignature(col("hs"), seeds),
      ComposedForms.xorMinSignature(col("hs"), seeds),
      expected = Map(hashNull -> null)
    )
  }

  test("SimHash64: both paths == composed 64-aggregate vote fold; null is null") {
    parity(
      hashes,
      SimHash64.simhash64(col("hs")),
      ComposedForms.simhash64(col("hs")),
      expected = Map(hashNull -> null)
    )
  }

  test("GramHashes: both paths == composed slice/concat_ws/xxhash64; null is null") {
    parity(
      toks,
      GramHashes.gramHashes(col("toks"), 3),
      ComposedForms.gramHashes(col("toks"), 3),
      expected = Map(toksNull -> null)
    )
  }

  test("PairCombos: both paths == composed pair chain (sorted, duplicates, unsorted); short lists empty") {
    val ids = frame(
      "ids ARRAY<BIGINT>",
      Seq(Seq(1L, 2L, 3L, 4L)),
      Seq(Seq(5L, 5L, 6L)),
      Seq(Seq(9L, 8L, 10L)),
      Seq(Seq(4L, null, 2L, 7L)),
      Seq(null),
      Seq(Seq(7L)),
      Seq(Seq.empty[Long])
    )
    parity(
      ids,
      sort_array(PairCombos.pairCombos(col("ids"))),
      sort_array(ComposedForms.pairCombos(col("ids"))),
      expected = Map(5L -> Seq.empty, 6L -> Seq.empty)
    )
  }

  // ---- text ----

  test("Tokenize: both paths == composed regexp_replace/split/filter") {
    parity(text, TextExpressions.tokenize(col("text")), ComposedForms.tokens(col("text")))
  }

  test("DistinctShingles: both paths == array_distinct over the zip_with gram chain") {
    parity(
      toks,
      TextExpressions.distinctShingles(col("toks"), 2),
      ComposedForms.distinctShingles(col("toks"), 2)
    )
  }

  test("BpeApplyMerges: both paths == the composed per-merge fold") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"), ("a", "a"), ("aa", "a"))
    val syms = frame(
      "syms ARRAY<STRING>",
      Seq("lowest", "newest", "low", "aaaa", "banana", "x").map(w => Seq(w.map(_.toString).toSeq)) ++ Seq(
        Seq(null),
        Seq(Seq.empty[String]),
        Seq(Seq("l", null, "o", "w"))
      ): _*
    )
    parity(syms, BpeApplyMerges.bpeApplyMerges(col("syms"), merges), Bpe.applyMerges(col("syms"), merges))
  }

  test("WordStats: both paths == composed size/array_distinct/aggregate/filter folds; a null token adds no chars") {
    val stop = Seq("the", "a", "of", "and", "is")
    parity(
      toks,
      GopherExpressions.wordStats(col("toks"), stop),
      ComposedForms.wordStats(col("toks"), stop),
      // ["a", null, "b", "a", "b"]: the composed char_sum is null there
      expected = Map(toksNull + 2 -> Seq(5, 3, 4L, 2, 4))
    )
  }

  test("LineStats: both paths == composed split/trim-filter + sorted-run dup fold") {
    parity(text, GopherExpressions.lineStats(col("text")), ComposedForms.lineStats(col("text")))
  }

  test("GramMass: both paths == composed gram build + sorted-run mass fold; null is (0, 0)") {
    parity(toks, GopherExpressions.gramMass(col("toks"), 2), ComposedForms.gramMass(col("toks"), 2))
  }

  // ---- SQL surface ----

  test("SQL surface: the six registered functions equal their Column forms on both paths") {
    GraftExtensions.register(spark)
    vecPairs.createOrReplaceTempView("nk_vecs")
    hashes.createOrReplaceTempView("nk_hashes")
    text.createOrReplaceTempView("nk_text")
    toks.createOrReplaceTempView("nk_toks")
    val cases = Seq(
      ("SELECT id, cosine_sim(a, b) AS out FROM nk_vecs", vecPairs, CosineSimilarity.cosineSim(col("a"), col("b"))),
      ("SELECT id, minhash_signature(hs, 4) AS out FROM nk_hashes", hashes, MinHashSignature.minhashSignature(col("hs"), 4)),
      ("SELECT id, simhash64(hs) AS out FROM nk_hashes", hashes, SimHash64.simhash64(col("hs"))),
      ("SELECT id, tokenize(text) AS out FROM nk_text", text, TextExpressions.tokenize(col("text"))),
      ("SELECT id, distinct_shingles(toks, 2) AS out FROM nk_toks", toks, TextExpressions.distinctShingles(col("toks"), 2)),
      ("SELECT id, gram_hashes(toks, 3) AS out FROM nk_toks", toks, GramHashes.gramHashes(col("toks"), 3))
    )
    modes.foreach { m =>
      inMode(m) {
        cases.foreach { case (sql, df, c) =>
          val q = spark.sql(sql)
          val got = q.collect().map(r => r.getLong(0) -> norm(r.get(1))).toMap
          assertPath(m, q.queryExecution.executedPlan)
          assert(got === run(m, df, c, native = true), s"${m.name}: $sql")
        }
      }
    }
  }

  test("SQL surface: a non-literal integer argument is rejected") {
    GraftExtensions.register(spark)
    toks.createOrReplaceTempView("nk_toks")
    for (sql <- Seq(
        "SELECT gram_hashes(toks, CAST(id AS INT)) FROM nk_toks",
        "SELECT distinct_shingles(toks, CAST(id AS INT)) FROM nk_toks",
        "SELECT minhash_signature(transform(toks, t -> xxhash64(t)), CAST(id AS INT)) FROM nk_toks"
      )) {
      val err = intercept[Throwable](spark.sql(sql).collect())
      assert(mentions(err, "must be an integer literal"), s"$sql: $err")
    }
  }
}

package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.ops.Similarity.TrainScale

/** The composed built-in forms that the native kernels in `plans/`
  * replaced, kept as test oracles only: each kernel's own parity spec
  * and NativeKernelParitySpec compare the native expression against
  * the form here. Most are higher-order-function chains, which are
  * CodegenFallback and so run interpreted in every factory mode.
  */
object ComposedForms {

  // ---- ANN quantizers: CellOps, PqCodes ----

  /** `transform` + floor as [[QuantizeVec]] computes it at
    * [[graft.ops.Similarity.TrainScale]]. floor() returns LONG; the cast
    * back to double keeps the values exact integers.
    */
  def quantizeVec(vec: Column): Column =
    transform(vec.cast("array<double>"), x => floor(x * lit(TrainScale)).cast("double"))

  /** The literal scored-cell array behind [[NearestCell]] / [[TopCells]]:
    * (round(cosine, 6), -cent_id) per centroid.
    */
  private def scoredCells(qvq: Column, cents: Seq[(Long, Seq[Double])]): Column =
    transform(
      typedLit(cents.map { case (id, v) => (v, -id) }),
      c =>
        struct(
          round(Fns.cosine(qvq, c.getField("_1")), 6).as("cs"),
          c.getField("_2").as("negid")
        )
    )

  def nearestCell(qvq: Column, cents: Seq[(Long, Seq[Double])]): Column =
    -array_max(scoredCells(qvq, cents)).getField("negid")

  def topCells(qvq: Column, cents: Seq[(Long, Seq[Double])], nProbe: Int): Column =
    transform(
      slice(reverse(array_sort(scoredCells(qvq, cents))), 1, nProbe),
      c => -c.getField("negid")
    )

  /** Argmin over one subspace codebook (max of (-dist, -code) =
    * smallest distance, ties to the smallest code).
    */
  private def pqArgmin(sv: Column, cb: Seq[Seq[Double]]): Column = {
    def l2sq(cent: Seq[Double]): Column =
      aggregate(
        zip_with(sv, typedLit(cent), (x, y) => (x - y) * (x - y)),
        lit(0.0),
        (acc, v) => acc + v
      )
    val scored = array(cb.zipWithIndex.map { case (cent, c) =>
      struct((-l2sq(cent)).as("negd"), lit(-c).as("negc"))
    }: _*)
    (-array_max(scored).getField("negc")).cast("int")
  }

  /** [[PqCodes]]: one [[pqArgmin]] per subspace slice of an array<double>. */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val sub = codebooks.head.head.size
    array(codebooks.indices.map(s => pqArgmin(slice(vec, s * sub + 1, sub), codebooks(s))): _*)
  }

  /** [[PqReconstruct]]: concat of the selected centroid per subspace. */
  def pqDecode(codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    concat(codebooks.zipWithIndex.map { case (cb, s) =>
      typedLit(cb).apply(codes.getItem(s))
    }: _*)

  /** [[PqReconstructResidual]]: centroid(cent_id) + decoded residual. */
  def pqDecodeResidual(
      codes: Column,
      centId: Column,
      codebooks: Seq[Seq[Seq[Double]]],
      cents: Seq[(Long, Seq[Double])]
  ): Column =
    zip_with(element_at(typedLit(cents.toMap), centId), pqDecode(codes, codebooks), (c, r) => c + r)

  /** [[ResidualVec]]: quantized vector minus centroid(cent_id). */
  def residualVec(vec: Column, centId: Column, cents: Seq[(Long, Seq[Double])]): Column =
    zip_with(quantizeVec(vec), element_at(typedLit(cents.toMap), centId), (x, c) => x - c)

  // ---- signatures and hashes ----

  /** [[MinHashSignature]]: one array_min(transform(xxhash64)) per function. */
  def minhashSignature(hs: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i => array_min(transform(hs, h => Fns.hashFamily(h, i)))): _*)

  /** [[XorMinSignature]]: one array_min(transform(xor)) per seed. */
  def xorMinSignature(hs: Column, seeds: Seq[Long]): Column =
    array(seeds.map(sd => array_min(transform(hs, h => h.bitwiseXOR(lit(sd))))): _*)

  /** [[SimHash64]]: 64 aggregate vote folds, or-ed into one long. */
  def simhash64(hs: Column): Column =
    (0 until 64)
      .map { i =>
        when(
          aggregate(
            hs,
            lit(0L),
            (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
          ) > 0,
          lit(1L)
        ).otherwise(lit(0L))
      }
      .foldLeft(lit(0L))((acc, b) => shiftleft(acc, 1).bitwiseOR(b))

  /** [[HyperplaneBands]] before it was native: one boxed
    * `aggregate(zip_with(...))` fold per plane, one `(band, bhash)`
    * struct per band.
    */
  def bandKeys(vec: Column, planes: Seq[Seq[Double]], bitsPerBand: Int): Column = {
    def dotPlane(p: Seq[Double]): Column =
      aggregate(
        zip_with(vec, typedLit(p), (x, w) => x.cast("double") * w),
        lit(0.0),
        (acc, v) => acc + v
      )
    val bandCols = (0 until planes.size / bitsPerBand).map { b =>
      val key = (0 until bitsPerBand).foldLeft(lit(0L)) { (acc, k) =>
        acc * 2 + when(dotPlane(planes(b * bitsPerBand + k)) > 0, 1L).otherwise(0L)
      }
      struct(lit(b).as("band"), key.as("bhash"))
    }
    array(bandCols: _*)
  }

  /** [[GramHashes]]: xxhash64 of each single-space-joined k-gram; fewer
    * than k words give an empty array.
    */
  def gramHashes(words: Column, k: Int): Column =
    when(
      size(words) >= k,
      transform(
        sequence(lit(0), size(words) - k),
        i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(k))))
      )
    ).otherwise(array().cast("array<bigint>"))

  /** [[PairCombos]]: every (ids[k], ids[m]) with ids[k] < ids[m] by value. */
  def pairCombos(ids: Column): Column =
    flatten(
      transform(
        sequence(lit(1), size(ids) - 1),
        k =>
          transform(
            filter(slice(ids, k + 1, size(ids)), j => j > element_at(ids, k)),
            j => struct(element_at(ids, k).as("i"), j.as("j"))
          )
      )
    )

  /** [[CosineSimilarity]]: the sequential-fold formulation. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")), lit(0.0), _ + _)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  // ---- text ----

  /** [[Tokenize]]: lower, non-[a-z0-9] runs to a space, split, drop empties. */
  def tokens(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " "), t => t =!= "")

  /** [[DistinctShingles]]: array_distinct over the zip_with gram chain. */
  def distinctShingles(toks: Column, n: Int): Column =
    array_distinct(Fns.shingles(toks, n))

  /** [[WordStats]]: the four HOF folds behind `quality`/`gopherQuality`. */
  def wordStats(toks: Column, stop: Seq[String]): Column =
    struct(
      size(toks).as("n_words"),
      size(array_distinct(toks)).as("n_distinct"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("char_sum"),
      size(filter(toks, t => t.isInCollection(stop))).as("stop_hits"),
      size(filter(toks, t => t.rlike("[a-z]"))).as("alpha_hits")
    )

  /** [[LineStats]]: split/trim-filter plus a sorted-run dup-line fold. */
  def lineStats(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val dupChars = aggregate(
      array_sort(lines),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0L).as("tot")),
      (acc, l) =>
        struct(
          l.as("prev"),
          when(l === acc("prev"), acc("run") + 1).otherwise(lit(1)).as("run"),
          (acc("tot") + coalesce(
            when(
              l === acc("prev"),
              when(acc("run") === 1, length(l).cast("long") * 2L)
                .otherwise(length(l).cast("long"))
            ),
            lit(0L)
          )).as("tot")
        ),
      acc => acc("tot")
    )
    struct(
      size(lines).as("n_lines"),
      (size(lines) - size(array_distinct(lines))).as("n_dup_lines"),
      dupChars.as("dup_chars"),
      aggregate(lines, lit(0L), (acc, l) => acc + length(l)).as("total_chars")
    )
  }

  /** [[GramMass]]: gram build plus a sorted-run mass fold. */
  def gramMass(toks: Column, n: Int): Column = {
    val grams = when(
      size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    ).otherwise(array().cast("array<string>"))
    aggregate(
      array_sort(grams),
      struct(
        lit(null).cast("string").as("prev"),
        lit(0).as("run"),
        lit(0L).as("best"),
        lit(0L).as("dup")
      ),
      (acc, g) => {
        val len = (length(g) - lit(n - 1)).cast("long")
        val newRun = when(g === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(
          g.as("prev"),
          newRun.as("run"),
          greatest(acc("best"), newRun.cast("long") * len).as("best"),
          (acc("dup") + coalesce(
            when(g === acc("prev"), when(acc("run") === 1, len * 2L).otherwise(len)),
            lit(0L)
          )).as("dup")
        )
      },
      acc => struct(acc("best").as("best"), acc("dup").as("dup"))
    )
  }

  // ---- aggregates ----

  /** [[MomentSums]]' decimal(38,0) form behind `Stats.pearsonMoments`.
    * Casts EACH FACTOR to decimal before multiplying: a native int/long
    * product can silently wrap before the decimal cast sees it, while
    * decimal(38,0)*decimal(38,0) promotes (matching DuckDB's integer
    * promotion).
    */
  def pearsonMoments(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val singles = cols.flatMap { c =>
      Seq(
        sum(dec(col(c))).as(s"s_$c"),
        sum(dec(col(c)) * dec(col(c))).as(s"ss_$c")
      )
    }
    val crosses =
      for { i <- cols.indices; j <- (i + 1) until cols.size } yield
        sum(dec(col(cols(i))) * dec(col(cols(j)))).as(s"sp_${cols(i)}_${cols(j)}")
    df.agg(count(lit(1)).as("n"), (singles ++ crosses): _*)
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private lazy val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
  private lazy val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "text", "doc_id").orderBy("keeper").collect()
    assert(got.length === 2)
    assert(got(0).getAs[Long]("keeper") === 1L && got(0).getAs[Long]("n_dups") === 2L)
  }

  test("minhash LSH finds every exact-Jaccard pair >= 0.5 on real docs (recall check)") {
    val exact = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Dedup
      .minHashLshPairs(docs, "text", "doc_id", 3, 32, 8, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (verify step is exact)")
    // banding with 8 bands of 4 at jac>=0.8 gives recall ~1; planted dups are >=0.8
    assert(exact.nonEmpty && lsh === exact, s"recall miss: ${(exact -- lsh).size} of ${exact.size}")
  }

  test("doc-frequency / bucket caps: generous cap == uncapped, tight cap only removes") {
    val exact = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // no shingle on this corpus is hotter than the corpus size, so a
    // corpus-sized cap must change nothing
    val capped = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5, maxDocFreq = Some(10000))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(capped === exact)
    // a tight cap may only drop pairs (conservative approximation)
    val tight = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5, maxDocFreq = Some(2))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(exact))
    // same for the LSH bucket cap
    val lsh = Dedup
      .minHashLshPairs(docs, "text", "doc_id", 3, 32, 8, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lshCapped = Dedup
      .minHashLshPairs(docs, "text", "doc_id", 3, 32, 8, 0.5, maxBucket = Some(10000))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(lshCapped === lsh)
  }

  test("simhash: permuted word order collides, disjoint vocab does not") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"), // same bag of words
      (3L, "zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val sh = Dedup.simHashes(df, "text", "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("brute-force top-k matches an independently computed answer") {
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = vecs.filter(_._1 < 5)
    val want = q.map { case (qid, qv) =>
      qid -> vecs
        .filter(_._1 != qid)
        .map { case (cid, cv) => (cid, BigDecimal(cos(qv, cv)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(3)
        .map(_._1)
        .toSeq
    }.toMap
    val got = Similarity
      .bruteForceTopK(emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", 3)
      .orderBy("qid", "rank")
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(got === want)
  }

  test("IVF ANN returns k results per query from probed cells") {
    val got = Similarity
      .ivfTopK(emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 3, nCells = 8, nProbe = 8)
      .groupBy("qid").count()
    // nProbe == nCells degenerates to exhaustive search -> exactly k each
    assert(got.select("count").as[Long].collect().forall(_ === 3L))
  }

  test("IVF with Lloyd-trained centroids reaches recall@5 >= 0.9 vs brute force") {
    val qs = emb.filter($"vec_id" < 20)
    val exact = Similarity
      .bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    // this corpus is near-uniform (no planted cluster structure) — the
    // adversarial case for IVF — so hitting 0.9 takes probing over half
    // the cells; clustered real-world embeddings need far fewer probes.
    // nProbe=9 measures 0.94 here, leaving margin over the 0.9 gate for
    // k-means float jitter (mean aggregation order is not pinned).
    val approx = Similarity
      .ivfTopK(emb, qs, "embedding", "vec_id", 5, nCells = 16, nProbe = 9, lloydIters = 3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall over ${exact.size} exact neighbors")
  }

  test("q40 gates its rows on the corpus recall bound; per-query recall_at_5 stays bounded") {
    // q40 is hash-checked against a full training replay since round 12,
    // but the in-query collapse guard stays — this spec pins both levels:
    // rows survive (the corpus recall >= 0.9 filter held) and no single
    // query collapses
    val got = graft.SparkEntry.queries("q40_ivf_recall")(spark, "/root/testdata/sf0.001")
    val rows = got.collect()
    assert(rows.length === 20, s"corpus recall gate dropped rows: ${rows.length}/20")
    val perQuery = rows.map(_.getAs[Double]("recall_at_5"))
    assert(perQuery.forall(_ >= 0.4), s"per-query recall floor broken: ${perQuery.min}")
    assert(rows.head.getAs[Double]("corpus_recall") >= 0.9)
  }

  test("assignCellsViaJoin == literal assignment bit-identically (the >1024-cell plan)") {
    // the broadcast-join assignment is the plan shape the engine
    // switches to past LiteralAssignMaxCells; both paths run the same
    // exact-integer arithmetic, so the assignment must be IDENTICAL —
    // pin it on the real corpus with the literal path still in range
    val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id", 16, lloydIters = 2)
    val vecs = emb.select($"vec_id".as("cid"), $"embedding".as("cv"))
    val viaLiteral = Similarity.assignCells(vecs, cents)
      .select($"cid", $"cent_id").as[(Long, Long)].collect().toMap
    val viaJoin = Similarity.assignCellsViaJoin(vecs, cents)
      .select($"cid", $"cent_id").as[(Long, Long)].collect().toMap
    assert(viaJoin.size === viaLiteral.size)
    assert(viaJoin === viaLiteral)
  }

  test("assignCells keeps degenerate vectors with null cent_id on BOTH plans (no silent drops)") {
    // the join plan's old inner join DROPPED null/empty/short vectors
    // that the literal plan kept — an index built past 1024 cells would
    // silently lose rows. Pin the contract on a dirty corpus: every row
    // survives both paths, degenerate rows get cent_id = null, clean
    // rows agree bit-identically.
    val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id", 8, lloydIters = 1)
    val dirty = emb
      .limit(20)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
      .unionByName(
        Seq(
          (900001L, Option.empty[Seq[Float]]),      // null vector
          (900002L, Some(Seq.empty[Float])),        // empty vector
          (900003L, Some(Seq(1.0f, 2.0f)))          // wrong width (dim is 64)
        ).toDF("cid", "cv")
      )
    def collectAssign(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.select($"cid", $"cent_id")
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
    val viaLiteral = collectAssign(Similarity.assignCells(dirty, cents))
    val viaJoin = collectAssign(Similarity.assignCellsViaJoin(dirty, cents))
    assert(viaLiteral.size === 23, "literal plan must keep every row")
    assert(viaJoin.size === 23, "join plan must keep every row")
    assert(viaLiteral === viaJoin)
    Seq(900001L, 900002L, 900003L).foreach { id =>
      assert(viaLiteral(id).isEmpty, s"degenerate vector $id must assign null, not a cell")
    }
    assert(viaLiteral.count(_._2.nonEmpty) === 20, "all clean rows must assign")
  }

  test("degenerate QUERY vectors probe nothing: no arbitrary null-cosine neighbors") {
    // a null query used to "probe" nProbe arbitrary cells (all scores
    // null -> argmax over ids) and emit k null-cosine neighbors; a
    // wrong-width query crashed PQ rerank mid-job. Contract now: no
    // embedding, no neighbors — clean queries' results are unchanged.
    val clean = emb.select($"vec_id", $"embedding")
    val cleanQs = clean.filter($"vec_id" < 5)
    val dirtyQs = cleanQs.unionByName(Seq(
      (-1L, Option.empty[Seq[Float]]),
      (-2L, Some(Seq.empty[Float])),
      (-3L, Some(Seq(1.0f, 2.0f)))
    ).toDF("vec_id", "embedding"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val ivfClean = Similarity.ivfTopK(clean, cleanQs, "embedding", "vec_id", 3, nCells = 8)
    val ivfDirty = Similarity.ivfTopK(clean, dirtyQs, "embedding", "vec_id", 3, nCells = 8)
    assert(ids(ivfDirty) === ids(ivfClean), "IVF: dirty queries add nothing, remove nothing")
    assert(!ids(ivfDirty).exists(_._1 < 0), "no neighbors for degenerate queries")
    val pqClean = Similarity.pqTopK(clean, cleanQs, "embedding", "vec_id", 3, dim = 64,
      m = 4, kCodes = 8, lloydIters = 1, rerank = 2)
    val pqDirty = Similarity.pqTopK(clean, dirtyQs, "embedding", "vec_id", 3, dim = 64,
      m = 4, kCodes = 8, lloydIters = 1, rerank = 2)
    assert(ids(pqDirty) === ids(pqClean), "PQ: dirty queries add nothing, remove nothing")
  }

  test("training ignores degenerate vectors: dirty corpus trains == clean subset") {
    // degenerate rows with the LOWEST ids — exactly where they'd poison
    // the deterministic first-by-id seeding (a null seed used to NPE,
    // a short one seeded a malformed codebook); non-seed degenerate
    // rows drop out of the Lloyd means (null cent_id / null codes)
    val clean = emb.select($"vec_id", $"embedding")
    val nullEmpty = Seq(
      (-1L, Option.empty[Seq[Float]]),
      (-2L, Some(Seq.empty[Float]))
    ).toDF("vec_id", "embedding")
    // a wrong-width NON-seed row (id sorts after every seed): its null
    // cent_id used to NPE the Lloyd-means typed collect, and its 66
    // coords must not leak into any mean
    val wideTail = Seq((999999L, Some(Seq.fill(66)(0.25f)))).toDF("vec_id", "embedding")
    val dirtyKm = clean.unionByName(nullEmpty).unionByName(wideTail)
    assert(
      Similarity.kmeansCentroids(dirtyKm, "embedding", "vec_id", 8, lloydIters = 2) ===
        Similarity.kmeansCentroids(clean, "embedding", "vec_id", 8, lloydIters = 2)
    )
    // mixed seed widths are a corpus bug, not a skippable row: fail fast
    val mixed = clean.unionByName(Seq((-3L, Some(Seq(1.0f, 2.0f)))).toDF("vec_id", "embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(mixed, "embedding", "vec_id", 8, lloydIters = 1)
    }
    assert(e.getMessage.contains("mixed widths"))
    // pqTrain knows dim, so ALL degenerate rows skip — including LONGER
    // than dim, which PqCodes would otherwise silently truncate into
    // the Lloyd means
    val dirtyPq = mixed.unionByName(nullEmpty).unionByName(wideTail)
    assert(
      Similarity.pqTrain(dirtyPq, "embedding", "vec_id", dim = 64, m = 4, kCodes = 8,
        lloydIters = 1) ===
        Similarity.pqTrain(clean, "embedding", "vec_id", dim = 64, m = 4, kCodes = 8,
          lloydIters = 1)
    )
  }

  test("kmeans centroids move toward cluster means and keep cell count") {
    val cents0 = Similarity.kmeansCentroids(emb, "embedding", "vec_id", 8, lloydIters = 0)
    val cents3 = Similarity.kmeansCentroids(emb, "embedding", "vec_id", 8, lloydIters = 3)
    assert(cents0.size === 8 && cents3.size === 8)
    assert(cents0.map(_._1) === cents3.map(_._1)) // stable cell ids
    // training must actually change the centroids from their seeds
    assert(cents0.map(_._2) !== cents3.map(_._2))
  }

  test("clusters: min-label propagation finds connected components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val got = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: pointer jumping converges a 300-node path and a worst-order chain in <= default rounds") {
    // a path graph maximizes diameter: plain min-label propagation
    // moves the min one hop per round (300 rounds); jumping needs
    // O(log n). Also the reversed-id chain, where the min sits at the
    // far end of every traversal order.
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("i", "j")
    val gotPath = Dedup.clusters(path).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPath === (0L to 299L).map(_ -> 0L).toMap)
    val rev = (0L until 299L).map(i => (300L - i, 299L - i)).toDF("i", "j")
    val gotRev = Dedup.clusters(rev).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRev === (1L to 300L).map(_ -> 1L).toMap)
  }

  test("clusters: throws (not partial labels) when maxIter is hit while still moving") {
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("i", "j")
    val e = intercept[IllegalStateException](Dedup.clusters(path, maxIter = 2))
    assert(e.getMessage.contains("still moving"))
  }

  test("clusters: identical result and on-disk checkpoints with spark.graft.checkpointDir set") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val expected = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Materialize.CheckpointDirConf, dir)
    try {
      val got = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
      // the rounds must actually have landed on the reliable store: the
      // dir gains rdd-* checkpoint directories with part files
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        if (!f.isDirectory) Seq.empty
        else f.listFiles.toSeq.flatMap(c => if (c.getName.startsWith("rdd-")) Seq(c) else rddDirs(c))
      assert(rddDirs(new java.io.File(dir)).nonEmpty, s"no reliable checkpoints under $dir")
    } finally spark.conf.unset(Materialize.CheckpointDirConf)
  }

  test("eager reliable checkpoint preserves a caller-held cache entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cache").toString
    spark.conf.set(Materialize.CheckpointDirConf, dir)
    val df = Seq((1L, 2L), (3L, 4L)).toDF("i", "j").filter($"i" > 0L)
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = Materialize(df)
      assert(out.count() === 2L)
      // the transient-cache bridge must not drop the CALLER's entry: the
      // old persist/unpersist pair no-op'ed on the persist (already
      // cached) but still unpersisted, silently evicting this plan
      assert(df.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
        "caller-held cache entry was dropped by the eager reliable checkpoint")
    } finally {
      df.unpersist(blocking = true)
      spark.conf.unset(Materialize.CheckpointDirConf)
    }
  }

  test("corpus overlap estimate: within HLL error of exact, deterministic, ranks pairs") {
    val n = docs.count()
    val a = docs.filter($"doc_id" < n * 2 / 3)
    val b = docs.filter($"doc_id" >= n / 3)
    val exact = (x: org.apache.spark.sql.DataFrame) =>
      x.select(md5($"text")).distinct().count().toDouble
    val (ea, eb) = (exact(a), exact(b))
    val eu = exact(a.select($"text").unionByName(b.select($"text")))
    val row = Dedup.corpusOverlapEstimate(a, b, "text").head()
    def within(est: Double, ex: Double, tol: Double) = math.abs(est - ex) <= tol * ex
    assert(within(row.getAs[Long]("n_a").toDouble, ea, 0.05))
    assert(within(row.getAs[Long]("n_b").toDouble, eb, 0.05))
    assert(within(row.getAs[Long]("n_union").toDouble, eu, 0.05))
    val exactInter = ea + eb - eu
    assert(exactInter > 0, "fixture must overlap")
    assert(math.abs(row.getAs[Long]("n_intersect") - exactInter) <= 0.05 * eu)
    // deterministic (sketches are pure functions of the input)
    assert(Dedup.corpusOverlapEstimate(a, b, "text").head() === row)
    // and a disjoint pair ranks (far) below the overlapping one
    val disjoint = Dedup
      .corpusOverlapEstimate(
        docs.filter($"doc_id" % 2 === 0)
          .select(concat_ws(" ", lit("even-only"), $"text").as("text")),
        docs.filter($"doc_id" % 2 =!= 0)
          .select(concat_ws(" ", lit("odd-only"), $"text").as("text")),
        "text")
      .head()
    assert(disjoint.getAs[Double]("jaccard_est") < row.getAs[Double]("jaccard_est"))
  }

  test("spark.graft.checkpointDir sweep: LSH pairs, incremental dedup, spans all unchanged") {
    def run() = (
      Dedup.minHashLshPairs(docs, "text", "doc_id", 3, 32, 8, 0.5)
        .select("i", "j").as[(Long, Long)].collect().toSet,
      Dedup.incrementalExact(
        docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0), "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet,
      Dedup.duplicateSpans(docs, "text", "doc_id", 8)
        .select("doc_id", "span_start").as[(Long, Long)].collect().toSet
    )
    val expected = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sweep").toString
    spark.conf.set(Materialize.CheckpointDirConf, dir)
    try assert(run() === expected)
    finally spark.conf.unset(Materialize.CheckpointDirConf)
  }

  test("dedupCorpus keeps one representative per near-dup cluster") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("i", "j")
    val kept = Dedup.dedupCorpus(df, "doc_id", pairs).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 7L))
  }

  test("IVF index at rest: probes read only probed buckets, results match inline") {
    val cents = Similarity.writeIvfIndex(emb, "embedding", "vec_id", "ivf_idx", nCells = 16)

    // single query, nProbe=4: the probe scan may read AT MOST 4 of the
    // 16 buckets (bucket pruning from the IN filter on cent_id)
    val oneQ = emb.filter($"vec_id" === 0)
    val one = Similarity.ivfTopKIndexed(spark, "ivf_idx", cents, oneQ, "embedding", "vec_id", 5, nProbe = 4)
    one.collect() // execute so AQE finalizes the plan
    val plan = one.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in plan:\n$plan")
    assert(sel.get.group(1).toInt <= 4 && sel.get.group(2).toInt === 16,
      s"expected <=4 of 16 buckets, got ${sel.get.matched}")
    // corpus side never shuffles: the tiny probe side broadcasts
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")

    // and the indexed path returns exactly the inline ivfTopK answer
    // (identical deterministic centroids -> identical cells and ranks)
    val qs = emb.filter($"vec_id" < 5)
    val indexed = Similarity
      .ivfTopKIndexed(spark, "ivf_idx", cents, qs, "embedding", "vec_id", 5, nProbe = 4)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val inline = Similarity
      .ivfTopK(emb, qs, "embedding", "vec_id", 5, nCells = 16, nProbe = 4)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(indexed === inline)
  }

  private def parquetFiles(table: String): Int = {
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString).getPath)
    val stream = java.nio.file.Files.walk(loc)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally stream.close()
  }

  test("compactBucketed: files per bucket drop to 1; probe results, pruning, and index contract unchanged") {
    val hist = docs.select($"doc_id", $"text")
    Dedup.writeMinHashIndex(hist, "text", "doc_id", "mh_cpt_idx", nBuckets = 16)
    // steady-state appends accrete one file-set per append
    (1 to 3).foreach { k =>
      Dedup.appendToMinHashIndex(
        Seq((90000L + k, s"fresh appended document number $k about topic $k and nothing else"))
          .toDF("doc_id", "text"),
        "text", "doc_id", "mh_cpt_idx", nBuckets = 16)
    }
    val probeB = docs.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 300000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))
    val before = Dedup
      .incrementalNearDups(spark, probeB, "mh_cpt_idx", "text", "doc_id", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(before.nonEmpty)
    val filesBefore = parquetFiles("mh_cpt_idx")

    graft.sinks.Sinks.compactBucketed(spark, "mh_cpt_idx")

    assert(parquetFiles("mh_cpt_idx") <= 16, "compaction must leave at most one file per bucket")
    assert(parquetFiles("mh_cpt_idx") < filesBefore)
    val afterDf = Dedup
      .incrementalNearDups(spark, probeB, "mh_cpt_idx", "text", "doc_id", threshold = 0.3)
    val after = afterDf.select("i", "j").as[(Long, Long)].collect().toSet
    assert(after === before)
    // bucket pruning still proven in the executed plan
    val plan = afterDf.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(plan).isDefined,
      s"bucket pruning lost after compaction:\n$plan")
    // the (numHashes, bands) contract survived the swap: a mismatched
    // append still fails fast
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToMinHashIndex(
        Seq((99999L, "whatever text")).toDF("doc_id", "text"),
        "text", "doc_id", "mh_cpt_idx", numHashes = 64, bands = 8, nBuckets = 16)
    }
    assert(e.getMessage.contains("numHashes=32"))

    // same invariants for the IVF index shape: simulate daily appends
    // (already-assigned rows re-keyed) accreting per-append file-sets
    val cents = Similarity.writeIvfIndex(emb, "embedding", "vec_id", "ivf_cpt_idx", nCells = 8)
    (1 to 3).foreach { k =>
      val extra = spark.table("ivf_cpt_idx").limit(10)
        .withColumn("cid", col("cid") + k * 100000L)
      graft.sinks.Sinks.appendBucketed(extra, "ivf_cpt_idx", Seq("cent_id"), numBuckets = 8)
    }
    val qs = emb.filter($"vec_id" < 5)
    val ivfBefore = Similarity
      .ivfTopKIndexed(spark, "ivf_cpt_idx", cents, qs, "embedding", "vec_id", 5, nProbe = 3)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val ivfFilesBefore = parquetFiles("ivf_cpt_idx")
    graft.sinks.Sinks.compactBucketed(spark, "ivf_cpt_idx")
    assert(parquetFiles("ivf_cpt_idx") <= 8 && parquetFiles("ivf_cpt_idx") < ivfFilesBefore)
    val ivfAfter = Similarity
      .ivfTopKIndexed(spark, "ivf_cpt_idx", cents, qs, "embedding", "vec_id", 5, nProbe = 3)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(ivfAfter === ivfBefore)
  }

  test("incremental exact dedup == plain anti-join; bloom rejects skip the join") {
    // history = the corpus; new batch = half replayed dupes (must drop),
    // half suffixed texts (genuinely new, must survive)
    val newBatch = docs
      .filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"text")
      .unionByName(
        docs.filter($"doc_id" % 7 === 1).select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" v2")).as("text"))
      )
    val got = Dedup
      .incrementalExact(newBatch, docs, "text", "doc_id", expectedHistoryItems = 1000L)
      .select("doc_id").as[Long].collect().toSet
    val want = newBatch
      .select($"doc_id", md5($"text").as("fp"))
      .join(docs.select(md5($"text").as("fp")), Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got === want)
    assert(want.nonEmpty && got.forall(_ >= 1000000L), "dupes must drop, suffixed must survive")
    // degenerate fpp=1-ish sizing still exact (everything bloom-positive
    // -> everything confirmed by the anti-join)
    val tiny = Dedup
      .incrementalExact(newBatch, docs, "text", "doc_id", expectedHistoryItems = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny === want)
  }

  test("incremental dedup: empty history keeps the whole batch (null-bloom guard)") {
    val newBatch = Seq((1L, "first"), (2L, "second")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Dedup.incrementalExact(newBatch, empty, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
  }

  test("duplicated ids in the input never produce self-pairs") {
    // same vector under the same id twice: posting lists see [7,7] and
    // must not emit (7,7) — the self-join this replaced had a strict <
    val dup = emb.filter($"vec_id" < 50)
      .unionByName(emb.filter($"vec_id" < 50))
    val pairs = Dedup
      .embeddingNearDupPairs(dup, "embedding", "vec_id", dim = 64, threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect()
    assert(pairs.forall { case (i, j) => i < j }, "strict i<j must hold")
  }

  test("minhash index at rest: probe prunes buckets, finds exactly the in-corpus cross pairs") {
    // history = the real corpus; batch = light edits of some docs (must
    // match) + disjoint-vocab docs (must not)
    val hist = docs.select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 500000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))
      .unionByName(Seq((900001L, "zz yy xx ww vv uu tt ss rr qq pp oo")).toDF("doc_id", "text"))
    Dedup.writeMinHashIndex(hist, "text", "doc_id", "mh_idx", nBuckets = 64)

    val got = Dedup.incrementalNearDups(
      spark, batch, "mh_idx", "text", "doc_id", threshold = 0.0)
    got.collect() // finalize AQE so the executed plan is inspectable
    val plan = got.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning:\n$plan")
    assert(sel.get.group(1).toInt < 64 && sel.get.group(2).toInt === 64)
    assert(plan.contains("BroadcastHashJoin"), "batch side must broadcast")

    // candidate equivalence: same banding in-corpus over hist ∪ batch,
    // restricted to (hist, batch) cross pairs
    val unionSigned = Dedup.minHashSignatures(
      Dedup.shingleSets(hist.unionByName(batch), "text", "doc_id", 3), 32)
    val crossWant = Dedup.lshCandidates(unionSigned, 8, 4)
      .filter($"i" < 500000L && $"j" >= 500000L)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val gotPairs = got.select("i", "j").as[(Long, Long)].collect().toSet
    assert(gotPairs === crossWant)
    assert(gotPairs.nonEmpty, "planted near-dups must be found")
    assert(!gotPairs.exists(_._2 == 900001L), "disjoint-vocab doc must not match")

    // estimator sanity: an EXACT replayed text estimates jaccard 1.0
    val replay = docs.filter($"doc_id" === 7L)
      .select(($"doc_id" + 700000L).as("doc_id"), $"text")
    val est = Dedup.incrementalNearDups(
      spark, replay, "mh_idx", "text", "doc_id", threshold = 0.5)
      .filter($"i" === 7L && $"j" === 700007L)
      .select("est_jaccard").as[Double].head()
    assert(est === 1.0)

    // steady-state ingest: APPEND a batch to the index (O(batch), no
    // rewrite), then a later probe must find near-dups of appended docs
    Dedup.appendToMinHashIndex(
      Seq((800001L, "unique appended doc about mountain weather patterns"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "mh_idx", nBuckets = 64)
    val probe2 = Dedup.incrementalNearDups(
      spark,
      Seq((800002L, "unique appended doc about mountain weather patterns today"))
        .toDF("doc_id", "text"),
      "mh_idx", "text", "doc_id", threshold = 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(probe2.contains((800001L, 800002L)))

    // shuffle fallback (broadcastRowLimit 0) returns the identical pairs
    val fallback = Dedup.incrementalNearDups(
      spark, batch, "mh_idx", "text", "doc_id", threshold = 0.0, broadcastRowLimit = 0L)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(fallback === crossWant)
  }

  test("minhash append derives the bucket count from the table's bucketSpec, not the parameter") {
    spark.sql("DROP TABLE IF EXISTS mh_idx_nb")
    val hist = docs.filter($"doc_id" % 3 === 0).select($"doc_id", $"text")
    Dedup.writeMinHashIndex(hist, "text", "doc_id", "mh_idx_nb", nBuckets = 16)
    // a default-parameter (64) append onto the 16-bucket index — what
    // CorpusIngest.nearDupIngest does with its default nBuckets — must
    // keep the recorded spec instead of failing on Spark's bucket mismatch
    val added = docs.filter($"doc_id" === 1L)
      .select(($"doc_id" + 600000L).as("doc_id"), $"text")
    Dedup.appendToMinHashIndex(added, "text", "doc_id", "mh_idx_nb")
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("mh_idx_nb"))
      .bucketSpec
    assert(spec.map(_.numBuckets) === Some(16))
    // and the appended rows are probe-visible under the original banding
    val replay = Dedup.incrementalNearDups(
      spark, added, "mh_idx_nb", "text", "doc_id", dropSameId = false)
      .filter($"i" === $"j")
    assert(replay.count() === 1L)
    spark.sql("DROP TABLE mh_idx_nb")
  }

  test("gram append derives the bucket count from the table's bucketSpec, not the parameter") {
    spark.sql("DROP TABLE IF EXISTS gram_idx_nb")
    val hist = docs.filter($"doc_id" % 3 === 0).select($"doc_id", $"text")
    Dedup.writeGramIndex(hist, "text", "doc_id", "gram_idx_nb", nBuckets = 16)
    // a default-parameter (64) append onto the 16-bucket index — what
    // CorpusIngest.spanDedupIngest does with its default nBuckets — must
    // keep the recorded spec instead of failing on Spark's bucket mismatch
    val added = docs.filter($"doc_id" % 3 === 1)
      .select(($"doc_id" + 600000L).as("doc_id"), $"text")
    val rowsBefore = spark.table("gram_idx_nb").count()
    Dedup.appendToGramIndex(added, "text", "doc_id", "gram_idx_nb")
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("gram_idx_nb"))
      .bucketSpec
    assert(spec.map(_.numBuckets) === Some(16))
    assert(spark.table("gram_idx_nb").count() > rowsBefore, "the append landed")
    // and the appended grams count as history for the next probe
    val viaIndex = Dedup.incrementalDuplicateSpans(spark, added, "gram_idx_nb", "text", "doc_id")
      .select($"doc_id").distinct().count()
    assert(viaIndex > 0L)
    spark.sql("DROP TABLE gram_idx_nb")
  }

  test("minhash probe of an empty batch returns the non-empty day's schema") {
    spark.sql("DROP TABLE IF EXISTS mh_idx_str")
    // a string-keyed index: a hardcoded (i: long, j: long) empty frame
    // would make a caller unioning daily results fail ONLY on
    // empty-batch days — both sides' id types must ride through
    val sDocs = docs.select(concat(lit("doc-"), $"doc_id").as("doc_id"), $"text")
    Dedup.writeMinHashIndex(sDocs.filter(!$"doc_id".endsWith("0")),
      "text", "doc_id", "mh_idx_str", nBuckets = 16)
    val sBatch = sDocs.filter($"doc_id".endsWith("0"))
    val full = Dedup.incrementalNearDups(
      spark, sBatch, "mh_idx_str", "text", "doc_id", threshold = 0.0)
    val empty = Dedup.incrementalNearDups(
      spark, sBatch.limit(0), "mh_idx_str", "text", "doc_id", threshold = 0.0)
    assert(empty.count() === 0L)
    assert(
      empty.schema.map(f => (f.name, f.dataType)) ===
        full.schema.map(f => (f.name, f.dataType)),
      "empty-batch day must union cleanly with every other day"
    )
    assert(full.schema("i").dataType === org.apache.spark.sql.types.StringType)
    assert(full.unionByName(empty).count() === full.count())
    spark.sql("DROP TABLE mh_idx_str")
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the eval set") {
    val evalSet = docs.filter($"doc_id" % 97 === 0)
    val train = docs.filter($"doc_id" % 97 =!= 0)
    val got = TextAnalysis.decontaminate(train, evalSet, "text", "doc_id", n = 3)
    // reference: per-doc distinct 3-gram sets intersected with the eval vocab
    val sh = Dedup.shingleSets(train, "text", "doc_id", 3)
    val evalVocab = Dedup.shingleSets(evalSet, "text", "doc_id", 3)
      .select(explode($"shingles").as("sh")).distinct().as[String].collect().toSet
    val want = sh.select($"doc_id", $"shingles").as[(Long, Seq[String])].collect()
      .map { case (id, ss) => id -> ss.count(evalVocab) }.filter(_._2 > 0).toMap
    val gotMap = got.filter($"contaminated")
      .select($"doc_id", $"n_shared").as[(Long, Long)].collect().toMap
    assert(gotMap === want.map { case (k, v) => k -> v.toLong })
    assert(want.nonEmpty, "synthetic corpus must produce some contamination at n=3")
    // every train doc gets a row, uncontaminated ones with n_shared=0
    assert(got.count() === train.count())
  }

  test("embedding LSH near-dup pairs are cosine-verified (no false positives)") {
    val pairs = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64, threshold = 0.3)
      .select("cosine").as[Double].collect()
    assert(pairs.forall(_ >= 0.3))
  }

  test("embedding LSH posting-list candidates == bucket self-join candidates") {
    // pins the posting-list rewrite to the mathematically equivalent
    // self-join formulation it replaced: identical (i, j, cosine) set
    val fast = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64, threshold = 0.3)
      .select($"i", $"j", round($"cosine", 9)).as[(Long, Long, Double)].collect().toSet

    // reference: same seeded planes, candidates via exploded-bucket self-join
    val rnd = new scala.util.Random(42L)
    val planes = Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
    def dotPlane(p: Seq[Double]) =
      aggregate(zip_with($"embedding", typedLit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
    val bandCols = (0 until 4).map { b =>
      val key = (0 until 4).foldLeft(lit(0L)) { (acc, k) =>
        acc * 2 + when(dotPlane(planes(b * 4 + k)) > 0, 1L).otherwise(0L)
      }
      struct(lit(b).as("band"), key.as("bhash"))
    }
    val exploded = emb
      .select($"vec_id".as("doc_id"), $"embedding".as("v"), explode(array(bandCols: _*)).as("bk"))
      .select($"doc_id", $"v", $"bk.band".as("band"), $"bk.bhash".as("bhash"))
    val slow = exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"), col("a.v").as("v_i"), col("b.v").as("v_j"))
      .distinct()
      .select($"i", $"j", round(graft.functions.Fns.cosine($"v_i", $"v_j"), 9).as("cosine"))
      .filter($"cosine" >= 0.3)
      .as[(Long, Long, Double)].collect().toSet

    assert(fast === slow)
  }

  test("default caps survive a 10k-doc boilerplate bucket, drops accounted, normal pairs kept") {
    import org.apache.spark.sql.Observation
    // The degenerate open-web shape: 10k docs sharing one boilerplate
    // text put all 10k ids into ONE posting list per band — uncapped
    // pair emission would be C(10k,2) × 8 bands ≈ 4×10⁸ pairs. The
    // DEFAULT cap must drop those buckets (with the count surfaced),
    // keep the well-behaved pair, and complete in seconds.
    val boiler = spark.range(10000).select($"id".as("doc_id"),
      lit("subscribe to our newsletter for the latest updates and offers").as("text"))
    val pairDocs = Seq(
      (20001L, "a genuinely unique document about alpine glacier retreat measurements"),
      (20002L, "a genuinely unique document about alpine glacier retreat measurements")
    ).toDF("doc_id", "text")
    val corpus = boiler.unionByName(pairDocs)

    // MinHash LSH, default maxBucket: identical boilerplate -> identical
    // signatures -> exactly one over-cap bucket in each of the 8 bands
    val lshObs = Observation("lsh_drops")
    val lsh = Dedup.minHashLshPairs(corpus, "text", "doc_id", threshold = 0.5,
        dropMetrics = Some(lshObs))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(lsh === Set((20001L, 20002L)))
    assert(lshObs.get("dropped_buckets").asInstanceOf[Long] === 8L)

    // exact n-gram Jaccard, default maxDocFreq: the boilerplate's 8
    // distinct 3-shingles each sit in 10k docs -> all 8 dropped; the
    // pair's shingles are cold, so its jaccard stays exact (1.0)
    val jacObs = Observation("jac_drops")
    val jac = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", shingleSize = 3,
        threshold = 0.5, dropMetrics = Some(jacObs))
      .select($"i", $"j", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(jac === Set((20001L, 20002L, 1.0)))
    assert(jacObs.get("dropped_shingles").asInstanceOf[Long] === 8L)
  }

  test("semanticDedup == union-find over the verified pair list; sizes partition the corpus") {
    val pairs = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64, threshold = 0.3,
        maxBucket = None)
      .select("i", "j").as[(Long, Long)].collect()
    val ids = emb.select(col("vec_id")).as[Long].collect()
    // in-memory union-find reference
    val parent = scala.collection.mutable.Map(ids.toIndexedSeq.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val byRoot = ids.groupBy(find)
    val expect = byRoot.map { case (_, members) => members.min -> members.length.toLong }
    val got = Dedup
      .semanticDedup(emb, "embedding", "vec_id", dim = 64, threshold = 0.3, maxBucket = None)
      .as[(Long, Long)].collect().toMap
    assert(got === expect)
    // survivors' group sizes partition the corpus; at least one real merge happened
    assert(got.values.sum === ids.length.toLong)
    assert(got.values.exists(_ > 1L), "corpus has planted near-dups; expected a merge")
  }

  test("embedding LSH bucket cap: generous cap == uncapped") {
    val uncapped = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64, threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val capped = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64, threshold = 0.3,
        maxBucket = Some(100000))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(capped === uncapped)
    val tight = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64, threshold = 0.3,
        maxBucket = Some(3))
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(uncapped))
  }

  private def tableLoc(table: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
        .location.toString).getPath)

  test("compaction crash heals from the read and append entry points, not just the next compaction") {
    import java.nio.file.Files
    val hist = docs.select($"doc_id", $"text")
    Dedup.writeMinHashIndex(hist, "text", "doc_id", "mh_heal_idx", nBuckets = 16)
    val probeB = docs.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 300000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))
    val want = Dedup
      .incrementalNearDups(spark, probeB, "mh_heal_idx", "text", "doc_id", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty)

    val loc = tableLoc("mh_heal_idx")
    val old = java.nio.file.Paths.get(loc.toString + ".old")

    // simulate compactBucketed dying between its two moves: the table's
    // data dir is gone, the whole index sits at .old
    Files.move(loc, old)
    val healedRead = Dedup
      .incrementalNearDups(spark, probeB, "mh_heal_idx", "text", "doc_id", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(healedRead === want, "read entry point must heal the swap and see the full index")
    assert(Files.exists(loc) && !Files.exists(old))

    // same crash healed by the APPEND side — without the heal the bucketed
    // writer would lay a fresh empty dir and orphan the index in .old
    Files.move(loc, old)
    Dedup.appendToMinHashIndex(
      Seq((91000L, "a fresh appended document about nothing in particular"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "mh_heal_idx", nBuckets = 16)
    assert(Files.exists(loc) && !Files.exists(old))
    val afterAppend = Dedup
      .incrementalNearDups(spark, probeB, "mh_heal_idx", "text", "doc_id", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(afterAppend === want, "pre-crash index rows must survive the healed append")

    // the IVF read path heals the same window
    val cents = Similarity.writeIvfIndex(emb, "embedding", "vec_id", "ivf_heal_idx", nCells = 8)
    val qs = emb.filter($"vec_id" < 5)
    val ivfWant = Similarity
      .ivfTopKIndexed(spark, "ivf_heal_idx", cents, qs, "embedding", "vec_id", 5, nProbe = 3)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val ivfLoc = tableLoc("ivf_heal_idx")
    Files.move(ivfLoc, java.nio.file.Paths.get(ivfLoc.toString + ".old"))
    val ivfHealed = Similarity
      .ivfTopKIndexed(spark, "ivf_heal_idx", cents, qs, "embedding", "vec_id", 5, nProbe = 3)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(ivfHealed === ivfWant)
  }

  test("index props backfill: an index whose first-append ALTER was lost validates against data, then re-records") {
    val batch = docs.limit(50).select($"doc_id", $"text")
    Dedup.appendToMinHashIndex(batch, "text", "doc_id", "mh_bf_idx",
      numHashes = 32, bands = 8, nBuckets = 16)
    // simulate the crash window between table creation and the ALTER TABLE
    spark.sql("ALTER TABLE mh_bf_idx UNSET TBLPROPERTIES " +
      "('graft.minhash.numHashes', 'graft.minhash.bands')")
    val probeB = docs.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 300000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))

    // a WRONG banding is caught against the data itself (max(band)+1 == 8),
    // which the old one-sampled-row fallback could not see
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(spark, probeB, "mh_bf_idx", "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.3).collect()
    }
    assert(e.getMessage.contains("bands"))

    // the true contract validates against the data and is backfilled...
    Dedup.incrementalNearDups(spark, probeB, "mh_bf_idx", "text", "doc_id",
      threshold = 0.3).collect()
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("mh_bf_idx"))
      .properties
    assert(props.get("graft.minhash.numHashes") === Some("32"))
    assert(props.get("graft.minhash.bands") === Some("8"))

    // ...so the strong property check guards every later append again
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendToMinHashIndex(
        Seq((99998L, "whatever text")).toDF("doc_id", "text"),
        "text", "doc_id", "mh_bf_idx", numHashes = 64, bands = 8, nBuckets = 16)
    }
    assert(e2.getMessage.contains("numHashes=32"))
  }

  test("an empty no-props index never freezes a probe's default params") {
    spark.sql("DROP TABLE IF EXISTS mh_empty_idx")
    // a legacy-shaped index: table exists, zero rows, no contract props
    Dedup.writeMinHashIndex(docs.limit(0), "text", "doc_id", "mh_empty_idx",
      numHashes = 16, bands = 4, nBuckets = 8)
    spark.sql("ALTER TABLE mh_empty_idx UNSET TBLPROPERTIES " +
      "('graft.minhash.numHashes', 'graft.minhash.bands')")
    // a probe with the DEFAULT (32, 8) params runs fine (an empty index
    // contradicts nothing)...
    Dedup.incrementalNearDups(spark, docs.limit(5), "mh_empty_idx", "text", "doc_id",
      threshold = 0.3).collect()
    // ...but must NOT have frozen those defaults onto the table
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("mh_empty_idx"))
      .properties
    assert(!props.contains("graft.minhash.numHashes"),
      "probe backfilled its defaults onto an empty index")
    // so the intended (16, 4) contract can still be established by the
    // first real append — with the old freeze this append failed fast
    Dedup.appendToMinHashIndex(docs.limit(10), "text", "doc_id", "mh_empty_idx",
      numHashes = 16, bands = 4, nBuckets = 8)
    // and from then on the DATA pins the contract: default-param probes fail
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(spark, docs.limit(5), "mh_empty_idx", "text", "doc_id",
        threshold = 0.3).collect()
    }
    assert(e.getMessage.contains("16"))
    spark.sql("DROP TABLE IF EXISTS mh_empty_idx")
  }

  test("append to a no-props index heals a compaction crash before validating") {
    spark.sql("DROP TABLE IF EXISTS mh_heal_idx")
    val hist = docs.limit(60).select($"doc_id", $"text")
    Dedup.appendToMinHashIndex(hist, "text", "doc_id", "mh_heal_idx", nBuckets = 8)
    // legacy index (no props) caught in a compaction crash window: the
    // live dir was renamed away to .old and the process died
    spark.sql("ALTER TABLE mh_heal_idx UNSET TBLPROPERTIES " +
      "('graft.minhash.numHashes', 'graft.minhash.bands')")
    val loc = new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("mh_heal_idx"))
      .location.toString).getPath
    java.nio.file.Files.move(
      java.nio.file.Paths.get(loc), java.nio.file.Paths.get(loc + ".old"))
    // the no-props validation scans the DATA — without heal-first
    // ordering it dies on the missing live dir instead of recovering
    val more = docs.filter($"doc_id" % 7 === 0).limit(20)
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
    Dedup.appendToMinHashIndex(more, "text", "doc_id", "mh_heal_idx", nBuckets = 8)
    assert(spark.table("mh_heal_idx").select("doc_id").distinct().count() === 80)
    spark.sql("DROP TABLE IF EXISTS mh_heal_idx")
  }

  test("PQ: codebooks learned (beat the global-mean quantizer), codes bounded, deterministic") {
    val cbs = Similarity.pqTrain(emb, "embedding", "vec_id", dim = 64, m = 8, kCodes = 16)
    assert(cbs.size === 8 && cbs.forall(_.size === 16) && cbs.flatten.forall(_.size === 8))
    // determinism: training is seeded by id order + fixed iterations
    assert(cbs === Similarity.pqTrain(emb, "embedding", "vec_id", dim = 64, m = 8, kCodes = 16))
    val enc = Similarity.pqEncode(emb, "embedding", "vec_id", cbs)
    val codes = enc.collect().map(_.getSeq[Int](1))
    assert(codes.forall(cs => cs.size == 8 && cs.forall(c => c >= 0 && c < 16)))
    // reconstruction must beat the trivial one-centroid quantizer
    // (decode yields QUANTIZED units — descale by 2^20, an exact
    // power-of-two division, to compare against the raw vectors)
    val recon = enc.select(
      $"cid",
      transform(Similarity.pqDecode($"codes", cbs), x => x / lit(Similarity.TrainScale)).as("rv")
    )
    val joined = emb.select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("v"))
      .join(recon, "cid")
      .select(aggregate(zip_with($"v", $"rv", (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, b) => a + b).as("se"))
      .agg(avg($"se")).head().getDouble(0)
    val vecs = emb.select($"embedding".cast("array<double>")).collect().map(_.getSeq[Double](0))
    val mean = (0 until 64).map(i => vecs.map(_(i)).sum / vecs.size)
    val meanMse = vecs.map(v => v.zip(mean).map { case (x, y) => (x - y) * (x - y) }.sum).sum / vecs.size
    assert(joined < meanMse * 0.8, s"PQ mse $joined vs global-mean $meanMse: codebooks not learning")
  }

  test("PQ top-k with exact rerank: recall@5 >= 0.9 vs brute force on real embeddings") {
    val qs = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val approx = Similarity
      .pqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64, m = 8, kCodes = 256, rerank = 16)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(approx.size === exact.size, "k rows per query on both paths")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ recall@5 $recall below 0.9")
    // rerank=1 (pure quantized ranking) still returns k rows per query
    val pure = Similarity
      .pqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64, m = 8, kCodes = 64, rerank = 1)
    assert(pure.groupBy($"qid").count().collect().forall(_.getLong(1) === 5L))
  }

  test("at-rest PQ index: indexed probe == inline, rerank needs the corpus, contracts enforced") {
    val qs = emb.filter($"vec_id" < 10)
    val cbs = Similarity.writePqIndex(emb, "embedding", "vec_id", "pq_idx", dim = 64,
      m = 8, kCodes = 64, lloydIters = 2)
    // codebooks round-trip through the sibling table exactly
    assert(Similarity.readPqCodebooks(spark, "pq_idx") === cbs)
    // pure quantized ranking: indexed == inline with the same geometry
    val inline = Similarity
      .pqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64, m = 8, kCodes = 64,
        lloydIters = 2, rerank = 1)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val indexed = Similarity
      .pqTopKIndexed(spark, "pq_idx", qs, "embedding", "vec_id", 5)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(indexed === inline)
    // reranked: indexed-with-corpus == inline-with-rerank
    val inlineR = Similarity
      .pqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64, m = 8, kCodes = 64,
        lloydIters = 2, rerank = 8)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val indexedR = Similarity
      .pqTopKIndexed(spark, "pq_idx", qs, "embedding", "vec_id", 5, rerank = 8,
        corpus = Some(emb))
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(indexedR === inlineR)
    // contract: rerank without a corpus is a fail-fast, not silent garbage
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopKIndexed(spark, "pq_idx", qs, "embedding", "vec_id", 5, rerank = 4)
    }
    assert(e.getMessage.contains("full-precision"))
    // contract: a table without the geometry props is not a PQ index
    emb.limit(1).select($"vec_id".as("cid")).write.mode("overwrite").saveAsTable("not_pq")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.readPqCodebooks(spark, "not_pq")
    }
    assert(e2.getMessage.contains("not a graft PQ index"))
    // contract: an index recording different quantizer UNITS (or none —
    // one written before quantized-unit training) must be rebuilt, not
    // probed/appended: geometry props all match across a unit change,
    // and encoding against differently-scaled codebooks silently
    // degrades codes, so only an explicit unit property can fail fast
    spark.sql("ALTER TABLE pq_idx UNSET TBLPROPERTIES ('graft.pq.unitScale')")
    val e3 = intercept[IllegalArgumentException] {
      Similarity.readPqCodebooks(spark, "pq_idx")
    }
    assert(e3.getMessage.contains("unitScale") && e3.getMessage.contains("Rebuild"))
    spark.sql("ALTER TABLE pq_idx SET TBLPROPERTIES ('graft.pq.unitScale'='2048')")
    val e4 = intercept[IllegalArgumentException] {
      Similarity.readPqCodebooks(spark, "pq_idx")
    }
    assert(e4.getMessage.contains("2048"))
    // restore the true units — don't leave a poisoned table for later tests
    spark.sql("ALTER TABLE pq_idx SET TBLPROPERTIES ('graft.pq.unitScale'='1048576')")
    assert(Similarity.readPqCodebooks(spark, "pq_idx") === cbs)
  }

  test("randomProject: bit-exact vs declared fold, exactly linear, roughly distance-preserving") {
    val dim = 64; val outDim = 16
    val planes = Dedup.hyperplanes(dim, outDim, 4270L)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val got = Similarity
      .randomProject(emb, "embedding", "vec_id", dim, outDim)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1))
      .toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1))
      .toMap
    // the determinism contract IS the operator's value for the q70 gate:
    // left-fold from 0.0, one multiply per term, one final scale multiply
    vecs.foreach { case (id, v) =>
      val expect = planes.map { p =>
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v(i).toDouble * p(i); i += 1 }
        acc * scale
      }
      assert(got(id) == expect, s"vec $id diverged from the declared fold")
    }
    // linearity: scaling by a power of two is IEEE-exact end to end
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = vecs.keys.toSeq.sorted
    val doubled = Similarity
      .randomProject(
        emb.select($"vec_id", transform($"embedding", x => x * 2.0f).as("embedding")),
        "embedding", "vec_id", dim, outDim)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    ids.take(20).foreach { id =>
      assert(doubled(id) == got(id).map(_ * 2.0), s"vec $id: projection not exactly linear in 2x")
    }
    // JL sanity at k=16: projected cosines track original cosines
    val origCos = ids.take(50).sliding(2).toSeq.collect { case Seq(a, b) =>
      (a, b, cos(vecs(a).map(_.toDouble), vecs(b).map(_.toDouble)))
    }
    val errs = origCos.map { case (a, b, c) => math.abs(cos(got(a), got(b)) - c) }
    assert(errs.sum / errs.size < 0.25, s"mean |cos error| ${errs.sum / errs.size} too large for JL k=16")
  }

  test("sourceSimilarityMatrix: identical groups 1.0, disjoint 0.0, half-overlap near truth") {
    // word pool big enough that distinct 3-gram shingle sets are
    // genuinely disjoint across the disjoint groups
    def doc(ws: Seq[String]) = ws.mkString(" ")
    val wsA = (0 until 40).map(i => s"alpha$i")
    val wsB = (0 until 40).map(i => s"beta$i")
    // C shares its first half-word-stream with A: shingle overlap ~ 1/2
    val wsC = wsA.take(20) ++ (0 until 20).map(i => s"gamma$i")
    val df = Seq(
      ("sameA", doc(wsA)), ("sameB", doc(wsA)), // identical shingle sets
      ("disjoint", doc(wsB)),
      ("half", doc(wsC))
    ).toDF("source", "text")
    val got = Dedup
      .sourceSimilarityMatrix(df, "text", "source", numSlots = 128)
      .collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    assert(got.size === 6, "dense matrix over C(4,2) pairs")
    assert(got(("sameA", "sameB")) === 1.0, "identical shingle sets share every slot minimum")
    assert(got(("disjoint", "sameA")) === 0.0 && got(("disjoint", "sameB")) === 0.0)
    // true J(A, C): 38 shingles each, 18 shared -> 18/58 ~ 0.31
    val trueJ = 18.0 / 58.0
    assert(math.abs(got(("half", "sameA")) - trueJ) < 0.2,
      s"estimator off: ${got(("half", "sameA"))} vs $trueJ")
    // md5 oracle mode is the same estimator under a different hash family
    val md5Est = Dedup
      .sourceSimilarityMatrix(df, "text", "source", numSlots = 128,
        tokenHash = Some(Dedup.md5TokenHash))
      .collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    assert(md5Est(("sameA", "sameB")) === 1.0 && md5Est(("disjoint", "sameA")) === 0.0)
    assert(math.abs(md5Est(("half", "sameA")) - trueJ) < 0.2)
  }

  test("sourceSimilarityMatrix: includeZeroPairs=false == the nonzero rows of the dense matrix") {
    val dense = Dedup
      .sourceSimilarityMatrix(docs, "text", "source", numSlots = 64)
      .collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r.getAs[Long]("matching_slots"))
      .toMap
    val sparse = Dedup
      .sourceSimilarityMatrix(docs, "text", "source", numSlots = 64, includeZeroPairs = false)
      .collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r.getAs[Long]("matching_slots"))
      .toMap
    assert(sparse === dense.filter(_._2 > 0))
    assert(dense.size === 190, "C(20,2) pairs on the test corpus")
    // a shingle-less group contributes no pairs rather than null slots
    val withEmpty = docs.select($"source", $"text")
      .union(Seq(("emptysrc", "xy")).toDF("source", "text")) // < 3 tokens -> no shingles
    val denseE = Dedup.sourceSimilarityMatrix(withEmpty, "text", "source", numSlots = 64)
    assert(denseE.filter($"source_a" === "emptysrc" || $"source_b" === "emptysrc").count() === 0)
  }

  test("qualified index names (db.idx) work across write, probe, props, and compaction") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    val hist = docs.limit(200).select($"doc_id", $"text")
    Dedup.writeMinHashIndex(hist, "text", "doc_id", "graftdb.mh_q_idx", nBuckets = 8)
    val probeB = docs.filter($"doc_id" % 13 === 0).limit(20)
      .select(($"doc_id" + 300000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))
    val got = Dedup
      .incrementalNearDups(spark, probeB, "graftdb.mh_q_idx", "text", "doc_id", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // props round-trip through the qualified ALTER/lookup
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("mh_q_idx", Some("graftdb")))
      .properties
    assert(props.get("graft.minhash.numHashes") === Some("32"))
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDups(spark, probeB, "graftdb.mh_q_idx", "text", "doc_id",
        numHashes = 16, bands = 8, threshold = 0.3).collect()
    }
    assert(e.getMessage.contains("numHashes=32"))
    // compaction resolves the same qualified name (staging table lands in graftdb)
    graft.sinks.Sinks.compactBucketed(spark, "graftdb.mh_q_idx")
    val after = Dedup
      .incrementalNearDups(spark, probeB, "graftdb.mh_q_idx", "text", "doc_id", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(after === got)
    assert(!spark.catalog.tableExists("graftdb.mh_q_idx__compact"))
  }

  test("IVF-PQ composition reaches corpus recall@5 >= 0.9; q73 gates its rows on it") {
    val got = graft.SparkEntry.queries("q73_ivfpq_recall")(spark, "/root/testdata/sf0.001")
    val rows = got.collect()
    assert(rows.length === 20, s"corpus recall gate dropped rows: ${rows.length}/20")
    assert(rows.head.getAs[Double]("corpus_recall") >= 0.9)
    // per-query floor: no single query may collapse behind the corpus avg
    val perQuery = rows.map(_.getAs[Double]("recall_at_5"))
    assert(perQuery.forall(_ >= 0.4), s"per-query recall floor broken: ${perQuery.min}")
  }

  test("at-rest IVF-PQ: fresh-session probe from table metadata alone, pruned scan, == inline") {
    val (cents, cbs) = Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", "ivfpq_idx",
      dim = 64, nCells = 16, m = 8, kCodes = 64, lloydIters = 2)
    // fresh-session contract: both quantizers round-trip through the
    // sibling tables — a probe needs nothing but the table name
    assert(Similarity.readPqCodebooks(spark, "ivfpq_idx") === cbs)
    assert(Similarity.readIvfCentroids(spark, "ivfpq_idx") === cents)

    // the codes scan reads AT MOST nProbe of the nCells buckets
    val oneQ = emb.filter($"vec_id" === 0)
    val one = Similarity.ivfPqTopKIndexed(spark, "ivfpq_idx", oneQ, "embedding", "vec_id", 5,
      nProbe = 4)
    one.collect() // execute so AQE finalizes the plan
    val plan = one.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in plan:\n$plan")
    assert(sel.get.group(1).toInt <= 4 && sel.get.group(2).toInt === 16,
      s"expected <=4 of 16 buckets, got ${sel.get.matched}")

    // indexed == inline for the same geometry (training is deterministic),
    // through the exact-rerank path
    val qs = emb.filter($"vec_id" < 5)
    val indexed = Similarity
      .ivfPqTopKIndexed(spark, "ivfpq_idx", qs, "embedding", "vec_id", 5, nProbe = 4,
        rerank = 4, corpus = Some(emb))
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val inline = Similarity
      .ivfPqTopK(emb, qs, "embedding", "vec_id", 5, dim = 64, nCells = 16, nProbe = 4,
        m = 8, kCodes = 64, lloydIters = 2, rerank = 4)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(indexed === inline)
    // rerank without the corpus is a fail-fast, same contract as flat PQ
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(spark, "ivfpq_idx", qs, "embedding", "vec_id", 5, rerank = 4)
    }
    assert(e.getMessage.contains("full-precision"))
  }

  test("appendToPqIndex: frozen-codebook append == encode-over-union; wrong geometry rejected") {
    val a = emb.filter($"vec_id" % 2 === 0)
    val b = emb.filter($"vec_id" % 2 === 1)
    val cbs = Similarity.writePqIndex(a, "embedding", "vec_id", "pq_app_idx", dim = 64,
      m = 8, kCodes = 32, lloydIters = 2)
    Similarity.appendToPqIndex(spark, "pq_app_idx", b, "embedding", "vec_id")
    // codebooks are FROZEN: untouched by the append
    assert(Similarity.readPqCodebooks(spark, "pq_app_idx") === cbs)
    // the appended index holds exactly the union corpus encoded with the
    // frozen codebooks — and since a probe is a pure function of
    // (codes, codebooks), a fresh-session probe therefore equals one
    // against an index whose codes were written over the union directly
    val got = spark.table("pq_app_idx")
      .select($"cid", $"codes").as[(Long, Seq[Int])].collect().toSet
    val want = Similarity.pqEncode(emb, "embedding", "vec_id", cbs)
      .as[(Long, Seq[Int])].collect().toSet
    assert(got === want)
    // appended vectors are probe-visible immediately
    val probe = Similarity
      .pqTopKIndexed(spark, "pq_app_idx", emb.filter($"vec_id" < 5), "embedding", "vec_id", 5)
    assert(probe.groupBy($"qid").count().select("count").as[Long].collect().forall(_ === 5L))
    // geometry gate: a batch with the wrong embedding width is rejected
    // up front, never encoded
    val short32 = emb.select($"vec_id", slice($"embedding", 1, 32).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(spark, "pq_app_idx", short32, "embedding", "vec_id")
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("PQ index on a corpus smaller than kCodes records the TRAINED geometry, stays usable") {
    val tiny = emb.filter($"vec_id" < 10)
    val cbs = Similarity.writePqIndex(tiny, "embedding", "vec_id", "pq_tiny_idx", dim = 64,
      m = 8, kCodes = 64, lloydIters = 1)
    // 10 corpus rows seed k=10 codes, not the requested 64 — the index
    // must record what was TRAINED or every later read fails its shape check
    assert(cbs.head.size === 10)
    assert(Similarity.readPqCodebooks(spark, "pq_tiny_idx") === cbs)
    val probe = Similarity
      .pqTopKIndexed(spark, "pq_tiny_idx", tiny.filter($"vec_id" < 2), "embedding", "vec_id", 3)
    assert(probe.groupBy($"qid").count().select("count").as[Long].collect().forall(_ === 3L))
  }

  test("appendToIvfPqIndex: frozen-quantizer append, buckets intact through compaction") {
    val a = emb.filter($"vec_id" % 2 === 0)
    val b = emb.filter($"vec_id" % 2 === 1)
    val (cents, cbs) = Similarity.writeIvfPqIndex(a, "embedding", "vec_id", "ivfpq_app_idx",
      dim = 64, nCells = 8, m = 8, kCodes = 32, lloydIters = 2)
    Similarity.appendToIvfPqIndex(spark, "ivfpq_app_idx", b, "embedding", "vec_id")
    // both quantizers are FROZEN: the appended index holds exactly the
    // union corpus assigned + encoded with them
    assert(Similarity.readPqCodebooks(spark, "ivfpq_app_idx") === cbs)
    assert(Similarity.readIvfCentroids(spark, "ivfpq_app_idx") === cents)
    val got = spark.table("ivfpq_app_idx")
      .select($"cid", $"cent_id", $"codes").as[(Long, Long, Seq[Int])].collect().toSet
    val want = Similarity
      .assignAndEncode(emb, "embedding", "vec_id", cents, cbs)
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(got === want)
    // appended vectors are probe-visible, bucket pruning still holds
    // (single query: the scanned buckets are ITS nProbe cells alone)
    val qs = emb.filter($"vec_id" < 5)
    val probe = Similarity.ivfPqTopKIndexed(spark, "ivfpq_app_idx",
      emb.filter($"vec_id" === 0), "embedding", "vec_id", 5, nProbe = 2)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined && sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt === 8,
      s"expected <=2 of 8 buckets after append, got plan:\n$plan")
    // compaction merges the per-append files; results unchanged
    val before = Similarity
      .ivfPqTopKIndexed(spark, "ivfpq_app_idx", qs, "embedding", "vec_id", 5, nProbe = 8)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    graft.sinks.Sinks.compactBucketed(spark, "ivfpq_app_idx")
    val after = Similarity
      .ivfPqTopKIndexed(spark, "ivfpq_app_idx", qs, "embedding", "vec_id", 5, nProbe = 8)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(after === before)
    // geometry gate, same contract as the flat-PQ append
    val short32 = emb.select($"vec_id", slice($"embedding", 1, 32).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(spark, "ivfpq_app_idx", short32, "embedding", "vec_id")
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("residual IVF-PQ: recorded mode round-trips, recall beats residual-free, appends follow") {
    val corpus = emb.select($"vec_id", $"embedding")
    // tight code budget (kCodes=16) so quantization error is the
    // bottleneck and the residual win is visible; rerank=1 in the
    // probes below ranks purely on the quantized scores, so the
    // comparison measures the CODES, not the exact-rerank rescue
    val (cR, _) = Similarity.writeIvfPqIndex(corpus, "embedding", "vec_id", "ivfpq_res_idx",
      dim = 64, nCells = 16, m = 8, kCodes = 16, lloydIters = 2, residual = true)
    val (cF, _) = Similarity.writeIvfPqIndex(corpus, "embedding", "vec_id", "ivfpq_raw_idx",
      dim = 64, nCells = 16, m = 8, kCodes = 16, lloydIters = 2, residual = false)
    assert(Similarity.ivfResidualMode(spark, "ivfpq_res_idx"))
    assert(!Similarity.ivfResidualMode(spark, "ivfpq_raw_idx"))
    // the coarse quantizer is mode-independent; only the codebooks differ
    assert(cR === cF)
    val rRes = Similarity.annRecallProbe(spark, "ivfpq_res_idx", corpus, "embedding", "vec_id",
      k = 5, nSample = 40, nProbe = 12, rerank = 1).head().getAs[Double]("recall_at_k")
    val rRaw = Similarity.annRecallProbe(spark, "ivfpq_raw_idx", corpus, "embedding", "vec_id",
      k = 5, nSample = 40, nProbe = 12, rerank = 1).head().getAs[Double]("recall_at_k")
    assert(rRes >= rRaw,
      s"residual recall $rRes below residual-free $rRaw at the same (m, kCodes) budget")

    // fresh-session residual probe decodes centroid + residual correctly:
    // indexed == inline for the same geometry (training is deterministic)
    val qs = emb.filter($"vec_id" < 5)
    val indexed = Similarity
      .ivfPqTopKIndexed(spark, "ivfpq_res_idx", qs, "embedding", "vec_id", 5, nProbe = 4,
        rerank = 4, corpus = Some(corpus))
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val inline = Similarity
      .ivfPqTopK(corpus, qs, "embedding", "vec_id", 5, dim = 64, nCells = 16, nProbe = 4,
        m = 8, kCodes = 16, lloydIters = 2, rerank = 4, residual = true)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(indexed === inline)

    // appends read the MODE from the index itself: frozen-quantizer
    // residual append == residual encode over the union
    val a = corpus.filter($"vec_id" % 2 === 0)
    val b = corpus.filter($"vec_id" % 2 === 1)
    val (cents, cbs) = Similarity.writeIvfPqIndex(a, "embedding", "vec_id", "ivfpq_res_app_idx",
      dim = 64, nCells = 8, m = 8, kCodes = 16, lloydIters = 2, residual = true)
    Similarity.appendToIvfPqIndex(spark, "ivfpq_res_app_idx", b, "embedding", "vec_id")
    val got = spark.table("ivfpq_res_app_idx")
      .select($"cid", $"cent_id", $"codes").as[(Long, Long, Seq[Int])].collect().toSet
    val want = Similarity
      .assignAndEncode(corpus, "embedding", "vec_id", cents, cbs, residual = true)
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(got === want)
    Seq("ivfpq_res_idx", "ivfpq_raw_idx", "ivfpq_res_app_idx")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("annRecallProbe: healthy index holds the gate; a drifted append measurably sags it") {
    val idx = "ann_probe_idx"
    val corpus = emb.select($"vec_id", $"embedding")
    Similarity.writeIvfPqIndex(corpus, "embedding", "vec_id", idx, dim = 64,
      nCells = 16, m = 8, kCodes = 256, lloydIters = 2)
    val healthy = Similarity.annRecallProbe(spark, idx, corpus, "embedding", "vec_id",
      k = 5, nSample = 20, nProbe = 12, rerank = 16).head()
    assert(healthy.getAs[Long]("n_sampled") === 20L)
    assert(healthy.getAs[Long]("index_rows") === corpus.count())
    val r0 = healthy.getAs[Double]("recall_at_k")
    assert(r0 >= 0.9, s"healthy recall $r0 below the q73-level gate")
    // deterministic: the seeded sample makes successive probes measure
    // index drift, not sample noise
    assert(Similarity.annRecallProbe(spark, idx, corpus, "embedding", "vec_id",
      k = 5, nSample = 20, nProbe = 12, rerank = 16).head().getAs[Double]("recall_at_k") === r0)

    // drift: append a batch from a DIFFERENT distribution (affine-warped
    // coordinates, fresh ids) — the frozen quantizers compress the
    // drifted region badly, which is exactly what the probe must surface
    val drifted = corpus.select(($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => (x * lit(-3.0) + lit(7.5)).cast("float")).as("embedding"))
    Similarity.appendToIvfPqIndex(spark, idx, drifted, "embedding", "vec_id")
    val union = corpus.unionByName(drifted)
    val after = Similarity.annRecallProbe(spark, idx, union, "embedding", "vec_id",
      k = 5, nSample = 40, nProbe = 12, rerank = 16).head()
    assert(after.getAs[Long]("index_rows") === 2L * corpus.count())
    val r1 = after.getAs[Double]("recall_at_k")
    assert(r1 < r0 - 0.05, s"drifted recall $r1 did not sag measurably below healthy $r0")

    // the rebuild the monitor triggers: retrain over the full corpus,
    // recall recovers above the drifted reading
    Similarity.writeIvfPqIndex(union, "embedding", "vec_id", idx, dim = 64,
      nCells = 16, m = 8, kCodes = 256, lloydIters = 2)
    val rebuilt = Similarity.annRecallProbe(spark, idx, union, "embedding", "vec_id",
      k = 5, nSample = 40, nProbe = 12, rerank = 16).head().getAs[Double]("recall_at_k")
    assert(rebuilt > r1, s"rebuild did not recover recall: $rebuilt vs drifted $r1")

    // flat-PQ flavor, detected from the table properties alone
    Similarity.writePqIndex(corpus, "embedding", "vec_id", "ann_probe_flat_idx", dim = 64,
      m = 8, kCodes = 256, lloydIters = 2)
    val flat = Similarity.annRecallProbe(spark, "ann_probe_flat_idx", corpus, "embedding",
      "vec_id", k = 5, nSample = 10, rerank = 16).head()
    assert(flat.getAs[Double]("recall_at_k") >= 0.9)

    // a table with no recorded PQ geometry is a loud require
    corpus.limit(5).write.mode("overwrite").saveAsTable("ann_probe_not_an_idx")
    val e = intercept[IllegalArgumentException] {
      Similarity.annRecallProbe(spark, "ann_probe_not_an_idx", corpus, "embedding", "vec_id")
    }
    assert(e.getMessage.contains("PQ geometry"))
    Seq(idx, "ann_probe_flat_idx", "ann_probe_not_an_idx")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("annIndexStats: geometry + cell histogram for both index kinds; appends move the needle") {
    val corpus = emb.select($"vec_id", $"embedding")
    Similarity.writeIvfPqIndex(corpus, "embedding", "vec_id", "stats_ivfpq_idx", dim = 64,
      nCells = 16, m = 8, kCodes = 256, lloydIters = 2)
    val s0 = Similarity.annIndexStats(spark, "stats_ivfpq_idx").head()
    assert(s0.getAs[String]("index_kind") === "ivf_pq")
    assert(s0.getAs[Long]("index_rows") === corpus.count())
    assert(s0.getAs[Int]("m") === 8 && s0.getAs[Int]("dim") === 64)
    assert(!s0.getAs[Boolean]("residual"))
    val nCells = s0.getAs[Int]("n_cells")
    // cross-check the histogram against the codes table directly
    val direct = spark.table("stats_ivfpq_idx").groupBy("cent_id").count()
      .select("count").as[Long].collect()
    assert(s0.getAs[Long]("max_cell") === direct.max)
    assert(s0.getAs[Long]("empty_cells") === (nCells - direct.length).toLong)
    assert(s0.getAs[Double]("avg_cell") === direct.sum.toDouble / nCells)
    assert(s0.getAs[Double]("cell_skew") === direct.max / (direct.sum.toDouble / nCells))
    assert(s0.getAs[Double]("cell_skew") >= 1.0)

    // a drifted append (frozen quantizers) doubles index_rows and can
    // only hold or worsen the max cell — the histogram moves with the
    // index, no retrain needed to observe it
    val drifted = corpus.select(($"vec_id" + 200000L).as("vec_id"),
      transform($"embedding", x => (x * lit(-3.0) + lit(7.5)).cast("float")).as("embedding"))
    Similarity.appendToIvfPqIndex(spark, "stats_ivfpq_idx", drifted, "embedding", "vec_id")
    val s1 = Similarity.annIndexStats(spark, "stats_ivfpq_idx").head()
    assert(s1.getAs[Long]("index_rows") === 2L * corpus.count())
    assert(s1.getAs[Long]("max_cell") >= s0.getAs[Long]("max_cell"))

    // flat-PQ flavor: geometry real, cell columns null
    Similarity.writePqIndex(corpus, "embedding", "vec_id", "stats_pq_idx", dim = 64,
      m = 8, kCodes = 256, lloydIters = 2)
    val f = Similarity.annIndexStats(spark, "stats_pq_idx").head()
    assert(f.getAs[String]("index_kind") === "pq")
    assert(f.getAs[Long]("index_rows") === corpus.count())
    assert(f.isNullAt(f.fieldIndex("n_cells")) && f.isNullAt(f.fieldIndex("cell_skew")))

    // not an index -> loud require, same contract as annRecallProbe
    corpus.limit(5).write.mode("overwrite").saveAsTable("stats_not_an_idx")
    val e = intercept[IllegalArgumentException] {
      Similarity.annIndexStats(spark, "stats_not_an_idx")
    }
    assert(e.getMessage.contains("PQ geometry"))
    Seq("stats_ivfpq_idx", "stats_pq_idx", "stats_not_an_idx")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("knnVote: majority vote with (votes, best_rank, label) tiebreak; null labels drop out") {
    val neighbors = Seq(
      // qid 1: labels a,b,b,a,null — 2-2 tie, a holds the nearer neighbor
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4), (1L, 14L, 5),
      // qid 2: only unlabeled neighbors — must emit no row, not a null label
      (2L, 14L, 1),
      // qid 3: equal votes AND equal best_rank (duplicate ranks are legal
      // input) — the label-asc safety tiebreak decides, deterministically
      (3L, 20L, 1), (3L, 21L, 1)
    ).toDF("qid", "cid", "rank")
    val labels = Seq(
      (10L, "a"), (11L, "b"), (12L, "b"), (13L, "a"), (20L, "z"), (21L, "y")
    ).toDF("id", "lbl")
      .unionByName(Seq(14L).toDF("id").withColumn("lbl", lit(null: String)))
    val got = Similarity.knnVote(neighbors, labels, "id", "lbl")
      .orderBy("qid")
      .select("qid", "knn_label", "votes", "confidence")
      .as[(Long, String, Long, Double)]
      .collect()
      .toSeq
    assert(got === Seq((1L, "a", 2L, 0.5), (3L, "y", 1L, 0.5)))
  }

  test("knnClassify == knnVote over an everything-probed IVF frame; one row per query") {
    val qs = emb.filter($"vec_id" < 20)
    val exact = Similarity
      .knnClassify(emb, qs, "embedding", "vec_id", "label", k = 5)
    val rows = exact.collect()
    assert(rows.length === 20, "one verdict per query")
    assert(rows.forall { r =>
      val c = r.getAs[Double]("confidence"); c > 0.0 && c <= 1.0
    })
    // nProbe == nCells probes every cell, so the ANN frame IS the exact
    // top-k (same tiebreak by construction) and the votes must agree
    // bit-for-bit — the "swap the search tier" composition contract
    val annVote = Similarity.knnVote(
      Similarity.ivfTopK(emb, qs, "embedding", "vec_id", 5, nCells = 16, nProbe = 16),
      emb.select($"vec_id", $"label"),
      "vec_id", "label")
    assert(annVote.collect().toSet === rows.toSet)
    intercept[IllegalArgumentException] {
      Similarity.knnClassify(emb, qs, "embedding", "vec_id", "label", k = 0)
    }
  }

  test("corpusRecon: ranked pairs == matrix + rank; HLL annotations are sane; q74 matches") {
    val recon = Dedup
      .corpusRecon(docs, "text", "source", shingleSize = 3, numSlots = 128,
        tokenHash = Some(Dedup.md5TokenHash))
      .collect()
    // the hash-exact half is exactly sourceSimilarityMatrix, reranked
    val matrix = Dedup
      .sourceSimilarityMatrix(docs, "text", "source", shingleSize = 3, numSlots = 128,
        tokenHash = Some(Dedup.md5TokenHash))
      .collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("matching_slots"), r.getAs[Double]("est_jaccard")))
      .toMap
    assert(recon.length === matrix.size, "recon must cover the full pair grid")
    recon.foreach { r =>
      val key = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(matrix(key) === ((r.getAs[Long]("matching_slots"), r.getAs[Double]("est_jaccard"))))
    }
    // rnk is the total order (est_jaccard desc, pair name)
    val byRank = recon.sortBy(_.getAs[Long]("rnk"))
    assert(byRank.map(_.getAs[Long]("rnk")).toSeq === (1L to recon.length).toSeq)
    val ordered = byRank.map(r =>
      (-r.getAs[Double]("est_jaccard"), r.getAs[String]("source_a"), r.getAs[String]("source_b")))
    assert(ordered.toSeq === ordered.sortBy(identity).toSeq)
    // HLL annotations: estimates present and consistent on every pair
    byRank.foreach { r =>
      val (na, nb, nu, ni) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_union"), r.getAs[Long]("n_intersect"))
      assert(nu >= math.max(na, nb) && ni >= 0L && ni <= math.min(na, nb))
      assert(r.getAs[Long]("docs_a") > 0L && r.getAs[Long]("docs_b") > 0L)
    }
    // and the driver query is the deterministic projection of the same frame
    val q74 = graft.SparkEntry.queries("q74_corpus_recon")(spark, "/root/testdata/sf0.001")
    assert(q74.count() === recon.length.toLong)
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** At-rest embedding-LSH index: bucket-pruned probes, inline==indexed
  * bit-identity (what makes the at-rest path oracle-checkable via
  * q148's inline replay), append==rebuild, the recorded plane contract,
  * and replay detection.
  */
class EmbeddingLshIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val hist = emb.filter($"vec_id" % 5 =!= 0)
  private lazy val batch = emb.filter($"vec_id" % 5 === 0)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select($"i", $"j", $"cosine").as[(Long, Long, Double)].collect().toSet

  test("index probe prunes buckets and equals the inline two-frame form bit-identically") {
    Dedup.writeEmbeddingLshIndex(hist, "embedding", "vec_id", "emb_lsh_idx", dim = 64,
      nBuckets = 32)
    val got = Dedup.incrementalSemanticNearDups(
      spark, batch, "emb_lsh_idx", "embedding", "vec_id", dim = 64, threshold = 0.3)
    got.collect() // finalize AQE so the executed plan is inspectable
    val plan = got.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning:\n$plan")
    assert(sel.get.group(2).toInt === 32)
    assert(plan.contains("BroadcastHashJoin"), "batch side must broadcast")

    val inline = Dedup.semanticNearDupsAgainst(
      hist, batch, "embedding", "vec_id", dim = 64, threshold = 0.3)
    val gotSet = pairs(got)
    assert(gotSet === pairs(inline), "indexed probe must equal the inline form bit-for-bit")
    assert(gotSet.nonEmpty, "sf0.001 embeddings at threshold 0.3 must yield cross pairs")
    assert(gotSet.forall { case (i, j, _) => i % 5 != 0 && j % 5 == 0 },
      "orientation: i = history id, j = batch id")

    // candidate equivalence vs in-corpus banding over the union,
    // restricted to cross pairs (orientation normalized to (hist, batch))
    val unionPairs = Dedup
      .embeddingNearDupPairs(emb, "embedding", "vec_id", dim = 64,
        threshold = 0.3, maxBucket = None)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val crossWant = unionPairs.collect {
      case (a, b) if a % 5 != 0 && b % 5 == 0 => (a, b)
      case (a, b) if a % 5 == 0 && b % 5 != 0 => (b, a)
    }
    assert(gotSet.map { case (i, j, _) => (i, j) } === crossWant)

    // shuffle fallback (broadcastRowLimit 0) returns the identical pairs
    val fallback = Dedup.incrementalSemanticNearDups(
      spark, batch, "emb_lsh_idx", "embedding", "vec_id", dim = 64, threshold = 0.3,
      broadcastRowLimit = 0L)
    assert(pairs(fallback) === gotSet)
  }

  test("append == rebuild bit-identically; probe sees appended vectors; contract fails fast") {
    Dedup.writeEmbeddingLshIndex(hist, "embedding", "vec_id", "emb_lsh_app", dim = 64,
      nBuckets = 16)
    Dedup.appendToEmbeddingLshIndex(batch, "embedding", "vec_id", "emb_lsh_app", dim = 64,
      nBuckets = 16)
    Dedup.writeEmbeddingLshIndex(emb, "embedding", "vec_id", "emb_lsh_rebuild", dim = 64,
      nBuckets = 16)
    def rows(t: String) = spark.table(t)
      .select($"vec_id", $"band", $"bhash", $"bkey", $"embedding")
      .as[(Long, Int, Long, Long, Seq[Float])].collect().toSet
    assert(rows("emb_lsh_app") === rows("emb_lsh_rebuild"))

    // a probe AGAINST the appended index finds near-dups of appended rows:
    // replay one appended vector under a new id — exact copy, cosine ~1
    val probe = batch.limit(1).select(($"vec_id" + 900000L).as("vec_id"), $"embedding")
    val hits = Dedup.incrementalSemanticNearDups(
      spark, probe, "emb_lsh_app", "embedding", "vec_id", dim = 64, threshold = 0.9)
    val hit = hits.select($"i", $"cosine").as[(Long, Double)].collect()
    assert(hit.exists { case (_, c) => c >= 0.999999 })

    // mismatched plane parameters must fail fast, on append and on probe
    val eAppend = intercept[IllegalArgumentException] {
      Dedup.appendToEmbeddingLshIndex(batch, "embedding", "vec_id", "emb_lsh_app", dim = 64,
        seed = 43L, nBuckets = 16)
    }
    assert(eAppend.getMessage.contains("seed=42"))
    val eProbe = intercept[IllegalArgumentException] {
      Dedup.incrementalSemanticNearDups(
        spark, batch, "emb_lsh_app", "embedding", "vec_id", dim = 64, bands = 8)
    }
    assert(eProbe.getMessage.contains("bands=4"))
    val eNotBucketed = intercept[IllegalArgumentException] {
      emb.limit(1).write.mode("overwrite").saveAsTable("emb_lsh_plain")
      Dedup.incrementalSemanticNearDups(
        spark, batch, "emb_lsh_plain", "embedding", "vec_id", dim = 64)
    }
    assert(eNotBucketed.getMessage.contains("bucketed"))
  }

  test("append derives the bucket count from the table's bucketSpec, not the parameter") {
    Dedup.writeEmbeddingLshIndex(hist, "embedding", "vec_id", "emb_lsh_nb", dim = 64,
      nBuckets = 16)
    // a default-parameter (64) append onto the 16-bucket index — what
    // CorpusIngest.semanticDedupIngest does with its default nBuckets —
    // must keep the recorded spec instead of failing on Spark's bucket
    // mismatch
    val added = batch.filter($"vec_id" === 5L)
      .select(($"vec_id" + 900000L).as("vec_id"), $"embedding")
    Dedup.appendToEmbeddingLshIndex(added, "embedding", "vec_id", "emb_lsh_nb", dim = 64)
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("emb_lsh_nb"))
      .bucketSpec
    assert(spec.map(_.numBuckets) === Some(16))
    // and the appended row is probe-visible under the original banding
    val replay = Dedup.incrementalSemanticNearDups(
      spark, added, "emb_lsh_nb", "embedding", "vec_id", dim = 64, dropSameId = false)
      .filter($"i" === $"j")
    assert(replay.count() === 1L)
  }

  test("autoBandBits: smallest width holding expected bucket size under target") {
    assert(Dedup.autoBandBits(2000) === 7) // 2000/20=100 -> 2^7
    assert(Dedup.autoBandBits(20000) === 10)
    assert(Dedup.autoBandBits(200000) === 14)
    assert(Dedup.autoBandBits(10) === 1) // floor: never zero-width keys
    assert(Dedup.autoBandBits(1000000000L) === 26) // 1B vectors -> 64M buckets/band
  }

  test("replay detection: dropSameId=false surfaces same-id hits; default drops them") {
    Dedup.writeEmbeddingLshIndex(hist, "embedding", "vec_id", "emb_lsh_rep", dim = 64,
      nBuckets = 16)
    val replay = hist.limit(3)
    val withSelf = Dedup.incrementalSemanticNearDups(
      spark, replay, "emb_lsh_rep", "embedding", "vec_id", dim = 64, threshold = 0.9,
      dropSameId = false)
    val selfHits = withSelf.filter($"i" === $"j")
      .select($"j", $"cosine").as[(Long, Double)].collect()
    assert(selfHits.map(_._1).toSet === replay.select($"vec_id").as[Long].collect().toSet)
    assert(selfHits.forall(_._2 >= 0.999999))
    val dropped = Dedup.incrementalSemanticNearDups(
      spark, replay, "emb_lsh_rep", "embedding", "vec_id", dim = 64, threshold = 0.9)
    assert(dropped.filter($"i" === $"j").count() === 0)
  }

  test("empty batch returns the non-empty day's schema (id types derive from index + batch)") {
    // a string-keyed index: the old early return hardcoded (i: long,
    // j: long), so a caller unioning daily results failed ONLY on
    // empty-batch days — pin that both sides' id types ride through
    val sHist = hist.select(concat(lit("doc-"), $"vec_id").as("vec_id"), $"embedding")
    val sBatch = batch.select(concat(lit("doc-"), $"vec_id").as("vec_id"), $"embedding")
    Dedup.writeEmbeddingLshIndex(sHist, "embedding", "vec_id", "emb_lsh_str", dim = 64,
      nBuckets = 16)
    val full = Dedup.incrementalSemanticNearDups(
      spark, sBatch, "emb_lsh_str", "embedding", "vec_id", dim = 64, threshold = 0.3)
    val empty = Dedup.incrementalSemanticNearDups(
      spark, sBatch.limit(0), "emb_lsh_str", "embedding", "vec_id", dim = 64, threshold = 0.3)
    assert(empty.count() === 0L)
    assert(
      empty.schema.map(f => (f.name, f.dataType)) ===
        full.schema.map(f => (f.name, f.dataType)),
      "empty-batch day must union cleanly with every other day"
    )
    assert(full.schema("i").dataType === org.apache.spark.sql.types.StringType)
    // and the two days actually union (the concrete failure mode)
    assert(full.unionByName(empty).count() === full.count())
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Perceptual image dedup: dHash-64 over real PNG encode/decode, the
  * pigeonhole-banded pair generation, and the at-rest bucketed index.
  */
class ImageDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  /** Independent reference dHash straight from the synthGrayImages
    * pixel formula — no image libraries, no shared code with the
    * operator (mirrors the q169 oracle's math).
    */
  private def referenceDHash(d: Long): Long = {
    val cls = d % 97
    val (a, b, c, e) =
      (3 + (cls * 7) % 13, 5 + (cls * 11) % 17, 1 + (cls * 13) % 7, cls * 37)
    val spot = (d / 97) % 7 == 0
    def g(x: Int, y: Int): Long = {
      var v = (a * x + b * y + c * x * y + e) % 200 + d % 5
      if (spot && x < 4 && y < 4) v += 40
      v
    }
    val cells = Array.tabulate(9, 8) { (i, j) =>
      var s = 0L
      for (x <- 4 * i until 4 * i + 4; y <- 4 * j until 4 * j + 4) s += g(x, y)
      s / 16
    }
    var bits = 0L
    for (j <- 0 until 8; i <- 0 until 8)
      if (cells(i)(j) > cells(i + 1)(j)) bits |= 1L << (j * 8 + i)
    bits
  }

  private def synth(ids: Seq[Long]) =
    Multimodal.synthGrayImages(ids.toDF("doc_id"), "doc_id")

  test("dHash64 through PNG encode/decode == the pixel-formula reference, bit-exact") {
    val ids = (0L until 300L) ++ Seq(97L * 7, 97L * 14, 4999L)
    val got = Multimodal.dHash64(synth(ids))
      .as[(Long, Option[Long])].collect().toMap
    for (d <- ids)
      assert(got(d) === Some(referenceDHash(d)), s"doc $d")
  }

  test("dHash is brightness-shift invariant; the spot edit lands at hamming 1") {
    val h = Multimodal.dHash64(synth(Seq(5L, 5L + 97 * 5, 5L + 97 * 7)))
      .as[(Long, Option[Long])].collect().toMap.view.mapValues(_.get).toMap
    // 5 and 5+97·5 share cls 5, shifts differ (0 vs 2), neither is a
    // spot doc ((d/97)%7 = 0 vs 5... d=5 -> 0%7==0 IS a spot doc)
    // recompute: d=5 -> d/97=0 -> spot. d=5+97*5 -> /97=5 -> not spot.
    // d=5+97*7 -> /97=7 -> spot. So (5, 5+97*7) differ only by shift:
    assert(java.lang.Long.bitCount(h(5L) ^ h(5L + 97 * 7)) === 0L)
    // spot vs non-spot same class: exactly the (0,0)->(1,0) gradient bit
    assert(java.lang.Long.bitCount(h(5L) ^ h(5L + 97 * 5)) <= 1L)
  }

  test("undecodable bytes and sub-grid images hash to null and are never paired") {
    val junk = Seq(
      (1L, "not an image".getBytes("UTF-8")),
      (2L, Array.empty[Byte]),
      (3L, "also not an image".getBytes("UTF-8"))
    ).toDF("doc_id", "media")
    assert(Multimodal.dHash64(junk).filter($"dhash".isNotNull).count() === 0L)
    assert(Dedup.imageHashPairs(ImageHash.DHash64)(junk).count() === 0L)
    // a 4x4 image is narrower than the 9x8 grid
    val tiny = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny, "png", bos)
    val tdf = Seq((9L, bos.toByteArray)).toDF("doc_id", "media")
    assert(Multimodal.dHash64(tdf).filter($"dhash".isNotNull).count() === 0L)
  }

  test("imageDHashPairs finds every same-class pair, zero cross-class noise") {
    val ids = (0L until 300L)
    val got = Dedup.imageHashPairs(ImageHash.DHash64)(synth(ids), maxHamming = 10)
      .select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (i, j, _) => i % 97 == j % 97 }, "cross-class pair leaked")
    // every same-class pair must be found (same-class hammings <= 1,
    // and 3 of 4 bands are untouched by the spot edit)
    val want = ids.groupBy(_ % 97).values.flatMap { g =>
      for (a <- g; b <- g if a < b) yield (a, b)
    }.toSet
    assert(got.map { case (i, j, _) => (i, j) }.toSet === want)
    assert(got.forall(_._3 <= 1))
  }

  test("at-rest index probe == inline cross pairs; buckets prune; append extends") {
    spark.sql("DROP TABLE IF EXISTS dhash_idx")
    val ids = (0L until 300L)
    val hist = synth(ids.filter(_ % 5 != 0))
    val batch = synth(ids.filter(_ % 5 == 0))
    Dedup.writeImageHashIndex(ImageHash.DHash64)(hist, "dhash_idx", nBuckets = 32)

    val got = Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, batch, "dhash_idx", maxHamming = 10)
    got.collect() // finalize AQE so the executed plan is inspectable
    val plan = got.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning:\n$plan")
    assert(sel.get.group(2).toInt === 32)
    assert(plan.contains("BroadcastHashJoin"), "batch side must broadcast")

    val gotSet = got.select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect().toSet
    // cross pairs of the in-corpus form, orientation (hist, batch)
    val unionPairs = Dedup.imageHashPairs(ImageHash.DHash64)(synth(ids), maxHamming = 10)
      .select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect()
    val crossWant = unionPairs.collect {
      case (a, b, hm) if a % 5 != 0 && b % 5 == 0 => (a, b, hm)
      case (a, b, hm) if a % 5 == 0 && b % 5 != 0 => (b, a, hm)
    }.toSet
    assert(gotSet === crossWant)
    assert(gotSet.nonEmpty)

    // shuffle fallback returns the identical pairs
    val fb = Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, batch, "dhash_idx",
      maxHamming = 10, broadcastRowLimit = 0L)
    assert(fb.select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect().toSet === gotSet)

    // append the batch: a replay probe with dropSameId=false sees itself
    Dedup.appendToImageHashIndex(ImageHash.DHash64)(batch, "dhash_idx", nBuckets = 32)
    val replay = Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, batch, "dhash_idx",
      maxHamming = 10, dropSameId = false)
      .filter($"i" === $"j")
    assert(replay.count() === batch.count())
    spark.sql("DROP TABLE dhash_idx")
  }

  test("append derives the bucket count from the table's bucketSpec, not the parameter") {
    spark.sql("DROP TABLE IF EXISTS dhash_idx_nb")
    Dedup.writeImageHashIndex(ImageHash.DHash64)(synth(Seq(1L, 2L, 3L)), "dhash_idx_nb", nBuckets = 8)
    // a default-parameter (64) append onto the 8-bucket index must keep
    // the recorded spec instead of failing on Spark's bucket mismatch
    Dedup.appendToImageHashIndex(ImageHash.DHash64)(synth(Seq(4L, 5L)), "dhash_idx_nb")
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("dhash_idx_nb"))
      .bucketSpec
    assert(spec.map(_.numBuckets) === Some(8))
    // and the appended rows are probe-visible under the original banding
    val replay = Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, synth(Seq(4L)), "dhash_idx_nb",
      dropSameId = false).filter($"i" === $"j")
    assert(replay.count() === 1L)
    spark.sql("DROP TABLE dhash_idx_nb")
  }

  test("the probe path never mutates catalog metadata (props backfill is write-side only)") {
    spark.sql("DROP TABLE IF EXISTS dhash_idx_ro")
    Dedup.writeImageHashIndex(ImageHash.DHash64)(synth(Seq(1L, 2L)), "dhash_idx_ro", nBuckets = 8)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier("dhash_idx_ro")
    // simulate a legacy index written before the props contract
    spark.sql("ALTER TABLE dhash_idx_ro UNSET TBLPROPERTIES ('graft.dhash.bands')")
    assert(!spark.sessionState.catalog.getTableMetadata(ident)
      .properties.contains("graft.dhash.bands"))
    // probe validates via the max(band) data pin but must NOT write the
    // prop back — a read-only metastore would reject the ALTER
    Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, synth(Seq(1L)), "dhash_idx_ro").collect()
    assert(!spark.sessionState.catalog.getTableMetadata(ident)
      .properties.contains("graft.dhash.bands"), "probe issued an ALTER TABLE")
    // the next APPEND backfills it
    Dedup.appendToImageHashIndex(ImageHash.DHash64)(synth(Seq(7L)), "dhash_idx_ro")
    assert(spark.sessionState.catalog.getTableMetadata(ident)
      .properties.get("graft.dhash.bands") === Some("4"))
    spark.sql("DROP TABLE dhash_idx_ro")
  }

  test("probing a non-index table fails fast") {
    spark.sql("DROP TABLE IF EXISTS dhash_bare")
    Seq((1L, 2L)).toDF("a", "b").write.saveAsTable("dhash_bare")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, synth(Seq(1L)), "dhash_bare")
    }
    assert(e.getMessage.contains("not a bucketed index"))
    spark.sql("DROP TABLE dhash_bare")
  }
}

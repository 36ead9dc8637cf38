package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** pHash-256: the wide perceptual hash for corpora past dHash-64's
  * band space — PNG round-trip vs an independent pixel-formula
  * reference, pair generation, the at-rest bucketed index, and the
  * fail-closed cross-hash probing contract.
  */
class ImagePHashSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  /** Independent reference pHash-256 straight from the wide synth pixel
    * formula — no image libraries, no shared code with the operator.
    */
  private def referencePHash(d: Long): Array[Long] = {
    val cls = d % 97
    val (a, b, c, e) =
      (3 + (cls * 7) % 13, 5 + (cls * 11) % 17, 1 + (cls * 13) % 7, cls * 37)
    val spot = (d / 97) % 7 == 0
    def g(x: Int, y: Int): Long = {
      var v = (a * x + b * y + c * x * y + e) % 200 + d % 5
      if (spot && x < 4 && y < 4) v += 40
      v
    }
    val cells = Array.tabulate(17, 16) { (i, j) =>
      var s = 0L
      for (x <- 4 * i until 4 * i + 4; y <- 4 * j until 4 * j + 4) s += g(x, y)
      s / 16
    }
    val words = new Array[Long](4)
    for (j <- 0 until 16; i <- 0 until 16)
      if (cells(i)(j) > cells(i + 1)(j)) {
        val p = j * 16 + i
        words(p / 64) |= 1L << (p % 64)
      }
    words
  }

  private def synth(ids: Seq[Long]) =
    Multimodal.synthGrayImagesWide(ids.toDF("doc_id"), "doc_id")

  private def hamming(a: Array[Long], b: Array[Long]): Int =
    (0 until 4).map(k => java.lang.Long.bitCount(a(k) ^ b(k))).sum

  test("pHash256 through PNG encode/decode == the pixel-formula reference, bit-exact") {
    val ids = (0L until 300L) ++ Seq(97L * 7, 97L * 14, 4999L)
    val got = Multimodal.pHash256(synth(ids))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    for (d <- ids)
      assert(got(d).map(_.toArray.toSeq) === Some(referencePHash(d).toSeq), s"doc $d")
  }

  test("brightness-shift invariant; spot edit lands at hamming <= 1; sub-grid hashes null") {
    val h = Multimodal.pHash256(synth(Seq(5L, 5L + 97 * 5, 5L + 97 * 7)))
      .as[(Long, Option[Seq[Long]])].collect().toMap
      .view.mapValues(_.get.toArray).toMap
    // same class, both spot docs, different brightness shift only
    assert(hamming(h(5L), h(5L + 97 * 7)) === 0)
    // spot vs non-spot same class: only block (0,0)'s first gradient
    assert(hamming(h(5L), h(5L + 97 * 5)) <= 1)
    // a 16x15 image is narrower than the 17x16 grid
    val tiny = new java.awt.image.BufferedImage(
      16, 15, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny, "png", bos)
    val tdf = Seq((9L, bos.toByteArray)).toDF("doc_id", "media")
    assert(Multimodal.pHash256(tdf).filter($"phash".isNotNull).count() === 0L)
    assert(Dedup.imageHashPairs(ImageHash.PHash256)(tdf).count() === 0L)
  }

  test("imagePHashPairs finds every same-class pair, zero cross-class noise") {
    val ids = (0L until 300L)
    val got = Dedup.imageHashPairs(ImageHash.PHash256)(synth(ids), maxHamming = 24)
      .select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (i, j, _) => i % 97 == j % 97 }, "cross-class pair leaked")
    val want = ids.groupBy(_ % 97).values.flatMap { g =>
      for (a <- g; b <- g if a < b) yield (a, b)
    }.toSet
    assert(got.map { case (i, j, _) => (i, j) }.toSet === want)
    assert(got.forall(_._3 <= 1))
  }

  test("at-rest index probe == inline cross pairs; buckets prune; append keeps its spec") {
    spark.sql("DROP TABLE IF EXISTS phash_idx")
    val ids = (0L until 300L)
    val hist = synth(ids.filter(_ % 5 != 0))
    val batch = synth(ids.filter(_ % 5 == 0))
    Dedup.writeImageHashIndex(ImageHash.PHash256)(hist, "phash_idx", nBuckets = 32)

    val got = Dedup.incrementalImageHashDups(ImageHash.PHash256)(spark, batch, "phash_idx", maxHamming = 24)
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning:\n$plan")
    assert(sel.get.group(2).toInt === 32)
    assert(plan.contains("BroadcastHashJoin"), "batch side must broadcast")

    val gotSet = got.select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect().toSet
    val unionPairs = Dedup.imageHashPairs(ImageHash.PHash256)(synth(ids), maxHamming = 24)
      .select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect()
    val crossWant = unionPairs.collect {
      case (a, b, hm) if a % 5 != 0 && b % 5 == 0 => (a, b, hm)
      case (a, b, hm) if a % 5 == 0 && b % 5 != 0 => (b, a, hm)
    }.toSet
    assert(gotSet === crossWant)
    assert(gotSet.nonEmpty)

    // append with a mismatched default parameter keeps the 32-bucket spec
    Dedup.appendToImageHashIndex(ImageHash.PHash256)(batch, "phash_idx")
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("phash_idx"))
      .bucketSpec
    assert(spec.map(_.numBuckets) === Some(32))
    val replay = Dedup.incrementalImageHashDups(ImageHash.PHash256)(spark, batch, "phash_idx",
      maxHamming = 24, dropSameId = false).filter($"i" === $"j")
    assert(replay.count() === batch.count())
    spark.sql("DROP TABLE phash_idx")
  }

  test("cross-hash probing fails closed: dHash prober on a pHash index and vice versa") {
    spark.sql("DROP TABLE IF EXISTS xhash_p")
    spark.sql("DROP TABLE IF EXISTS xhash_d")
    val imgs = synth(Seq(1L, 2L, 3L))
    val imgsSmall = Multimodal.synthGrayImages(Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
    Dedup.writeImageHashIndex(ImageHash.PHash256)(imgs, "xhash_p", nBuckets = 8)
    Dedup.writeImageHashIndex(ImageHash.DHash64)(imgsSmall, "xhash_d", nBuckets = 8)
    // a dHash probe against the 8-band pHash index: the props key is
    // absent, the data pin reads bands 0..7 and refuses
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalImageHashDups(ImageHash.DHash64)(spark, imgsSmall, "xhash_p").collect()
    }
    assert(e1.getMessage.contains("bands"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalImageHashDups(ImageHash.PHash256)(spark, imgs, "xhash_d").collect()
    }
    assert(e2.getMessage.contains("bands"))
    spark.sql("DROP TABLE xhash_p")
    spark.sql("DROP TABLE xhash_d")
  }
}

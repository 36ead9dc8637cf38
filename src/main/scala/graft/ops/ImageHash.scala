package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Perceptual-hash FAMILY (round 16 — verdict r15 #4): the data that
  * makes dHash-64 and pHash-256 one Hamming family in [[Dedup]] — one
  * pairs function ([[Dedup.imageHashPairs]]) and one at-rest index
  * ([[Dedup.writeImageHashIndex]], [[Dedup.appendToImageHashIndex]],
  * [[Dedup.incrementalImageHashDups]]), each taking the family — and
  * that [[graft.streaming.ImageIngest]] parameterizes its streaming
  * dedup loop over. A family is data only: how to hash, how to band,
  * how to compare. Cross-family probes fail closed at the index layer
  * (distinct props keys + max(band) data pins — see
  * `Dedup.validateHammingIndex`), so pointing a PHash256 ingest at a
  * dHash index errors rather than silently missing near-dups.
  */
object ImageHash {

  /** @param name short family id, used in messages
    * @param hashCol the hash column [[hash]] and [[hashWithMedia]] emit
    *   (null = undecodable)
    * @param hash (doc_id, media) → (doc_id, hashCol), one decode per image
    * @param hashWithMedia (doc_id, media, hashCol) from ONE decode per
    *   image — the [[Multimodal.dHash64WithMedia]] determinism contract
    * @param bands band count of the pigeonhole banding
    * @param bandKeys hash column → array of (band, bhash) structs
    * @param hamming exact hamming distance of two hashes
    * @param bandsProp table property recording an index's band count
    * @param defaultMaxHamming the family's standard near-dup bar — the
    *   same ~9%-of-bits tolerance across families (dHash-64: 10;
    *   pHash-256: 24)
    */
  final case class Family(
      name: String,
      hashCol: String,
      hash: DataFrame => DataFrame,
      hashWithMedia: DataFrame => DataFrame,
      bands: Int,
      bandKeys: Column => Column,
      hamming: (Column, Column) => Column,
      bandsProp: String,
      defaultMaxHamming: Int
  )

  private def bandStructs(bands: Int)(bhash: Int => Column): Column =
    array((0 until bands).map(b => struct(lit(b).as("band"), bhash(b).as("bhash"))): _*)

  /** dHash-64: 4×16-bit bands — the default for corpora under ~10⁴
    * distinct image classes (beyond that the 16-bit band space's
    * collision term grows quadratically; see the image_dhash soak).
    * Hamming ≤ 3 guarantees a shared band. The mask after the
    * (arithmetic) shift makes keys sign-agnostic — bit 63 set means a
    * negative long in both engines.
    */
  val DHash64: Family = Family(
    name = "dhash64",
    hashCol = "dhash",
    hash = Multimodal.dHash64,
    hashWithMedia = Multimodal.dHash64WithMedia,
    bands = 4,
    bandKeys = h => bandStructs(4)(b => shiftright(h, b * 16).bitwiseAND(0xffffL)),
    hamming = (a, b) => bit_count(a.bitwiseXOR(b)),
    bandsProp = "graft.dhash.bands",
    defaultMaxHamming = 10
  )

  /** pHash-256 (widened-dHash construction — see the
    * [[Multimodal.pHash256Of]] naming caveat): 8×32-bit bands, the
    * scale path past dHash-64's band space (> ~10⁴ image classes).
    * Band b = bits [32b, 32b+32) = word b/2 of the 4-long hash shifted
    * by (b mod 2)·32, masked sign-agnostic like dHash's; hamming ≤ 7
    * guarantees a shared band.
    */
  val PHash256: Family = Family(
    name = "phash256",
    hashCol = "phash",
    hash = Multimodal.pHash256,
    hashWithMedia = Multimodal.pHash256WithMedia,
    bands = 8,
    bandKeys = h =>
      bandStructs(8)(b =>
        shiftright(element_at(h, b / 2 + 1), (b % 2) * 32).bitwiseAND(lit(0xffffffffL))),
    hamming = (a, b) =>
      (0 until 4)
        .map(k => bit_count(element_at(a, k + 1).bitwiseXOR(element_at(b, k + 1))))
        .reduce(_ + _),
    bandsProp = "graft.phash.bands",
    defaultMaxHamming = 24
  )
}

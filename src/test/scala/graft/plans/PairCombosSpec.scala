package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Parity pins for the r20 native PairCombos expression against the
  * composed HOF form it replaced ([[ComposedForms.pairCombos]])
  * — every banding dedup operator's candidate generation rides on this
  * being bit-identical.
  */
class PairCombosSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def both(df: org.apache.spark.sql.DataFrame): Unit = {
    val native = df
      .select(explode(PairCombos.pairCombos(col("ids"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
    val composed = df
      .select(explode(ComposedForms.pairCombos(col("ids"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
    assert(native.collect().toSeq.sortBy(_.toString) ===
      composed.collect().toSeq.sortBy(_.toString))
  }

  test("long posting lists: sorted, duplicates never self-pair, unsorted emits only ascending") {
    // size >= 2 only: every production call sites filters size(ids) >= 2
    // first, and the composed form ERRORS below that (sequence(1, 0) +
    // element_at 0) — so parity is defined on the filtered domain
    both(Seq(
      Seq(1L, 2L, 3L, 4L),
      Seq(5L, 5L, 6L), // duplicate id: (5,5) must NOT appear
      Seq(9L, 8L) // unsorted input: only ids(l) > ids(p) pairs emit
    ).toDF("ids"))
  }

  test("empty and single-element lists emit nothing (native handles what composed errors on)") {
    val rows = Seq(Seq(7L), Seq.empty[Long])
      .toDF("ids")
      .select(explode(PairCombos.pairCombos(col("ids"))).as("p"))
      .collect()
    assert(rows.isEmpty)
  }

  test("struct elements (the hamming64 posting shape): field-order comparison") {
    val df = Seq(
      Seq((1L, 100L), (2L, 50L), (2L, 60L)),
      Seq((3L, -1L), (3L, -1L)) // fully equal structs never pair
    ).toDF("raw").select(
      transform(col("raw"), s => struct(s.getField("_1").as("doc_id"),
        s.getField("_2").as("h64"))).as("ids"))
    val native = df.select(explode(PairCombos.pairCombos(col("ids"))).as("p"))
      .select(col("p.i.doc_id"), col("p.i.h64"), col("p.j.doc_id"), col("p.j.h64"))
    val composed = df.select(explode(ComposedForms.pairCombos(col("ids"))).as("p"))
      .select(col("p.i.doc_id"), col("p.i.h64"), col("p.j.doc_id"), col("p.j.h64"))
    assert(native.collect().toSeq.sortBy(_.toString) ===
      composed.collect().toSeq.sortBy(_.toString))
  }

  test("nested-array struct elements (the pHash posting shape)") {
    val df = Seq(
      Seq((1L, Seq(1L, 2L)), (2L, Seq(1L, 3L)), (3L, Seq(1L, 2L)))
    ).toDF("raw").select(
      transform(col("raw"), s => struct(s.getField("_1").as("doc_id"),
        s.getField("_2").as("phash"))).as("ids"))
    val native = df.select(explode(PairCombos.pairCombos(col("ids"))).as("p"))
      .select(col("p.i.doc_id"), col("p.j.doc_id"), col("p.i.phash"), col("p.j.phash"))
    val composed = df.select(explode(ComposedForms.pairCombos(col("ids"))).as("p"))
      .select(col("p.i.doc_id"), col("p.j.doc_id"), col("p.i.phash"), col("p.j.phash"))
    assert(native.collect().toSeq.sortBy(_.toString) ===
      composed.collect().toSeq.sortBy(_.toString))
  }

  test("null elements pair with nothing (the composed filter's null-drop)") {
    val df = Seq(
      Seq[java.lang.Long](1L, null, 3L)
    ).toDF("ids")
    both(df)
    val rows = df.select(explode(PairCombos.pairCombos(col("ids"))).as("p"))
      .select(col("p.i"), col("p.j")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 3L)))
  }

  test("real corpus buckets: the q19 simhash posting lists, whole-operator parity") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // the q19 pipeline output is itself the end-to-end pin (the oracle
    // runs it); here pin the expression over its REAL posting lists
    val signed = graft.ops.Dedup.simHashes(docs, "text", "doc_id", graft.ops.Dedup.md5TokenHash)
    val postings = signed
      .select(col("doc_id"), col("simhash").as("h64"))
      .select(col("doc_id"), col("h64"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("h64"), b * 16).bitwiseAND(0xffffL).as("bhash"))
        }: _*)).as("bk"))
      .groupBy(col("bk.band"), col("bk.bhash"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("h64")))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val native = postings.select(explode(PairCombos.pairCombos(col("ids"))).as("p"))
      .select(col("p.i.doc_id"), col("p.i.h64"), col("p.j.doc_id"), col("p.j.h64"))
    val composed = postings.select(
      explode(ComposedForms.pairCombos(col("ids"))).as("p"))
      .select(col("p.i.doc_id"), col("p.i.h64"), col("p.j.doc_id"), col("p.j.h64"))
    assert(native.collect().toSeq.sortBy(_.toString) ===
      composed.collect().toSeq.sortBy(_.toString))
  }
}

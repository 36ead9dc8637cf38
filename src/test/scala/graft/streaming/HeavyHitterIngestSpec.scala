package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

class HeavyHitterIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  // zipf-ish corpus split into batches: t_i appears 600/i times,
  // i = 1..40, plus a singleton tail the summary must shed
  private def corpus: Seq[String] =
    (1 to 40).flatMap(i => Seq.fill(600 / i)(s"t_$i")) ++ (1 to 800).map(i => s"tail_$i")

  private def batches(n: Int): Seq[Seq[String]] = {
    // deterministic interleave so every batch carries head AND tail mass
    corpus.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1).map(_._2.map(_._1))
  }

  test("summary stays bounded, keeps every heavy item, undercounts by at most N/(cap+1)") {
    val tmp = Files.createTempDirectory("hhingest").toString
    val path = s"$tmp/hh"
    val capacity = 64
    val bs = batches(5)
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(HeavyHitterIngest.ingestHeavyHitterBatch(b.toDF("item"), i.toLong, "item", capacity, path))
    }
    val got = HeavyHitterIngest
      .readSummary(spark, path)
      .select("item", "n")
      .as[(String, Long)]
      .collect()
      .toMap
    assert(got.size <= capacity)
    val exact = corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = corpus.size.toLong
    val eps = n / (capacity + 1L)
    // completeness: every item above the MG threshold is present
    exact.filter(_._2 > eps).foreach { case (item, c) =>
      assert(got.contains(item), s"$item (count $c > eps $eps) missing")
    }
    // accuracy: stored counts never exceed truth, undercount <= eps
    got.foreach { case (item, c) =>
      assert(c <= exact(item), s"$item overcounted: $c > ${exact(item)}")
      assert(exact(item) - c <= eps, s"$item undercounted past eps: ${exact(item)} - $c > $eps")
    }
  }

  test("replayed batch id is a no-op; summary is a pure function of the delivered prefix") {
    val tmp = Files.createTempDirectory("hhreplay").toString
    val path = s"$tmp/hh"
    val bs = batches(3)
    assert(HeavyHitterIngest.ingestHeavyHitterBatch(bs(0).toDF("item"), 0L, "item", 32, path))
    assert(HeavyHitterIngest.ingestHeavyHitterBatch(bs(1).toDF("item"), 1L, "item", 32, path))
    val before = HeavyHitterIngest.readSummary(spark, path)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    // redelivery of batch 1 must change nothing
    assert(!HeavyHitterIngest.ingestHeavyHitterBatch(bs(1).toDF("item"), 1L, "item", 32, path))
    val after = HeavyHitterIngest.readSummary(spark, path)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(after === before)
  }

  test("mgPrune subtracts the (capacity+1)-th count and keeps at most capacity rows") {
    val counts = Seq(("a", 10L), ("b", 7L), ("c", 5L), ("d", 3L), ("e", 3L)).toDF("item", "n")
    val pruned = HeavyHitterIngest.mgPrune(counts, "item", 3)
      .as[(String, Long)].collect().toMap
    // d = 4th largest = 3 (item d, ties by name: d before e)
    assert(pruned === Map("a" -> 7L, "b" -> 4L, "c" -> 2L))
    // already-fitting table is untouched
    val small = HeavyHitterIngest.mgPrune(counts, "item", 10)
      .as[(String, Long)].collect().toMap
    assert(small === Map("a" -> 10L, "b" -> 7L, "c" -> 5L, "d" -> 3L, "e" -> 3L))
  }

  test("torn first write: readSummary refuses the uncommitted summary; redelivery commits") {
    val tmp = Files.createTempDirectory("hhtorn").toString
    val path = s"$tmp/hh"
    // parquet landed in .new, the _batch marker did not
    Seq(("t_1", 999L)).toDF("item", "n").coalesce(1).write.parquet(s"$path.new")
    val err = intercept[IllegalStateException](HeavyHitterIngest.readSummary(spark, path))
    assert(err.getMessage.contains("no committed"))
    assert(HeavyHitterIngest.ingestHeavyHitterBatch(Seq("t_1", "t_1").toDF("item"), 0L, "item", 8, path))
    assert(HeavyHitterIngest.readSummary(spark, path).as[(String, Long)].collect().toSeq === Seq(("t_1", 2L)))
  }
}

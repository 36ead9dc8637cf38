package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Sketches
import graft.sinks.Dfs

/** Pins for streaming histogram-sketch maintenance ([[SketchIngest]]):
  * streamed == batch rebuild (exact long merges), replayed batch ids
  * are no-ops (exactly-once under at-least-once redelivery), and every
  * crash window of the dir swap heals to a complete sketch.
  */
class SketchIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private val (lo, hi, bins) = (0.0, 100.0, 10)

  private def mkBatch(seed: Int, n: Int) =
    (1 to n).map(i => (((seed * 7919 + i * 104729) % 1000) / 10.0, if (i % 2 == 0) "a" else "b"))
      .toDF("v", "g")

  private def sketchMap(path: String) = spark.read
    .parquet(path)
    .collect()
    .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
    .toMap

  test("streamed sketch equals batch rebuild; replayed batch id is a no-op") {
    val tmp = Files.createTempDirectory("skingest").toString
    val path = s"$tmp/sketch"
    val b1 = mkBatch(1, 500)
    val b2 = mkBatch(2, 300)

    assert(SketchIngest.ingestSketchBatch(b1, 0L, "v", Seq("g"), lo, hi, bins, path))
    assert(SketchIngest.ingestSketchBatch(b2, 1L, "v", Seq("g"), lo, hi, bins, path))
    // redelivery of batch 1 (crash between swap and checkpoint commit)
    assert(!SketchIngest.ingestSketchBatch(b2, 1L, "v", Seq("g"), lo, hi, bins, path))

    val rebuild = Sketches
      .histogramSketch(b1.unionByName(b2), "v", Seq("g"), lo, hi, bins)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(sketchMap(path) === rebuild)
  }

  test("file-source stream end-to-end matches rebuild across restarts") {
    val tmp = Files.createTempDirectory("skingest2").toString
    val src = s"$tmp/src"
    val path = s"$tmp/sketch"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val b1 = mkBatch(3, 400)
    val b2 = mkBatch(4, 200)
    b1.coalesce(1).write.mode("append").parquet(src)

    def start() = SketchIngest.sketchIngest(
      spark.readStream.schema(b1.schema).parquet(src),
      "v", Seq("g"), lo, hi, bins, path, s"$tmp/ckpt"
    )
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    b2.coalesce(1).write.mode("append").parquet(src)
    val q2 = start() // restart from checkpoint
    q2.processAllAvailable(); q2.stop()

    val rebuild = Sketches
      .histogramSketch(b1.unionByName(b2), "v", Seq("g"), lo, hi, bins)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(sketchMap(path) === rebuild)
  }

  test("crash windows: stray .new is discarded pre-swap, promoted post-retire; .old restores") {
    val tmp = Files.createTempDirectory("skingest3").toString
    val path = s"$tmp/sketch"
    val fs = Dfs.fs(spark, path)
    val live = new HPath(path)
    val b1 = mkBatch(5, 300)
    val b2 = mkBatch(6, 300)
    assert(SketchIngest.ingestSketchBatch(b1, 0L, "v", Seq("g"), lo, hi, bins, path))
    val v1 = sketchMap(path)

    // window A: crash between live->old and .new->live (live absent,
    // .new complete): heal must promote .new
    assert(SketchIngest.ingestSketchBatch(b2, 1L, "v", Seq("g"), lo, hi, bins, path))
    val v2 = sketchMap(path)
    Dfs.rmTree(fs, new HPath(path + ".new"))
    fs.rename(live, new HPath(path + ".new")) // fake: v2 sits at .new, live absent
    Dfs.heal(fs, live)
    assert(sketchMap(path) === v2)
    assert(SketchIngest.committedBatch(fs, live) === Some(1L))

    // window B: live retired to .old, .new already consumed: restore .old
    fs.rename(live, new HPath(path + ".old"))
    Dfs.heal(fs, live)
    assert(sketchMap(path) === v2)

    // window C: stray complete .new beside an intact live (crash before
    // retire): next batch discards and re-applies — no double count
    b1.limit(0) // touch
    fs.mkdirs(new HPath(path + ".new"))
    assert(!SketchIngest.ingestSketchBatch(b2, 1L, "v", Seq("g"), lo, hi, bins, path))
    assert(sketchMap(path) === v2)
    assert(v1 !== v2)
  }

  test("torn first write: a promoted .new without its _batch marker is not committed state") {
    val tmp = Files.createTempDirectory("skingest4").toString
    val path = s"$tmp/sketch"
    val fs = Dfs.fs(spark, path)
    val live = new HPath(path)
    val b1 = mkBatch(7, 300)
    assert(SketchIngest.ingestSketchBatch(b1, 0L, "v", Seq("g"), lo, hi, bins, path))
    val once = sketchMap(path)

    // crash state of the FIRST write between its parquet write to .new
    // and the marker: no live dir, no .old, a marker-less .new
    val fresh = new HPath(path + ".new")
    require(fs.rename(live, fresh))
    require(fs.delete(new HPath(fresh, "_batch"), false))
    // redelivery heals (promoting .new), then must apply b1 exactly once
    assert(SketchIngest.ingestSketchBatch(b1, 0L, "v", Seq("g"), lo, hi, bins, path))
    assert(sketchMap(path) === once)
    assert(SketchIngest.committedBatch(fs, live) === Some(0L))
  }

  test("additive multi-measure view: streamed fact chunks == batch rebuild, replay no-op") {
    // the incremental-materialized-aggregate form: a q113-style trade
    // view (revenue_e4 + n_lines per nation pair) maintained as fact
    // rows arrive in chunks, against static dims
    val tmp = Files.createTempDirectory("skadditive").toString
    val path = s"$tmp/trade"
    val dir = "/root/testdata/sf0.001"
    val li = graft.sources.Tables
      .load(spark, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev")
      )
    val sup = graft.sources.Tables.load(spark, dir, "supplier")
    val nat = graft.sources.Tables.load(spark, dir, "nation")
    def fold(b: org.apache.spark.sql.DataFrame) = b
      .join(broadcast(sup.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("supp_nation"))
      .agg(sum(col("rev")).as("revenue_e4"), count(lit(1)).as("n_lines"))
    val chunks = Seq(
      li.filter(col("l_orderkey") % 3 === 0),
      li.filter(col("l_orderkey") % 3 === 1),
      li.filter(col("l_orderkey") % 3 === 2)
    )
    chunks.zipWithIndex.foreach { case (c, i) =>
      assert(SketchIngest.ingestAdditiveBatch(
        c, i.toLong, fold, Seq("supp_nation"), Seq("revenue_e4", "n_lines"), path))
    }
    // redelivered last chunk: exact no-op
    assert(!SketchIngest.ingestAdditiveBatch(
      chunks.last, 2L, fold, Seq("supp_nation"), Seq("revenue_e4", "n_lines"), path))
    val streamed = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rebuilt = fold(li).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === rebuilt)
  }
}

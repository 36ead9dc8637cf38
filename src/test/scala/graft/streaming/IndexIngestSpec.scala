package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Retrieval
import graft.sinks.Dfs

class IndexIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark join merge join"),
    (2L, "spark filter scan"),
    (3L, "join merge sort merge"),
    (4L, "window filter window"),
    (5L, "scan window join")
  ).toDF("doc_id", "text")

  private def queryTop(post: org.apache.spark.sql.DataFrame, st: org.apache.spark.sql.DataFrame) = {
    val qs = Seq((1L, "spark join window")).toDF("query_id", "qtext")
    Retrieval.bm25TopK(post, qs, "query_id", "qtext", 10, stats = Some(st))
      .orderBy("rank").collect().toSeq
  }

  test("two streamed batches == single batch build; redelivery is a whole-batch no-op") {
    val tmp = Files.createTempDirectory("bm25ingest").toString + "/idx"
    assert(IndexIngest.ingestBm25Batch(corpus.filter($"doc_id" <= 3), 0L, "text", "doc_id", tmp))
    assert(IndexIngest.ingestBm25Batch(corpus.filter($"doc_id" > 3), 1L, "text", "doc_id", tmp))
    assert(!IndexIngest.ingestBm25Batch(corpus.filter($"doc_id" > 3), 1L, "text", "doc_id", tmp))
    val (post, st) = IndexIngest.loadIndex(spark, tmp)
    val full = Retrieval.invertedIndex(corpus, "text", "doc_id")
    assert(post.orderBy("token", "doc_id").collect().toSeq ===
      full.orderBy("token", "doc_id").collect().toSeq)
    assert(st.collect().toSeq === Retrieval.indexStats(full).collect().toSeq)
    assert(queryTop(post, st) === queryTop(full, Retrieval.indexStats(full)))
  }

  test("crash window postings-written-but-stats-uncommitted converges on redelivery") {
    val tmp = Files.createTempDirectory("bm25crash").toString + "/idx"
    assert(IndexIngest.ingestBm25Batch(corpus.filter($"doc_id" <= 3), 0L, "text", "doc_id", tmp))
    // simulate the crash: batch 1's postings land but stats never commit
    Retrieval.invertedIndex(corpus.filter($"doc_id" > 3), "text", "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings/batch_id=1")
    // stats still at batch 0
    val fs = Dfs.fs(spark, s"$tmp/stats")
    assert(SketchIngest.committedBatch(fs, new HPath(s"$tmp/stats")).contains(0L))
    // redelivery rewrites identical postings and commits stats
    assert(IndexIngest.ingestBm25Batch(corpus.filter($"doc_id" > 3), 1L, "text", "doc_id", tmp))
    val (post, st) = IndexIngest.loadIndex(spark, tmp)
    val full = Retrieval.invertedIndex(corpus, "text", "doc_id")
    assert(post.orderBy("token", "doc_id").collect().toSeq ===
      full.orderBy("token", "doc_id").collect().toSeq)
    assert(st.collect().toSeq === Retrieval.indexStats(full).collect().toSeq)
  }

  test("streaming loop: bm25Ingest over a file source maintains the queryable index") {
    val tmp = Files.createTempDirectory("bm25loop").toString
    val srcDir = s"$tmp/docs"
    corpus.filter($"doc_id" <= 3).coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema("doc_id long, text string").parquet(srcDir)
    val q = IndexIngest.bm25Ingest(stream, "text", "doc_id", s"$tmp/idx", s"$tmp/ckpt")
    q.processAllAvailable()
    corpus.filter($"doc_id" > 3).coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val (post, st) = IndexIngest.loadIndex(spark, s"$tmp/idx")
    val full = Retrieval.invertedIndex(corpus, "text", "doc_id")
    assert(st.collect().toSeq === Retrieval.indexStats(full).collect().toSeq)
    assert(queryTop(post, st) === queryTop(full, Retrieval.indexStats(full)))
  }

  test("loadIndex reads committed batches only: torn first stats write, uncommitted postings") {
    val tmp = Files.createTempDirectory("bm25torn").toString + "/idx"
    // batch 0 crashed after its postings and its stats parquet landed,
    // before the stats _batch marker: nothing is committed
    Retrieval.invertedIndex(corpus.filter($"doc_id" <= 3), "text", "doc_id")
      .write.parquet(s"$tmp/postings/batch_id=0")
    IndexIngest.statsFold("text", "doc_id")(corpus.filter($"doc_id" <= 3))
      .coalesce(1).write.parquet(s"$tmp/stats.new")
    val (post0, st0) = IndexIngest.loadIndex(spark, tmp)
    assert(post0.count() === 0L)
    assert(st0.collect().toSeq.map(r => (Option(r.get(0)), Option(r.get(1)))) === Seq((None, None)))

    // redelivery commits batch 0; batch 1 then crashes between its
    // postings write and its stats commit
    assert(IndexIngest.ingestBm25Batch(corpus.filter($"doc_id" <= 3), 0L, "text", "doc_id", tmp))
    Retrieval.invertedIndex(corpus.filter($"doc_id" > 3), "text", "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings/batch_id=1")
    val (post, st) = IndexIngest.loadIndex(spark, tmp)
    val committed = Retrieval.invertedIndex(corpus.filter($"doc_id" <= 3), "text", "doc_id")
    assert(post.orderBy("token", "doc_id").collect().toSeq ===
      committed.orderBy("token", "doc_id").collect().toSeq)
    assert(st.collect().toSeq === Retrieval.indexStats(committed).collect().toSeq)
  }
}

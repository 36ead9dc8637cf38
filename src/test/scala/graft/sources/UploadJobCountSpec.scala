package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, Pipeline, TestSession}
import graft.streaming.CdcStream

/** The Spark jobs an upload runs before its diff: none. A job is a
  * fixed cost that a small upload pays in full, so parsing the upload
  * and building the stored-snapshot and CDC-state frames stay on the
  * driver (the driver-side CSV parse, the parquet footer schema).
  */
class UploadJobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val quarters = (1 to 8).map(q => f"20${20 + q / 4}%02d-Q${q % 4 + 1}")

  private def writeCsv(prefix: String, rows: Seq[(String, Int)]): String = {
    val f = Files.createTempDirectory("upload").resolve("upload.csv")
    val body = rows.map { case (k, v) => (k +: "Income" +: quarters.map(q => s"$v.$q")).mkString(",") }
    Files.writeString(f, (prefix +: ("Company,Date," + quarters.mkString(",")) +: body).filter(_.nonEmpty)
      .mkString("\n"))
    f.toString
  }

  private def jobs[T](what: String)(body: => T): (T, Int) = {
    val (out, n) = JobCount(spark)(body)
    info(s"$what: $n jobs")
    (out, n)
  }

  test("SnapshotSource.read of a small file runs no job, with and without a junk prefix") {
    val rows = (1 to 20).map(i => (f"ACME-$i%05d", i))
    val (plain, n1) = jobs("read")(SnapshotSource.read(spark, writeCsv("", rows)))
    val (junk, n2) = jobs("read, junk prefix")(SnapshotSource.read(spark, writeCsv("Report,,\nGenerated,,", rows)))
    assert((n1, n2) === ((0, 0)))
    assert(plain.df.count() === 20 && junk.df.count() === 20)
  }

  test("building the stored-snapshot frames runs no job; a small snapshot is one data file") {
    val root = Files.createTempDirectory("store").resolve("acme").toString
    val rows = (1 to 20).map(i => (f"ACME-$i%05d", i))
    Seq(rows, rows.map { case (k, v) => (k, v + 1) }).foreach { r =>
      SnapshotStore.write(SnapshotSource.read(spark, writeCsv("", r)).df, root)
    }
    val dataFiles = new java.io.File(s"$root/v=1").list().filter(n => !n.startsWith(".") && !n.startsWith("_"))
    assert(dataFiles.length === 1, dataFiles.mkString(", "))
    val (latest, n1) = jobs("readLatest")(SnapshotStore.readLatest(spark, root).get)
    val (prev, n2) = jobs("readPrevious")(SnapshotStore.readPrevious(spark, root).get)
    val (v0, n3) = jobs("readVersion")(SnapshotStore.readVersion(spark, root, 0))
    assert((n1, n2, n3) === ((0, 0, 0)))
    assert(latest.schema === spark.read.parquet(s"$root/v=1").schema)
    assert(prev.exceptAll(v0).isEmpty && latest.count() === 20)
  }

  test("building the readState frame runs no job") {
    val tmp = Files.createTempDirectory("upload_state").toString
    val snap = SnapshotSource.read(spark, writeCsv("", (1 to 20).map(i => (f"ACME-$i%05d", i))))
    CdcStream.applyBatchToState(Pipeline.ingest(snap, None, "ACME", "Income"), s"$tmp/state")
    val (state, n) = jobs("readState")(CdcStream.readState(spark, s"$tmp/state"))
    assert(n === 0)
    assert(state.schema === spark.read.parquet(s"$tmp/state").drop("bucket").schema)
    assert(state.filter(col("is_current")).count() === 20)
  }
}

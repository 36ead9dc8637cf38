package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.SnapshotDiff

/** [[SnapshotSource.read]] has two parse paths, the driver-side one for
  * a small single file and Spark's CSV reader for everything else. Each
  * fixture is read by both; they must agree on columns, key column and
  * rows, and the driver-side header pick must equal
  * [[SnapshotSource.detectHeaderRow]].
  */
class SnapshotParseParitySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private def writeCsv(content: String): String = {
    val f = Files.createTempDirectory("parity").resolve("snap.csv")
    Files.write(f, content.getBytes(UTF_8))
    f.toString
  }

  /** Both paths over `content`; returns the driver-side snapshot. */
  private def assertParity(content: String): SnapshotSource.Snapshot = {
    val p = writeCsv(content)
    val local = SnapshotSource.readLocal(spark, p, None)
    val dist = SnapshotSource.readDistributed(spark, p, None)
    assert(SnapshotSource.localHeaderRow(spark, SnapshotSource.localRecords(spark, p)) ===
      SnapshotSource.detectHeaderRow(spark, p))
    assert(local.keyColumn === dist.keyColumn)
    assert(local.df.columns.toSeq === dist.df.columns.toSeq)
    assert(local.df.schema === dist.df.schema)
    assert(local.df.count() === dist.df.count())
    assert(local.df.exceptAll(dist.df).isEmpty, "rows only the driver-side parse has")
    assert(dist.df.exceptAll(local.df).isEmpty, "rows only Spark's reader has")
    local
  }

  private def rows(s: SnapshotSource.Snapshot): Set[Seq[String]] =
    s.df.collect().map(r => (0 until r.length).map(r.getString)).toSet

  test("junk prefix rows before the header") {
    val s = assertParity(
      "Some Report Title,,,\nGenerated by tool,,,\nMetric,Date,2024-12-31,2023-12-31\nacme,Cash,1,2\n")
    assert(s.keyColumn === "Metric")
    assert(rows(s) === Set(Seq("acme", "Cash", "1", "2")))
  }

  test("positional prefix drop keeps a data row equal to a junk row") {
    val s = assertParity("acme,Cash,1,2\nMetric,Date,2024-12-31,2023-12-31\nacme,Gold,3,4\nacme,Cash,1,2")
    assert(s.df.count() === 2)
  }

  test("quoted comma") {
    val s = assertParity("Company,Date,note\n\"acme, inc\",2024-01-01,\"a,b\"\nbeta,2024-01-02,c\n")
    assert(rows(s).contains(Seq("acme, inc", "2024-01-01", "a,b")))
  }

  test("quoted newline splits the record as multiLine=false does") {
    val s = assertParity("Company,Date,note\nacme,2024-01-01,\"line one\nline two\"\nbeta,2024-01-02,c\n")
    assert(rows(s) === Set(
      Seq("acme", "2024-01-01", "line one"),
      Seq("line two\"", null, null),
      Seq("beta", "2024-01-02", "c")))
  }

  test("CRLF and lone CR line ends, blank lines between records") {
    val s = assertParity("Company,Date,v\r\nacme,2024-01-01,1\r\n\r\nbeta,2024-01-02,2\rgamma,2024-01-03,3\r\n")
    assert(rows(s).map(_.head) === Set("acme", "beta", "gamma"))
  }

  test("empty header cell and duplicate header names") {
    val s = assertParity("Company,Date,,v,V,v\nacme,2024-01-01,x,1,2,3\nbeta,2024-01-02,y,4,5,6\n")
    assert(s.df.columns.toSeq === Seq("Company", "Date", "_c2", "v3", "V4", "v5"))
  }

  test("after a junk prefix: empty, whitespace-only and duplicate header names") {
    val s = assertParity("Report,,,,,\nCompany,Date,Q1,Q1,  ,\nacme,x,1,2,3,4\nbeta,y,5,6,7,8\n")
    assert(s.df.columns.toSeq === Seq("Company", "Date", "Q12", "Q13", "_c4", "_c5"))
    assert(rows(s) === Set(Seq("acme", "x", "1", "2", "3", "4"), Seq("beta", "y", "5", "6", "7", "8")))
  }

  test("ragged rows, shorter and longer than the header") {
    val s = assertParity("Company,Date,a,b\nacme,2024-01-01\nbeta,2024-01-02,1,2,3,4\ngamma,2024-01-03,5\n")
    assert(rows(s) === Set(
      Seq("acme", "2024-01-01", null, null),
      Seq("beta", "2024-01-02", "1", "2"),
      Seq("gamma", "2024-01-03", "5", null)))
  }

  test("ragged rows after a junk prefix: the width is the first row's") {
    val s = assertParity("Title,\nCompany,Date,a\nacme,2024-01-01,1\n")
    assert(s.df.columns.toSeq === Seq("Company", "Date"))
  }

  test("tabs and spaces around values: only spaces are trimmed") {
    val s = assertParity("Company,Date,v\n  acme ,\t2024-01-01 , \t1\t \nbeta,2024-01-02,   \n")
    assert(rows(s) === Set(Seq("acme", "\t2024-01-01", "\t1\t"), Seq("beta", "2024-01-02", null)))
  }

  test("NaN, null and blank cells normalise to null") {
    val s = assertParity("Company,Date,a,b,c,d\nacme,2024-01-01,NaN,null,,\"\"\nbeta,2024-01-02,nan,NULL, NaN ,x\n")
    assert(rows(s) === Set(
      Seq("acme", "2024-01-01", null, null, null, null),
      Seq("beta", "2024-01-02", null, null, null, "x")))
  }

  test("junk columns are dropped by name") {
    val s = assertParity("Company,Date,Unnamed: 2,a.b,v\nacme,2024-01-01,x,y,1\n")
    assert(s.df.columns.toSeq === Seq("Company", "Date", "v"))
  }

  test("a leading byte-order mark is not part of the first header name") {
    val s = assertParity("\uFEFFCompany,Date,v\nacme,2024-01-01,1\n")
    assert(s.keyColumn === "Company")
  }

  test("duplicate keys: the last row still wins through SnapshotDiff") {
    val content = "Company,Date,v\nacme,2024-01-01,1\nbeta,2024-01-01,2\nacme,2024-01-01,3\n"
    assertParity(content)
    val p = writeCsv(content)
    val prev = Seq(("acme", "2024-01-01", "0"), ("beta", "2024-01-01", "2")).toDF("Company", "Date", "v")
    def newValues(s: SnapshotSource.Snapshot) =
      SnapshotDiff.diff(s.df, Some(prev), s.keyColumn)
        .select(col("event_type"), col("key_value"), col("new_values")("v"))
        .as[(String, String, String)].collect().toSet
    val local = newValues(SnapshotSource.readLocal(spark, p, None))
    assert(local === Set(("update", "acme", "3")))
    assert(local === newValues(SnapshotSource.readDistributed(spark, p, None)))
  }

  test("read takes the driver-side path for a small file only") {
    val p = writeCsv("Company,Date,v\nacme,2024-01-01,1\n")
    def leaves(s: SnapshotSource.Snapshot) = s.df.queryExecution.analyzed.collectLeaves().map(_.nodeName)
    val small = SnapshotSource.read(spark, p)
    assert(leaves(small) === Seq("LocalRelation"))
    assert(small.df.rdd.getNumPartitions === 1)
    // 4 MiB is the largest file parsed on the driver
    val row = "acme,2024-01-01,1\n"
    val header = "Company,Date,v\n"
    val n = ((4 << 20) - header.length) / row.length
    val fits = header + row * n
    assert(leaves(SnapshotSource.read(spark, writeCsv(fits))) === Seq("LocalRelation"))
    val over = SnapshotSource.read(spark, writeCsv(fits + row))
    assert(!leaves(over).contains("LocalRelation"))
    assert(over.df.count() === n + 1)
    val dir = Files.createTempDirectory("parity_dir")
    Files.writeString(dir.resolve("a.csv"), "Company,Date,v\nacme,2024-01-01,1\n")
    val fromDir = SnapshotSource.read(spark, dir.toString)
    assert(fromDir.df.columns.toSeq === Seq("Company", "Date", "v"))
    assert(!leaves(fromDir).contains("LocalRelation"))
  }
}

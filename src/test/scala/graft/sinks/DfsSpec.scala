package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Crash-window pins for the [[Dfs.writeSmall]] swap protocol (round 7
  * ADVICE: the old delete-then-rename version had a window with no
  * live file at all — for CdcStream's bucket marker that silently
  * re-adopted whatever modulus a restarted sink was started with).
  * Each test constructs the exact on-disk state a crash at that point
  * leaves behind, then proves reads heal to an acknowledged value.
  */
class DfsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def freshDir(): Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-dfs").toString
    new Path(d)
  }

  test("writeSmall round-trips and replaces, leaving no protocol residue") {
    val dir = freshDir()
    val fs = Dfs.fs(spark, dir.toString)
    val p = new Path(dir, "marker")
    Dfs.writeSmall(fs, p, "16")
    assert(Dfs.readSmallString(fs, p) === "16")
    Dfs.writeSmall(fs, p, "32")
    assert(Dfs.readSmallString(fs, p) === "32")
    assert(!fs.exists(new Path(dir, "marker.tmp")), "stray .tmp after clean write")
    assert(!fs.exists(new Path(dir, "marker.old")), "stray .old after clean write")
  }

  test("crash between retire and promote: reads heal to the PREVIOUS acknowledged value") {
    val dir = freshDir()
    val fs = Dfs.fs(spark, dir.toString)
    val p = new Path(dir, "marker")
    Dfs.writeSmall(fs, p, "16")
    // crash state: live retired to .old, new value stranded in .tmp
    require(fs.rename(p, new Path(dir, "marker.old")))
    val out = fs.create(new Path(dir, "marker.tmp"), true)
    out.write("32".getBytes("UTF-8")); out.close()
    assert(Dfs.existsSmall(fs, p), "heal must restore existence")
    assert(Dfs.readSmallString(fs, p) === "16", "unacknowledged .tmp must never win")
  }

  test("crash between promote and .old cleanup: the NEW value wins, old is inert") {
    val dir = freshDir()
    val fs = Dfs.fs(spark, dir.toString)
    val p = new Path(dir, "marker")
    Dfs.writeSmall(fs, p, "16")
    // crash state: new value promoted, previous still at .old
    val out = fs.create(new Path(dir, "marker.old"), true)
    out.write("8".getBytes("UTF-8")); out.close()
    assert(Dfs.readSmallString(fs, p) === "16")
    // and the next clean write clears the leftover
    Dfs.writeSmall(fs, p, "32")
    assert(!fs.exists(new Path(dir, "marker.old")))
  }

  test("a stray .tmp alone (crash before any swap) is invisible") {
    val dir = freshDir()
    val fs = Dfs.fs(spark, dir.toString)
    val p = new Path(dir, "marker")
    val out = fs.create(new Path(dir, "marker.tmp"), true)
    out.write("99".getBytes("UTF-8")); out.close()
    assert(!Dfs.existsSmall(fs, p), "never-acknowledged write must not surface")
    Dfs.writeSmall(fs, p, "16")
    assert(Dfs.readSmallString(fs, p) === "16")
  }

  /** A local filesystem whose FIRST rename carries out the move (the
    * winning healer: another reader that found the same crashed swap)
    * and then answers as the losing healer's rename does: `false`, or,
    * with `rerun`, the real rename of the now-missing source, which on
    * the local filesystem throws `FileNotFoundException`.
    */
  private final class LosingRenameFs(rerun: Boolean) extends RawLocalFileSystem {
    private var lost = false
    override def rename(src: Path, dst: Path): Boolean = {
      val moved = super.rename(src, dst)
      if (lost) moved
      else {
        lost = true
        rerun && super.rename(src, dst)
      }
    }
  }

  test("heal that loses the rename to a racing healer returns with live restored (.old and .new)") {
    for (suffix <- Seq(".old", ".new"); rerun <- Seq(false, true)) {
      val dir = freshDir()
      val fs = new LosingRenameFs(rerun)
      fs.initialize(java.net.URI.create("file:///"), new Configuration())
      val live = new Path(dir, "state")
      val aside = new Path(dir, "state" + suffix)
      val out = fs.create(new Path(aside, "part"), true)
      out.write("v".getBytes("UTF-8")); out.close()
      assert(Dfs.heal(fs, live), s"heal from $suffix must report the restore")
      assert(fs.exists(new Path(live, "part")), s"live not restored from $suffix")
      assert(!fs.exists(aside))
      assert(!Dfs.heal(fs, live), "a second heal has nothing to do")
    }
  }

  /** A frame whose data file's footer holds no Spark schema key. */
  private def writeFooterWithoutSparkKey(dir: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message m { required int64 id; optional binary s (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(dir, "part-0.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 7L).append("s", "x"))
    finally w.close()
  }

  test("readParquet takes the footer schema, equal to Spark's inference, and infers without it") {
    val dir = new Path(freshDir(), "t")
    val df = spark.range(3).selectExpr("id", "cast(id as string) s", "map('k', id) m", "current_timestamp() ts")
    df.write.parquet(dir.toString)
    val read = Dfs.readParquet(spark, Seq(dir.toString))
    assert(read.schema === spark.read.parquet(dir.toString).schema)
    assert(read.count() === 3)
    val bare = new Path(freshDir(), "bare")
    writeFooterWithoutSparkKey(bare)
    assert(Dfs.readParquet(spark, Seq(bare.toString)).schema === spark.read.parquet(bare.toString).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Dfs.readParquet(spark, Seq(dir.toString)).schema === read.schema)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("readParquet: a data file deleted after the call fails the query, never an empty frame") {
    val dir = new Path(freshDir(), "t")
    spark.range(3).coalesce(1).write.parquet(dir.toString)
    val read = Dfs.readParquet(spark, Seq(dir.toString))
    val fs = Dfs.fs(spark, dir.toString)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-")).foreach(fs.delete(_, false))
    val e = intercept[Exception](read.count())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[java.io.FileNotFoundException] || String.valueOf(t.getMessage).contains("FILE_NOT_EXIST")),
      e.toString)
  }
}

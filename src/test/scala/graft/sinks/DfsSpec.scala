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
}

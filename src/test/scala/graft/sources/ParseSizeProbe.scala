package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.{GraftSession, Pipeline}
import graft.streaming.CdcStream

/** Diagnostic behind [[SnapshotSource]]'s local-parse size bound (NOT a
  * spec): times one update upload — read, read of the stored version,
  * diff and publish, store — through the driver-side parse and through
  * Spark's reader, at several file sizes, alternating which path runs
  * first. The sheets have the benchmark upload's shape (Company, Date,
  * 119 quarter columns, ~3% blank cells; the update changes one cell in
  * 5% of rows, deletes 1%, inserts 1%).
  *
  * {{{
  * sbt "Test/runMain graft.sources.ParseSizeProbe <work dir> <reps> 150,1000,4000,7500"
  * }}}
  * Prints one `PROBE` line per run and one `SIZE` summary per row count
  * (median seconds per path, pairs the driver-side parse won).
  */
object ParseSizeProbe {
  private val Quarters = 119

  private def sheets(rows: Int, seed: Long): (String, String) = {
    val rnd = new Random(seed)
    def cells() = Seq.fill(Quarters)(if (rnd.nextDouble() < 0.03) "" else f"${rnd.nextInt(5500000) / 100.0 - 5000}%.2f")
    val header = ("Company" +: "Date" +: (1 to Quarters).map(q => s"Q$q")).mkString(",")
    def csv(t: Seq[(String, Seq[String])]) = (header +: t.map { case (k, v) => (k +: v).mkString(",") }).mkString("\n") + "\n"
    val load = (0 until rows).map(i => f"ACME-$i%05d" -> ("Revenue" +: cells()))
    val churn = math.max(1, rows / 100)
    val upd = load.drop(churn).zipWithIndex.map { case ((k, v), i) =>
      if (i % 20 == 0) k -> v.updated(1 + rnd.nextInt(Quarters), "1.00") else k -> v
    } ++ (rows until rows + churn).map(i => f"ACME-$i%05d" -> ("Revenue" +: cells()))
    (csv(load), csv(upd))
  }

  def main(args: Array[String]): Unit = {
    val Array(work, repsS, sizesS) = args
    val spark = GraftSession.builder("local[4]", 4).config("spark.local.dir", s"$work/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val paths = Map[String, String => SnapshotSource.Snapshot](
      "local" -> (SnapshotSource.readLocal(spark, _, None)),
      "dist" -> (SnapshotSource.readDistributed(spark, _, None)))
    def once(in: String, path: String): Seq[Double] = {
      val dir = Files.createTempDirectory(Paths.get(work), "run").toString
      val read = paths(path)
      SnapshotStore.write(read(s"$in/load.csv").df, s"$dir/store")
      val t0 = System.nanoTime()
      val s = read(s"$in/upd.csv")
      val prev = SnapshotStore.readLatest(spark, s"$dir/store").map(SnapshotSource.Snapshot(_, s.keyColumn))
      val t1 = System.nanoTime()
      CdcStream.toWire(Pipeline.ingest(s, prev, "ACME", "Income")).coalesce(1).write.parquet(s"$dir/topic")
      val t2 = System.nanoTime()
      SnapshotStore.write(s.df, s"$dir/store")
      val t3 = System.nanoTime()
      Seq(t1 - t0, t2 - t1, t3 - t2, t3 - t0).map(_ / 1e9)
    }
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    val sizes = sizesS.split(",").map(_.toInt).toSeq
    for (rows <- sizes) {
      val in = Files.createDirectories(Paths.get(work, s"in_$rows")).toString
      val (load, upd) = sheets(rows, rows.toLong)
      Files.write(Paths.get(in, "load.csv"), load.getBytes(UTF_8))
      Files.write(Paths.get(in, "upd.csv"), upd.getBytes(UTF_8))
    }
    for (_ <- 0 until 2; p <- paths.keys) once(s"$work/in_${sizes.head}", p) // warm-up
    for (rows <- sizes) {
      val in = s"$work/in_$rows"
      val bytes = Files.size(Paths.get(in, "upd.csv"))
      val totals = (0 until repsS.toInt).map { rep =>
        val order = if (rep % 2 == 0) Seq("local", "dist") else Seq("dist", "local")
        order.map { p =>
          val t = once(in, p)
          println(f"PROBE rows=$rows bytes=$bytes path=$p rep=$rep read=${t(0)}%.3f publish=${t(1)}%.3f store=${t(2)}%.3f total=${t(3)}%.3f")
          p -> t(3)
        }.toMap
      }
      val (l, d) = (totals.map(_("local")), totals.map(_("dist")))
      println(f"SIZE rows=$rows bytes=$bytes local=${median(l)}%.3f dist=${median(d)}%.3f ratio=${median(l) / median(d)}%.3f localWon=${totals.count(t => t("local") < t("dist"))}/${totals.size}")
    }
    spark.stop()
  }
}

package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport}
import org.apache.spark.sql.types.{DataType, StructType}

/** Hadoop `FileSystem` helpers and the engine's one crash-safe replace
  * protocol for at-rest state: SCD2 state buckets and root, compacted
  * event logs and bucketed indexes, sketch and count tables, ingest
  * blooms and small control files. Everything here resolves the
  * filesystem FROM the path, so `file:`, `hdfs:`, `s3a:` and friends all
  * work.
  *
  * The protocol is [[swap]] plus [[heal]]:
  *  - A writer builds the new version aside under a staging name, then
  *    [[swap]]s it in: drop a stale `<live>.old`, retire live to
  *    `<live>.old`, promote the staged version to live, drop `.old`.
  *    A crash leaves live intact (a stray staged version beside it),
  *    or live missing with the previous version at `.old`, or the new
  *    live with a leftover `.old`.
  *  - [[heal]] runs before the next read or write. With live missing it
  *    rolls forward to `<live>.new` when that exists, otherwise back to
  *    `<live>.old`. The staging name makes the choice: a writer that
  *    stages at `<live>.new` (the sketch and count tables, the ingest
  *    bloom) has finished and closed it before it retires live, so it is
  *    safe to keep. Every other writer stages elsewhere (`.tmp`,
  *    `.compact`, `.rebucket`, a staging table), and its crashed swap
  *    rolls back to the last acknowledged version. A staged version
  *    beside an intact live is a crash before the retire; the writer
  *    rebuilds it.
  *  - Readers heal restore-only: a stale `.old` next to a live version
  *    never blocks a read, and deleting it would mutate state the writer
  *    owns. Writers pass `clearStaleOld = true` and drop it. Two readers
  *    may find the same crashed swap; the one whose rename loses finds
  *    live restored and counts that as a heal.
  *  - Single writer per live path, as everywhere in this engine.
  *
  * Atomicity: `FileSystem.rename` is atomic on `file:` and `hdfs:`, so
  * every crash window above is one of the listed states. On S3A a
  * rename is a copy then a delete; a crash inside one can leave a
  * partial directory under a name [[heal]] takes for complete. On an
  * object store, flip a catalog location instead (`ALTER TABLE ... SET
  * LOCATION`, metastore-atomic) or keep the state in a transactional
  * table format.
  */
object Dfs {

  def conf(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()

  /** FileSystem owning `path` (scheme-aware; defaults to the local FS
    * for bare paths, matching how Spark itself resolves them).
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(conf(spark))

  def exists(fs: FileSystem, p: Path): Boolean = fs.exists(p)

  def mkdirs(fs: FileSystem, p: Path): Unit = { fs.mkdirs(p); () }

  /** Move `src` over to a NOT-YET-EXISTING `dst`. The existence guard is
    * load-bearing: the local `FileSystem` implements POSIX rename, which
    * would nest `src` INSIDE an existing `dst` directory instead of
    * failing like HDFS does — this turns a protocol violation into a
    * loud error.
    */
  def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    require(!fs.exists(dst), s"move target $dst already exists")
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }

  def rmTree(fs: FileSystem, p: Path): Unit = {
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  private[graft] val RetiredSuffix = ".old"

  /** `<live>.old`, where [[swap]] retires the live version. */
  private[graft] def retired(live: Path): Path = live.suffix(RetiredSuffix)

  /** `<live>.new`, the one staging name [[heal]] rolls forward from. */
  private[graft] def staged(live: Path): Path = live.suffix(".new")

  /** Replace `live` (file or directory; absent on a first write) with
    * the complete version at `fresh` (object scaladoc). The caller
    * chooses `fresh`: `<live>.new` when a crash after the retire
    * should keep the new version, any other name when it should roll
    * back.
    */
  def swap(fs: FileSystem, live: Path, fresh: Path): Unit = {
    val old = retired(live)
    rmTree(fs, old) // a crash after an earlier promote left it
    if (fs.exists(live)) move(fs, live, old)
    move(fs, fresh, live)
    rmTree(fs, old)
  }

  /** Repair a [[swap]] that crashed (object scaladoc); true when live
    * was missing and has been restored. With live present it does
    * nothing, except that a writer (`clearStaleOld`) drops a leftover
    * `.old`.
    */
  def heal(fs: FileSystem, live: Path, clearStaleOld: Boolean = false): Boolean = {
    val old = retired(live)
    if (fs.exists(live)) {
      if (clearStaleOld) rmTree(fs, old)
      false
    } else {
      val fresh = staged(live)
      val src =
        if (fs.exists(fresh)) {
          rmTree(fs, old) // superseded; dropped first so a racing healer cannot pick it
          fresh
        } else if (fs.exists(old)) old
        else return false
      // a racing healer that moved `src` first makes this rename fail
      // (or, on the local FS, throw for the missing source)
      val moved =
        try fs.rename(src, live)
        catch { case _: java.io.FileNotFoundException => false }
      require(moved || fs.exists(live), s"heal rename $src -> $live failed and $live is still absent")
      true
    }
  }

  /** Write a small control file (bucket markers, batch markers)
    * crash-safely: write a `.tmp` sibling and [[swap]] it in. `.tmp` is
    * not `.new`, so [[heal]] never promotes a write that was not
    * acknowledged to the caller.
    */
  def writeSmall(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val tmp = p.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    swap(fs, p, tmp)
  }

  def writeSmall(fs: FileSystem, p: Path, content: String): Unit =
    writeSmall(fs, p, content.getBytes(UTF_8))

  /** Existence check for a [[writeSmall]] target that heals first — use
    * this (not bare `exists`) to gate reads of swap-protocol files.
    */
  def existsSmall(fs: FileSystem, p: Path): Boolean = {
    heal(fs, p)
    fs.exists(p)
  }

  def readSmall(fs: FileSystem, p: Path): Array[Byte] = {
    heal(fs, p)
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  def readSmallString(fs: FileSystem, p: Path): String = new String(readSmall(fs, p), UTF_8)

  /** Child directories of `root` (empty when root is absent). */
  def listDirs(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toIndexedSeq

  /** Read the parquet directories `dirs` with the Spark schema stored in
    * the footer of their first data file (the
    * `org.apache.spark.sql.parquet.row.metadata` key every Spark writer
    * sets): a driver-side footer read, where `spark.read.parquet` runs a
    * schema-inference job. Spark's inference without schema merging
    * also reads one file's footer, so the schema is the same. It infers
    * instead when `spark.sql.parquet.mergeSchema` is on, no data file is
    * found or the footer lacks the key.
    *
    * The footer is read now, the data when the frame runs: a data file
    * deleted after its listing here fails with a missing-file error,
    * in this call or in the query.
    */
  def readParquet(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else firstDataFile(spark, dirs).flatMap(footerSchema(spark, _))
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(dirs: _*)
  }

  /** The first file Spark would read under `dirs`, in listing order. */
  private def firstDataFile(spark: SparkSession, dirs: Seq[String]): Option[Path] = {
    val hadoop = conf(spark)
    dirs.iterator.flatMap { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(hadoop)
      if (!fs.exists(dir)) Iterator.empty
      else
        fs.listStatus(dir).iterator.filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
        }.map(_.getPath)
    }.nextOption()
  }

  private def footerSchema(spark: SparkSession, file: Path): Option[StructType] = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf(spark)), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    Option(footer.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
  }
}

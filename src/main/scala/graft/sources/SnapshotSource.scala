package graft.sources

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.Dfs

/** Wide-snapshot CSV reader (reference S1/F13/F8: `app/app.py:129,
  * 609-614, 144-146`): header auto-detection, first-column key
  * promotion, blank/NaN -> null normalization, all values kept as
  * strings (the reference's degradation, diffed as strings — SURVEY.md
  * §1.2).
  *
  * Two parse paths with one result. An upload is one small file (the
  * reference's `POST /upload` size), so [[read]] parses a single
  * uncompressed file of at most [[LocalParseMaxBytes]] on the driver:
  * no Spark job, and the frame it returns is a one-partition local
  * relation that the diff and [[SnapshotStore.write]] plan without a
  * CSV scan or a per-column normalising projection. Directories, several
  * files, compressed or larger files take the distributed reader.
  */
object SnapshotSource {

  final case class Snapshot(df: DataFrame, keyColumn: String)

  /** Largest single file [[read]] parses on the driver (4 MiB). The
    * driver-side parse gives a one-partition frame, so the diff and the
    * store run on one core; from ~6 MB on Spark's reader, which splits
    * the file, is as fast or faster. `ParseSizeProbe` (read, diff and
    * publish, store of an upload-shaped sheet, local[4], median of 10,
    * driver-side over Spark's reader): 0.47x at 156 KB, 0.81x at 4.1 MB,
    * 1.02x at 6.2 MB, 1.11x at 7.8 MB.
    */
  private val LocalParseMaxBytes = 4L << 20

  /** Header auto-detect (reference `app/app.py:609-614`): among the
    * first 3 rows, the header is the first containing a cell with
    * "date" (case-insensitive); defaults to row 0. Over a 3-row sample,
    * never a full scan; [[read]]'s driver-side parse applies the same
    * rule to its parsed rows.
    */
  def detectHeaderRow(spark: SparkSession, path: String): Int = {
    val head3 = spark.read
      .option("header", "false")
      .csv(path)
      .limit(3)
      .collect()
    math.max(head3.indexWhere(r => (0 until r.length).exists(i => mentionsDate(r.getString(i)))), 0)
  }

  private def mentionsDate(cell: String): Boolean = cell != null && cell.toLowerCase.contains("date")

  /** Read a snapshot: skip pre-header junk rows, promote the first
    * column to key, normalize empty/NaN strings to null. `headerRow`
    * overrides [[detectHeaderRow]].
    */
  def read(spark: SparkSession, path: String, headerRow: Option[Int] = None): Snapshot =
    if (isSmallFile(spark, path)) readLocal(spark, path, headerRow)
    else readDistributed(spark, path, headerRow)

  /** One regular, uncompressed file of at most [[LocalParseMaxBytes]],
    * named without glob characters (Spark would expand them).
    */
  private def isSmallFile(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    !path.exists("*?[]{}\\".contains(_)) &&
    new CompressionCodecFactory(Dfs.conf(spark)).getCodec(p) == null && {
      val fs = Dfs.fs(spark, path)
      fs.exists(p) && {
        val st = fs.getFileStatus(p)
        st.isFile && st.getLen <= LocalParseMaxBytes
      }
    }
  }

  /** The reader's default options; `header` only tells
    * `makeSafeHeader` to keep the names it is given.
    */
  private def csvOptions(spark: SparkSession): CSVOptions = {
    val conf = spark.sessionState.conf
    new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning, conf.sessionLocalTimeZone)
  }

  /** The file's records as Spark's `multiLine=false` reader tokenizes
    * them: the text split at `\n`, `\r\n` or `\r` as Hadoop's line
    * reader splits it (so a quoted line break splits the record, as in
    * Spark), blank lines dropped, each line parsed by univocity with the
    * reader's default settings.
    */
  private[sources] def localRecords(spark: SparkSession, path: String): IndexedSeq[Array[String]] = {
    val opts = csvOptions(spark)
    val in = Dfs.fs(spark, path).open(new Path(path))
    val text =
      try new String(in.readAllBytes(), opts.charset)
      finally in.close()
    val lines = text.split("\r\n|\r|\n", -1).iterator
    val parser = new CsvParser(opts.asParserSettings)
    CSVExprUtils.filterCommentAndEmpty(lines, opts)
      .map(l => Option(parser.parseLine(l)).getOrElse(Array.empty[String]))
      .toIndexedSeq
  }

  /** [[detectHeaderRow]]'s rule over [[localRecords]]. */
  private[sources] def localHeaderRow(spark: SparkSession, records: IndexedSeq[Array[String]]): Int = {
    val cells = cellsOf(spark, records)
    math.max(records.take(3).indexWhere(r => cells(r).exists(mentionsDate)), 0)
  }

  /** A record as the reader's row: the width of the file's first record
    * (the headerless reader's schema), missing cells and empty cells
    * null.
    */
  private def cellsOf(spark: SparkSession, records: IndexedSeq[Array[String]]): Array[String] => Array[String] = {
    val width = records.headOption.fold(0)(_.length)
    val nullValue = csvOptions(spark).nullValue
    r => Array.tabulate(width)(i => if (i < r.length && r(i) != nullValue) r(i) else null)
  }

  /** [[read]] on the driver: the distributed path's header naming, junk
    * prefix drop, junk-column filter and normalization, in Scala, over
    * [[localRecords]].
    */
  private[sources] def readLocal(spark: SparkSession, path: String, headerRow: Option[Int]): Snapshot = {
    val records = localRecords(spark, path)
    val skip = headerRow.getOrElse(localHeaderRow(spark, records))
    val cells = cellsOf(spark, records)
    // skip == 0 is the header=true reader (raw header cells); skip > 0
    // the re-labelled headerless one (trimmed cells)
    val names =
      if (skip == 0) safeHeader(spark, records.headOption.getOrElse(Array.empty[String]))
      else trimmedHeader(spark, cells(records.take(skip + 1).last))
    val keep = keptColumns(names.toSeq)
    val rows = records.drop(skip + 1).map { r =>
      val c = cells(r)
      Row.fromSeq(keep.map(i => normalized(c(i))))
    }
    val schema = StructType(keep.map(i => StructField(names(i), StringType)))
    Snapshot(spark.createDataFrame(rows.asJava, schema).coalesce(1), names(keep.head))
  }

  /** Column names from a header row, made safe as Spark's `header=true`
    * reader makes them: an empty cell is named `_c<i>`, and names that
    * repeat (case-insensitively unless the session is case-sensitive)
    * get their position appended.
    */
  private def safeHeader(spark: SparkSession, cells: Array[String]): Array[String] =
    CSVUtils.makeSafeHeader(cells, spark.sessionState.conf.caseSensitiveAnalysis, csvOptions(spark))

  /** [[safeHeader]] of a header row found after a junk prefix, each
    * cell trimmed first (a whitespace-only cell is then empty).
    */
  private def trimmedHeader(spark: SparkSession, cells: Array[String]): Array[String] =
    safeHeader(spark, cells.map(c => if (c == null) null else c.trim))

  /** Spark's `trim` (spaces only), then empty/NaN/NULL -> null. */
  private def normalized(v: String): String =
    if (v == null) null
    else {
      val t = UTF8String.fromString(v).trim().toString
      val u = t.toUpperCase(Locale.ROOT)
      if (t.isEmpty || u == "NAN" || u == "NULL") null else t
    }

  /** P3 (reference `azuredatalake.py:175`): the positions of the
    * columns to keep, junk columns (Unnamed/dotted artifacts of
    * spreadsheet exports) dropped — a name filter, never a data scan;
    * all columns when every one is junk.
    */
  private def keptColumns(columns: Seq[String]): Seq[Int] = {
    val junkFree = columns.indices.filterNot(i => columns(i).startsWith("Unnamed") || columns(i).contains("."))
    if (junkFree.isEmpty) columns.indices else junkFree
  }

  /** [[read]] through Spark's CSV reader, for any path. */
  private[sources] def readDistributed(spark: SparkSession, path: String, headerRow: Option[Int]): Snapshot = {
    val skip = headerRow.getOrElse(detectHeaderRow(spark, path))
    val raw =
      if (skip == 0)
        spark.read.option("header", "true").csv(path)
      else {
        // re-read with the detected header: drop the first `skip` rows by
        // reading headerless and re-labeling from the detected header row
        val noHeader = spark.read.option("header", "false").csv(path)
        val headerRow = noHeader.limit(skip + 1).collect().last
        val named = noHeader.toDF(trimmedHeader(spark, Array.tabulate(headerRow.length)(headerRow.getString)).toSeq: _*)
        // POSITIONAL prefix drop (not a value-based exceptAll, which
        // would remove a matching data row from anywhere in the file):
        // per-file row position = row_number over (input_file_name,
        // monotonically_increasing_id). mII is strictly increasing in
        // physical row order within a partition and files are read
        // sequentially inside a packed partition, so ordering by it
        // within each file recovers the exact file position even when
        // Spark packs several small CSVs into one partition (a
        // first-block/ordinal heuristic would silently keep later files'
        // junk rows). Costs one shuffle on the rare skip>0 path only —
        // junk-prefixed uploads are small by construction.
        val w = Window.partitionBy(input_file_name()).orderBy(monotonically_increasing_id())
        named
          .withColumn("_pos", row_number().over(w))
          .filter(col("_pos") > skip + 1)
          .drop("_pos")
      }
    val keep = keptColumns(raw.columns.toSeq).map(raw.columns(_))
    val cleaned = raw.select(keep.map { c =>
      val v = trim(raw(c))
      when(v === "" || upper(v) === "NAN" || upper(v) === "NULL", lit(null))
        .otherwise(v)
        .as(c)
    }: _*)
    Snapshot(cleaned, keep.head)
  }

  /** Union heterogeneous sheets/files by name (reference U1,
    * `app/app.py:646`): missing columns null-filled.
    */
  def unionSnapshots(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** F11 date-column inference (reference `consumer.py:276-300`): first
    * column whose lowercase name is a known date word, else None.
    */
  def inferDateColumn(columns: Seq[String]): Option[String] = {
    val dateWords = Set("date", "time", "period", "month", "day")
    columns.find(c => dateWords.contains(c.toLowerCase))
  }

  /** P1 operational projection (reference `azuredatalake.py:236-254`):
    * `Date` + any column whose name contains id/code/key
    * (case-insensitive); fallback first 3 columns; append a literal
    * company_id. The name predicate is driver-side over `df.columns` —
    * never a data scan.
    */
  def operationalProjection(df: DataFrame, companyId: String): DataFrame = {
    val cols = df.columns
    val picked = cols.filter { c =>
      val lc = c.toLowerCase
      lc == "date" || lc.contains("id") || lc.contains("code") || lc.contains("key")
    }
    val keep = if (picked.nonEmpty) picked.toSeq else cols.take(3).toSeq
    df.select(keep.map(df(_)): _*)
      .withColumn("company_id", org.apache.spark.sql.functions.lit(companyId))
  }
}

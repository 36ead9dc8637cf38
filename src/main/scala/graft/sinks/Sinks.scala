package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink surface (SURVEY.md §2.1 S8-S12): partitioned append tables
  * replacing the reference's per-event files and row-at-a-time inserts.
  *
  * Layout principle for 100 TB: the reference's logical layout
  * (company/table/metric as directories, one file per event/metric —
  * `azuredatalake.py:181-214`) becomes partition COLUMNS of append-only
  * tables. Same prunability, none of the small-file explosion; writers
  * append whole micro-batches.
  */
object Sinks {

  /** S8: append-only CDC event log, partitioned for pruning by tenant
    * and day (the two predicates every readback query carries).
    */
  def appendEventLog(events: DataFrame, path: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .write
      .mode(SaveMode.Append)
      .partitionBy("company_id", "table_name", "event_date")
      .parquet(path)

  /** S10/R1: per-metric long table — `partitionBy(metric)` instead of the
    * reference's file-per-metric (`azuredatalake.py:181-214`).
    */
  def writeMetricPartitioned(long: DataFrame, path: String): Unit =
    long.write.mode(SaveMode.Overwrite).partitionBy("metric").parquet(path)

  /** Bucketed table at rest: pre-hash-partition (and sort) the data by
    * its join/agg keys so downstream equi-joins and aggregations on
    * `keys` read co-located buckets and skip the shuffle entirely —
    * THE layout lever for repeated 100 TB fact-to-fact joins (broadcast
    * covers small dims; bucketing covers big-big). `saveAsTable` is
    * required: bucket metadata lives in the catalog, not the files.
    * SurfaceSpec proves the join and agg plans over two bucketed tables
    * contain no Exchange.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      numBuckets: Int = 64
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Append into an existing bucketed table with the SAME bucket spec
    * (Spark validates the spec against the catalog): each append writes
    * its own per-bucket files, so reads still co-locate/prune by the
    * bucket column and the append is O(batch). Periodic compaction of
    * accumulated per-append files is [[compactEventLog]]'s job shape.
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      numBuckets: Int = 64
  ): Unit = {
    // a table left dir-less by a compaction crash must heal BEFORE the
    // append, or the bucketed writer would lay a fresh empty dir over
    // the swap window and orphan the whole pre-crash index in `.old`
    recoverBucketedSwap(df.sparkSession, table, clearStaleOld = true)
    df.write
      .mode(SaveMode.Append)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Parse a possibly-qualified table name (`db.idx`) the same way the
    * SQL layer does — building `TableIdentifier(table)` from the raw
    * string would treat the whole name as one identifier, and
    * single-backtick interpolation into SQL text breaks on the dot.
    */
  private[graft] def parseIdent(
      spark: SparkSession,
      table: String
  ): org.apache.spark.sql.catalyst.TableIdentifier =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  /** The staging/retire names of a staged table publish — graft-owned
    * by contract wherever the protocol is used (BPE models, prop-
    * carrying index builds), like the `__compact` staging table of
    * [[compactBucketed]].
    */
  private[graft] def stagedName(table: String): String = table + "__stage"
  private[graft] def retiredName(table: String): String = table + "__retire"

  /** Restore-only heal of a staged publish left mid-crash: a crash
    * between [[publishStaged]]'s two RENAMEs leaves the live name
    * missing with the previous table intact at `__retire` — rename it
    * back so readers keep working (the [[recoverBucketedSwap]]
    * read-side discipline: restore, never advance — completing the
    * swap is the WRITER's job on its next run).
    *
    * Read-path callers (index probes, codebook readers) invoke this
    * unconditionally, which makes their one possible metastore write a
    * RENAME that only ever restores a crashed writer's state — the
    * same trade [[recoverBucketedSwap]]'s read-side directory restore
    * already makes. A deployment whose readers hold no metastore write
    * rights sees the rename fail with the crashed swap surfacing as
    * table-not-found until the writer's next run heals it — the honest
    * read-only behavior (`Bpe.readModel(heal = false)` is the explicit
    * opt-out precedent where a caller needs to declare that mode).
    */
  def recoverStagedPublish(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(retiredName(table))) {
      val from = parseIdent(spark, retiredName(table)).quotedString
      val to = parseIdent(spark, table).quotedString
      spark.sql(s"ALTER TABLE $from RENAME TO $to")
      ()
    }

  /** Publish a fully-written staging table (`<table>__stage` — data AND
    * table properties already in place) as `table`: live → `__retire`,
    * stage → live (each rename metastore-atomic; the crash window
    * between them heals restore-only via [[recoverStagedPublish]]),
    * then drop the retired copy. A reader concurrent with the publish
    * sees the old table, the new table, or a clean table-not-found in
    * the one instant between the renames — never a partial or
    * props-less table.
    *
    * Retry discipline (ADVICE r16, both halves): a READER racing the
    * crash window can heal retire → live between our renames, making
    * the stage → live rename fail on the restored name — each retry
    * demotes the restored copy and tries again (bounded: each retry
    * consumes one reader heal). Two hardenings over the bounded loop
    * alone:
    *  - stage ABSENT at the top of a RETRY (never the first attempt —
    *    ADVICE r17) means OUR OWN previous stage → live rename actually
    *    SUCCEEDED and only the client-side acknowledgement was lost —
    *    the new table is live; demoting it here would retire the
    *    just-published table and then throw with nothing live. Treat it
    *    as published. At ENTRY the same observation has no such
    *    explanation — no rename of ours has run — so a missing stage is
    *    a caller bug (nothing was staged), and "succeeding" would fall
    *    through to the retire drop and could delete a crashed swap's
    *    only surviving copy. Fail loud instead.
    *  - the live → retire demotion runs inside the same NonFatal
    *    handler as the publish rename, so a failing demotion consumes a
    *    bounded attempt instead of escaping the loop uncaught.
    *
    * `afterRename` is a test-only seam: it runs after a successful
    * stage → live rename, INSIDE the attempt's failure handler, so a
    * spec can simulate the lost-acknowledgement window (rename applied,
    * client saw an error) without a mockable metastore.
    */
  private[graft] def publishStaged(
      spark: SparkSession,
      table: String,
      afterRename: () => Unit = () => ()
  ): Unit = {
    val liveIdent = parseIdent(spark, table).quotedString
    val stageIdent = parseIdent(spark, stagedName(table)).quotedString
    val retireIdent = parseIdent(spark, retiredName(table)).quotedString
    if (!spark.catalog.tableExists(stagedName(table)))
      throw new IllegalStateException(
        s"publishStaged($table): staging table ${stagedName(table)} does not exist — " +
          "nothing was staged (write the stage via publishViaStage/writeTableWithProps). " +
          "Treating this as an already-completed publish is only safe after this call's " +
          "own rename has run; at entry it would report success for a publish that never " +
          "happened and then drop the __retire copy — possibly a crashed swap's only " +
          "surviving table.")
    var attempts = 0
    var published = false
    var lastErr: Throwable = null
    while (!published && attempts < 3) {
      attempts += 1
      if (attempts > 1 && !spark.catalog.tableExists(stagedName(table))) published = true
      else
        try {
          if (spark.catalog.tableExists(table))
            spark.sql(s"ALTER TABLE $liveIdent RENAME TO $retireIdent")
          spark.sql(s"ALTER TABLE $stageIdent RENAME TO $liveIdent")
          afterRename()
          published = true
        } catch { case scala.util.control.NonFatal(e) => lastErr = e }
    }
    if (!published) throw lastErr
    spark.sql(s"DROP TABLE IF EXISTS $retireIdent")
    ()
  }

  /** The shared staged-publish envelope: heal previous crash windows,
    * clear OUR leftover stage/retire (tables and catalog-orphaned
    * dirs), run the caller's stage write, stamp props on the stage,
    * publish. Factored so a protocol hardening lands ONCE — the
    * bucketed and unbucketed writers differ only in the stage write
    * itself and in whether a crashed COMPACTION of the live table must
    * heal first (its data dir must be back in place before a rename
    * orphans the `.old` copy).
    */
  private def publishViaStage(
      spark: SparkSession,
      table: String,
      props: Map[String, String],
      healBucketedSwap: Boolean
  )(writeStage: String => Unit): Unit = {
    val stage = stagedName(table)
    val retire = retiredName(table)
    recoverStagedPublish(spark, table)
    if (healBucketedSwap) recoverBucketedSwap(spark, table, clearStaleOld = true)
    spark.sql(s"DROP TABLE IF EXISTS ${parseIdent(spark, stage).quotedString}")
    spark.sql(s"DROP TABLE IF EXISTS ${parseIdent(spark, retire).quotedString}")
    Seq(table, stage, retire).foreach(clearOrphanTableDir(spark, _))
    writeStage(stage)
    if (props.nonEmpty)
      spark.sql(
        s"ALTER TABLE ${parseIdent(spark, stage).quotedString} SET TBLPROPERTIES (" +
          props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
    publishStaged(spark, table)
  }

  /** [[writeBucketedWithProps]] for an UNBUCKETED table — the same
    * staged publish (props before visibility, atomic renames,
    * restore-only heal) without a bucket spec. Used by the ANN index
    * family's sibling tables (codebooks/centroids), whose consistency
    * with the codes table is epoch-stamped through these props.
    */
  def writeTableWithProps(
      df: DataFrame,
      table: String,
      props: Map[String, String]
  ): Unit =
    publishViaStage(df.sparkSession, table, props, healBucketedSwap = false) { stage =>
      df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(stage)
    }

  /** [[writeBucketed]] with table properties stamped BEFORE the data
    * becomes visible under `table` (ADVICE r16): the rows and the
    * properties are written to a staging table and moved into place
    * with [[publishStaged]]'s metastore-atomic renames. The bare
    * write-then-ALTER sequence this replaces had a crash window where
    * the table existed with data but no properties — for contract-
    * carrying index tables (e.g. the MinHash `source` modality, which
    * the DATA cannot pin) a later caller could then backfill the wrong
    * contract permanently. With the staged publish there is no state
    * in which `table` resolves to data without its properties.
    *
    * On an object store / external metastore, the managed-table RENAME
    * moves the data directory — a copy on S3, not a metadata flip; use
    * `ALTER TABLE ... SET LOCATION` semantics there instead (the same
    * caveat [[compactBucketed]] documents for its directory swap).
    */
  def writeBucketedWithProps(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      numBuckets: Int,
      props: Map[String, String]
  ): Unit =
    publishViaStage(df.sparkSession, table, props, healBucketedSwap = true) { stage =>
      df.write
        .mode(SaveMode.Overwrite)
        .bucketBy(numBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet")
        .saveAsTable(stage)
    }

  /** Clear a catalog-orphaned warehouse directory so a managed-table
    * write can proceed: a previous PROCESS's leftover dir that this
    * session's in-memory catalog has no entry for fails
    * `saveAsTable` with LOCATION_ALREADY_EXISTS. GUARDED, not
    * unconditional (advice r14): "no entry in MY catalog" only proves
    * orphanhood for this process — a concurrent process with its own
    * in-memory catalog sharing the warehouse dir could have a live
    * table there. The guard deletes only when every entry LOOKS like
    * Spark parquet-table output (part files / _SUCCESS / dot- and
    * underscore-prefixed bookkeeping, one level of partition/bucket
    * subdirs of the same shape) and throws otherwise, so NON-SPARK
    * foreign data is never silently destroyed. The guard cannot
    * protect a concurrent PROCESS's live Spark table sharing this
    * warehouse dir — that output is indistinguishable from an orphan
    * by content (ADVICE r15); only the documented single-writer
    * discipline (one engine process per warehouse — see
    * [[compactBucketed]]) makes this path safe, and a real metastore
    * is the answer where that discipline can't hold. The guard's job
    * is the narrower one: mistaken deletes of anything that is NOT
    * shaped like our own output fail loud, not quiet.
    */
  private[graft] def clearOrphanTableDir(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(table) || table.contains("/")) return
    val ident = parseIdent(spark, table)
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      ident.database.map(d => s"$d.db/${ident.table}").getOrElse(ident.table).toLowerCase)
    val fs = p.getFileSystem(Dfs.conf(spark))
    if (!fs.exists(p)) return
    def sparkTableLike(dir: org.apache.hadoop.fs.Path, depth: Int): Boolean =
      fs.listStatus(dir).forall { s =>
        val n = s.getPath.getName
        if (s.isFile)
          n.startsWith("_") || n.startsWith(".") || n.endsWith(".parquet")
        else depth < 2 && sparkTableLike(s.getPath, depth + 1)
      }
    require(
      sparkTableLike(p, 0),
      s"warehouse dir $p exists without a catalog entry but does not look like " +
        "Spark table output — refusing to clear it (possibly another process's data); " +
        "remove it manually or register the table")
    Dfs.rmTree(fs, p)
  }

  /** Heal a [[compactBucketed]] data-dir swap left mid-crash, with
    * [[Dfs.heal]] on the table location. Without it the table stays
    * unreadable until someone happens to re-run compaction, so every
    * entry point that consumes a bucketed index table calls it:
    * [[appendBucketed]] and [[compactBucketed]] on the write side
    * (`clearStaleOld = true`), `Dedup.incrementalNearDups` /
    * `Similarity.ivfTopKIndexed` on the read side. A heal also refreshes
    * the table, dropping any cached file listing of the missing dir.
    */
  def recoverBucketedSwap(
      spark: SparkSession,
      table: String,
      clearStaleOld: Boolean = false
  ): Unit = {
    if (!spark.catalog.tableExists(table)) return
    val ident = parseIdent(spark, table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    if (Dfs.heal(loc.getFileSystem(Dfs.conf(spark)), loc, clearStaleOld)) {
      spark.sql(s"REFRESH TABLE ${ident.quotedString}")
      ()
    }
  }

  /** Z-ordered layout at rest: sort the data along an interleaved-bit
    * (Morton) curve over `cols` so parquet min/max stats stay TIGHT on
    * every curve dimension at once — multi-dimensional data skipping
    * where a plain sort only skips on its leading column. A point/range
    * predicate on ANY of the z-columns then prunes most files/row-groups
    * at scan time (Spark evaluates pushed filters against footer stats).
    * This is the standard lakehouse layout lever for 100 TB fact tables
    * queried along several independent dimensions (user, time, value).
    *
    * Mechanics: each column is min/max-scaled to 16 bits (one tiny agg
    * pass for the bounds — at scale, pass cached bounds in), bits are
    * interleaved into one long z-value with codegen'd shift/or
    * arithmetic, and the frame is range-partitioned + sorted by it.
    * ZOrderSpec proves a 2-D range query overlaps strictly fewer files
    * than a single-column sorted layout of the same data.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      nFiles: Int = 64,
      bounds: Map[String, (Double, Double)] = Map.empty
  ): Unit = {
    require(cols.nonEmpty && cols.size <= 4, "z-order over 1-4 columns")
    val have = bounds.keySet
    val need = cols.filterNot(have)
    val computed: Map[String, (Double, Double)] =
      if (need.isEmpty) Map.empty
      else {
        val aggs = need.flatMap(c =>
          Seq(min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c"))
        )
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        // empty input (or an all-null z-column) aggregates to null bounds;
        // unboxing those would NPE deep in the scaling expression
        val nullBound = need.find(c => row.isNullAt(row.fieldIndex(s"mn_$c")))
        nullBound.foreach { c =>
          if (df.isEmpty) {
            df.write.mode(SaveMode.Overwrite).parquet(path) // empty table, valid schema
            return
          }
          throw new IllegalArgumentException(
            s"writeZOrdered: column $c has no non-null values to derive bounds from; " +
              "pass explicit bounds or drop it from the z-order columns")
        }
        need.map(c => c -> (row.getAs[Double](s"mn_$c"), row.getAs[Double](s"mx_$c"))).toMap
      }
    val all = bounds ++ computed
    val bits = 16
    val scaled = cols.map { c =>
      val (mn, mx) = all(c)
      val range = if (mx > mn) mx - mn else 1.0
      least(
        lit((1 << bits) - 1),
        greatest(lit(0), floor((col(c).cast("double") - mn) / range * ((1 << bits) - 1)))
      ).cast("long")
    }
    // shared Morton math (ops/ZOrder); the 2-dim case takes the 5-op
    // mask-shift spread instead of the bits×ndims fold
    val z = graft.ops.ZOrder.interleaveN(scaled, bits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** Compact the event log's accumulated micro-batch files: rewrite each
    * (company_id, table_name, event_date) partition into
    * ceil(rows / rowsPerFile) files. Streaming appends produce one file
    * per micro-batch per partition — at 100 TB that's the classic
    * small-file problem (open/seek overhead dominates scans; the
    * NameNode/objectstore LIST gets slow). The rewrite is staged at
    * `<path>.compact` and replaced with [[Dfs.swap]], so readers never
    * see a half-compacted log; a crashed swap rolls back through
    * [[Dfs.heal]] at the start of the next run.
    */
  def compactEventLog(
      spark: SparkSession,
      path: String,
      rowsPerFile: Long = 4000000L
  ): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(Dfs.conf(spark))
    val staging = new Path(path + ".compact")
    Dfs.heal(fs, live, clearStaleOld = true)
    spark.read.parquet(path)
      // one shuffle co-locating each partition's rows so the writer emits
      // ceil(rows/rowsPerFile) files per partition instead of one per
      // original input file (AQE coalesces the tiny reducers)
      .repartition(col("company_id"), col("table_name"), col("event_date"))
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy("company_id", "table_name", "event_date")
      .parquet(staging.toString)
    Dfs.swap(fs, live, staging)
  }

  /** Compact a bucketed table's accumulated per-append file-sets into
    * ONE file per bucket. [[appendBucketed]] is O(batch) per append but
    * each append lays down its own per-bucket files — after N daily
    * batches an index table (MinHash/IVF) is an N-files-per-bucket
    * small-file swamp: every probe opens N footers per selected bucket
    * and the object-store LIST grows linearly. The rewrite reads the
    * table once, clusters rows by their BUCKET ID — `pmod(hash(keys), n)`,
    * where `functions.hash` is the same seed-42 murmur3 the bucketed
    * writer derives bucket ids from, so every bucket's rows land in
    * exactly one task and each bucket comes out as exactly one file —
    * and re-writes THROUGH the bucketed writer so file names keep
    * carrying the bucket ids readers prune by. (Clustering by the raw
    * key columns instead would NOT work: distinct key values that share
    * a bucket can hash to different shuffle partitions, splitting one
    * bucket across several writers.)
    *
    * The swap preserves the table's catalog entry (bucket spec AND table
    * properties — e.g. the MinHash index contract — never move): only
    * the data directory under the existing location is exchanged for a
    * staging table's, with [[Dfs.swap]], and healed by
    * [[recoverBucketedSwap]]. On an object store / external metastore,
    * replace the directory swap with `ALTER TABLE ... SET LOCATION`
    * (metastore-atomic; [[Dfs]] on rename atomicity).
    *
    * `transform` rewrites the rows on the way through (same schema out,
    * fewer rows) — the hook sum-on-read tables use to FOLD their
    * per-append partial rows during the same pass (e.g. the gram
    * index's per-gram count merge, [[graft.ops.Dedup.compactGramIndex]]).
    * Identity for plain file compaction.
    */
  def compactBucketed(
      spark: SparkSession,
      table: String,
      transform: DataFrame => DataFrame = identity
  ): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = spark.sessionState.catalog
    val ident = parseIdent(spark, table)
    val meta = cat.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not a bucketed table"))
    recoverBucketedSwap(spark, table, clearStaleOld = true)
    val loc = new Path(meta.location)
    val fs = loc.getFileSystem(Dfs.conf(spark))
    val stagingIdent = TableIdentifier(ident.table + "__compact", ident.database)
    spark.sql(s"DROP TABLE IF EXISTS ${stagingIdent.quotedString}")
    val keys = spec.bucketColumnNames
    val sorts = spec.sortColumnNames
    val writer = transform(spark.table(table))
      .repartition(spec.numBuckets, pmod(hash(keys.map(col): _*), lit(spec.numBuckets)))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
    val sorted = if (sorts.nonEmpty) writer.sortBy(sorts.head, sorts.tail: _*) else writer
    sorted.format("parquet").saveAsTable(stagingIdent.quotedString)
    val stagingLoc = new Path(cat.getTableMetadata(stagingIdent).location)
    Dfs.swap(fs, loc, stagingLoc)
    // the staging entry now points at a moved-away dir; give DROP an
    // empty one so its managed-location cleanup succeeds
    Dfs.mkdirs(fs, stagingLoc)
    spark.sql(s"DROP TABLE ${stagingIdent.quotedString}")
    spark.sql(s"REFRESH TABLE ${ident.quotedString}")
  }

  /** Data files per bucket of a bucketed table — ONE flat LIST of the
    * table location (bucketed managed tables lay files flat), the same
    * cheap signal a compaction daemon would poll. Drives the ingest
    * loop's auto-compaction cadence: appends are O(batch) but each lays
    * down one file-set, so fanout grows linearly until someone compacts.
    */
  def bucketFileFanout(spark: SparkSession, table: String): Double = {
    val meta = spark.sessionState.catalog.getTableMetadata(parseIdent(spark, table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(Dfs.conf(spark))
    if (!fs.exists(loc)) return 0.0
    val nBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(1).toDouble
    val dataFiles = fs
      .listStatus(loc)
      .count(s =>
        s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    dataFiles / nBuckets
  }

  /** Readback with partition pruning (P7 path-predicate equivalent). */
  def readEventLog(
      spark: SparkSession,
      path: String,
      companyId: Option[String] = None,
      tableName: Option[String] = None
  ): DataFrame = {
    val base = spark.read.parquet(path)
    val f1 = companyId.map(c => base.filter(col("company_id") === c)).getOrElse(base)
    tableName.map(t => f1.filter(col("table_name") === t)).getOrElse(f1)
  }
}

package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources & sinks — the Spark-native re-expression of the reference's
  * raw/curated/enterprise zone I/O (SURVEY.md §2.1, S1–S10).
  *
  * The reference's zones are DBFS/ADLS mounts written by Databricks
  * utilities; here every path is a plain Hadoop path so the same code
  * runs on local FS, HDFS, or object stores.
  */
object RawZone {

  /** S3 — raw-zone CSV scan: header row, NO inferSchema, every column
    * arrives as string (reference `main.py:75-79`). Types are imposed
    * later by the declarative cast spec (`ops.Transform.castTypes`),
    * exactly like the reference's poor-man's declared schema.
    *
    * Scale note: schema-less CSV reads avoid the inferSchema extra
    * full pass over 100 TB of input; the single-pass string scan plus
    * cast-in-plan is the right shape for bulk raw ingest.
    */
  def csvAllString(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** S3 production variant — CSV with a declared schema: no inference
    * pass, no all-string detour; malformed rows become nulls
    * (PERMISSIVE), which the pipeline's `na.fill` then normalizes.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-Lines scan with a declared schema — the interchange format
    * of training-data corpora (one JSON document per line). Declared
    * schema for the same reason as [[csv]]: inference would cost an
    * extra full pass over the corpus; malformed lines come back as
    * all-NULL rows (PERMISSIVE) for a downstream quality filter to
    * drop, never an aborted 100 TB job.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S1 — fetch a URL into the raw zone, skipping if the file already
    * exists (reference `extract_functions.py:7-20`: wget-to-disk with
    * the same skip guard). Streamed copy — never buffers the payload
    * in memory, so a multi-GB source file costs 8 KB of heap. The
    * zero-egress harness exercises it with `file://` URLs; `http(s)`
    * flows through the identical `URL.openStream` path.
    *
    * @return true if fetched, false if skipped (already present).
    */
  def fetchToRaw(
      spark: SparkSession, url: String, destDir: String, fileName: String): Boolean = {
    val dest = new Path(destDir, fileName)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dest)) false
    else {
      fs.mkdirs(new Path(destDir))
      // stream to a private temp name, then RENAME into place: the
      // rename is the atomicity point, so (a) a crash mid-copy leaves
      // only temp garbage — the skip-if-exists guard can never trust a
      // half-written dest — and (b) concurrent fetchers race on the
      // rename, where the loser cleans up its own temp, never the
      // winner's complete file
      val tmp = new Path(destDir, s".$fileName.inprogress-${java.util.UUID.randomUUID()}")
      val in = new java.net.URI(url).toURL.openStream()
      try {
        val out = fs.create(tmp, false)
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, true) // closes both
      } catch {
        case e: Throwable =>
          try in.close() catch { case _: Exception => () }
          fs.delete(tmp, false)
          throw e
      }
      if (fs.rename(tmp, dest)) true
      else { // another fetcher completed first — same as the exists-skip
        fs.delete(tmp, false)
        false
      }
    }
  }

  /** S2 — archive/rotate: copy the incoming file set to the dated
    * archive (`archived/yyyy/mm/dd/`) and move it to the `last/`
    * snapshot (reference `extract_functions.py:24-28`, `main.py:63-67`).
    * Pure Hadoop FileSystem metadata ops — no Spark job.
    */
  def archiveAndRotate(
      spark: SparkSession,
      incomingDir: String,
      rawRoot: String,
      date: java.time.LocalDate): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(incomingDir)
    val srcFs = src.getFileSystem(conf)
    val archived = new Path(
      f"$rawRoot/archived/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d")
    // raw zone may live on a different filesystem than the incoming dir
    val rawFs = archived.getFileSystem(conf)
    val last = new Path(s"$rawRoot/last")
    rawFs.mkdirs(archived)
    rawFs.delete(last, true)
    rawFs.mkdirs(last)
    val files = srcFs.listStatus(src).filter(_.isFile)
    files.foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, st.getPath, rawFs, new Path(archived, st.getPath.getName), false, conf)
      val dst = new Path(last, st.getPath.getName)
      val moved =
        if (srcFs.getUri == rawFs.getUri) srcFs.rename(st.getPath, dst)
        else org.apache.hadoop.fs.FileUtil.copy(srcFs, st.getPath, rawFs, dst, true, conf)
      // rename returns false instead of throwing — fail loudly, a
      // silently-left file would be re-archived as a duplicate next run
      if (!moved) throw new java.io.IOException(
        s"archiveAndRotate: failed to move ${st.getPath} to $dst")
    }
  }

  /** S7 — partitioned curated sink. The reference writes
    * `coalesce(1).partitionBy("Year","Month")` (`main.py:235`), which
    * serializes the whole write through one task — an anti-pattern at
    * scale (SURVEY.md §4). The scale-correct shape repartitions by the
    * partition columns so each Hive partition is written by the task
    * that owns it: one shuffle, parallel writers, no small-file storm
    * (one file per partition, like coalesce(1) achieved, but N-way
    * parallel across partitions).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Append,
      options: Map[String, String] = Map.empty): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write
      .options(options)
      .partitionBy(partitionCols: _*)
      .mode(mode)
      .parquet(path)

  /** Unpartitioned overwrite — the batch-version writer used by the
    * schema-evolution round-trip (S11): each schema version lands in
    * its own directory; a merge-schema read unions the footers.
    */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S10 — full-mode wipe-and-reload. The reference deletes + vacuums
    * the Delta table then appends (`main.py:231-235`); on parquet the
    * atomic equivalent is a single overwrite.
    */
  def overwritePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    writePartitioned(df, path, partitionCols, SaveMode.Overwrite)

  /** S16 — DYNAMIC partition overwrite: replace only the partitions
    * present in `df`, leave every other partition's files untouched
    * (`partitionOverwriteMode=dynamic`, set per-write so the session
    * default stays STATIC — a plain overwrite elsewhere must still
    * mean "replace the table"). This is the scale-correct daily
    * correction: restating one day of a year-partitioned 100 TB table
    * rewrites 1/365th of it, where static overwrite would drop the
    * other 364 days and a read-modify-write would scan them. Same
    * repartition-by-partition-cols shape as [[writePartitioned]]
    * (each touched partition written by its owning task, one file per
    * partition, no small-file storm).
    */
  def overwriteDynamicPartitions(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    writePartitioned(df, path, partitionCols, SaveMode.Overwrite,
      Map("partitionOverwriteMode" -> "dynamic"))

  /** S12 — small-file compaction: rewrite a parquet directory into
    * ~`targetFiles` files and swap it in place. Streaming appends and
    * incremental loads accrete files far smaller than a parquet row
    * group; at 100 TB the resulting footer/task explosion dominates
    * scan planning (every query pays it), so compaction is routine
    * table maintenance. Two scale decisions:
    *  - `coalesce`, NOT `repartition`: compaction is an IO rebin —
    *    each output task concatenates a handful of input files; a
    *    shuffle would move the whole table's bytes through the
    *    exchange for nothing. On a partitioned lake this runs
    *    per-partition with the same shape.
    *  - the swap is rename-aside (write `.next`, rename target →
    *    `.old`, `.next` → target, drop `.old`), the same crash-safe
    *    order as the streaming LWW sink: a crash at any step leaves a
    *    complete copy under one of the names, never a half-table.
    *    Readers racing the two renames can see a missing directory —
    *    single-writer maintenance-window semantics, documented (real
    *    snapshot isolation needs a table format with a metadata
    *    pointer; out of scope per SURVEY §7.4's parquet-only
    *    contract).
    */
  /** The rewrite plan compaction executes — factored out so the spec
    * guards THIS plan (coalesce, no exchange), not a look-alike.
    */
  private[sources] def compactionPlan(
      spark: SparkSession, path: String, targetFiles: Int): DataFrame =
    spark.read.parquet(path).coalesce(targetFiles)

  def compactInPlace(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    val conf = spark.sparkContext.hadoopConfiguration
    val tgt = new Path(path)
    val fs = tgt.getFileSystem(conf)
    val next = new Path(path + ".compact-next")
    val old = new Path(path + ".compact-old")
    fs.delete(next, true)
    compactionPlan(spark, path, targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(next.toString)
    fs.delete(old, true)
    if (!fs.rename(tgt, old))
      throw new java.io.IOException(s"compactInPlace: rename $tgt -> $old failed")
    if (!fs.rename(next, tgt))
      throw new java.io.IOException(
        s"compactInPlace: rename $next -> $tgt failed; original preserved at $old")
    fs.delete(old, true)
  }

  /** Bucketed table write — the at-rest co-location scale path: both
    * sides of a recurring fact-fact join written with `bucketBy` on
    * the join key (+ in-bucket sort) join WITHOUT any exchange — the
    * shuffle is paid once at write time, amortized over every
    * subsequent join/aggregation on that key. The complement of
    * [[writePartitioned]] (partitioning prunes scans; bucketing
    * pre-distributes joins).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** S9 — the staged-upsert postActions SQL generator (reference
    * `load_functions.py:2-44`): given staging + target table names, the
    * pipe-separated lookup key list and an optional last-update column,
    * produce the three statements the warehouse runs after the staging
    * load:
    *   1. delete target rows for which staging has a same-key row at
    *      least as new (`>=` ⇒ ties go to staging);
    *   2. delete staging rows strictly older than a surviving target
    *      row (`>`);
    *   3. insert all remaining staging rows into the target.
    * Together: last-writer-wins upsert with tie→staging — the exact
    * semantics `ops.Upsert.lwwUpsert` implements natively in Spark.
    * Without a delta column the match is key-only (staging always
    * wins).
    */
  def stagedUpsertSql(
      staging: String,
      target: String,
      lookupCols: Seq[String],
      deltaCol: Option[String]): Seq[String] = {
    def keyEq(a: String, b: String) =
      lookupCols.map(c => s"$a.$c = $b.$c")
    val newerInStaging =
      (keyEq(staging, target) ++ deltaCol.map(d => s"$staging.$d >= $target.$d"))
        .mkString(" and ")
    val olderInStaging =
      (keyEq(target, staging) ++ deltaCol.map(d => s"$target.$d > $staging.$d"))
        .mkString(" and ")
    Seq(
      s"delete from $target where exists (select 1 from $staging where $newerInStaging);",
      s"delete from $staging where exists (select 1 from $target where $olderInStaging);",
      s"insert into $target select * from $staging;")
  }

  /** S5/S6/S9 — the JDBC read/write option shape of the reference's
    * warehouse connector (`main.py:252-271`, `load_functions.py:53-60`),
    * expressed against Spark's generic JDBC source. `query` pushes the
    * whole statement to the remote engine (the reference pushes
    * `select max(_SK_METRICS_FACT) ...` so the aggregate runs in the
    * DWH, not Spark). Offered as option-map builders so callers can
    * `.format("jdbc").options(...)` when a warehouse is reachable; the
    * harness exercises the same semantics on local tables instead.
    */
  def jdbcQueryOptions(url: String, query: String): Map[String, String] =
    Map("url" -> url, "query" -> query)

  /** @param maxStrLength optional string-column width cap for MPP
    *   warehouse staging tables (the reference pins 4000,
    *   `load_functions.py:58`); omitted from the map when None so the
    *   builder stays drop-in for plain JDBC targets (Spark forwards
    *   unknown options as connection properties, which e.g. Derby
    *   rejects).
    * @param distributionColumn optional HASH-distribution column for
    *   the staging table; Some(col) → `DISTRIBUTION = HASH (col)`,
    *   None with `withTableOptions=true` → `ROUND_ROBIN` — the exact
    *   two table-option strings of `load_functions.py:53-60`.
    */
  def jdbcStagedWriteOptions(
      url: String,
      stagingTable: String,
      postActions: Seq[String],
      maxStrLength: Option[Int] = None,
      distributionColumn: Option[String] = None,
      withTableOptions: Boolean = false): Map[String, String] = {
    val tableOptions = distributionColumn match {
      case Some(c) => Some(s"CLUSTERED COLUMNSTORE INDEX, DISTRIBUTION = HASH ($c)")
      case None if withTableOptions =>
        Some("CLUSTERED COLUMNSTORE INDEX, DISTRIBUTION = ROUND_ROBIN")
      case None => None
    }
    Map(
      "url" -> url,
      "dbtable" -> stagingTable,
      "postActions" -> postActions.mkString("")) ++
      maxStrLength.map(n => "maxStrLength" -> n.toString) ++
      tableOptions.map("tableOptions" -> _)
  }

  // =================================================================
  // S15 — manifest-driven incremental file ingest ("process only new
  // files"). The reference re-reads its full raw zone every run
  // (`main.py:75-79` — the whole `last/` snapshot); the scale-correct
  // landing-zone contract reads only files not yet recorded in a
  // processed-files manifest, so each run's scan cost is proportional
  // to the INCREMENT, not to the accumulated history.
  //
  // Shape at 100 TB: the manifest and the landing listing are both
  // file-METADATA-sized (one short row per file, ~10^5-10^6 entries
  // for a petabyte zone), so the set-difference is a driver-side
  // metadata op — deliberately NOT a distributed anti-join on a
  // `_metadata.file_name` column, which would force Spark to SCAN
  // every historical file just to discard its rows. Selecting the
  // unprocessed paths before `spark.read` means the DataSource only
  // ever opens the new files. This is the same listing+state design
  // as streaming file sources (checkpointed seen-file log), done as
  // an idempotent batch op.
  // =================================================================

  /** File names currently recorded as processed. Empty if the
    * manifest doesn't exist yet (first run) — or exists but holds
    * ONLY commit-protocol debris (`_temporary`/`_SUCCESS`/hidden
    * entries): a commit job that crashed after creating the directory
    * must read as "nothing committed", not brick every later run with
    * a schema-inference error. The empty-read fallback is DELIBERATELY
    * narrowed to that crash signature: a manifest directory with any
    * OTHER layout (a future partitioned rewrite, a committer with
    * different part naming) raises loudly instead of silently reading
    * as empty — which would make incrementalCsvRead re-ingest every
    * landing file as duplicates.
    */
  def processedFiles(spark: SparkSession, manifestDir: String): Set[String] = {
    val p = new Path(manifestDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else {
      // visible = everything a FileSource reader would consider data
      val visible = fs.listStatus(p).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      if (visible.isEmpty) Set.empty // crashed-commit signature
      else if (visible.exists(s => !s.isFile || !s.getPath.getName.endsWith(".parquet")))
        throw new IllegalStateException(
          s"unexpected manifest layout under $manifestDir: " +
            visible.map(_.getPath.getName).sorted.mkString(", ") +
            " — expected only top-level *.parquet part files; refusing to" +
            " treat it as an empty manifest (that would re-ingest every" +
            " landing file)")
      else spark.read.parquet(manifestDir)
        .select("file_name").collect().map(_.getString(0)).toSet
    }
  }

  /** Read only the landing-zone CSV files NOT yet in the manifest,
    * with a `src_file` provenance column. Listing is one FS metadata
    * call; the scan opens new files only. Returns an empty frame with
    * the full schema when there is nothing new (a no-op daily run).
    */
  def incrementalCsvRead(
      spark: SparkSession,
      landingDir: String,
      manifestDir: String,
      schema: StructType): DataFrame = {
    val landing = new Path(landingDir)
    val fs = landing.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen = processedFiles(spark, manifestDir)
    // a not-yet-provisioned landing zone is the same no-op daily run
    // as an empty one, not a crash
    val listed =
      if (fs.exists(landing)) fs.listStatus(landing)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val fresh = listed.filter(_.isFile)
      .map(_.getPath).filterNot(p => seen(p.getName))
      .sortBy(_.getName)
    val outSchema = schema.add("src_file", org.apache.spark.sql.types.StringType)
    if (fresh.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    else
      spark.read.option("header", "true").schema(schema)
        .csv(fresh.map(_.toString).toIndexedSeq: _*)
        .withColumn("src_file", org.apache.spark.sql.functions.col("_metadata.file_name"))
  }

  /** Record file names as processed (append-only manifest; the
    * transactional "commit" step a caller runs AFTER its write of the
    * batch succeeds — same caller-owns-the-transaction contract as
    * the staged-upsert postActions). Idempotent consumers tolerate
    * the crash window between data-write and commit by upserting on
    * the natural key downstream.
    */
  def commitProcessed(
      spark: SparkSession, manifestDir: String, names: Seq[String]): Unit = {
    import spark.implicits._
    if (names.nonEmpty)
      names.toDF("file_name").coalesce(1)
        .write.mode(SaveMode.Append).parquet(manifestDir)
  }
}

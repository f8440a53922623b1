package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader/writer for Delta Lake's TRANSACTION-LOG format — the open
  * protocol published at delta.io (PROTOCOL.md): a `_delta_log/`
  * directory of ordered `%020d.json` commit files (one JSON action per
  * line: `add`, `remove`, `metaData`, `protocol`, `commitInfo`, `txn`),
  * periodically compacted into `%020d.checkpoint.parquet` files pointed
  * at by `_last_checkpoint`. The reference writes `format("delta")`
  * everywhere (`main.py:235`, `load_functions.py:124`) — including a
  * `partitionBy("Year","Month")` curated table — so fidelity requires
  * reading a real log, honoring checkpoints, and surfacing partition
  * values (which live in `add.partitionValues`, NOT in the data files).
  *
  * Scope (guarded loudly, never silently wrong):
  *  - reader versions 1-3 with the features this reader implements:
  *    column mapping (name and id mode), DELETION VECTORS
  *    ([[DeletionVectors]] decodes the bitmaps, [[read]] anti-joins
  *    them on `_metadata.row_index`, and [[deleteWithDv]] WRITES them,
  *    the modern Delta DELETE), v2Checkpoint, typeWidening and
  *    timestampNtz. Any other declared reader feature refuses, and the
  *    check is evaluated over BOTH the JSON commits and the checkpoint
  *    parquet (real checkpoints carry `protocol`/`metaData` rows —
  *    that is what makes the JSON prefix disposable — so a guard that
  *    only saw JSON commits would be silently bypassed after
  *    compaction);
  *  - classic checkpoints, single-part AND multi-part (all N parts of
  *    a complete set union into one scan; incomplete part sets are
  *    ignored, as Delta's own reader does — the JSON log still covers
  *    them), and V2 (UUID-named) checkpoints with sidecars. The WRITER
  *    emits single-part classic checkpoints ([[writeCheckpoint]]) and
  *    V2 checkpoints with one sidecar ([[writeCheckpointV2]]).
  *
  * Scale shape: the action replay runs ON THE DRIVER ([[replay]]) —
  * JSON commits parse with Jackson, the checkpoint parquet is read by
  * one Spark job and collected once per process (later replays of the
  * same file take its decoded actions from a bounded cache), and the
  * last-action-per-path reconciliation is a plain group-by over the
  * FILE-CARDINALITY action list (a 100 TB table is ~10^5-10^6 add
  * actions — metadata-sized; the same driver-memory contract Delta's
  * own snapshot replay has).
  * Reads, txn lookups and both checkpoint writers share that one
  * replay. When `_last_checkpoint` exists the current-snapshot path never
  * LISTS the log directory at all: it reads the pointer and probes
  * forward for the commits after the checkpoint, so a 10^5-commit table
  * costs one checkpoint scan + a handful of existence checks. Data
  * files are then ordinary pruned/pushdown-friendly parquet scans; for
  * partitioned tables each distinct partition tuple becomes one scan
  * branch carrying its values as FOLDABLE literals, so a filter on a
  * partition column prunes whole branches (files, not rows) in the
  * optimizer.
  */
object DeltaLog {

  /** Action schema for the JSON commits — the protocol fields the
    * snapshot replay needs (unknown fields are ignored by schema
    * projection, per the spec's forward-compatibility rule).
    */
  val logSchema: StructType = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** Action schema of the checkpoint parquet this writer emits. A
    * classic checkpoint carries the first six columns, a V2 checkpoint
    * all eight, and a V2 sidecar only `add` and `remove`.
    */
  private val checkpointSchema: StructType = {
    val strMap = MapType(StringType, StringType)
    StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", strMap),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType),
        logSchema("add").dataType.asInstanceOf[StructType]("deletionVector")))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      logSchema("protocol"),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", strMap)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", strMap)))),
      logSchema("txn"),
      logSchema("domainMetadata"),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        StructField("tags", strMap)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType),
        StructField("tags", strMap))))))
  }

  private val JsonCommit = """^(\d{20})\.json$""".r
  private val Checkpoint = """^(\d{20})\.checkpoint\.parquet$""".r
  private val MultiPartCheckpoint = """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
  // V2 (UUID-named) checkpoints — the v2Checkpoint table feature:
  // matched AFTER MultiPartCheckpoint (whose part.total infix would
  // also fit this wildcard)
  private val V2Checkpoint = """^(\d{20})\.checkpoint\.([A-Za-z0-9-]+)\.parquet$""".r

  private val mapper = new ObjectMapper()

  private def jsonPath(logDir: Path, v: Long): Path =
    new Path(logDir, f"$v%020d.json")
  private def checkpointPath(logDir: Path, v: Long): Path =
    new Path(logDir, f"$v%020d.checkpoint.parquet")

  /** One complete checkpoint at a version: `paths` is one parquet for
    * a classic or V2 checkpoint, N for a complete multi-part one; `v2`
    * flags the UUID-named V2 form whose file actions may live in
    * `_sidecars/` parquet referenced by `sidecar` rows.
    */
  private final case class CheckpointRef(paths: Seq[String], v2: Boolean)

  /** `checkpoints` maps a version to its best available checkpoint
    * (classic wins over V2 wins over multi-part when several coexist;
    * incomplete multi-part sets are ignored, as Delta's own reader
    * does — a writer died mid-checkpoint and the JSON log still covers
    * it).
    */
  private final case class LogListing(
      jsons: Map[Long, String], checkpoints: Map[Long, CheckpointRef])

  private def logDirOf(tablePath: String): Path = new Path(tablePath, "_delta_log")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listLog(spark: SparkSession, tablePath: String): LogListing = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    val files = fs.listStatus(logDir).toSeq.map(_.getPath)
    val jsons = files.flatMap { p =>
      p.getName match {
        case JsonCommit(v) => Some(v.toLong -> p.toString)
        case _ => None
      }
    }.toMap
    val singles = files.flatMap { p =>
      p.getName match {
        case Checkpoint(v) => Some(v.toLong -> CheckpointRef(Seq(p.toString), v2 = false))
        case _ => None
      }
    }.toMap
    // multi-part: keep only COMPLETE part sets (all N present, one
    // total N declared consistently); a single-part checkpoint for the
    // same version wins (it is self-contained by construction)
    val multis = files.flatMap { p =>
      p.getName match {
        case MultiPartCheckpoint(v, part, total) =>
          Some((v.toLong, part.toInt, total.toInt, p.toString))
        case _ => None
      }
    }.groupBy(_._1).flatMap { case (v, parts) =>
      val totals = parts.map(_._3).distinct
      val complete = totals.size == 1 &&
        parts.map(_._2).sorted == (1 to totals.head)
      if (complete) Some(v -> CheckpointRef(parts.sortBy(_._2).map(_._4), v2 = false)) else None
    }
    // V2 (UUID-named): any one is complete by itself; pick the
    // lexically-first name for determinism when several writers raced
    val v2s = files.flatMap { p =>
      p.getName match {
        case MultiPartCheckpoint(_, _, _) => None // matched first — not a UUID name
        case V2Checkpoint(v, _) => Some(v.toLong -> p.toString)
        case _ => None
      }
    }.groupBy(_._1).map { case (v, named) =>
      v -> CheckpointRef(Seq(named.map(_._2).min), v2 = true)
    }
    val cps = multis ++ v2s ++ singles // later wins: classic > v2 > multi
    LogListing(jsons, cps)
  }

  /** `_last_checkpoint` pointer, if present: (version, parts) — parts
    * is 1 for a classic checkpoint, N for a multi-part one. A missing,
    * empty or unparsable pointer is None: the caller lists the log.
    */
  private def lastCheckpointVersion(fs: FileSystem, logDir: Path): Option[(Long, Int)] =
    try {
      val in = fs.open(new Path(logDir, "_last_checkpoint"))
      val node = try mapper.readTree(in) finally in.close()
      val parts = if (node != null && node.has("parts")) node.get("parts").asInt() else 1
      if (node == null || !node.path("version").canConvertToLong || parts < 1) None
      else Some((node.get("version").asLong(), parts))
    } catch { case _: java.io.IOException => None }

  /** All parquet paths of the checkpoint at `v` with `parts` parts. */
  private def checkpointPaths(logDir: Path, v: Long, parts: Int): Seq[Path] =
    if (parts <= 1) Seq(checkpointPath(logDir, v))
    else (1 to parts).map(i =>
      new Path(logDir, f"$v%020d.checkpoint.$i%010d.$parts%010d.parquet"))

  /** Locate the checkpoint at version `v` WITHOUT a directory listing
    * (the `_last_checkpoint` fast path): the classic name, the
    * declared multi-part set, or — one bounded glob — a V2 UUID name.
    */
  private def probeCheckpoint(
      fs: FileSystem, logDir: Path, v: Long, parts: Int): Option[CheckpointRef] = {
    val declared = checkpointPaths(logDir, v, parts)
    if (declared.forall(fs.exists))
      Some(CheckpointRef(declared.map(_.toString), v2 = false))
    else {
      val named = Option(fs.globStatus(new Path(logDir, f"$v%020d.checkpoint.*.parquet")))
        .toSeq.flatten.map(_.getPath)
        .filter(_.getName match {
          case MultiPartCheckpoint(_, _, _) => false
          case V2Checkpoint(_, _) => true
          case _ => false
        })
        .map(_.toString).sorted
      named.headOption.map(p => CheckpointRef(Seq(p), v2 = true))
    }
  }

  /** Flatten checkpoint actions (read under [[logSchema]]) to the
    * narrow positional relation [[actFromRow]] reads; a field the
    * source lacks reads as null.
    */
  private def normalize(df: DataFrame): DataFrame = {
    def sub(struct: String, field: String, t: DataType): Column = {
      val ok = df.schema.fieldNames.contains(struct) &&
        (df.schema(struct).dataType match {
          case s: StructType => s.fieldNames.contains(field)
          case _ => false
        })
      if (ok) col(s"$struct.$field").cast(t) else lit(null).cast(t)
    }
    // nested one level deeper: add.deletionVector.<field>
    def dvSub(field: String, t: DataType): Column = {
      val ok = df.schema.fieldNames.contains("add") &&
        (df.schema("add").dataType match {
          case s: StructType if s.fieldNames.contains("deletionVector") =>
            s("deletionVector").dataType match {
              case d: StructType => d.fieldNames.contains(field)
              case _ => false
            }
          case _ => false
        })
      if (ok) col(s"add.deletionVector.$field").cast(t) else lit(null).cast(t)
    }
    df.select(
      sub("add", "path", StringType).as("add_path"),
      sub("add", "partitionValues", MapType(StringType, StringType)).as("add_pvals"),
      sub("add", "size", LongType).as("add_size"),
      sub("add", "stats", StringType).as("add_stats"),
      sub("add", "baseRowId", LongType).as("add_base_row_id"),
      sub("add", "defaultRowCommitVersion", LongType).as("add_default_rcv"),
      dvSub("storageType", StringType).as("dv_storage"),
      dvSub("pathOrInlineDv", StringType).as("dv_path"),
      dvSub("offset", IntegerType).as("dv_offset"),
      dvSub("sizeInBytes", IntegerType).as("dv_size"),
      dvSub("cardinality", LongType).as("dv_cardinality"),
      sub("remove", "path", StringType).as("remove_path"),
      sub("remove", "deletionTimestamp", LongType).as("remove_ts"),
      sub("protocol", "minReaderVersion", IntegerType).as("reader_version"),
      sub("protocol", "minWriterVersion", IntegerType).as("writer_version"),
      sub("protocol", "readerFeatures", ArrayType(StringType)).as("reader_features"),
      sub("protocol", "writerFeatures", ArrayType(StringType)).as("writer_features"),
      sub("metaData", "id", StringType).as("meta_id"),
      sub("metaData", "schemaString", StringType).as("schema_string"),
      sub("metaData", "partitionColumns", ArrayType(StringType)).as("partition_cols"),
      sub("metaData", "configuration", MapType(StringType, StringType)).as("meta_conf"),
      sub("txn", "appId", StringType).as("txn_app"),
      sub("txn", "version", LongType).as("txn_version"),
      sub("domainMetadata", "domain", StringType).as("dm_domain"),
      sub("domainMetadata", "configuration", StringType).as("dm_conf"),
      sub("domainMetadata", "removed", BooleanType).as("dm_removed"),
      col("version"))
  }

  /** The newest `txn` version committed for `appId` (None if never) —
    * the protocol's exactly-once handle for streaming sinks: a writer
    * that stamps each commit with its (appId, epoch) can ask whether
    * an epoch already landed before re-appending it. Sees txn actions
    * carried by checkpoints too ([[writeCheckpoint]] preserves the
    * newest txn per appId, per the spec).
    */
  def lastTxnVersion(spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val logDir = logDirOf(tablePath)
    if (!fsOf(spark, logDir).exists(logDir)) None
    else replay(spark, tablePath, segmentFor(spark, tablePath, None)).txns.get(appId)
  }

  /** Whether `txn`'s (appId, epoch) already landed — the exactly-once
    * early return of every txn-stamped writer: a commit that already
    * landed is NOT re-applied, the mechanism a streaming foreachBatch
    * sink replays safely through.
    */
  private def txnLanded(
      spark: SparkSession, tablePath: String, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (appId, epoch) =>
      lastTxnVersion(spark, tablePath, appId).exists(_ >= epoch) }

  /** Checkpoint actions — crucially, `protocol` and `metaData` are
    * PROJECTED from the checkpoint parquet, not nulled: the protocol
    * REQUIRES every classic checkpoint to carry both actions (that is
    * how the JSON prefix becomes disposable), so a snapshot rooted at a
    * checkpoint still evaluates the reader-feature guard and still
    * learns the partition columns. A checkpoint MISSING those columns
    * is malformed and refused loudly — silently substituting null here
    * is exactly the guard bypass the r11 verdict flagged. [[replay]]
    * calls this only on a [[checkpointCache]] miss, so these guards run
    * on a file's first decode and again whenever it is rewritten; the
    * returned frame costs one Spark job when collected.
    */
  private def checkpointActions(
      spark: SparkSession, version: Long, ref: CheckpointRef, logDir: Path): DataFrame = {
    val paths = ref.paths
    // Footers read DRIVER-side (metadata-sized, as Landing reads them):
    // the malformed-checkpoint guard needs the files' PHYSICAL schema —
    // a declared read schema would null-fill a missing protocol/
    // metaData column, exactly the guard bypass the r11 verdict
    // flagged — and with the footers in hand the Spark reads below
    // declare [[logSchema]], so the per-snapshot schema-inference jobs
    // disappear (r17: two jobs of pure fixed cost per checkpoint-
    // anchored snapshot). Multi-part checkpoints may split the actions
    // across parts, so field presence is the UNION over part footers.
    val hconf = spark.sparkContext.hadoopConfiguration
    val footers = paths.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    def topField(name: String): Boolean = footers.exists(_.containsField(name))
    def subField(struct: String, field: String): Boolean =
      footers.exists { s =>
        s.containsField(struct) && (s.getType(Seq(struct): _*) match {
          case g: org.apache.parquet.schema.GroupType => g.containsField(field)
          case _ => false
        })
      }
    require(topField("protocol") && topField("metaData"),
      s"DeltaLog: malformed checkpoint ${paths.head} — the protocol requires checkpoint " +
        "files to carry the protocol and metaData actions; refusing rather than " +
        "bypassing the reader-feature and partitioning checks")
    require(subField("protocol", "minReaderVersion") && subField("metaData", "partitionColumns"),
      s"DeltaLog: malformed checkpoint ${paths.head} — protocol.minReaderVersion / " +
        "metaData.partitionColumns missing from the checkpoint schema")
    def declaredRead(ps: Seq[String]): DataFrame = normalize(
      LogFileIndex.scan(spark, ps.map(LogFile(_)), new StructType(), Some(logSchema))
        .withColumn("version", lit(version)))
    val top = declaredRead(paths)
    if (!ref.v2) top
    else {
      // V2 checkpoints must self-identify with a checkpointMetadata
      // row, and their file actions may live in SIDECAR parquet under
      // _delta_log/_sidecars/ (referenced by `sidecar.path` — a bare
      // file name or an absolute URI). Inline add/remove (legal too)
      // already flow through `top`.
      require(topField("checkpointMetadata"),
        s"DeltaLog: V2 checkpoint ${paths.head} carries no checkpointMetadata action — " +
          "refusing a file that does not self-identify (spec requirement)")
      // sidecar paths read DRIVER-side too (the rows are file-count-
      // sized): a projected Group read replaces the former collect job
      val sidecars: Seq[String] = {
        val proj = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
          "message p { optional group sidecar { optional binary path (UTF8); } }")
        val readConf = new org.apache.hadoop.conf.Configuration(hconf)
        readConf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          proj.toString)
        val out = Seq.newBuilder[String]
        paths.zip(footers).foreach { case (p, s) =>
          if (s.containsField("sidecar")) {
            val rd = org.apache.parquet.hadoop.ParquetReader
              .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), new Path(p))
              .withConf(readConf).build()
            try {
              var g = rd.read()
              while (g != null) {
                if (g.getFieldRepetitionCount("sidecar") > 0) {
                  val sc = g.getGroup("sidecar", 0)
                  if (sc.getFieldRepetitionCount("path") > 0)
                    out += sc.getString("path", 0)
                }
                g = rd.read()
              }
            } finally rd.close()
          }
        }
        out.result().sorted.map { p =>
          if (p.contains("://") || new Path(p).isAbsolute) p
          else new Path(new Path(logDir, "_sidecars"), p).toString
        }
      }
      if (sidecars.isEmpty) top
      else top.union(declaredRead(sidecars))
    }
  }

  /** The concrete sources a snapshot replays: at most one checkpoint
    * anchor plus the ordered JSON commits after it. `version` is the
    * version the segment reaches, -1 for a log with no commit yet.
    */
  private final case class LogSegment(
      checkpoint: Option[(Long, CheckpointRef)], commits: Seq[(Long, String)]) {
    def version: Long =
      commits.lastOption.map(_._1).orElse(checkpoint.map(_._1)).getOrElse(-1L)
  }

  /** The segment for a snapshot, the one source-selection policy every
    * [[replay]] goes through.
    *
    * Current snapshot (`versionAsOf = None`): prefer the
    * `_last_checkpoint` fast path — checkpoint + forward-probed commits,
    * NO directory listing (the scale path for 10^5-commit logs); fall
    * back to a full listing when the pointer is absent or stale. A log
    * directory that holds no commit yet (a first commit that never
    * landed) gives the empty segment.
    *
    * Time travel (`Some(v)`): replay JSON commits 0..v when they all
    * survive; otherwise anchor on the newest checkpoint c <= v plus the
    * commits (c, v] — so log cleanup before a checkpoint no longer
    * forbids travel to versions the checkpoint covers.
    */
  private def segmentFor(
      spark: SparkSession, tablePath: String, versionAsOf: Option[Long]): LogSegment = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    versionAsOf match {
      case Some(v) =>
        val log = listLog(spark, tablePath)
        if ((0L to v).forall(log.jsons.contains))
          LogSegment(None, (0L to v).map(w => w -> log.jsons(w)))
        else {
          val anchor = log.checkpoints.keySet.filter(_ <= v)
          require(anchor.nonEmpty, {
            val missing = (0L to v).filterNot(log.jsons.contains)
            s"DeltaLog: cannot time-travel to version $v — commit files missing " +
              s"for versions ${missing.take(5).mkString(", ")} and no checkpoint " +
              "at or before that version covers them (log truncated?)"
          })
          val c = anchor.max
          val tail = ((c + 1) to v).map { w =>
            require(log.jsons.contains(w),
              s"DeltaLog: cannot time-travel to version $v — commit file for " +
                s"version $w missing after checkpoint $c")
            w -> log.jsons(w)
          }
          LogSegment(Some(c -> log.checkpoints(c)), tail)
        }
      case None =>
        val fast = lastCheckpointVersion(fs, logDir)
          .flatMap { case (c, parts) => probeCheckpoint(fs, logDir, c, parts).map((c, _)) }
        fast match {
          case Some((c, ref)) =>
            // no listing: probe forward for the commits after the checkpoint
            val tail = Iterator.iterate(c + 1)(_ + 1)
              .takeWhile(v => fs.exists(jsonPath(logDir, v)))
              .map(v => v -> jsonPath(logDir, v).toString).toSeq
            LogSegment(Some(c -> ref), tail)
          case None =>
            val log = listLog(spark, tablePath)
            val versions = log.jsons.keySet ++ log.checkpoints.keySet
            if (versions.isEmpty) return LogSegment(None, Seq.empty)
            val latest = versions.max
            log.checkpoints.keySet.toSeq.sorted.lastOption match {
              case Some(c) =>
                val tail = ((c + 1) to latest).map { v =>
                  require(log.jsons.contains(v),
                    s"DeltaLog: commit file for version $v missing after checkpoint $c")
                  v -> log.jsons(v)
                }
                LogSegment(Some(c -> log.checkpoints(c)), tail)
              case None =>
                val missing = (0L to latest).filterNot(log.jsons.contains)
                require(missing.isEmpty,
                  s"DeltaLog: commit files missing for versions " +
                    s"${missing.take(5).mkString(", ")} and no checkpoint covers them")
                LogSegment(None, (0L to latest).map(w => w -> log.jsons(w)))
            }
        }
    }
  }

  /** One normalized action, driver-resident — the same 26 fields
    * [[normalize]] projects, as plain (nullable) values. [[replay]]
    * runs over these instead of a DataFrame: the log is metadata-sized
    * by protocol design and [[snapshot]] already holds every live file
    * on the driver, so replaying JSON commits through Spark jobs bought
    * no scale — it cost 1 `read.json` + 3 actions PER SNAPSHOT (guard
    * aggregate, metaData head, reconcile collect), the dominant fixed
    * cost of every Delta read at bench scale and pure scheduler
    * overhead at cluster scale. A checkpoint is decoded once per
    * process (one Spark job on first use, then [[checkpointCache]]);
    * commits parse with Jackson like [[cdfFrames]] always has.
    */
  private final case class Act(
      addPath: String, addPvals: Map[String, String], addSize: java.lang.Long,
      addStats: String, addBaseRowId: java.lang.Long, addDefaultRcv: java.lang.Long,
      dvStorage: String, dvPath: String, dvOffset: java.lang.Integer,
      dvSize: java.lang.Integer, dvCardinality: java.lang.Long,
      removePath: String, removeTs: java.lang.Long,
      readerVersion: java.lang.Integer, writerVersion: java.lang.Integer,
      readerFeatures: Seq[String], writerFeatures: Seq[String],
      metaId: String, schemaString: String, partitionCols: Seq[String],
      metaConf: Map[String, String],
      txnApp: String, txnVersion: java.lang.Long,
      dmDomain: String, dmConf: String, dmRemoved: java.lang.Boolean,
      version: Long)

  /** Parse one commit line to an [[Act]]; action-less lines
    * (commitInfo, cdc, unknown forward-compat actions) return None —
    * exactly the rows that fell through every [[normalize]] consumer
    * as all-null.
    */
  private def actFromJson(line: String, version: Long): Option[Act] = {
    import com.fasterxml.jackson.databind.JsonNode
    val root = mapper.readTree(line)
    def node(name: String): Option[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull)
    def str(n: JsonNode, f: String): String = {
      val v = n.get(f)
      if (v == null || v.isNull) null else v.asText
    }
    def lng(n: JsonNode, f: String): java.lang.Long = {
      val v = n.get(f)
      if (v == null || v.isNull) null else java.lang.Long.valueOf(v.asLong)
    }
    def intg(n: JsonNode, f: String): java.lang.Integer = {
      val v = n.get(f)
      if (v == null || v.isNull) null else java.lang.Integer.valueOf(v.asInt)
    }
    def bool(n: JsonNode, f: String): java.lang.Boolean = {
      val v = n.get(f)
      if (v == null || v.isNull) null else java.lang.Boolean.valueOf(v.asBoolean)
    }
    def strSeq(n: JsonNode, f: String): Seq[String] = {
      val v = n.get(f)
      if (v == null || v.isNull) null
      else {
        val b = Seq.newBuilder[String]
        v.forEach(e => b += (if (e.isNull) null else e.asText))
        b.result()
      }
    }
    def strMap(n: JsonNode, f: String): Map[String, String] = {
      val v = n.get(f)
      if (v == null || v.isNull) null
      else {
        val b = Map.newBuilder[String, String]
        val it = v.fields()
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
        }
        b.result()
      }
    }
    val add = node("add")
    val remove = node("remove")
    val protocol = node("protocol")
    val metaData = node("metaData")
    val txn = node("txn")
    val dm = node("domainMetadata")
    if (add.isEmpty && remove.isEmpty && protocol.isEmpty && metaData.isEmpty &&
      txn.isEmpty && dm.isEmpty) None
    else {
      val dv = add.flatMap(a => Option(a.get("deletionVector")).filterNot(_.isNull))
      Some(Act(
        addPath = add.map(str(_, "path")).orNull,
        addPvals = add.map(strMap(_, "partitionValues")).orNull,
        addSize = add.map(lng(_, "size")).orNull,
        addStats = add.map(str(_, "stats")).orNull,
        addBaseRowId = add.map(lng(_, "baseRowId")).orNull,
        addDefaultRcv = add.map(lng(_, "defaultRowCommitVersion")).orNull,
        dvStorage = dv.map(str(_, "storageType")).orNull,
        dvPath = dv.map(str(_, "pathOrInlineDv")).orNull,
        dvOffset = dv.map(intg(_, "offset")).orNull,
        dvSize = dv.map(intg(_, "sizeInBytes")).orNull,
        dvCardinality = dv.map(lng(_, "cardinality")).orNull,
        removePath = remove.map(str(_, "path")).orNull,
        removeTs = remove.map(lng(_, "deletionTimestamp")).orNull,
        readerVersion = protocol.map(intg(_, "minReaderVersion")).orNull,
        writerVersion = protocol.map(intg(_, "minWriterVersion")).orNull,
        readerFeatures = protocol.map(strSeq(_, "readerFeatures")).orNull,
        writerFeatures = protocol.map(strSeq(_, "writerFeatures")).orNull,
        metaId = metaData.map(str(_, "id")).orNull,
        schemaString = metaData.map(str(_, "schemaString")).orNull,
        partitionCols = metaData.map(strSeq(_, "partitionColumns")).orNull,
        metaConf = metaData.map(strMap(_, "configuration")).orNull,
        txnApp = txn.map(str(_, "appId")).orNull,
        txnVersion = txn.map(lng(_, "version")).orNull,
        dmDomain = dm.map(str(_, "domain")).orNull,
        dmConf = dm.map(str(_, "configuration")).orNull,
        dmRemoved = dm.map(bool(_, "removed")).orNull,
        version = version))
    }
  }

  /** A collected [[normalize]]d checkpoint row as an [[Act]] — field
    * positions are normalize's projection order.
    */
  private def actFromRow(r: org.apache.spark.sql.Row): Act = {
    def s(i: Int): String = if (r.isNullAt(i)) null else r.getString(i)
    def l(i: Int): java.lang.Long =
      if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))
    def ii(i: Int): java.lang.Integer =
      if (r.isNullAt(i)) null else java.lang.Integer.valueOf(r.getInt(i))
    def b(i: Int): java.lang.Boolean =
      if (r.isNullAt(i)) null else java.lang.Boolean.valueOf(r.getBoolean(i))
    def sq(i: Int): Seq[String] = if (r.isNullAt(i)) null else r.getSeq[String](i).toSeq
    def m(i: Int): Map[String, String] =
      if (r.isNullAt(i)) null else r.getMap[String, String](i).toMap
    Act(
      addPath = s(0), addPvals = m(1), addSize = l(2), addStats = s(3),
      addBaseRowId = l(4), addDefaultRcv = l(5),
      dvStorage = s(6), dvPath = s(7), dvOffset = ii(8), dvSize = ii(9),
      dvCardinality = l(10),
      removePath = s(11), removeTs = l(12),
      readerVersion = ii(13), writerVersion = ii(14),
      readerFeatures = sq(15), writerFeatures = sq(16),
      metaId = s(17), schemaString = s(18), partitionCols = sq(19), metaConf = m(20),
      txnApp = s(21), txnVersion = l(22),
      dmDomain = s(23), dmConf = s(24), dmRemoved = b(25),
      version = r.getLong(26))
  }

  // ------------------------------------------------ action encoders
  // The inverse of [[actFromJson]]: every commit line any writer lands
  // is built by exactly one of these, one per action kind.

  private def jsonLine(build: ObjectNode => Unit): String = {
    val root = mapper.createObjectNode()
    build(root)
    mapper.writeValueAsString(root)
  }

  /** `partitionValues` under `keys`, in that order; a missing or null
    * value is written as JSON null.
    */
  private def putPartitionValues(
      action: ObjectNode, keys: Seq[String], values: Map[String, String]): Unit = {
    val pv = action.putObject("partitionValues")
    keys.foreach(k => values.get(k).flatMap(Option(_)) match {
      case Some(v) => pv.put(k, v)
      case None => pv.putNull(k)
    })
  }

  /** The `add` action of `f`: its path as given (a new file's encoded
    * relative path, or a logged path verbatim — the string is the log's
    * reconciliation identity), its partition values under
    * `partitionKeys`, the row-tracking pair `rowIds` = (baseRowId,
    * defaultRowCommitVersion) when given, then its stats and deletion
    * vector when present.
    */
  private[graft] def addAction(
      f: DeltaFile, partitionKeys: Seq[String], modificationTime: Long,
      dataChange: Boolean, rowIds: Option[(Long, Long)] = None): String = jsonLine { root =>
    val a = root.putObject("add")
    a.put("path", f.path)
    putPartitionValues(a, partitionKeys, f.partitionValues)
    a.put("size", f.size)
    a.put("modificationTime", modificationTime)
    a.put("dataChange", dataChange)
    rowIds.foreach { case (base, version) =>
      a.put("baseRowId", base)
      a.put("defaultRowCommitVersion", version)
    }
    f.stats.foreach(s => a.put("stats", s))
    f.dv.foreach { d =>
      val dv = a.putObject("deletionVector")
      dv.put("storageType", d.storageType)
      dv.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => dv.put("offset", o))
      dv.put("sizeInBytes", d.sizeInBytes)
      dv.put("cardinality", d.cardinality)
    }
  }

  /** The `remove` action of a logged path (verbatim, so it matches the
    * add that wrote it).
    */
  private def removeAction(path: String, deletionTimestamp: Long, dataChange: Boolean): String =
    jsonLine { root =>
      val r = root.putObject("remove")
      r.put("path", path)
      r.put("deletionTimestamp", deletionTimestamp)
      r.put("dataChange", dataChange)
    }

  /** A `cdc` action: change rows are a description of the change, not
    * table data, so `dataChange = false` per the spec.
    */
  private def cdcAction(
      path: String, partitionKeys: Seq[String], values: Map[String, String], size: Long): String =
    jsonLine { root =>
      val c = root.putObject("cdc")
      c.put("path", path)
      putPartitionValues(c, partitionKeys, values)
      c.put("size", size)
      c.put("dataChange", false)
    }

  /** The `txn` action stamping a commit with (appId, epoch). */
  private def txnAction(txn: (String, Long)): String = jsonLine { root =>
    val t = root.putObject("txn")
    t.put("appId", txn._1)
    t.put("version", txn._2)
  }

  /** The `metaData` action; `configuration` is written in its own order. */
  private[graft] def metaDataAction(
      id: String, schemaString: String, partitionColumns: Seq[String],
      configuration: Iterable[(String, String)]): String = jsonLine { root =>
    val m = root.putObject("metaData")
    m.put("id", id)
    val f = m.putObject("format"); f.put("provider", "parquet"); f.putObject("options")
    m.put("schemaString", schemaString)
    val pc = m.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    configuration.foreach { case (k, v) => cfg.put(k, v) }
  }

  /** The `protocol` action; an empty feature list is left out. */
  private[graft] def protocolAction(
      minReader: Int, minWriter: Int,
      readerFeatures: Seq[String] = Nil, writerFeatures: Seq[String] = Nil): String =
    jsonLine { root =>
      val p = root.putObject("protocol")
      p.put("minReaderVersion", minReader)
      p.put("minWriterVersion", minWriter)
      if (readerFeatures.nonEmpty) {
        val rf = p.putArray("readerFeatures"); readerFeatures.foreach(rf.add)
      }
      if (writerFeatures.nonEmpty) {
        val wf = p.putArray("writerFeatures"); writerFeatures.foreach(wf.add)
      }
    }

  /** The `protocol` action moving `snap`'s table to (3, 7) with
    * `feature` declared on both lists, or None when it already declares
    * it at reader 3. Every feature the table declares, every one its
    * LEGACY version numbers imply, and columnMapping on a mapped table
    * re-declare explicitly — dropping one (say checkConstraints on a v4
    * table) would let a spec-compliant engine append without enforcing
    * it while its metadata stays active.
    */
  private def upgradeProtocol(snap: Snapshot, feature: String): Option[String] =
    if (snap.readerVersion.exists(_ >= 3) && snap.readerFeatures.contains(feature)) None
    else Some(protocolAction(3, 7,
      (snap.readerFeatures + feature ++
        snap.readerVersion.toSet.flatMap(legacyImpliedReaderFeatures) ++
        (if (snap.columnMappingMode != "none") Set("columnMapping") else Set.empty)).toSeq.sorted,
      (snap.writerFeatures ++
        snap.writerVersion.toSet.flatMap(legacyImpliedWriterFeatures) ++
        Set("appendOnly", "invariants", feature)).toSeq.sorted))

  /** The `commitInfo` action leading an in-commit-timestamp commit. */
  private def commitInfoAction(inCommitTimestamp: Long): String = jsonLine { root =>
    val ci = root.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    ci.put("inCommitTimestamp", inCommitTimestamp)
  }

  /** Fresh row ids for newly landed files holding `counts` rows, above
    * the table's high-water `mark` (None before the first allocation):
    * file i takes the contiguous block from `bases(i)` — a row's id is
    * its file's base plus its position — and [[commitWithRowIds]]
    * advances the mark past them in the same commit, so ids are burned
    * exactly once.
    */
  private final case class RowIdBlock(mark: Option[Long], counts: Seq[Long]) {
    val bases: Seq[Long] = counts.scanLeft(mark.getOrElse(-1L) + 1L)(_ + _).init
  }

  /** [[commitActions]] for a commit allocating `rowIds` (None when the
    * table does not track rows): the `delta.rowTracking` domainMetadata
    * line advancing the mark rides last. On a LOST VERSION RACE the
    * retry re-reads the mark and refuses loudly if it moved: the staged
    * line would overwrite the winner's mark (latest-per-domain replay)
    * and the next writer would re-allocate burned ids — a single-writer
    * contract violation surfaces instead of silently corrupting.
    */
  private def commitWithRowIds(
      spark: SparkSession, fs: FileSystem, logDir: Path, tablePath: String, op: String,
      rowIds: Option[RowIdBlock], withIct: Boolean)(lines: Long => Seq[String]): Long = {
    var firstTried: Option[Long] = None
    commitActions(fs, logDir, tablePath, v => {
      rowIds.foreach { r =>
        if (firstTried.isEmpty) firstTried = Some(v)
        else if (!firstTried.contains(v)) {
          val cur = snapshot(spark, tablePath, None).rowIdHighWaterMark
          if (cur != r.mark)
            throw new java.util.ConcurrentModificationException(
              s"DeltaLog: version race on a rowTracking $op of $tablePath — the " +
                s"delta.rowTracking high-water mark moved from ${r.mark} to $cur during " +
                "the commit; the staged base row ids would re-burn allocated ids " +
                "(single-writer contract violated)")
        }
      }
      lines(v) ++ rowIds.filter(_.counts.nonEmpty).map(r =>
        rowTrackingDomainAction(r.mark.getOrElse(-1L) + r.counts.sum))
    }, withIct)
  }

  /** The `delta.rowTracking` domainMetadata action setting the row-id
    * high-water mark to `mark`.
    */
  private def rowTrackingDomainAction(mark: Long): String = jsonLine { root =>
    val d = root.putObject("domainMetadata")
    d.put("domain", "delta.rowTracking")
    d.put("configuration", s"""{"rowIdHighWaterMark":$mark}""")
    d.put("removed", false)
  }

  /** One replay of a [[LogSegment]], on the driver: its version, the
    * LAST action per path (live adds AND remove tombstones, sorted by
    * path), the newest `txn` version per appId, and the resolved
    * [[Snapshot]] (live adds only). Reads, [[lastTxnVersion]] and both
    * checkpoint writers all take their state from here.
    */
  private final case class Replay(
      version: Long, winners: Seq[Act], txns: Map[String, Long], snapshot: Snapshot)

  /** Upper bound on the checkpoint actions [[checkpointCache]] holds:
    * a table of 10^5 files, about 100 MB of driver heap at ~1 KB of
    * stats per add. A larger checkpoint is decoded on every replay.
    */
  private val CheckpointCacheMaxActions = 100000

  /** Decoded checkpoint actions for the whole process, keyed on the
    * checkpoint version plus each part file's qualified path, length
    * and modification time. Checkpoints are immutable by protocol;
    * length and mtime still catch a file rewritten in place, which is
    * then decoded (and guarded) again. A V2 checkpoint keys on its
    * top-level file alone: its sidecars are UUID-named, immutable and
    * referenced only from that file. The value is plain data read from
    * the files, never session state, so every session shares it — the
    * snapshot reuse of Delta's own `DeltaLog.forTable`.
    */
  private val checkpointCache =
    new CheckpointCache[(Long, Seq[(String, Long, Long)]), Act](CheckpointCacheMaxActions)

  /** Replay `seg`: the checkpoint anchor (when one exists) from
    * [[checkpointCache]], decoded through one parquet read only the
    * first time the process meets that file; the JSON commits
    * Jackson-parsed straight off the filesystem (zero Spark jobs); then
    * the protocol guard, metaData pick, per-path reconciliation and
    * domain-metadata resolution as plain Scala over the metadata-sized
    * action list. The guard and everything after it run on every call,
    * hit or miss.
    */
  private def replay(spark: SparkSession, tablePath: String, seg: LogSegment): Replay = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    val cpActs = seg.checkpoint.toSeq.flatMap { case (c, ref) =>
      val parts = ref.paths.map { p =>
        val st = fs.getFileStatus(new Path(p))
        (fs.makeQualified(st.getPath).toString, st.getLen, st.getModificationTime)
      }
      checkpointCache.getOrDecode((c, parts))(
        checkpointActions(spark, c, ref, logDir).collect().map(actFromRow).toSeq)
    }
    val jsonActs = seg.commits.sortBy(_._1).flatMap { case (v, p) =>
      // a DIRECTORY squatting on a commit-file name (the occupied-slot
      // commit-race shape) read as an empty commit under read.json —
      // keep that tolerance: parse the files inside it (none, usually)
      val path = new Path(p)
      val files =
        if (fs.getFileStatus(path).isDirectory)
          fs.listStatus(path).toSeq.filter(_.isFile).map(_.getPath).sortBy(_.getName)
        else Seq(path)
      files.flatMap { f =>
        val in = fs.open(f)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.trim.nonEmpty).toVector
          finally in.close()
        lines.flatMap(actFromJson(_, v))
      }
    }
    val acts = cpActs ++ jsonActs
    // protocol guard — sees checkpoint-carried protocol rows too
    val readerVersion =
      acts.iterator.flatMap(a => Option(a.readerVersion)).map(_.intValue).maxOption
    val readerFeats: Set[String] =
      acts.iterator.flatMap(a => Option(a.readerFeatures)).flatten.toSet
    val writerVersion =
      acts.iterator.flatMap(a => Option(a.writerVersion)).map(_.intValue).maxOption
    val writerFeats: Set[String] =
      acts.iterator.flatMap(a => Option(a.writerFeatures)).flatten.toSet
    readerVersion.foreach { rv =>
      // v3 tables declare their reader features explicitly; any feature
      // outside the implemented set refuses
      val unsupported = readerFeats --
        Set("deletionVectors", "columnMapping", "v2Checkpoint",
          "typeWidening", "typeWidening-preview", "timestampNtz")
      require(rv <= 2 || (rv == 3 && unsupported.isEmpty),
        s"DeltaLog: minReaderVersion $rv with reader features " +
          s"[${readerFeats.mkString(",")}] requires " +
          s"[${unsupported.mkString(",")}] this reader does not implement " +
          "(supported: column mapping, deletion vectors, v2 checkpoints, type widening, " +
          "timestamp without time zone)")
    }
    // latest metaData wins (schema evolution replaces the action)
    val metaRow = acts
      .filter(a => a.partitionCols != null || a.schemaString != null) match {
      case Seq() => None
      case ms => Some(ms.maxBy(_.version))
    }
    val (metaId, schemaStr, pcols, conf) = metaRow match {
      case Some(a) => (
        Option(a.metaId),
        Option(a.schemaString),
        Option(a.partitionCols).getOrElse(Seq.empty),
        Option(a.metaConf).getOrElse(Map.empty[String, String]))
      case None => (None, None, Seq.empty[String], Map.empty[String, String])
    }
    // one live/tombstone winner per path: the LAST action wins, and
    // within one version the ADD wins the tie (a DV commit — and
    // Delta's own DELETE — removes and re-adds the SAME path in one
    // transaction, and the add is the surviving incarnation)
    def pathOf(a: Act): String = if (a.addPath != null) a.addPath else a.removePath
    val winners = acts
      .filter(a => a.addPath != null || a.removePath != null)
      .groupBy(pathOf)
      .map { case (_, as) => as.maxBy(a => (a.version, if (a.addPath != null) 1 else 0)) }
      .toSeq.sortBy(pathOf)
    val live = winners.filter(_.addPath != null).map { w =>
      val dv = Option(w.dvStorage).map { st =>
        DeletionVectors.Descriptor(
          st,
          w.dvPath,
          Option(w.dvOffset).map(_.intValue),
          w.dvSize.intValue,
          Option(w.dvCardinality).map(_.longValue).getOrElse(0L))
      }
      DeltaFile(
        w.addPath,
        Option(w.addPvals).getOrElse(Map.empty),
        Option(w.addSize).map(_.longValue).getOrElse(0L),
        dv,
        Option(w.addStats),
        Option(w.addBaseRowId).map(_.longValue),
        Option(w.addDefaultRcv).map(_.longValue))
    }
    // domain metadata: latest action per domain wins (the protocol's
    // reconciliation rule), a removed=true winner drops the domain
    val domains: Map[String, String] = acts
      .filter(_.dmDomain != null)
      .groupBy(_.dmDomain)
      .flatMap { case (domain, as) =>
        val latest = as.maxBy(_.version)
        val removed = latest.dmRemoved != null && latest.dmRemoved.booleanValue
        if (removed) None
        else Some(domain -> Option(latest.dmConf).getOrElse(""))
      }
    val txns: Map[String, Long] = acts
      .filter(a => a.txnApp != null && a.txnVersion != null)
      .groupBy(_.txnApp)
      .map { case (app, as) => app -> as.map(_.txnVersion.longValue).max }
    Replay(seg.version, winners, txns,
      Snapshot(live, metaId, schemaStr, pcols, conf, readerVersion, readerFeats,
        writerVersion, writerFeats, domains))
  }

  /** A resolved snapshot: live files (with their partition values),
    * plus the latest `metaData`'s schema/partitioning and the table id.
    */
  final case class DeltaFile(
      path: String, partitionValues: Map[String, String], size: Long,
      dv: Option[DeletionVectors.Descriptor] = None,
      stats: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)
  final case class Snapshot(
      files: Seq[DeltaFile],
      metaId: Option[String],
      schemaString: Option[String],
      partitionColumns: Seq[String],
      configuration: Map[String, String] = Map.empty,
      readerVersion: Option[Int] = None,
      readerFeatures: Set[String] = Set.empty,
      writerVersion: Option[Int] = None,
      writerFeatures: Set[String] = Set.empty,
      domainMetadata: Map[String, String] = Map.empty) {

    /** Live deleted-row count across all files' deletion vectors. */
    def dvCardinality: Long = files.flatMap(_.dv).map(_.cardinality).sum

    /** The row-tracking high-water mark from the `delta.rowTracking`
      * domain-metadata action — the largest row id ever ALLOCATED
      * (not necessarily live: vacuumed appends keep their ids burned,
      * per the protocol, so ids are never reused).
      */
    def rowIdHighWaterMark: Option[Long] =
      domainMetadata.get("delta.rowTracking").flatMap { conf =>
        val node = new ObjectMapper().readTree(conf)
        Option(node.get("rowIdHighWaterMark")).map(_.asLong())
      }

    /** Physical names of the MATERIALIZED row-id / row-commit-version
      * columns (the protocol's identity carry across rewrites) — set
      * in the table configuration when row tracking is enabled by this
      * writer; data files only contain them when a dataChange=false
      * rewrite had survivor identities to preserve.
      */
    def materializedRowIdCol: Option[String] =
      configuration.get("delta.rowTracking.materializedRowIdColumnName")
    def materializedRowVersionCol: Option[String] =
      configuration.get("delta.rowTracking.materializedRowCommitVersionColumnName")
    def schema: Option[StructType] =
      schemaString.filter(_.trim.nonEmpty).flatMap(s =>
        scala.util.Try(DataType.fromJson(s)).toOption.collect { case st: StructType => st })

    /** `delta.columnMapping.mode` from the table configuration —
      * "none" (default), "name" (physical-name renames, read+write) or
      * "id" (parquet field-id resolution, read+write).
      */
    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")

    /** logical name -> physical name, from the per-field
      * `delta.columnMapping.physicalName` metadata the protocol stores
      * in schemaString when column mapping is enabled.
      */
    def physicalNames: Map[String, String] = schema match {
      case Some(s) => s.fields.map { f =>
        f.name -> (if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName") else f.name)
      }.toMap
      case None => Map.empty
    }

    /** logical name -> `delta.columnMapping.id` — the parquet FIELD ID
      * an id-mode table resolves its columns by (the mode `CONVERT TO
      * DELTA` over Iceberg produces, where the parquet column NAMES are
      * the original Iceberg names and only the ids are stable).
      */
    def fieldIds: Map[String, Long] = schema match {
      case Some(s) => s.fields.flatMap { f =>
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(f.name -> f.metadata.getLong("delta.columnMapping.id"))
        else None
      }.toMap
      case None => Map.empty
    }

    /** The key a column uses in `add.partitionValues` (and in per-file
      * stats): the PHYSICAL name under column mapping, the logical name
      * otherwise — the spec keys both by physical name in either
      * mapping mode.
      */
    def pvKey(c: String): String =
      if (columnMappingMode == "none") c else physicalNames.getOrElse(c, c)
  }

  /** The snapshot at `versionAsOf` (the current one when None). A
    * log directory with no commit yet is refused for the current
    * snapshot; time travel to version -1 is the empty table.
    */
  def snapshot(
      spark: SparkSession, tablePath: String, versionAsOf: Option[Long] = None): Snapshot =
    versionAsOf match {
      case None => currentReplay(spark, tablePath).snapshot
      case v => replay(spark, tablePath, segmentFor(spark, tablePath, v)).snapshot
    }

  /** The replay of the current segment; refuses a log with no commit yet. */
  private def currentReplay(spark: SparkSession, tablePath: String): Replay = {
    val r = replay(spark, tablePath, segmentFor(spark, tablePath, None))
    require(r.version >= 0, s"DeltaLog: empty _delta_log under $tablePath")
    r
  }

  /** Protocol paths are percent-encoded relative URIs (or absolute
    * URIs). Decode for filesystem resolution; leave unparseable values
    * verbatim (lenient toward writers that stored raw names).
    */
  private[sources] def decodePath(rel: String): String =
    try {
      val u = new java.net.URI(rel)
      if (u.getScheme != null) rel else u.getPath
    } catch { case _: java.net.URISyntaxException => rel }

  private[sources] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** Invert Hive/Spark partition-directory escaping (%xx only — the
    * catalog escaper never emits '+', so URLDecoder's plus-to-space
    * rule would corrupt literal '+' values).
    */
  private[sources] def unescapePathName(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try {
          sb.append(Integer.parseInt(hex, 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def resolve(tablePath: String, rel: String): String = {
    val decoded = decodePath(rel)
    val p = new Path(decoded)
    if (p.isAbsolute || decoded.contains("://")) decoded
    else new Path(tablePath, decoded).toString
  }

  /** Read a Delta table snapshot as a DataFrame: log replay → live-file
    * list → ONE parquet scan over a [[LogFileIndex]] built from that
    * list, with the `metaData.schemaString` as the DECLARED scan schema
    * when present (no inference pass).
    *
    * Partitioned tables: partition values live in `add.partitionValues`
    * — not in the data files or the directory names — and the index
    * hands them to Spark typed per the declared schema. A filter on a
    * partition column lands as a native `PartitionFilters` and the
    * index drops non-matching files at planning time — partition
    * pruning of FILES, pinned by `PlanAuditSpec`.
    *
    * Data skipping: a filter on a data column reaches the same index
    * as a data filter, and `listFiles` skips every file whose
    * `add.stats` min/max prove that no row can match (a file without
    * usable stats for the column is kept), so
    * `read(...).filter(col(c).between(lo, hi))` opens only the files
    * whose range admits the slice. With files z-order-clustered by
    * [[compact]]`(zorderBy = ...)`, the skip rate on either clustered
    * column approaches the selectivity itself.
    */
  def read(
      spark: SparkSession, tablePath: String, versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, versionAsOf)
    require(snap.files.nonEmpty,
      s"DeltaLog: snapshot of $tablePath" +
        versionAsOf.fold("")(v => s" at version $v") + " has no live data files")
    // the DV anti-join keys on `_metadata.row_index` + file identity,
    // both orthogonal to the column-mapping projection
    if (snap.files.exists(_.dv.isDefined)) readWithDv(spark, tablePath, snap)
    else readSnapshotFiles(spark, tablePath, snap, snap.files, addFileColumn = false)
  }

  private def hasNestedStruct(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case a: ArrayType => hasNestedStruct(a.elementType)
    case m: MapType => hasNestedStruct(m.keyType) || hasNestedStruct(m.valueType)
    case _ => false
  }

  /** Enable parquet field-id READ resolution for this session, once.
    * Spark reads this flag from the SESSION conf at scan-build time
    * (`ParquetFileFormat` overwrites the per-relation hadoop conf with
    * the session value, so a `DataFrameReader.option` cannot carry it),
    * and the frames we return are LAZY — a save-and-restore around
    * this call would un-resolve them at action time. Enabling is
    * behavior-neutral for every other read in the session: Spark only
    * consults field ids when the REQUESTED schema itself carries
    * `parquet.field.id` metadata (`ParquetReadSupport` gates on
    * `ParquetUtils.hasFieldIds`), which only id-mode frames built here
    * do. Set once and left on — never toggled back and forth.
    */
  private[sources] def enableFieldIdRead(spark: SparkSession): Unit =
    if (!spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false").toBoolean)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** `_metadata.file_path` (a URI like `file:///x` or `hdfs://nn/x`)
    * reduced to its scheme-less absolute path — the same identity
    * [[fileIdentity]] computes driver-side with `Path.toUri.getRawPath`,
    * expressed as a codegen'd column so the scan side never collects.
    * NOTE `_metadata.file_path` is the percent-ENCODED URI string
    * (Spark stores it as `Path.toUri.toString`), so the stripped
    * value stays encoded — every driver-side string compared against
    * this column must use the raw (encoded) URI path, never the
    * DECODED `toUri.getPath` (a file under a `p=x y` partition dir
    * would silently never match).
    */
  private[sources] def normalizedFileId(c: Column): Column =
    regexp_replace(regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:", "")

  /** Read a snapshot that carries live DELETION VECTORS: files WITHOUT
    * a DV scan exactly as before; files WITH one scan with their
    * `_metadata.row_index` and ANTI-JOIN the deleted (file, position)
    * relation away. The bitmaps are decoded in EXECUTOR tasks — one
    * task per descriptor, positions never funnel through the driver —
    * and the join side is broadcast when the descriptors' declared
    * total cardinality fits, so the common case (sparse deletes over a
    * huge table) costs a broadcast hash anti-join inside the scan
    * stage, no shuffle of the table.
    */
  private def readWithDv(
      spark: SparkSession, tablePath: String, snap: Snapshot,
      keepFile: Boolean = false, keepPos: Boolean = false): DataFrame = {
    val fs = fsOf(spark, new Path(tablePath))
    val (dvFiles, plainFiles) = snap.files.partition(_.dv.isDefined)
    val descs: Seq[(String, String, String, Int, Int)] = dvFiles.map { f =>
      val d = f.dv.get
      (fileIdentity(fs, tablePath, f), d.storageType, d.pathOrInlineDv,
        d.offset.getOrElse(1), d.sizeInBytes)
    }
    import spark.implicits._
    val tp = tablePath
    // the SESSION's Hadoop conf rides to the tasks — a bare new
    // Configuration() would drop spark.hadoop.* credentials / fs.*
    // impls and break DV decode on S3/ABFS even when the driver-side
    // log replay works (r13 advice)
    val hadoopConfB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val deleted = spark.createDataset(descs).flatMap { case (fid, st, tok, off, size) =>
      val taskFs = new Path(tp).getFileSystem(hadoopConfB.value.value)
      DeletionVectors.readPositions(taskFs, tp,
        DeletionVectors.Descriptor(st, tok, Some(off), size, 0L)).toSeq.map(p => (fid, p))
    }.toDF("__dv_file", "__dv_pos")
    val delSide = if (snap.dvCardinality <= 4000000L) broadcast(deleted) else deleted
    val scanned = readSnapshotFiles(spark, tablePath, snap, dvFiles,
        addFileColumn = true, addRowIndex = true)
      .withColumn("__fid", normalizedFileId(col("__file")))
    val kept1 = scanned
      .join(delSide,
        scanned("__fid") === delSide("__dv_file") && scanned("__pos") === delSide("__dv_pos"),
        "left_anti")
      .drop("__fid")
    val kept0 = if (keepPos) kept1 else kept1.drop("__pos")
    val kept = if (keepFile) kept0 else kept0.drop("__file")
    val all =
      if (plainFiles.isEmpty) kept
      else kept.unionByName(
        readSnapshotFiles(spark, tablePath, snap, plainFiles,
          addFileColumn = keepFile, addRowIndex = keepPos))
    val extras = (if (keepFile) Seq("__file") else Nil) ++ (if (keepPos) Seq("__pos") else Nil)
    snap.schema.fold(all)(s => all.select(
      (s.fieldNames.toSeq ++ extras).map(col): _*))
  }

  /** Read a ROW-TRACKING table with its row identities surfaced — the
    * protocol's `rowTracking` writer feature: every add action carries
    * `baseRowId` and `defaultRowCommitVersion`, and a FRESH row's id
    * is `baseRowId + its position in the file` (its commit version the
    * file's default). The result is the table columns plus `row_id`
    * and `row_commit_version` metadata columns — stable identities a
    * downstream CDC consumer keys on.
    *
    * Scope, guarded loudly: tables whose live adds all carry the two
    * fields; MATERIALIZED row-id columns (the protocol's carry across
    * rewrites, named by
    * `delta.rowTracking.materializedRowIdColumnName`) override
    * `baseRowId + position` where a file carries them. NAME-mapped
    * tables compose end to end (r17): reads resolve through the
    * physical-name path, appends allocate log-side and stage under
    * physical names, the compaction carry's materialized columns pass
    * through `toPhysical` unmapped (they ARE physical). ID-mapped
    * tables refuse on both sides — the materialized columns have no
    * field id to resolve by. Row-removing WRITES keep refusing via
    * the writer-feature guard.
    *
    * Scale shape: one provenance scan (file path + row index, both
    * generated columns) plus a broadcast join against the
    * metadata-sized (file -> baseRowId) map; DV-dead rows drop before
    * id assignment but keep their ORIGINAL positions, so survivors'
    * ids are stable across deletes — the feature's whole point.
    */
  def readWithRowIds(
      spark: SparkSession, tablePath: String, versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, versionAsOf)
    require(snap.writerFeatures.contains("rowTracking"),
      s"DeltaLog: readWithRowIds needs the rowTracking table feature at $tablePath")
    readFilesWithRowIds(spark, tablePath, snap, snap.files)
  }

  /** The row-id-surfacing scan of a file SUBSET — shared by
    * [[readWithRowIds]] (all live files) and [[compact]]'s
    * identity-preserving rewrite (the files being packed). A row's
    * identity is its MATERIALIZED column value when the file carries
    * one (the protocol's carry across dataChange=false rewrites,
    * null-filled for files written without it), else
    * `baseRowId + position`.
    */
  private def readFilesWithRowIds(
      spark: SparkSession, tablePath: String, snap: Snapshot,
      files: Seq[DeltaFile]): DataFrame = {
    // NAME-mapped tables read fine: the materialized columns are
    // PHYSICAL-only (outside the declared schema, no mapping
    // metadata), and extending the read schema with them routes
    // through readSnapshotFiles where physicalNames falls back to the
    // field's own name — exactly the physical label the carry wrote.
    // ID-mapped tables keep refusing: every read-schema field resolves
    // by parquet field id there, and the materialized columns have
    // none to resolve by.
    require(snap.columnMappingMode != "id",
      s"DeltaLog: rowTracking reads on an ID-mapped table are not supported " +
        s"at $tablePath — the materialized identity columns carry no " +
        "delta.columnMapping.id to resolve by; refusing rather than guessing")
    val matId = snap.materializedRowIdCol
    val matVer = snap.materializedRowVersionCol
    require(matId.isDefined == matVer.isDefined,
      s"DeltaLog: $tablePath declares only one of the two materialized " +
        "row-tracking column names — refusing a half-configured table")
    val missing = files.filterNot(f =>
      f.baseRowId.isDefined && f.defaultRowCommitVersion.isDefined)
    require(missing.isEmpty,
      s"DeltaLog: rowTracking declared but ${missing.size} live add action(s) lack " +
        s"baseRowId/defaultRowCommitVersion (first: ${missing.headOption.map(_.path).getOrElse("")}) — " +
        "refusing to fabricate row identities")
    require(snap.schema.isDefined,
      s"DeltaLog: readWithRowIds needs a parseable metaData.schemaString at $tablePath")
    val declared = snap.schema.get
    require(!declared.fieldNames.exists(n => n == "row_id" || n == "row_commit_version"),
      "DeltaLog: a physical row_id/row_commit_version column shadows the metadata columns")
    // materialized columns are physical-only (outside the declared
    // schema): extend the READ schema so the scan surfaces them;
    // appended files simply null-fill
    val extSnap = matId match {
      case Some(mi) => snap.copy(schemaString = Some(StructType(
        declared.fields ++ Seq(
          StructField(mi, LongType), StructField(matVer.get, LongType))).json))
      case None => snap
    }
    val fs = fsOf(spark, new Path(tablePath))
    val scanned =
      if (files.exists(_.dv.isDefined))
        readWithDv(spark, tablePath, extSnap.copy(files = files),
          keepFile = true, keepPos = true)
      else readSnapshotFiles(spark, tablePath, extSnap, files,
        addFileColumn = true, addRowIndex = true)
    import spark.implicits._
    val fileMap = files
      .map(f => (fileIdentity(fs, tablePath, f), f.baseRowId.get, f.defaultRowCommitVersion.get))
      .toDF("__rt_fid", "__rt_base", "__rt_ver")
    scanned
      .withColumn("__fid", normalizedFileId(col("__file")))
      .join(broadcast(fileMap), col("__fid") === col("__rt_fid"))
      .withColumn("row_id",
        matId.fold(col("__rt_base") + col("__pos"))(mi =>
          coalesce(col(mi), col("__rt_base") + col("__pos"))))
      .withColumn("row_commit_version",
        matVer.fold(col("__rt_ver"))(mv => coalesce(col(mv), col("__rt_ver"))))
      .select((declared.fieldNames.toSeq ++ Seq("row_id", "row_commit_version")).map(col): _*)
  }

  /** DV-aware live-row scan of a file SUBSET — the shared rewrite scan
    * of [[merge]], [[delete]] and [[compact]]: files carrying deletion
    * vectors read through the anti-join (their DV-dead rows never
    * resurrect into a copy-on-write rewrite), plain files scan
    * directly. With `addFileColumn` each row carries its `__file`
    * provenance.
    */
  private def readLiveRows(
      spark: SparkSession, tablePath: String, snap: Snapshot,
      files: Seq[DeltaFile], addFileColumn: Boolean): DataFrame =
    if (files.exists(_.dv.isDefined))
      readWithDv(spark, tablePath, snap.copy(files = files), keepFile = addFileColumn)
    else readSnapshotFiles(spark, tablePath, snap, files, addFileColumn = addFileColumn)

  /** One checkpoint row carrying the given actions, null elsewhere. */
  private def checkpointRow(actions: (String, Row)*): Row = {
    val byName = actions.toMap
    Row.fromSeq(checkpointSchema.fieldNames.toSeq.map(byName.getOrElse(_, null)))
  }

  /** The rows a checkpoint of `r` carries, as (file actions, the rest).
    * The file actions are the add/remove winners — live deletion
    * vectors and row-tracking identities survive (dropping them would
    * resurrect every DV-deleted row, or strand readWithRowIds, after
    * JSON-prefix cleanup). The rest is the head row (the table's
    * `protocol` and `metaData`, plus `headExtra`), the newest `txn`
    * per appId and the live domain metadata — the spec requires both,
    * or [[lastTxnVersion]]'s exactly-once guard and the row-tracking
    * high-water mark would be lost with the JSON prefix.
    */
  private def checkpointRows(r: Replay, headExtra: (String, Row)*): (Seq[Row], Seq[Row]) = {
    val files = r.winners.map { w =>
      if (w.addPath == null)
        checkpointRow("remove" -> Row(w.removePath, Option(w.removeTs).fold(0L)(_.longValue), true))
      else {
        val dv =
          if (w.dvStorage == null) null
          else Row(w.dvStorage, w.dvPath, w.dvOffset, w.dvSize, w.dvCardinality)
        checkpointRow("add" -> Row(w.addPath, w.addPvals, Option(w.addSize).fold(0L)(_.longValue),
          0L, true, w.addStats, w.addBaseRowId, w.addDefaultRcv, dv))
      }
    }
    val snap = r.snapshot
    // the protocol row mirrors the TABLE's protocol — a DV'd table
    // checkpoints as (3, 7) with its feature sets, not the writer's
    // own floor
    val reader = snap.readerVersion.getOrElse(1)
    val writer = snap.writerVersion.getOrElse(if (reader >= 3) 7 else 2)
    def feats(s: Set[String]): Seq[String] = if (s.isEmpty) null else s.toSeq.sorted
    // the spec's metaData carries format + configuration — a real Delta
    // reader rebuilding the snapshot from this checkpoint (after JSON
    // cleanup) needs both, same as the append path
    val head = checkpointRow(Seq(
      "protocol" -> Row(reader, writer, feats(snap.readerFeatures), feats(snap.writerFeatures)),
      "metaData" -> Row(snap.metaId.getOrElse("graft"), Row("parquet", Map.empty[String, String]),
        snap.schemaString.getOrElse(""), snap.partitionColumns, snap.configuration)) ++
      headExtra: _*)
    val txns = r.txns.toSeq.sorted.map { case (app, v) => checkpointRow("txn" -> Row(app, v)) }
    val domains = snap.domainMetadata.toSeq.sorted.map { case (d, c) =>
      checkpointRow("domainMetadata" -> Row(d, c, false)) }
    (files, head +: (txns ++ domains))
  }

  /** Land `rows`, cut to the first `width` columns of
    * [[checkpointSchema]], as the single parquet `target`: written to
    * a staging dir under the table root, then renamed into place.
    */
  private def writeCheckpointFile(
      spark: SparkSession, fs: FileSystem, tablePath: String,
      rows: Seq[Row], width: Int, target: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val stage = new Path(tablePath, s"_cp_stage_${java.util.UUID.randomUUID().toString.take(8)}")
    spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq.take(width))).asJava,
        StructType(checkpointSchema.take(width)))
      .coalesce(1).write.parquet(stage.toString)
    val part = fs.globStatus(new Path(stage, "part-*.parquet"))(0).getPath
    fs.delete(target, false)
    require(fs.rename(part, target), s"DeltaLog: checkpoint move failed for $part")
    fs.delete(stage, true)
  }

  /** Write a classic single-part checkpoint of the CURRENT snapshot and
    * point `_last_checkpoint` at it: live `add` rows (with partition
    * values and real sizes), tombstone `remove` rows, the newest `txn`
    * per appId, the live domain metadata, plus the `protocol` and
    * `metaData` actions the spec requires every checkpoint to carry —
    * so guards still fire after the JSON prefix is cleaned up. A table
    * that has adopted v2Checkpoint gets [[writeCheckpointV2]] instead.
    * The version is the one the replayed segment reaches, so a commit
    * landing meanwhile cannot slip under its name. Returns the
    * checkpointed version.
    */
  def writeCheckpoint(spark: SparkSession, tablePath: String): Long = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    val r = currentReplay(spark, tablePath)
    // a table that has adopted the v2Checkpoint feature must not write
    // classic checkpoints (spec) — delegate
    if (r.snapshot.readerFeatures.contains("v2Checkpoint"))
      return writeCheckpointV2(spark, tablePath)
    val (files, rest) = checkpointRows(r)
    val rows = rest ++ files
    writeCheckpointFile(spark, fs, tablePath, rows, 6, checkpointPath(logDir, r.version))
    Landing.landFile(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":${r.version},"size":${rows.size}}""".getBytes("UTF-8"), overwrite = true)
    r.version
  }

  /** Write a V2 (UUID-named) checkpoint — the `v2Checkpoint` table
    * feature: the file actions land in ONE sidecar parquet under
    * `_delta_log/_sidecars/`, and the checkpoint file
    * `%020d.checkpoint.<uuid>.parquet` carries the spec-required
    * `checkpointMetadata` self-identification, the `sidecar` pointer
    * row, `protocol` + `metaData`, the newest `txn` per appId and the
    * live domain metadata. A table not yet declaring the feature gets
    * a protocol-upgrade COMMIT first (readerVersion 3 / writerVersion 7
    * + v2Checkpoint, legacy implied features re-declared) — checkpoints
    * themselves cannot change the protocol. `_last_checkpoint` then
    * points at the version; [[probeCheckpoint]] locates the UUID name
    * with one glob, so the no-listing fast path survives. Returns the
    * checkpointed version (which is the upgrade commit's when one was
    * needed).
    *
    * Scale shape: identical to the classic writer; splitting actions
    * across MANY sidecars (what Delta does at 10^6-file scale) would
    * only change how the file rows are cut.
    */
  def writeCheckpointV2(spark: SparkSession, tablePath: String): Long = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    val r0 = currentReplay(spark, tablePath)
    val r = upgradeProtocol(r0.snapshot, "v2Checkpoint") match {
      case None => r0
      case Some(line) =>
        commitActions(fs, logDir, tablePath, _ => Seq(line),
          withIct = ictEnabled(r0.snapshot.configuration))
        currentReplay(spark, tablePath)
    }
    val uuid = java.util.UUID.randomUUID().toString
    val (files, rest) = checkpointRows(r, "checkpointMetadata" -> Row(r.version, null))
    val sidecarDir = new Path(logDir, "_sidecars")
    fs.mkdirs(sidecarDir)
    val sidecarName = s"$uuid.parquet"
    val sidecarPath = new Path(sidecarDir, sidecarName)
    writeCheckpointFile(spark, fs, tablePath, files, 2, sidecarPath)
    val sidecarStat = fs.getFileStatus(sidecarPath)
    val rows = rest :+ checkpointRow("sidecar" ->
      Row(sidecarName, sidecarStat.getLen, sidecarStat.getModificationTime, null))
    writeCheckpointFile(spark, fs, tablePath, rows, 8,
      new Path(logDir, f"${r.version}%020d.checkpoint.$uuid.parquet"))
    Landing.landFile(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":${r.version},"size":${rows.size + files.size}}""".getBytes("UTF-8"),
      overwrite = true)
    r.version
  }

  /** APPEND-ONLY writer twin: land `df` as one new protocol commit.
    * Data files are written through a staging dir and moved into the
    * table under stamped names ([[Landing.land]]); the commit then lands
    * through [[commitActions]], which writes the commit to a temp file
    * and RENAMES it into the version slot — the put-if-absent that makes
    * the commit ATOMIC on the local filesystem and where rename refuses
    * an existing destination (HDFS), see [[Landing.landFile]]; object
    * stores need a coordination service, exactly as the Delta protocol
    * itself documents — out of scope here and guarded only by
    * documentation. A lost race (the version file
    * already exists) retries at the next version: the already-moved
    * data files are referenced only by OUR commit line, so retrying the
    * commit alone is safe; any OTHER IO failure (permissions, disk
    * full) is rethrown, not spun on. Version 0 carries the `protocol`
    * and `metaData` actions with the REAL serialized schema
    * (`df.schema.json` — what delta-spark/delta-rs parse at snapshot
    * load), and `add` actions carry the real post-move file sizes and
    * modification times (readers use `size` to seek the parquet
    * footer). Appends to an existing table refuse a mismatched schema
    * loudly. Every `checkpointInterval`-th commit triggers
    * [[writeCheckpoint]], so the JSON log stays bounded. Returns the
    * committed version. `partitionBy` (r12) writes the reference's own
    * curated layout (`main.py:235` partitionBy("Year","Month")): ONE
    * partitioned job stages the Hive-style tree, files move into the
    * table keeping their `col=value` dirs, and each `add` carries its
    * partitionValues (the protocol's truth — [[read]] never re-parses
    * directory names); appends must match the table's declared
    * partitioning or refuse. Append-only — the MERGE/overwrite
    * surfaces stay with `ops.Upsert`/`SnapshotPublish` per the
    * parquet-first contract; this writer exists so a graft pipeline
    * can hand a table to a real Delta READER (and [[read]] can
    * re-ingest it).
    */
  def append(
      spark: SparkSession, tablePath: String, df: DataFrame,
      checkpointInterval: Int = 10, partitionBy: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false,
      txn: Option[(String, Long)] = None,
      columnMapping: String = "none",
      configuration: Map[String, String] = Map.empty,
      rowTracking: Boolean = false,
      identity: Option[(String, Long, Long)] = None): Long = {
    require(Set("none", "name", "id")(columnMapping),
      s"DeltaLog: columnMapping must be none|name|id, got '$columnMapping'")
    require(!rowTracking || columnMapping != "id",
      "DeltaLog: rowTracking + ID-mapped tables are not supported — the " +
        "materialized identity columns carry no delta.columnMapping.id to " +
        "resolve by (name mapping composes; see readFilesWithRowIds)")
    require(identity.isEmpty || columnMapping == "none",
      "DeltaLog: identity + columnMapping is not supported by this writer")
    identity.foreach { case (_, _, step) =>
      require(step != 0L, "DeltaLog: identity step must be non-zero") }
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(table, "_delta_log")
    val tableExists = fs.exists(logDir) && fs.listStatus(logDir).nonEmpty
    if (txnLanded(spark, tablePath, txn)) return -1L
    var evolvedId: Option[String] = None // Some(tableId) => emit a new metaData action
    // mapping state the WRITE side uses: the existing table's mode, or
    // (at creation) the requested one with freshly assigned ids +
    // physical names decorated into the declared schema
    var declaredSchema: StructType = df.schema
    var mapSnap: Option[Snapshot] = None // carries mode/physicalNames/fieldIds
    var carryConfig: Map[String, String] = Map.empty // existing config, re-emitted on evolution
    var existingSnap: Option[Snapshot] = None
    // IDENTITY COLUMNS (the `identityColumns` table feature): the
    // single identity column is GENERATED here — value = highWaterMark
    // + step·(i+1) in partition order (zipWithIndex: one count job, no
    // global sort, no single-partition bottleneck) — and the mark
    // advances in the SAME commit's metaData field metadata, per the
    // protocol. Generated-only subset: explicit values refuse.
    var dfIn: DataFrame = df
    var identityState: Option[(StructField, Long, Long)] = None // (field, step, hwmBefore)
    var identityPin: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    def generateIdentity(name: String, step: Long, hwm: Long): Unit = {
      require(!df.schema.fieldNames.contains(name),
        s"DeltaLog: explicit values for identity column '$name' are not supported — " +
          "this writer generates them (generated-only subset)")
      // PIN the input before zipWithIndex: its internal count job and
      // the later write pass would otherwise recompute the upstream,
      // and a nondeterministic input (round-robin repartition, a
      // shuffle recomputed after a task retry) could shift
      // row-to-index assignment between the two passes — the
      // monotonically_increasing_id hazard class. MEMORY_AND_DISK:
      // evicted partitions spill instead of recomputing, so the
      // assignment each row was counted under is the one it keeps.
      val pinned = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      identityPin = Some(pinned)
      val rows = pinned.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq((hwm + step * (i + 1L)) +: r.toSeq) }
      dfIn = spark.createDataFrame(rows,
        StructType(StructField(name, LongType, nullable = false) +: df.schema.fields))
    }
    if (tableExists) {
      // schema + partitioning gates: a silent append of a different
      // shape corrupts the table for every reader that trusts
      // metaData.schemaString / partitionColumns
      val snap = snapshot(spark, tablePath, None)
      require(columnMapping == "none" || columnMapping == snap.columnMappingMode,
        s"DeltaLog: columnMapping='$columnMapping' is a CREATION option — the existing " +
          s"table declares mode '${snap.columnMappingMode}'")
      require(!rowTracking || snap.writerFeatures.contains("rowTracking"),
        "DeltaLog: rowTracking is a CREATION option — the existing table does not " +
          "declare the feature (enabling it on existing files would need a backfill)")
      // NAME-mapped rowTracking appends compose: base-row-id
      // allocation is log-side, the data files carry physical names
      // via toPhysical, and the materialized columns (physical-only,
      // no mapping metadata) pass through unmapped on the compaction
      // rewrite. ID-mapped stays refused — the materialized columns
      // carry no field id to resolve by on read.
      require(!snap.writerFeatures.contains("rowTracking") ||
          snap.columnMappingMode != "id",
        "DeltaLog: appending into a rowTracking + ID-mapped table is not " +
          "supported — the materialized identity columns carry no " +
          "delta.columnMapping.id to resolve by")
      require(configuration.isEmpty || configuration.forall {
          case (k, v) => snap.configuration.get(k).contains(v) },
        "DeltaLog: configuration is a CREATION option — the existing table already " +
          s"declares ${snap.configuration}")
      carryConfig = snap.configuration
      existingSnap = Some(snap)
      if (snap.columnMappingMode != "none") {
        writeGuards(snap, tablePath, "append")
        mapSnap = Some(snap)
      } else protocolWriteGuards(snap, "append")
      require(identity.isEmpty,
        "DeltaLog: identity is a CREATION option — an existing table cannot adopt one " +
          "(backfilling values for already-written files is undefined)")
      val idFields = snap.schema.toSeq.flatMap(_.fields)
        .filter(_.metadata.contains("delta.identity.start"))
      idFields.headOption.foreach { f =>
        require(idFields.size == 1,
          s"DeltaLog: ${idFields.size} identity columns declared — one is the " +
            "implemented subset")
        val start = f.metadata.getLong("delta.identity.start")
        val step = if (f.metadata.contains("delta.identity.step"))
          f.metadata.getLong("delta.identity.step") else 1L
        val hwm = if (f.metadata.contains("delta.identity.highWaterMark"))
          f.metadata.getLong("delta.identity.highWaterMark") else start - step
        generateIdentity(f.name, step, hwm)
        // reorder to the DECLARED layout (a foreign table may not put
        // the identity column first)
        snap.schema.foreach { s =>
          if (s.fieldNames.toSet == dfIn.schema.fieldNames.toSet)
            dfIn = dfIn.select(s.fieldNames.map(col).toIndexedSeq: _*)
        }
        identityState = Some((f, step, hwm))
      }
      snap.schema.foreach { s =>
        val have = s.fields.map(f => (f.name, f.dataType)).toSeq
        val incoming = dfIn.schema.fields.map(f => (f.name, f.dataType)).toSeq
        if (have != incoming) {
          if (!allowSchemaEvolution)
            throw new IllegalArgumentException(
              s"DeltaLog: append schema mismatch — table declares ${s.simpleString}, " +
                s"append brings ${dfIn.schema.simpleString} " +
                "(pass allowSchemaEvolution = true for add-column evolution)")
          require(snap.columnMappingMode == "none",
            "DeltaLog: schema evolution into a column-mapped table is not supported — " +
              "new columns need fresh delta.columnMapping ids past maxColumnId")
          // ADD-COLUMN evolution only: every declared column must
          // survive with its type (no drops, no retypes — those change
          // the meaning of already-written files); the commit then
          // carries a NEW metaData action with the merged schema, and
          // old files simply lack the new columns (the declared-schema
          // scan null-fills them)
          val incomingByName = incoming.toMap
          val missing = have.filterNot { case (n, t) => incomingByName.get(n).contains(t) }
          require(missing.isEmpty,
            s"DeltaLog: schema evolution may only ADD columns — existing " +
              s"${missing.map(_._1).mkString(", ")} dropped or retyped")
          // merged declared schema: the INCOMING shape, with existing
          // fields keeping their DECLARED metadata (identity marks,
          // constraints) — df.schema alone would silently strip field
          // metadata the table's features live in, and keeping it
          // here is what lets an add-column evolution and an
          // identity-mark advance share ONE metaData action (r16
          // refused the combination; both want this commit's schema)
          val declaredByName = s.fields.map(f => f.name -> f).toMap
          declaredSchema = StructType(dfIn.schema.fields.map(f =>
            declaredByName.getOrElse(f.name, f)))
          evolvedId = Some(snap.metaId.getOrElse("graft"))
        }
      }
      require(snap.partitionColumns == partitionBy,
        s"DeltaLog: append partitioning mismatch — table declares " +
          s"[${snap.partitionColumns.mkString(",")}], append brings [${partitionBy.mkString(",")}]")
    } else if (columnMapping != "none") {
      // CREATE a column-mapped table: assign ids 1..n and col-<uuid>
      // physical names per field (the convention Delta's own writer
      // uses), declare the mode + maxColumnId in the configuration,
      // and adopt the columnMapping table feature at (3, 7)
      declaredSchema = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", i + 1L)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}").build())
      })
      mapSnap = Some(Snapshot(Seq.empty, None, Some(declaredSchema.json),
        partitionBy, Map("delta.columnMapping.mode" -> columnMapping)))
    } else identity.foreach { case (name, start, step) =>
      // CREATE a table with an identity column: the column leads the
      // declared schema carrying the protocol's field metadata; the
      // first commit's metaData then records the post-append mark
      generateIdentity(name, step, start - step)
      declaredSchema = StructType(
        StructField(name, LongType, nullable = false,
          metadata = new MetadataBuilder()
            .putLong("delta.identity.start", start)
            .putLong("delta.identity.step", step)
            .putBoolean("delta.identity.allowExplicitInsert", false).build())
          +: df.schema.fields)
      identityState = Some((declaredSchema.head, step, start - step))
    }
    partitionBy.foreach(c => require(dfIn.schema.fieldNames.contains(c),
      s"DeltaLog: partition column $c missing from the append schema"))
    require(identity.isEmpty || !partitionBy.contains(identity.get._1),
      "DeltaLog: the identity column cannot be a partition column")
    fs.mkdirs(logDir)
    // writer-enforced rules (CHECK constraints, invariants, generated
    // columns) verify over the incoming rows before anything stages
    existingSnap.foreach(s => enforceWriteRules(s, dfIn, "append"))
    val rtEnabled =
      if (tableExists) existingSnap.exists(_.writerFeatures.contains("rowTracking"))
      else rowTracking
    // the rowTracking allocation FLOOR resolves (and refuses) BEFORE
    // any data file moves into the table: a FOREIGN rowTracking table
    // that carries live files but no delta.rowTracking high-water
    // mark gives the allocator no floor — fresh ids could collide
    // with burned ones, so refuse rather than corrupt the identities
    // the feature exists for (and refuse with nothing staged: the r16
    // placement fired after the landing and left orphaned
    // uncommitted parquet in the table on refusal)
    val rtMark: Option[Long] = existingSnap.flatMap(_.rowIdHighWaterMark)
    require(!rtEnabled || rtMark.isDefined || existingSnap.forall(_.files.isEmpty),
      "DeltaLog: append into a rowTracking table with live files but no " +
        "delta.rowTracking high-water-mark domain metadata — allocating " +
        "fresh base row ids could reuse burned ones")
    val physDf = mapSnap.fold(dfIn)(s => toPhysical(spark, s, dfIn))
    val physBy = mapSnap.fold(partitionBy)(s => partitionBy.map(s.pvKey))
    // partitionValues keyed physical for mapped tables (spec)
    val moved = Landing.land(fs, table, physDf, "part", partitionBy = physBy)
    identityPin.foreach(_.unpersist(blocking = false))
    // row counts from the landed files' footers — the allocation input
    // for both high-water marks (row tracking + identity)
    val movedCounts: Seq[Long] = moved.map(_.stats.rows)
    // the identity mark advances in THIS commit's metaData (field
    // metadata, per the protocol) — emitted via the evolution path.
    // An add-column evolution already rebuilt declaredSchema as the
    // MERGED shape with declared metadata preserved, so the mark
    // lands on top and one metaData action carries both.
    identityState.foreach { case (f, step, hwmBefore) =>
      val n = movedCounts.sum
      if (n > 0) {
        val updated = f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", hwmBefore + step * n).build())
        val baseSchema =
          if (tableExists && evolvedId.isEmpty)
            existingSnap.flatMap(_.schema).getOrElse(declaredSchema)
          else declaredSchema
        declaredSchema = StructType(
          baseSchema.fields.map(x => if (x.name == f.name) updated else x))
        if (tableExists)
          evolvedId = Some(existingSnap.flatMap(_.metaId).getOrElse("graft"))
      }
    }

    // column mapping / change data feed / in-commit timestamps / row
    // tracking / identity columns are TABLE FEATURES — declared
    // explicitly at writer 7 rather than via legacy versions;
    // columnMapping alone needs reader 3
    val mapped = !tableExists && columnMapping != "none"
    val features = if (tableExists) Nil else Seq(
      "columnMapping" -> mapped,
      "changeDataFeed" -> configuration.get("delta.enableChangeDataFeed").contains("true"),
      "inCommitTimestamp" -> ictEnabled(configuration),
      "rowTracking" -> rowTracking, "domainMetadata" -> rowTracking,
      "identityColumns" -> identity.isDefined).collect { case (f, true) => f }
    val protocolLine =
      if (features.isEmpty) protocolAction(1, 2)
      else protocolAction(if (mapped) 3 else 1, 7,
        if (mapped) Seq("columnMapping") else Nil, features)
    // row-tracking creation declares the feature's table properties:
    // the enablement flag plus the MATERIALIZED identity column names
    // (physical-only columns a dataChange=false rewrite uses to carry
    // survivor ids — minted here so [[compact]] has them later)
    val creationConfig: Map[String, String] =
      if (!rowTracking) configuration
      else configuration ++ Map(
        "delta.enableRowTracking" -> "true",
        "delta.rowTracking.materializedRowIdColumnName" ->
          s"_row-id-col-${java.util.UUID.randomUUID()}",
        "delta.rowTracking.materializedRowCommitVersionColumnName" ->
          s"_row-commit-version-col-${java.util.UUID.randomUUID()}")
    // evolution REPLACES the metaData action but keeps the table id;
    // creation declares the requested config, an EVOLUTION metaData
    // re-emits the existing one (dropping it would silently turn off
    // change-data-feed / mapping for every later reader)
    val metaLine = metaDataAction(
      evolvedId.getOrElse(s"graft-${java.util.UUID.randomUUID()}"),
      declaredSchema.json, partitionBy,
      if (tableExists) carryConfig
      else creationConfig.toSeq ++ (if (!mapped) Nil else Seq(
        "delta.columnMapping.mode" -> columnMapping,
        "delta.columnMapping.maxColumnId" -> declaredSchema.size.toString)))
    val rowIds = if (rtEnabled) Some(RowIdBlock(rtMark, movedCounts)) else None
    val adds = landedAdds(physBy, moved, dataChange = true, rowIds)
    val version = commitWithRowIds(spark, fs, logDir, tablePath, "append", rowIds,
        withIct = ictEnabled(if (tableExists) carryConfig else configuration)) { v =>
      (if (v == 0L) Seq(protocolLine, metaLine)
       else if (evolvedId.isDefined) Seq(metaLine)
       else Seq.empty) ++ txn.map(txnAction) ++ adds(v)
    }
    checkpointOnCadence(spark, tablePath, checkpointInterval, version)
  }

  /** The one data-file scan of the Delta reader: a SUBSET of a
    * snapshot's files (or a commit's `_change_data` files) through a
    * [[LogFileIndex]], with the declared schema and the partition
    * columns typed from it and valued from each file's
    * `partitionValues`; each file's `add.stats` bound its columns for
    * the index's file skipping. Every read, rewrite scan and
    * change-data read goes through here.
    *
    * Column mapping (any table written by 2023+ Databricks defaults to
    * `name` mode; `CONVERT TO DELTA` over Iceberg produces `id` mode):
    *  - `name` mode: data files carry PHYSICAL column names (the
    *    per-field `delta.columnMapping.physicalName`) — the scan reads
    *    the physical schema and a projection aliases back to logical
    *    names;
    *  - `id` mode: columns resolve by PARQUET FIELD ID — the read
    *    schema carries `parquet.field.id` metadata and Spark's own
    *    field-id resolution matches them, under the logical names.
    * In BOTH modes `partitionValues` is keyed by physical names while
    * `metaData.partitionColumns` stays logical. Nested structs would
    * need recursive renames — refused loudly rather than half-read.
    *
    * `extraData` columns are read by their own names after the table
    * columns (a cdc file's `_change_type`). With `addFileColumn` each
    * row carries its source file path in `__file` and with
    * `addRowIndex` its position in `__pos` (both from the scan's
    * `_metadata`): the row→file provenance [[merge]], [[delete]] and
    * the deletion-vector anti-join key on.
    */
  private def readSnapshotFiles(
      spark: SparkSession, tablePath: String, snap: Snapshot,
      files: Seq[DeltaFile], addFileColumn: Boolean,
      addRowIndex: Boolean = false, extraData: Seq[StructField] = Nil): DataFrame = {
    val mode = snap.columnMappingMode
    require(Set("none", "name", "id")(mode),
      s"DeltaLog: column mapping mode '$mode' is not supported — " +
        "'name' (physical renames) and 'id' (parquet field ids) are implemented")
    val declared = snap.schema
    if (mode != "none") {
      val logical = declared.getOrElse(throw new IllegalArgumentException(
        s"DeltaLog: column-mapped table $tablePath has no parseable metaData.schemaString"))
      require(logical.fields.forall(f => !hasNestedStruct(f.dataType)),
        "DeltaLog: column mapping over nested struct columns is not supported")
      if (mode == "id") {
        require(logical.fields.forall(f => snap.fieldIds.contains(f.name)),
          s"DeltaLog: id-mapped table $tablePath has fields without delta.columnMapping.id")
        enableFieldIdRead(spark)
      }
    }
    val pcols = snap.partitionColumns
    val partitionSchema = StructType(pcols.map(c => StructField(c,
      declared.flatMap(_.find(_.name == c)).fold[DataType](StringType)(_.dataType))))
    def physical(f: StructField): StructField = mode match {
      case "id" => f.copy(metadata =
        new MetadataBuilder().putLong("parquet.field.id", snap.fieldIds(f.name)).build())
      case "name" => StructField(snap.physicalNames(f.name), f.dataType, f.nullable)
      case _ => f
    }
    // stats key by PHYSICAL name; a scan column is physical under
    // `name` mapping and logical under `id` mapping
    val statsKey: String => String =
      if (mode == "id") snap.physicalNames.withDefault(identity) else identity
    val scan = LogFileIndex.scan(spark,
      files.map(f => LogFile(resolve(tablePath, f.path),
        pcols.map(c => f.partitionValues.get(snap.pvKey(c)).flatMap(Option(_))),
        statsBounds(f, statsKey))),
      partitionSchema,
      declared.map(s => StructType(
        s.fields.filterNot(f => pcols.contains(f.name)).map(physical) ++ extraData)))
    val columns = declared.fold(Seq(col("*")))(s => s.fields.toSeq.map(f =>
      if (mode == "name" && !pcols.contains(f.name)) col(snap.physicalNames(f.name)).as(f.name)
      else col(f.name)) ++ extraData.map(f => col(f.name)))
    scan.select(columns ++
      (if (addFileColumn) Seq(col("_metadata.file_path").as("__file")) else Nil) ++
      (if (addRowIndex) Seq(col("_metadata.row_index").as("__pos")) else Nil): _*)
  }

  /** A file's `add.stats` min/max for a scan column, decoded to the
    * column's type on first use (the stats JSON is parsed only when a
    * data filter asks for a bound). Delta writers may truncate
    * timestamp stats to milliseconds, so a timestamp max widens by
    * 999 µs, as Delta's own reader widens it. A FLOAT column widened to
    * DOUBLE keeps its old files' float stats, spelled as the float's
    * shortest decimal, which as a double misses the float's value
    * (0.7f reads back as 0.699999988): a double bound spans both
    * readings. Decimal columns are unbounded: logs written before
    * the writer scaled them record the unscaled integer.
    */
  private def statsBounds(
      f: DeltaFile, statsKey: String => String): (String, DataType) => Option[(Any, Any)] = {
    lazy val stats = f.stats.flatMap(s => scala.util.Try(mapper.readTree(s)).toOption)
    (column, dt) => {
      def text(kind: String): Option[String] = stats
        .flatMap(s => Option(s.get(kind))).flatMap(m => Option(m.get(statsKey(column))))
        .filter(n => n.isValueNode && !n.isNull).map(_.asText)
      def asFloat(t: String, orElse: Double): Double =
        scala.util.Try(t.trim.toFloat.toDouble).getOrElse(orElse)
      if (dt.isInstanceOf[DecimalType]) None
      else for {
        loText <- text("minValues"); hiText <- text("maxValues")
        lo <- LogFileIndex.textBound(loText, dt); hi <- LogFileIndex.textBound(hiText, dt)
      } yield (dt, lo, hi) match {
        case (TimestampType | TimestampNTZType, _, hi: Long) => (lo, hi + 999L)
        case (DoubleType, lo: Double, hi: Double) =>
          (math.min(lo, asFloat(loText, Double.NegativeInfinity)),
            math.max(hi, asFloat(hiText, Double.PositiveInfinity)))
        case _ => (lo, hi)
      }
    }
  }

  /** The filesystem-normalized identity of a live file (scheme-less
    * absolute path, percent-ENCODED) — comparable against the scan's
    * `_metadata.file_path` values, which Spark stores URL-encoded
    * (`getRawPath`, not the DECODED `getPath`: a path with a space /
    * `#` / non-ASCII byte — e.g. under a string-partition dir —
    * would otherwise never match [[normalizedFileId]]'s output and
    * DV tombstones or row-id maps would silently miss their files).
    */
  private def fileIdentity(fs: FileSystem, tablePath: String, f: DeltaFile): String = {
    val u = fs.makeQualified(new Path(resolve(tablePath, f.path))).toUri
    Option(u.getRawPath).getOrElse(u.getPath)
  }

  /** Writer features IMPLIED by a legacy `minWriterVersion` — the
    * table-features spec's upgrade rule: moving a legacy table to
    * (3, 7) must re-declare every capability the old version number
    * implied, or a spec-compliant engine could e.g. append without
    * enforcing CHECK constraints it can no longer see.
    */
  private[graft] def legacyImpliedWriterFeatures(minWriterVersion: Int): Set[String] = {
    // LEGACY versions only (2..6): a table already at writer v7 lists
    // its features explicitly — "implying" the full set there would
    // inflate the protocol with features the table never declared and
    // lock out engines that don't implement them
    if (minWriterVersion >= 7) Set.empty
    else {
      val byVersion = Seq(
        2 -> Set("appendOnly", "invariants"),
        3 -> Set("checkConstraints"),
        4 -> Set("changeDataFeed", "generatedColumns"),
        5 -> Set("columnMapping"),
        6 -> Set("identityColumns"))
      byVersion.collect { case (v, fs) if minWriterVersion >= v => fs }
        .foldLeft(Set.empty[String])(_ ++ _)
    }
  }

  /** Reader features implied by a legacy `minReaderVersion` (only
    * columnMapping, and only at the LEGACY version 2 — a v3 table
    * lists its reader features explicitly).
    */
  private[graft] def legacyImpliedReaderFeatures(minReaderVersion: Int): Set[String] =
    if (minReaderVersion == 2) Set("columnMapping") else Set.empty

  /** Protocol-level write gates shared by every transaction writer:
    * a writer must implement every feature the table declares, whether
    * spelled as a v7 `writerFeatures` list or implied by a LEGACY
    * minWriterVersion (checkConstraints@3, generatedColumns@4,
    * columnMapping-write@5, identityColumns@6 carry no feature list —
    * the protocol requires a writer to enforce them or refuse).
    */
  private def protocolWriteGuards(snap: Snapshot, op: String): Unit = {
    val unknown = snap.writerFeatures --
      Set("appendOnly", "invariants", "deletionVectors", "columnMapping", "v2Checkpoint",
        "changeDataFeed", "checkConstraints", "generatedColumns", "inCommitTimestamp",
        "typeWidening", "typeWidening-preview", "timestampNtz", "identityColumns",
        "rowTracking", "domainMetadata")
    require(unknown.isEmpty,
      s"DeltaLog: $op into a table declaring writer features " +
        s"[${unknown.mkString(",")}] this writer does not implement")
    // rowTracking writes are implemented for APPEND (fresh base-id
    // allocation against the high-water mark) and COMPACT (survivor
    // ids carried via the materialized columns); every other
    // transaction here would drop or renumber row identities — refuse
    require(!snap.writerFeatures.contains("rowTracking") ||
        op == "append" || op == "compact",
      s"DeltaLog: $op into a rowTracking table is not supported — only append " +
        "and compact preserve row identities in this writer")
    // identityColumns — DECLARED (explicitly at v7 or implied by legacy
    // v6) is tolerated; an ACTIVE identity column is IMPLEMENTED for
    // append (generated values against the field-metadata high-water
    // mark) and compact (a pure rewrite — values are ordinary data);
    // any other transaction would have to allocate or renumber, so
    // refuse exactly then. CHECK constraints, invariants, generated
    // columns (v3/v4) and column mapping (v5) are all ENFORCED here
    // ([[enforceWriteRules]], [[toPhysical]]).
    val identityPossible = snap.writerFeatures.contains("identityColumns") ||
      snap.writerVersion.exists(v => v >= 3 && v <= 6)
    if (identityPossible && op != "append" && op != "compact") {
      require(snap.schemaString.isEmpty || snap.schema.isDefined,
        s"DeltaLog: $op into a table that may declare identity columns but whose " +
          "schemaString does not parse — the writer obligation cannot be checked")
      def flagged(key: String): Seq[String] = snap.schema.toSeq.flatMap(
        _.fields.filter(_.metadata.contains(key)).map(f => s"${f.name}($key)"))
      val identity =
        flagged("delta.identity.start") ++ flagged("delta.identity.allowExplicitInsert")
      require(identity.isEmpty,
        s"DeltaLog: $op into a table with ACTIVE identity columns " +
          s"[${identity.mkString(", ")}] — only append (high-water-mark allocation) " +
          "and compact preserve identity semantics in this writer")
    }
  }

  /** delta.appendOnly forbids any dataChange=true remove: every
    * row-removing transaction refuses (compaction's dataChange=false
    * shuffle remains legal — it removes FILES, not rows).
    */
  private def appendOnlyGuard(snap: Snapshot, op: String): Unit =
    require(!snap.configuration.get("delta.appendOnly").contains("true"),
      s"DeltaLog: $op on an APPEND-ONLY table (delta.appendOnly=true) — " +
        "row-removing transactions are forbidden by the table's own declaration")

  private def writeGuards(snap: Snapshot, tablePath: String, op: String): Unit = {
    // the guard forbids ROW REMOVAL, not writes: appends and layout-only
    // compaction are exactly what an append-only table is for — gating
    // them here refused legal APPENDs into mapped append-only tables
    if (op != "compact" && op != "append") appendOnlyGuard(snap, op)
    require(snap.schema.isDefined,
      s"DeltaLog: $op requires a parseable metaData.schemaString at $tablePath")
    if (snap.columnMappingMode != "none")
      require(snap.schema.get.fields.forall(f => !hasNestedStruct(f.dataType)),
        s"DeltaLog: $op into a column-mapped table with nested struct columns is not supported")
    protocolWriteGuards(snap, op)
  }

  /** A logical-schema frame renamed for the DATA FILES of a mapped
    * table: columns take their PHYSICAL names, and in `id` mode each
    * carries its `parquet.field.id` so the written footers resolve by
    * field id (Spark's field-id write is on by default; pinned here so
    * a session override can't silently strip the ids).
    */
  private def toPhysical(
      spark: SparkSession, snap: Snapshot, df: DataFrame): DataFrame = {
    val mode = snap.columnMappingMode
    if (mode == "none") return df
    val phys = snap.physicalNames
    val ids = snap.fieldIds
    if (mode == "id") {
      // extra NON-TABLE columns (the change-data-feed `_change_type`)
      // pass through unmapped; every TABLE field must carry its id
      require(df.schema.fieldNames.filter(phys.contains).forall(ids.contains),
        "DeltaLog: id-mapped write with fields missing delta.columnMapping.id")
      // no session mutation: field-id WRITE is on by Spark default and
      // only applies to schemas that carry `parquet.field.id` metadata
      // (ours below) — but a session that explicitly disabled it would
      // silently write id-less footers no id-mode reader can resolve
      require(spark.conf.get("spark.sql.parquet.fieldId.write.enabled", "true").toBoolean,
        "DeltaLog: writing an id-mapped table needs " +
          "spark.sql.parquet.fieldId.write.enabled=true (this session disabled it)")
    }
    df.select(df.schema.fields.map { f =>
      val md =
        if (mode == "id" && ids.contains(f.name))
          new MetadataBuilder().putLong("parquet.field.id", ids(f.name)).build()
        else Metadata.empty
      col(f.name).as(phys.getOrElse(f.name, f.name), md)
    }.toIndexedSeq: _*)
  }

  /** Partition columns under their on-disk (physical) names — what
    * [[Landing.land]] must partition the staged write by so the
    * returned partitionValues come back keyed exactly as
    * `add.partitionValues` requires.
    */
  private def physPartitionBy(snap: Snapshot): Seq[String] =
    snap.partitionColumns.map(snap.pvKey)

  // ------------------------------------------------ change data feed

  /** `delta.enableChangeDataFeed = true` — every data-changing
    * merge/delete on the table must materialize its row-level changes
    * as `cdc` actions + `_change_data/` parquet (the protocol's answer
    * to frequent small changes: a CDF reader then never rescans the
    * rewritten data files).
    */
  def cdfEnabled(snap: Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed").contains("true")

  // ------------------------------------- writer-enforced invariants

  /** The table's declared write-time rules, each as (label, SQL
    * boolean expression): CHECK constraints (`delta.constraints.*` in
    * the configuration), column invariants (per-field
    * `delta.invariants` metadata) and generated-column validation
    * (per-field `delta.generationExpression` — a writer must ensure
    * the stored value SATISFIES the expression, which for provided
    * values means null-safe equality).
    */
  private def writeRules(snap: Snapshot): Seq[(String, Column)] = {
    val constraints = snap.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (s"CHECK constraint '${k.stripPrefix("delta.constraints.")}' ($v)", expr(v))
    }
    val fieldRules = snap.schema.toSeq.flatMap(_.fields.flatMap { f =>
      val inv =
        if (!f.metadata.contains("delta.invariants")) None
        else {
          val node = mapper.readTree(f.metadata.getString("delta.invariants"))
            .at("/expression/expression")
          if (node.isMissingNode) None
          else Some((s"invariant on ${f.name} (${node.asText})", expr(node.asText)))
        }
      val gen =
        if (!f.metadata.contains("delta.generationExpression")) None
        else {
          val g = f.metadata.getString("delta.generationExpression")
          Some((s"generated column ${f.name} AS ($g)", col(f.name) <=> expr(g)))
        }
      inv.toSeq ++ gen.toSeq
    })
    constraints.sortBy(_._1) ++ fieldRules
  }

  /** Enforce every declared rule over the NEW rows of a write — ONE
    * aggregation pass counting violations per rule (SQL CHECK
    * semantics: only FALSE violates; NULL passes). Throws naming the
    * first violated rule; a writer that cannot enforce must refuse,
    * and this is the enforcement that lets legacy writer versions 3-5
    * stay writable instead of refusing.
    */
  private def enforceWriteRules(snap: Snapshot, df: DataFrame, op: String): Unit = {
    val rules = writeRules(snap)
    if (rules.isEmpty) return
    val aggs = rules.zipWithIndex.map { case ((_, c), i) =>
      sum(when(!coalesce(c, lit(true)), 1L).otherwise(0L)).as(s"v$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    rules.zipWithIndex.foreach { case ((label, _), i) =>
      val n = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(n == 0L, s"DeltaLog: $op violates $label — $n row(s) fail")
    }
  }

  /** Stage CHANGE rows (table columns + `_change_type`) under
    * `_change_data/` — partitioned like the table, physical column
    * names under mapping, `_change_type` always verbatim — and return
    * the commit's `cdc` action lines.
    */
  private def stageCdc(
      spark: SparkSession, fs: FileSystem, table: Path, snap: Snapshot,
      changes: DataFrame): Seq[String] = {
    Landing.land(fs, table, toPhysical(spark, snap, changes), "cdc", dir = "_change_data",
        partitionBy = physPartitionBy(snap), dropEmptyFiles = true)
      .map(l => cdcAction(encodePath(l.rel), physPartitionBy(snap), l.partitionValues, l.size))
  }

  /** MERGE (full upsert) as ONE Delta transaction — the reference's
    * own write path (`main.py:191-199` runs an 8-source MERGE loop
    * into its curated Delta table; `utils/load_functions.py:64-122` is
    * the enterprise upsert): rows whose `keys` match an update row are
    * REPLACED by it, update rows with unseen keys are INSERTED, and
    * everything lands as `remove` + `add` actions with
    * `dataChange = true` in a single commit, so `versionAsOf` the
    * pre-merge version still serves the old rows and downstream
    * streams see exactly one data-changing transaction.
    *
    * File-level copy-on-write, exactly like Delta's own MERGE: only
    * files CONTAINING a matched key are rewritten (detected with one
    * semi-join over the scan's `_metadata.file_path` provenance);
    * untouched files stay referenced as-is. At 100 TB the rewrite cost
    * is proportional to the matched-file footprint, not the table.
    * Exactly-once via the protocol's `txn` action, same as [[append]].
    * Returns the committed version (-1 when the txn epoch already
    * landed, or when the merge is a provable no-op).
    *
    * DELETION-VECTOR aware (r13 verdict item 1 — the refusal made one
    * `deleteWithDv` turn the table read-only for merge): both the
    * matched-file detection and the rewrite scan read DV-carrying
    * files through the anti-join, so DV-dead rows neither count as
    * matches nor resurrect into the rewrite; the rewritten files come
    * out CLEAN (no descriptor — their DV-dead rows are physically
    * gone), untouched files keep their vectors, and the orphaned DV
    * bins age out under [[vacuum]].
    *
    * `updates` is evaluated several times: by the matched-file
    * detection, the emptiness check, the rewrite (anti-join and
    * union), the writer rules and, with the change feed on, the
    * post-image and insert splits. A caller whose `updates` has a
    * costly or non-deterministic lineage should pin it first
    * (`localCheckpoint` or a persisted frame), as
    * `CovidPipeline.reconcile` does with its incremental batch. The
    * merge does not pin its input itself: over an already-pinned
    * batch, a `persist` inside the merge only adds work (on the
    * `etl_lake` benchmark day, 4 cores: 23 → 35 Spark jobs per merge,
    * 3.0 → 4.3 s).
    */
  def merge(
      spark: SparkSession, tablePath: String, updates: DataFrame, keys: Seq[String],
      checkpointInterval: Int = 10, txn: Option[(String, Long)] = None): Long = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val logDir = logDirOf(tablePath)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    if (txnLanded(spark, tablePath, txn)) return -1L
    val snap = snapshot(spark, tablePath, None)
    writeGuards(snap, tablePath, "merge")
    val schema = snap.schema.get
    val have = schema.fields.map(f => (f.name, f.dataType)).toSeq
    val incoming = updates.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(have == incoming,
      s"DeltaLog: merge schema mismatch — table declares ${schema.simpleString}, " +
        s"updates bring ${updates.schema.simpleString}")
    require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
      s"DeltaLog: merge keys [${keys.mkString(",")}] not all in the table schema")
    require(!schema.fieldNames.contains("__file"),
      "DeltaLog: a physical column named __file shadows the merge provenance column")

    // 1. which live files hold a matched LIVE key (file-level
    // copy-on-write; DV-dead rows are not matches)
    val keyCols = keys.map(col)
    val affectedIds: Set[String] =
      if (snap.files.isEmpty) Set.empty
      else readLiveRows(spark, tablePath, snap, snap.files, addFileColumn = true)
        .join(updates.select(keyCols: _*).distinct(), keys, "left_semi")
        .select("__file").distinct()
        .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
    val affectedFiles = snap.files.filter(f => affectedIds.contains(fileIdentity(fs, tablePath, f)))
    if (affectedFiles.isEmpty && updates.isEmpty) return -1L

    // 2. rewrite: unmatched LIVE survivors of the affected files + ALL
    // updates (a DV'd file rewrites clean — its dead rows stay gone)
    val ordered = schema.fieldNames.map(col).toSeq
    val newData =
      if (affectedFiles.isEmpty) updates.select(ordered: _*)
      else readLiveRows(spark, tablePath, snap, affectedFiles, addFileColumn = false)
        .join(updates.select(keyCols: _*), keys, "left_anti")
        .select(ordered: _*)
        .unionByName(updates.select(ordered: _*))
    // writer-enforced rules verify over the NEW rows only (survivors
    // of the rewrite already satisfied them when first written)
    enforceWriteRules(snap, updates, "merge")
    val moved = Landing.land(fs, table, toPhysical(spark, snap, newData), "part-m",
      partitionBy = physPartitionBy(snap), dropEmptyFiles = true)
    // CHANGE DATA FEED: matched live rows are update pre/post image
    // pairs, unmatched update keys are inserts — materialized into
    // `_change_data/` so a CDF reader never rescans the rewrite
    val cdcLines =
      if (!cdfEnabled(snap)) Seq.empty[String]
      else {
        val preimage =
          if (affectedFiles.isEmpty) None
          else Some(readLiveRows(spark, tablePath, snap, affectedFiles, addFileColumn = false)
            .join(updates.select(keyCols: _*).distinct(), keys, "left_semi")
            .select(ordered: _*))
        val matchedKeys = preimage.map(_.select(keyCols: _*).distinct())
        val postimage = matchedKeys.map(mk => updates.join(mk, keys, "left_semi"))
        val inserts = matchedKeys.fold(updates)(mk => updates.join(mk, keys, "left_anti"))
        val changes = Seq(
          preimage.map(_.withColumn("_change_type", lit("update_preimage"))),
          postimage.map(_.select(ordered: _*)
            .withColumn("_change_type", lit("update_postimage"))),
          Some(inserts.select(ordered: _*).withColumn("_change_type", lit("insert"))))
          .flatten.reduce(_.unionByName(_))
        stageCdc(spark, fs, table, snap, changes)
      }
    commitRewrite(spark, fs, logDir, tablePath, snap, affectedFiles, moved,
      checkpointInterval, txn, cdcLines)
  }

  /** The declared rules that MENTION a column (conservative word-match
    * over CHECK constraints, invariants and generation expressions) —
    * renaming or dropping a column one of them references would leave
    * the rule unevaluable, so those schema changes refuse by name.
    */
  private def rulesMentioning(snap: Snapshot, column: String): Seq[String] = {
    val word = ("(?i)\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    val fromConf = snap.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") && word.findFirstIn(v).isDefined => k
    }
    val fromFields = snap.schema.toSeq.flatMap(_.fields.flatMap { f =>
      val inv = if (f.metadata.contains("delta.invariants") &&
        word.findFirstIn(f.metadata.getString("delta.invariants")).isDefined)
        Some(s"invariant on ${f.name}") else None
      val gen = if (f.metadata.contains("delta.generationExpression") &&
        word.findFirstIn(f.metadata.getString("delta.generationExpression")).isDefined)
        Some(s"generation expression of ${f.name}") else None
      inv.toSeq ++ gen.toSeq
    })
    fromConf ++ fromFields
  }

  /** Commit a schema-only metaData change (same table id, same
    * configuration), after the `protocol` line `upgrade` when given —
    * the shared tail of [[renameColumn]], [[dropColumn]] and
    * [[widenColumnType]].
    */
  private def commitSchemaChange(
      spark: SparkSession, tablePath: String, snap: Snapshot,
      newSchema: StructType, newPartitionColumns: Seq[String],
      upgrade: Option[String] = None): Long = {
    val line = metaDataAction(snap.metaId.getOrElse("graft"), newSchema.json,
      newPartitionColumns, snap.configuration)
    commitActions(fsOf(spark, new Path(tablePath)), logDirOf(tablePath), tablePath,
      _ => upgrade.toSeq :+ line, withIct = ictEnabled(snap.configuration))
  }

  /** RENAME COLUMN — metadata-only on a COLUMN-MAPPED table (the very
    * reason column mapping exists): the LOGICAL name changes in
    * schemaString while `delta.columnMapping.physicalName` stays, so
    * no data file is touched, every existing file keeps reading, and
    * time travel to pre-rename versions still serves the old name.
    * Partition columns rename too (partitionValues key by PHYSICAL
    * name — unaffected). Unmapped tables refuse: there the logical
    * name IS the physical one, and an honest rename would rewrite
    * every file. Rules referencing the column refuse by name.
    */
  def renameColumn(
      spark: SparkSession, tablePath: String, from: String, to: String): Long = {
    val snap = snapshot(spark, tablePath, None)
    require(snap.columnMappingMode != "none",
      "DeltaLog: renameColumn needs column mapping — on an unmapped table the " +
        "logical name is the physical one and a rename would rewrite every data file")
    protocolWriteGuards(snap, "renameColumn")
    val schema = snap.schema.getOrElse(throw new IllegalArgumentException(
      s"DeltaLog: renameColumn needs a parseable metaData.schemaString at $tablePath"))
    require(schema.fieldNames.contains(from),
      s"DeltaLog: renameColumn source '$from' not in the table schema")
    require(!schema.fieldNames.contains(to),
      s"DeltaLog: renameColumn target '$to' already exists")
    val blocking = rulesMentioning(snap, from)
    require(blocking.isEmpty,
      s"DeltaLog: renameColumn('$from') would break [${blocking.mkString(", ")}] — " +
        "update those rules first")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newPcols = snap.partitionColumns.map(c => if (c == from) to else c)
    commitSchemaChange(spark, tablePath, snap, newSchema, newPcols)
  }

  /** DROP COLUMN — metadata-only on a COLUMN-MAPPED table: the field
    * leaves the logical schema; the physical column stays in the data
    * files, invisible to every reader of this and later versions
    * (time travel to pre-drop versions still serves it). Partition
    * columns cannot drop (the partitioning identity would dangle).
    */
  def dropColumn(spark: SparkSession, tablePath: String, name: String): Long = {
    val snap = snapshot(spark, tablePath, None)
    require(snap.columnMappingMode != "none",
      "DeltaLog: dropColumn needs column mapping — on an unmapped table a drop " +
        "would rewrite every data file")
    protocolWriteGuards(snap, "dropColumn")
    val schema = snap.schema.getOrElse(throw new IllegalArgumentException(
      s"DeltaLog: dropColumn needs a parseable metaData.schemaString at $tablePath"))
    require(schema.fieldNames.contains(name),
      s"DeltaLog: dropColumn '$name' not in the table schema")
    require(!snap.partitionColumns.contains(name),
      s"DeltaLog: dropColumn '$name' is a partition column")
    require(schema.size > 1, "DeltaLog: dropColumn would leave an empty schema")
    val blocking = rulesMentioning(snap, name)
    require(blocking.isEmpty,
      s"DeltaLog: dropColumn('$name') would break [${blocking.mkString(", ")}] — " +
        "drop those rules first")
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    commitSchemaChange(spark, tablePath, snap, newSchema, snap.partitionColumns)
  }

  /** The widenings the `typeWidening` table feature permits AND
    * Spark's parquet reader performs natively when the declared schema
    * is wider than the file (probed: int32→long/double, float→double,
    * date→timestamp_ntz all upcast in the vectorized reader).
    */
  private def widenable(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (DateType, TimestampNTZType) => true
    case _ => false
  }

  /** ALTER COLUMN TYPE under the `typeWidening` table feature — a
    * METADATA-ONLY type change: the field widens in schemaString (with
    * the spec's `delta.typeChanges` history entry), existing data
    * files keep their narrow physical type and every read upcasts
    * through the declared schema (no rewrite — the reason the feature
    * exists), later appends write the wide type natively. First use
    * upgrades the protocol to (3, 7) declaring `typeWidening` on both
    * feature lists. Works on mapped and unmapped tables alike.
    */
  def widenColumnType(
      spark: SparkSession, tablePath: String, column: String, to: DataType): Long = {
    val snap = snapshot(spark, tablePath, None)
    protocolWriteGuards(snap, "widenColumnType")
    val schema = snap.schema.getOrElse(throw new IllegalArgumentException(
      s"DeltaLog: widenColumnType needs a parseable metaData.schemaString at $tablePath"))
    val field = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaLog: widenColumnType column '$column' not in the table schema"))
    require(widenable(field.dataType, to),
      s"DeltaLog: ${field.dataType.simpleString} -> ${to.simpleString} is not a " +
        "permitted widening (integral up-casts, float->double, date->timestamp_ntz)")
    require(!snap.partitionColumns.contains(column),
      s"DeltaLog: widenColumnType '$column' is a partition column — its string-coded " +
        "partitionValues would re-type under every reader at once; rewrite instead")
    val changes = mapper.createArrayNode()
    if (field.metadata.contains("delta.typeChanges")) {
      val prior = mapper.readTree(field.metadata.getString("delta.typeChanges"))
      (0 until prior.size()).foreach(i => changes.add(prior.get(i)))
    }
    val entry = changes.addObject()
    entry.put("fromType", field.dataType.typeName)
    entry.put("toType", to.typeName)
    val newField = field.copy(dataType = to,
      metadata = new MetadataBuilder().withMetadata(field.metadata)
        .putString("delta.typeChanges", mapper.writeValueAsString(changes)).build())
    val newSchema = StructType(schema.fields.map(f => if (f.name == column) newField else f))
    commitSchemaChange(spark, tablePath, snap, newSchema, snap.partitionColumns,
      upgradeProtocol(snap, "typeWidening"))
  }

  /** SHALLOW CLONE — the CLONE TABLE semantics: a NEW table whose v0
    * commit references the SOURCE snapshot's data files by ABSOLUTE
    * path, so zero data copies and the cost is metadata-sized. The
    * clone then lives its own life: appends land clone-local files,
    * copy-on-write merge/delete REPLACE absolute references with
    * clone-local rewrites of only the affected files, and vacuum on
    * the clone never touches the source (it scans only the clone's own
    * directory). Deletion-vector descriptors re-anchor as
    * absolute-path (`p`) descriptors so DV decode keeps working from
    * the clone; stats and partition values carry verbatim, so data
    * skipping works immediately. A row-tracked source's `baseRowId`/
    * `defaultRowCommitVersion` carry verbatim too, with its
    * `delta.rowTracking` high-water mark, so the clone reads the
    * source's row ids and its own appends allocate above them.
    * Time-travel base: `versionAsOf`
    * clones a historical source version. Returns the clone's version
    * (always 0).
    *
    * Caveat shared with every shallow clone: vacuuming the SOURCE can
    * reclaim files the clone still references — the clone must be
    * deep-copied (rewritten) or re-cloned before that horizon passes.
    */
  def shallowClone(
      spark: SparkSession, sourcePath: String, targetPath: String,
      versionAsOf: Option[Long] = None): Long = {
    val snap = snapshot(spark, sourcePath, versionAsOf)
    val srcFs = fsOf(spark, new Path(sourcePath))
    val table = new Path(targetPath)
    val fs = fsOf(spark, table)
    val logDir = logDirOf(targetPath)
    require(!fs.exists(logDir) || fs.listStatus(logDir).isEmpty,
      s"DeltaLog: shallowClone target $targetPath is already a Delta table")
    fs.mkdirs(logDir)
    val protocolLine = protocolAction(
      snap.readerVersion.getOrElse(1), snap.writerVersion.getOrElse(2),
      snap.readerFeatures.toSeq.sorted, snap.writerFeatures.toSeq.sorted)
    // a clone is a NEW table
    val metaLine = metaDataAction(s"graft-${java.util.UUID.randomUUID()}",
      snap.schemaString.getOrElse(""), snap.partitionColumns, snap.configuration)
    val addLines = snap.files.map { f =>
      // scheme-qualified: resolve() serves it verbatim
      val abs = srcFs.makeQualified(new Path(resolve(sourcePath, f.path))).toString
      // an inline descriptor carries the bitmap in its token, a `p` one
      // is already absolute; a `u` one re-anchors to the source's file
      val dv = f.dv.map(d =>
        if (d.storageType == "i" || d.storageType == "p") d
        else d.copy(storageType = "p",
          pathOrInlineDv = srcFs.makeQualified(d.absolutePath(sourcePath)).toString))
      addAction(f.copy(path = abs, dv = dv), f.partitionValues.keys.toSeq,
        modificationTime = 0L, dataChange = true,
        rowIds = for (b <- f.baseRowId; v <- f.defaultRowCommitVersion) yield (b, v))
    }
    val markLine = snap.rowIdHighWaterMark.map(rowTrackingDomainAction).toSeq
    commitActions(fs, logDir, targetPath,
      _ => Seq(protocolLine, metaLine) ++ addLines ++ markLine,
      withIct = ictEnabled(snap.configuration))
  }

  /** Apply a CHANGE BATCH (table columns + `_change_type`) to the
    * table as ONE transaction — the sink half of table-to-table
    * replication: rows tagged `insert`/`update_postimage` upsert by
    * `keys`, keys whose only rows are `delete`/`update_preimage`
    * vanish. File-level copy-on-write exactly like [[merge]] (only
    * files holding a changed key rewrite, DV-aware), exactly-once via
    * the `txn` stamp, change-data-feed materialization when the TARGET
    * table enables it. Returns the committed version (-1 on a no-op or
    * an already-applied txn epoch).
    */
  def applyChanges(
      spark: SparkSession, tablePath: String, changes: DataFrame, keys: Seq[String],
      checkpointInterval: Int = 10, txn: Option[(String, Long)] = None): Long = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val logDir = logDirOf(tablePath)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    if (txnLanded(spark, tablePath, txn)) return -1L
    val snap = snapshot(spark, tablePath, None)
    writeGuards(snap, tablePath, "applyChanges")
    val schema = snap.schema.get
    require(changes.schema.fieldNames.contains("_change_type"),
      "DeltaLog: applyChanges needs a _change_type column " +
        "(insert | update_postimage | delete | update_preimage)")
    val have = schema.fields.map(f => (f.name, f.dataType)).toSeq
    val incoming = changes.drop("_change_type").schema.fields
      .map(f => (f.name, f.dataType)).toSeq
    require(have == incoming,
      s"DeltaLog: applyChanges schema mismatch — table declares ${schema.simpleString}, " +
        s"changes bring ${changes.drop("_change_type").schema.simpleString}")
    require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
      s"DeltaLog: applyChanges keys [${keys.mkString(",")}] not all in the table schema")
    val ordered = schema.fieldNames.map(col).toSeq
    val keyCols = keys.map(col)
    val ins = changes.filter(col("_change_type").isin("insert", "update_postimage"))
      .select(ordered: _*)
    val delKeys = changes.filter(col("_change_type").isin("delete", "update_preimage"))
      .select(keyCols: _*).distinct()
    val changeKeys = ins.select(keyCols: _*).distinct().unionByName(delKeys).distinct()
    val affectedIds: Set[String] =
      if (snap.files.isEmpty) Set.empty
      else readLiveRows(spark, tablePath, snap, snap.files, addFileColumn = true)
        .join(changeKeys, keys, "left_semi")
        .select("__file").distinct()
        .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
    val affectedFiles = snap.files.filter(f => affectedIds.contains(fileIdentity(fs, tablePath, f)))
    if (affectedFiles.isEmpty && ins.isEmpty) {
      // net-zero batch: with a txn stamp the CURSOR must still advance
      // — otherwise every later poll replays an ever-growing version
      // range, and a schema change landing inside it wedges replication
      // permanently. A txn-only commit persists the epoch; without a
      // stamp there is nothing to persist and no commit to make.
      txn match {
        case Some((appId, epoch)) =>
          return commitActions(fs, logDir, tablePath, _ => Seq(txnAction((appId, epoch))),
            withIct = ictEnabled(snap.configuration))
        case None => return -1L
      }
    }
    val survivors =
      if (affectedFiles.isEmpty) ins
      else readLiveRows(spark, tablePath, snap, affectedFiles, addFileColumn = false)
        .join(changeKeys, keys, "left_anti")
        .select(ordered: _*)
        .unionByName(ins)
    // writer-enforced rules verify over the NEW rows only
    enforceWriteRules(snap, ins, "applyChanges")
    val moved = Landing.land(fs, table, toPhysical(spark, snap, survivors), "part-c",
      partitionBy = physPartitionBy(snap), dropEmptyFiles = true)
    val cdcLines =
      if (!cdfEnabled(snap)) Seq.empty[String]
      else {
        val oldRows =
          if (affectedFiles.isEmpty) None
          else Some(readLiveRows(spark, tablePath, snap, affectedFiles, addFileColumn = false)
            .join(changeKeys, keys, "left_semi").select(ordered: _*))
        val oldKeys = oldRows.map(_.select(keyCols: _*).distinct())
        val insKeys = ins.select(keyCols: _*).distinct()
        val cdc = Seq(
          oldRows.map(o => o.join(insKeys, keys, "left_semi")
            .withColumn("_change_type", lit("update_preimage"))),
          oldRows.map(o => o.join(insKeys, keys, "left_anti")
            .withColumn("_change_type", lit("delete"))),
          oldKeys.map(ok => ins.join(ok, keys, "left_semi")
            .withColumn("_change_type", lit("update_postimage"))),
          Some(oldKeys.fold(ins)(ok => ins.join(ok, keys, "left_anti"))
            .withColumn("_change_type", lit("insert"))))
          .flatten.reduce(_.unionByName(_))
        stageCdc(spark, fs, table, snap, cdc)
      }
    commitRewrite(spark, fs, logDir, tablePath, snap, affectedFiles, moved,
      checkpointInterval, txn, cdcLines)
  }

  /** One PULL-REPLICATION step — the reference's curated→enterprise
    * tail (`main.py:239-304`) as two Delta tables: the CURSOR is the
    * last applied source version, persisted as the TARGET's `txn`
    * epoch for `appId` (no side-channel cursor store — a crash between
    * "read changes" and "commit" replays the same pull, and the txn
    * guard absorbs the duplicate apply). Net changes come from
    * [[readChangesSince]] (CDF-backed when the source materializes
    * change files); the first pull bootstraps the target with a full
    * snapshot append. Returns the new cursor; a no-change poll is one
    * metadata listing, zero data IO, no commit.
    */
  def replicateOnce(
      spark: SparkSession, sourcePath: String, targetPath: String,
      keys: Seq[String], appId: String): Long = {
    val targetLog = logDirOf(targetPath)
    val tfs = fsOf(spark, targetLog)
    val targetExists = tfs.exists(targetLog) && tfs.listStatus(targetLog).nonEmpty
    val cursor =
      if (!targetExists) -1L
      else lastTxnVersion(spark, targetPath, appId).getOrElse(-1L)
    val cur = currentVersion(spark, sourcePath)
    if (cursor >= 0 && cur <= cursor) return cursor // idle poll: one listing, no commit
    if (cursor < 0) {
      append(spark, targetPath, read(spark, sourcePath), txn = Some((appId, cur)))
      return cur
    }
    // CDF-PREFERRED pull: when the source materializes change files,
    // replay the `_change_data` bytes — for frequent small changes
    // that is orders of magnitude less IO than diffing the rewritten
    // data files. Multi-commit ranges NET per key (only the LAST
    // commit's state of each key applies — intermediate updates must
    // not surface as duplicate upserts). Any commit in the range that
    // rewrote files without cdc actions falls the whole pull back to
    // the file-diff path, which is always derivable.
    val snapTo = snapshot(spark, sourcePath, Some(cur))
    val changes: DataFrame = {
      val cdfPull =
        if (!cdfEnabled(snapTo) || snapTo.schema.isEmpty) None
        else snapshot(spark, sourcePath, Some(cursor)) match {
          case sFrom if sFrom.schemaString != snapTo.schemaString => None
          case _ =>
            cdfFrames(spark, sourcePath, cursor, cur, snapTo, snapTo.schema.get) match {
              case Right(frames) =>
                val declared = snapTo.schema.get
                val ordered = declared.fieldNames.map(col).toSeq
                if (frames.isEmpty)
                  Some(spark.createDataFrame(
                      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
                    .withColumn("_change_type", lit("")))
                else {
                  // an update_preimage is a DELETE of its own key tuple:
                  // when an update CHANGES a key column, the preimage is
                  // the ONLY trace of the old key — dropping preimages
                  // outright left the stale row in the target forever.
                  // Net per key: last commit wins; within it an upsert
                  // row (insert/postimage) beats the delete marker (the
                  // ordinary same-key update shape).
                  val w = org.apache.spark.sql.expressions.Window
                    .partitionBy(keys.map(col): _*)
                  Some(frames.reduce(_.unionByName(_))
                    .withColumn("_change_type",
                      when(col("_change_type") === "update_preimage", lit("delete"))
                        .otherwise(col("_change_type")))
                    .withColumn("__maxv", max(col("_commit_version")).over(w))
                    .filter(col("_commit_version") === col("__maxv"))
                    .withColumn("__upsert",
                      max(when(col("_change_type").isin("insert", "update_postimage"), 1)
                        .otherwise(0)).over(w))
                    .filter(
                      (col("__upsert") === 1 &&
                        col("_change_type").isin("insert", "update_postimage")) ||
                      (col("__upsert") === 0 && col("_change_type") === "delete"))
                    .select((ordered :+ col("_change_type")): _*))
                }
              case Left(_) => None
            }
        }
      cdfPull.getOrElse(diffVersions(spark, sourcePath, cursor, cur))
    }
    applyChanges(spark, targetPath, changes, keys, txn = Some((appId, cur)))
    cur
  }

  /** DELETE as ONE Delta transaction — the reference's full-mode
    * delete (`main.py:231-234` deletes the reload window before
    * re-ingesting): rows where `predicate` is TRUE are removed;
    * affected files are rewritten without them (`remove` + `add`,
    * `dataChange = true`, one commit), files with no matching row are
    * untouched, and a file whose every row matches is dropped with no
    * replacement. NULL predicate rows survive (SQL DELETE semantics).
    * Files carrying DELETION VECTORS participate: their DV-dead rows
    * neither match the predicate nor survive into the rewrite, and a
    * rewritten file comes out clean (no descriptor) — the copy-on-
    * write DELETE composes with prior [[deleteWithDv]] commits.
    * Returns the committed version, or -1 when no row matched.
    */
  def delete(
      spark: SparkSession, tablePath: String, predicate: Column,
      checkpointInterval: Int = 10, txn: Option[(String, Long)] = None): Long = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val logDir = logDirOf(tablePath)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    if (txnLanded(spark, tablePath, txn)) return -1L
    val snap = snapshot(spark, tablePath, None)
    writeGuards(snap, tablePath, "delete")
    require(!snap.schema.get.fieldNames.contains("__file"),
      "DeltaLog: a physical column named __file shadows the delete provenance column")
    if (snap.files.isEmpty) return -1L
    val affectedIds = readLiveRows(spark, tablePath, snap, snap.files, addFileColumn = true)
      .filter(predicate)
      .select("__file").distinct()
      .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
    val affectedFiles = snap.files.filter(f => affectedIds.contains(fileIdentity(fs, tablePath, f)))
    if (affectedFiles.isEmpty) return -1L
    val survivors = readLiveRows(spark, tablePath, snap, affectedFiles, addFileColumn = false)
      .filter(!coalesce(predicate, lit(false)))
    // a fully-matched file set drops with NO replacement add (an empty
    // parquet add would be valid but pointless); the isEmpty probe
    // early-exits on the first surviving row
    val moved =
      if (survivors.isEmpty) Seq.empty[Landing.Landed]
      else Landing.land(fs, table, toPhysical(spark, snap, survivors), "part-d",
        partitionBy = physPartitionBy(snap), dropEmptyFiles = true)
    val cdcLines =
      if (!cdfEnabled(snap)) Seq.empty[String]
      else stageCdc(spark, fs, table, snap,
        readLiveRows(spark, tablePath, snap, affectedFiles, addFileColumn = false)
          .filter(coalesce(predicate, lit(false)))
          .withColumn("_change_type", lit("delete")))
    commitRewrite(spark, fs, logDir, tablePath, snap, affectedFiles, moved,
      checkpointInterval, txn, cdcLines)
  }

  /** DELETE via DELETION VECTORS — the modern writer's row-level
    * delete: no data file is rewritten; instead each affected file's
    * matching row POSITIONS are serialized into a roaring bitmap, all
    * bitmaps land packed in ONE new `deletion_vector_<uuid>.bin`, and
    * the commit swaps each affected `add` for an identical `add`
    * carrying the DV descriptor (`remove`+`add`, `dataChange = true`).
    * A file that already carries a vector gets the UNION of old and
    * new positions (the protocol forbids stacking — one DV per file).
    * First DV commit upgrades the protocol to readerVersion 3 /
    * writerVersion 7 with the feature sets a real Delta writer
    * declares on this upgrade path.
    *
    * Scale shape: the position scan is one pass over the table with
    * the predicate pushed down; per-file bitmaps are built and
    * serialized in EXECUTOR tasks (`groupByKey` on the file identity —
    * the shuffle moves only matched row positions), and only the
    * compressed frames reach the driver. At 100 TB a delete touching
    * 10^9 rows moves ~10^9 longs through one shuffle and a few hundred
    * MB of roaring bytes to the driver — against copy-on-write's full
    * rewrite of every affected file.
    *
    * NULL predicate rows survive (SQL DELETE semantics). Returns the
    * committed version, or -1 when no row matched.
    */
  def deleteWithDv(
      spark: SparkSession, tablePath: String, predicate: Column,
      txn: Option[(String, Long)] = None): Long = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val logDir = logDirOf(tablePath)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    if (txnLanded(spark, tablePath, txn)) return -1L
    val snap = snapshot(spark, tablePath, None)
    writeGuards(snap, tablePath, "deleteWithDv")
    require(!snap.schema.get.fieldNames.contains("__file"),
      "DeltaLog: a physical column named __file shadows the delete provenance column")
    if (snap.files.isEmpty) return -1L
    val byIdentity: Map[String, DeltaFile] =
      snap.files.map(f => fileIdentity(fs, tablePath, f) -> f).toMap
    val existingDv: Map[String, DeletionVectors.Descriptor] =
      snap.files.flatMap(f => f.dv.map(fileIdentity(fs, tablePath, f) -> _)).toMap
    // positions already deleted must NOT count as fresh matches: a
    // predicate matching only DV-dead rows is a no-op commit otherwise
    val scanned = readSnapshotFiles(spark, tablePath, snap, snap.files,
        addFileColumn = true, addRowIndex = true)
      .filter(predicate)
      .select(normalizedFileId(col("__file")).as("__fid"), col("__pos"))
    import spark.implicits._
    val tp = tablePath
    val existingB = spark.sparkContext.broadcast(existingDv)
    // session Hadoop conf for the task-side FileSystem (r13 advice —
    // same reasoning as [[readWithDv]])
    val hadoopConfB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val packed: Array[(String, Array[Byte], Long, Long)] = scanned
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fid, it) =>
        val fresh = it.map(_._2).toArray
        val old: Array[Long] = existingB.value.get(fid) match {
          case Some(d) =>
            val taskFs = new Path(tp).getFileSystem(hadoopConfB.value.value)
            DeletionVectors.readPositions(taskFs, tp, d)
          case None => Array.empty[Long]
        }
        val union = (fresh ++ old).distinct.sorted
        val freshCount = union.length - old.length
        (fid, DeletionVectors.serialize(union), union.length.toLong, freshCount.toLong)
      }
      .collect()
      .filter(_._4 > 0) // files where the predicate only re-hit DV-dead rows: no-op
      .sortBy(_._1)
    if (packed.isEmpty) return -1L
    val descriptors = DeletionVectors.writePacked(
      fs, tablePath, packed.map(p => (p._2, p._3)).toSeq)
    val fidToDesc: Map[String, DeletionVectors.Descriptor] =
      packed.map(_._1).zip(descriptors).toMap
    val now = System.currentTimeMillis()
    val affected = packed.map(_._1).toSeq
    val removeLines = affected.map(fid => removeAction(byIdentity(fid).path, now, dataChange = true))
    // the physical file is unchanged: its stats stay valid as NON-tight
    // bounds (some stat-counted rows are now DV-dead)
    val addLines = affected.map { fid =>
      addAction(byIdentity(fid).copy(dv = Some(fidToDesc(fid))), physPartitionBy(snap),
        modificationTime = now, dataChange = true)
    }
    // CHANGE DATA FEED: the freshly-dead rows are exactly the LIVE
    // rows matching the predicate (DV-dead ones were excluded above)
    val cdcLines =
      if (!cdfEnabled(snap)) Seq.empty[String]
      else stageCdc(spark, fs, table, snap,
        readLiveRows(spark, tablePath, snap, snap.files, addFileColumn = false)
          .filter(coalesce(predicate, lit(false)))
          .withColumn("_change_type", lit("delete")))
    commitActions(fs, logDir, tablePath,
      _ => upgradeProtocol(snap, "deletionVectors").toSeq ++ txn.map(txnAction) ++
        removeLines ++ addLines ++ cdcLines,
      withIct = ictEnabled(snap.configuration))
  }

  /** Shared commit tail of [[merge]], [[delete]] and [[applyChanges]]:
    * one transaction of `dataChange = true` remove+add pairs (+ the
    * optional `txn` stamp and the `cdc` lines).
    */
  private def commitRewrite(
      spark: SparkSession, fs: FileSystem, logDir: Path, tablePath: String,
      snap: Snapshot, removed: Seq[DeltaFile], added: Seq[Landing.Landed],
      checkpointInterval: Int, txn: Option[(String, Long)],
      cdcLines: Seq[String] = Seq.empty): Long = {
    val now = System.currentTimeMillis()
    val removeLines = removed.map(f => removeAction(f.path, now, dataChange = true))
    val adds = landedAdds(physPartitionBy(snap), added, dataChange = true)
    val version = commitActions(fs, logDir, tablePath,
      v => txn.map(txnAction).toSeq ++ removeLines ++ adds(v) ++ cdcLines,
      withIct = ictEnabled(snap.configuration))
    checkpointOnCadence(spark, tablePath, checkpointInterval, version)
  }

  /** `version`, after a [[writeCheckpoint]] when it is a multiple of
    * `interval` commits — the cadence that keeps the JSON log bounded.
    */
  private def checkpointOnCadence(
      spark: SparkSession, tablePath: String, interval: Int, version: Long): Long = {
    if (interval > 0 && (version + 1) % interval == 0) writeCheckpoint(spark, tablePath)
    version
  }

  /** Resolve `timestampAsOf` (epoch millis) to a version — Delta's
    * own rule: the LATEST commit whose commit timestamp (the log
    * file's modification time) is <= the asked instant. Commits
    * cleaned up behind a checkpoint can't be timestamp-resolved and
    * refuse loudly (their mtimes are gone with them).
    */
  def versionAtTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): Long = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    val log = listLog(spark, tablePath)
    require(log.jsons.nonEmpty, s"DeltaLog: no JSON commits to timestamp-resolve under $tablePath")
    // IN-COMMIT TIMESTAMPS: when the table declares them, each commit's
    // own monotonic clock is the truth (file mtimes survive neither a
    // table copy nor a filesystem migration); commits from before the
    // feature was enabled fall back to their mtime, per spec
    val useIct = ictEnabled(snapshot(spark, tablePath, None).configuration)
    val stamped = log.jsons.toSeq.map { case (v, p) =>
      val ict = if (useIct) lastIct(fs, logDir, v + 1) else None
      (v, ict.getOrElse(fs.getFileStatus(new Path(p)).getModificationTime))
    }.sortBy(_._1)
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"DeltaLog: no commit at or before timestamp $tsMillis " +
        s"(earliest surviving commit is version ${stamped.head._1} at ${stamped.head._2})")
    eligible.last._1
  }

  /** Time travel by WALL CLOCK: resolve the timestamp to a version,
    * then read that snapshot.
    */
  def readAsOfTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): DataFrame =
    read(spark, tablePath, Some(versionAtTimestamp(spark, tablePath, tsMillis)))

  /** NET row-level changes between two versions — the CDF-fallback
    * Delta itself computes for versions without change files: rows in
    * `toVersion` but not `fromVersion` surface as `_change_type =
    * 'insert'`, the reverse as `'delete'` (an update is its
    * delete+insert pair; rows rewritten unchanged cancel out, as in a
    * multiset EXCEPT ALL).
    *
    * Two sources, one tail ([[netChanges]]):
    *  - with the change data feed on and every commit in the range
    *    derivable, the commits' change frames union ONCE and each row
    *    is tagged +1 (`insert`, `update_postimage`) or −1 (`delete`,
    *    `update_preimage`); rows of any other `_change_type` drop.
    *    Every `_change_data` file is scanned once.
    *  - otherwise (an underivable commit, e.g. a restore or versions
    *    before the feed was enabled) only the files whose (path,
    *    deletion-vector) identity CHANGED between the versions are
    *    read: the `toVersion` side +1, the `fromVersion` side −1. The
    *    two sides are different files (or one path under two DVs), so
    *    they stay two scans. An append-only step diffs just the new
    *    files; a merge/delete step reads the rewritten files, never
    *    the untouched ones.
    */
  def diffVersions(
      spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"DeltaLog: diffVersions needs fromVersion < toVersion ($fromVersion >= $toVersion)")
    val sa = snapshot(spark, tablePath, Some(fromVersion))
    val sb = snapshot(spark, tablePath, Some(toVersion))
    require(sa.schemaString == sb.schemaString,
      s"DeltaLog: diffVersions across a schema change is not supported " +
        s"(version $fromVersion and $toVersion declare different schemas)")
    val declared = sb.schema.getOrElse(throw new IllegalArgumentException(
      s"DeltaLog: diffVersions needs a parseable metaData.schemaString at $tablePath"))
    val cols = declared.fieldNames.map(col).toSeq
    if (cdfEnabled(sb)) {
      cdfFrames(spark, tablePath, fromVersion, toVersion, sb, declared) match {
        case Right(frames) if frames.nonEmpty =>
          val ct = col("_change_type")
          val w = when(ct.isin("insert", "update_postimage"), lit(1L))
            .when(ct.isin("delete", "update_preimage"), lit(-1L))
          return netChanges(
            frames.reduce(_.unionByName(_)).select(cols :+ w.as("_w"): _*)
              .filter(col("_w").isNotNull),
            declared)
        case Right(_) =>
          return spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
            .withColumn("_change_type", lit(""))
        case Left(_) => () // fall through to the file-diff recompute
      }
    }
    def key(f: DeltaFile) = (f.path, f.dv)
    val aKeys = sa.files.map(key).toSet
    val bKeys = sb.files.map(key).toSet
    def signedRows(snap: Snapshot, subset: Seq[DeltaFile], w: Long): DataFrame = {
      val rows =
        if (subset.exists(_.dv.isDefined))
          readWithDv(spark, tablePath, snap.copy(files = subset))
        else readSnapshotFiles(spark, tablePath, snap.copy(files = subset), subset,
          addFileColumn = false)
      rows.select(cols :+ lit(w).as("_w"): _*)
    }
    netChanges(
      signedRows(sb, sb.files.filterNot(f => aKeys(key(f))), 1L)
        .unionByName(signedRows(sa, sa.files.filterNot(f => bKeys(key(f))), -1L)),
      declared)
  }

  /** The net of ±1-weighted rows (`declared` columns plus `_w`) in ONE
    * aggregation: the signed sum per distinct row, rows whose sum is 0
    * dropped, and |net| copies of the rest re-emitted through
    * `explode(sequence)`, tagged `insert` when the sum is positive and
    * `delete` when negative. That is `exceptAll`'s multiset semantics in
    * both directions (max(count_a − count_b, 0) copies per distinct
    * row) with one exchange, where `ins.exceptAll(del) UNION
    * del.exceptAll(ins)` plans two and evaluates each input twice. Rows
    * come out unordered; every consumer sorts.
    */
  private def netChanges(weighted: DataFrame, declared: StructType): DataFrame = {
    val cols = declared.fieldNames.map(col).toSeq
    weighted.groupBy(cols: _*).agg(sum(col("_w")).as("_net"))
      .filter(col("_net") =!= 0L)
      .withColumn("_dup", explode(sequence(lit(1L), abs(col("_net")))))
      .select(cols :+
        when(col("_net") > 0L, lit("insert")).otherwise(lit("delete"))
          .as("_change_type"): _*)
  }

  /** CHANGE DATA FEED read — per-commit row-level changes for versions
    * in `(fromVersion, toVersion]`, each row tagged `_change_type`
    * (insert | update_preimage | update_postimage | delete) and
    * `_commit_version`. A commit carrying `cdc` actions reads ONLY its
    * `_change_data` parquet (merge/delete materialized the changes at
    * write time — no rewritten data file is rescanned); a commit
    * without them derives: add-only commits are inserts, remove-only
    * commits are deletes (their rows read at the PRE-commit snapshot,
    * DVs honored), metadata/compaction commits contribute nothing.
    * A mixed rewrite WITHOUT cdc actions (a pre-CDF merge, a restore)
    * refuses loudly — [[diffVersions]] remains the always-correct net
    * recompute for those ranges.
    */
  def readCdf(
      spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"DeltaLog: readCdf needs fromVersion < toVersion ($fromVersion >= $toVersion)")
    val sb = snapshot(spark, tablePath, Some(toVersion))
    val sa = snapshot(spark, tablePath, Some(fromVersion))
    require(sa.schemaString == sb.schemaString,
      s"DeltaLog: readCdf across a schema change is not supported " +
        s"(version $fromVersion and $toVersion declare different schemas)")
    val declared = sb.schema.getOrElse(throw new IllegalArgumentException(
      s"DeltaLog: readCdf needs a parseable metaData.schemaString at $tablePath"))
    cdfFrames(spark, tablePath, fromVersion, toVersion, sb, declared) match {
      case Left(reason) => throw new IllegalArgumentException(s"DeltaLog: $reason")
      case Right(frames) if frames.isEmpty =>
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(-1L))
      case Right(frames) => frames.reduce(_.unionByName(_))
    }
  }

  /** One change frame per contributing commit in `(from, to]`, or
    * Left(reason) when some commit's changes cannot be known without a
    * data-file diff. Driver-side JSON parse per commit — commits are
    * metadata-sized by protocol design, and the loop is over the ASKED
    * version range, not the table.
    */
  private def cdfFrames(
      spark: SparkSession, tablePath: String, fromVersion: Long, toVersion: Long,
      snapTo: Snapshot, declared: StructType): Either[String, Seq[DataFrame]] = {
    val logDir = logDirOf(tablePath)
    val fs = fsOf(spark, logDir)
    def pvMap(n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      if (n == null) Map.empty
      else {
        val it = n.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
        }
        b.result()
      }
    val ordered = declared.fieldNames.map(col).toSeq
    val frames = Seq.newBuilder[DataFrame]
    var v = fromVersion + 1
    while (v <= toVersion) {
      val jp = jsonPath(logDir, v)
      if (!fs.exists(jp))
        return Left(s"commit $v was cleaned up behind a checkpoint — " +
          "its change data feed is no longer derivable")
      val in = fs.open(jp)
      val nodes =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.trim.nonEmpty).map(mapper.readTree).toVector
        finally in.close()
      val cdcs = nodes.flatMap(n => Option(n.get("cdc"))).map { c =>
        DeltaFile(c.get("path").asText, pvMap(c.get("partitionValues")),
          Option(c.get("size")).fold(0L)(_.asLong))
      }
      if (cdcs.nonEmpty) {
        frames += readSnapshotFiles(spark, tablePath, snapTo, cdcs, addFileColumn = false,
            extraData = Seq(StructField("_change_type", StringType)))
          .withColumn("_commit_version", lit(v))
      } else {
        val adds = nodes.flatMap(n => Option(n.get("add")))
          .filter(a => Option(a.get("dataChange")).forall(_.asBoolean))
        val removes = nodes.flatMap(n => Option(n.get("remove")))
          .filter(r => Option(r.get("dataChange")).forall(_.asBoolean))
        if (adds.nonEmpty && removes.nonEmpty)
          return Left(s"version $v rewrote files without cdc actions — " +
            "its row-level changes need delta.enableChangeDataFeed=true at write " +
            "time (or diffVersions' net recompute)")
        if (adds.nonEmpty) {
          val files = adds.map(a => DeltaFile(a.get("path").asText,
            pvMap(a.get("partitionValues")),
            Option(a.get("size")).fold(0L)(_.asLong)))
          frames += readSnapshotFiles(spark, tablePath, snapTo.copy(files = files),
              files, addFileColumn = false)
            .select(ordered: _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v))
        } else if (removes.nonEmpty) {
          // the dropped rows as they were LIVE just before this commit
          val prev = snapshot(spark, tablePath, Some(v - 1))
          val rpaths = removes.map(_.get("path").asText).toSet
          val files = prev.files.filter(f => rpaths(f.path))
          if (files.nonEmpty)
            frames += readLiveRows(spark, tablePath, prev, files, addFileColumn = false)
              .select(ordered: _*)
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v))
        }
      }
      v += 1
    }
    Right(frames.result())
  }

  /** The table's current (latest) version. */
  def currentVersion(spark: SparkSession, tablePath: String): Long = {
    val log = listLog(spark, tablePath)
    val versions = log.jsons.keySet ++ log.checkpoints.keySet
    require(versions.nonEmpty, s"DeltaLog: empty _delta_log under $tablePath")
    versions.max
  }

  /** Incremental PULL of a Delta table — the polling streaming-source
    * twin of the exactly-once `txn` sink: returns the net row changes
    * since `fromVersion` (as [[diffVersions]] rows with
    * `_change_type`) plus the new cursor to persist. A caller looping
    * `(df, cursor) = readChangesSince(t, cursor)` consumes the table
    * incrementally and REPLAYS deterministically after a crash (same
    * cursor in → same changes out — versions are immutable). When
    * nothing new landed the frame is empty and the cursor unchanged,
    * so the poll is one metadata listing, zero data IO.
    */
  def readChangesSince(
      spark: SparkSession, tablePath: String, fromVersion: Long): (DataFrame, Long) = {
    val cur = currentVersion(spark, tablePath)
    // initial load (no cursor yet): the whole current snapshot is the
    // insert set
    if (fromVersion < 0)
      return (read(spark, tablePath).withColumn("_change_type", lit("insert")), cur)
    if (cur <= fromVersion) {
      val snap = snapshot(spark, tablePath, None)
      val declared = snap.schema.getOrElse(throw new IllegalArgumentException(
        s"DeltaLog: readChangesSince needs a parseable metaData.schemaString at $tablePath"))
      val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
        .withColumn("_change_type", lit(""))
      (empty, fromVersion)
    } else (diffVersions(spark, tablePath, fromVersion, cur), cur)
  }

  /** RESTORE the table to `version` as a NEW commit (Delta's RESTORE
    * TABLE ... TO VERSION AS OF): files added since the target version
    * are removed, files removed since then are re-added with their
    * original partitionValues/size/stats/DV descriptors and row ids,
    * and — when the schema evolved in between — the target's metaData
    * action is re-emitted so readers see the restored shape. History is
    * PRESERVED: the restore is one more transaction, and time travel
    * to the pre-restore state still works. Refuses if any file the
    * target needs was vacuumed away. Returns the committed version
    * (-1 when the restore is a no-op).
    */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val logDir = logDirOf(tablePath)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    val current = snapshot(spark, tablePath, None)
    val target = snapshot(spark, tablePath, Some(version))
    // the file identity is (path, deletion-vector descriptor), exactly
    // as in [[diffVersions]]: a deleteWithDv after the target keeps the
    // data-file path and only swaps its DV, so a path-only diff would
    // emit NO action for it and silently leave the post-target deletes
    // applied (r13 advice). With (path, dv) keys the DV swap restores
    // as a remove+add pair re-carrying the target's descriptor (the
    // within-version add-wins tie-break in [[replay]] makes that
    // pair the canonical DV-change commit shape).
    def fkey(f: DeltaFile): (String, Option[DeletionVectors.Descriptor]) = (f.path, f.dv)
    val currentKeys = current.files.map(fkey).toSet
    val targetKeys = target.files.map(fkey).toSet
    val toRemove = current.files.filterNot(f => targetKeys(fkey(f)))
    val toAdd = target.files.filterNot(f => currentKeys(fkey(f)))
    if (toRemove.nonEmpty) appendOnlyGuard(current, "restore")
    val metaChanged = target.schemaString != current.schemaString ||
      target.partitionColumns != current.partitionColumns
    if (toRemove.isEmpty && toAdd.isEmpty && !metaChanged) return -1L
    // every file the restored snapshot references must still exist —
    // a vacuum beyond the target's horizon makes the restore impossible
    val missing = toAdd.filterNot(f => fs.exists(new Path(resolve(tablePath, f.path)))) ++
      toAdd.filter(_.dv.exists(d => (d.storageType == "u" || d.storageType == "p") &&
        !fs.exists(d.absolutePath(tablePath))))
    require(missing.isEmpty,
      s"DeltaLog: restore to version $version impossible — " +
        s"${missing.size} file(s) vacuumed away (first: ${missing.headOption.map(_.path).getOrElse("")})")
    val metaLines = if (!metaChanged) Seq.empty else Seq(metaDataAction(
      current.metaId.orElse(target.metaId).getOrElse("graft"),
      target.schemaString.getOrElse(""), target.partitionColumns, target.configuration))
    // verbatim paths: a re-added path IS the original add's identity,
    // and it keeps the row ids the target snapshot gave it
    val now = System.currentTimeMillis()
    val removeLines = toRemove.map(f => removeAction(f.path, now, dataChange = true))
    val addLines = toAdd.map(f =>
      addAction(f, physPartitionBy(target), modificationTime = now, dataChange = true,
        rowIds = for (b <- f.baseRowId; v <- f.defaultRowCommitVersion) yield (b, v)))
    commitActions(fs, logDir, tablePath,
      _ => metaLines ++ removeLines ++ addLines,
      withIct = ictEnabled(current.configuration))
  }

  /** Delta's encoder of [[Landing.FooterStats]]: the protocol's
    * `add.stats` JSON (numRecords, minValues, maxValues, nullCount) in
    * the forms Delta's own stats carry — dates as ISO days, timestamps
    * as ISO instants, decimals as their value.
    */
  private[sources] def addStats(stats: Landing.FooterStats): String = {
    val root = mapper.createObjectNode()
    root.put("numRecords", stats.rows)
    val minVals = root.putObject("minValues")
    val maxVals = root.putObject("maxValues")
    val nullCnt = root.putObject("nullCount")
    def put(o: ObjectNode, name: String, dt: DataType, v: Any): Unit = (dt, v) match {
      case (DateType, d: Int) => o.put(name, java.time.LocalDate.ofEpochDay(d.toLong).toString)
      case (TimestampType | TimestampNTZType, us: Long) => o.put(name, java.time.Instant
        .ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L).toString)
      case (_, d: Decimal) => o.put(name, d.toJavaBigDecimal)
      case (_, s: org.apache.spark.unsafe.types.UTF8String) => o.put(name, s.toString)
      case (_, n: Byte) => o.put(name, n.toInt)
      case (_, n: Short) => o.put(name, n.toInt)
      case (_, n: Int) => o.put(name, n)
      case (_, n: Long) => o.put(name, n)
      case (_, n: Float) => o.put(name, n)
      case (_, n: Double) => o.put(name, n)
      case (_, b: Boolean) => o.put(name, b)
    }
    stats.columns.foreach { case (name, c) =>
      nullCnt.put(name, c.nullCount)
      c.bounds.foreach { case (dt, lo, hi) => put(minVals, name, dt, lo); put(maxVals, name, dt, hi) }
    }
    mapper.writeValueAsString(root)
  }

  /** The `add` lines of `landed` files at the commit version, with
    * encoded paths and footer stats (encoded once, not per commit
    * attempt); `rowIds` gives file i its base row id.
    */
  private def landedAdds(
      partitionKeys: Seq[String], landed: Seq[Landing.Landed],
      dataChange: Boolean, rowIds: Option[RowIdBlock] = None): Long => Seq[String] = {
    val files = landed.map(l =>
      DeltaFile(encodePath(l.rel), l.partitionValues, l.size, stats = Some(addStats(l.stats))))
    v => files.zip(landed).zipWithIndex.map { case ((f, l), i) =>
      addAction(f, partitionKeys, l.mtime, dataChange, rowIds.map(r => (r.bases(i), v)))
    }
  }

  /** `delta.enableInCommitTimestamps = true` — every commit carries a
    * MONOTONIC `commitInfo.inCommitTimestamp` as its first action, and
    * timestamp travel resolves against it instead of file modification
    * times (which survive neither copies nor filesystem migrations).
    */
  def ictEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableInCommitTimestamps").contains("true")

  /** The previous commit's inCommitTimestamp, when its JSON survives
    * and carries one — the monotonicity floor for the next commit.
    */
  private def lastIct(fs: FileSystem, logDir: Path, version: Long): Option[Long] =
    if (version <= 0) None
    else {
      val jp = jsonPath(logDir, version - 1)
      if (!fs.exists(jp)) None
      else {
        val in = fs.open(jp)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.trim.nonEmpty).map(mapper.readTree)
          .flatMap(n => Option(n.get("commitInfo")))
          .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong))
          .toSeq.headOption
        finally in.close()
      }
    }

  /** Land one commit at the next free version with the put-if-absent
    * race loop — the one seam every writer commits through. `lines(v)`
    * builds the action lines for the version actually being attempted
    * (version 0 carries protocol + metaData); with `withIct` a
    * `commitInfo` carrying the in-commit timestamp leads them.
    */
  private def commitActions(
      fs: FileSystem, logDir: Path, tablePath: String,
      lines: Long => Seq[String], withIct: Boolean = false): Long = {
    def tryCommit(version: Long): Boolean = {
      val ictLines =
        if (!withIct) Seq.empty
        else {
          // monotonic: never behind the predecessor's clock (the spec's
          // guarantee that makes ICT binary-searchable)
          val ict = math.max(System.currentTimeMillis(),
            lastIct(fs, logDir, version).fold(Long.MinValue)(_ + 1))
          Seq(commitInfoAction(ict))
        }
      val bytes = (ictLines ++ lines(version)).mkString("", "\n", "\n").getBytes("UTF-8")
      // temp + rename (what Delta's own LogStore does on HDFS/local):
      // a failed write can never leave a truncated %020d.json in the
      // log, and a taken version returns false
      Landing.landFile(fs, jsonPath(logDir, version), bytes, overwrite = false)
    }
    // the floor version counts CHECKPOINTS too: after log cleanup the
    // JSON prefix is gone and the checkpoint is the only witness of
    // the table's version — a JSON-only scan would re-commit version 0
    val existing = if (fs.exists(logDir))
      fs.listStatus(logDir).toSeq.map(_.getPath.getName).collect {
        case JsonCommit(v) => v.toLong
        case Checkpoint(v) => v.toLong
        case MultiPartCheckpoint(v, _, _) => v.toLong
        case V2Checkpoint(v, _) => v.toLong
      } else Seq.empty
    var version = if (existing.isEmpty) 0L else existing.max + 1
    var attempts = 0
    while (!tryCommit(version)) {
      version += 1
      attempts += 1
      require(attempts < 100000,
        s"DeltaLog: gave up committing to $tablePath after $attempts version races")
    }
    version
  }

  /** OPTIMIZE twin — bin-pack small live files, per partition, into
    * `targetFileBytes`-sized rewrites and land ONE commit of
    * `dataChange = false` remove+add pairs (the protocol's marker for
    * a layout-only transaction: streaming readers know no rows
    * changed). The small-file problem is THE table-maintenance cost
    * at 100 TB ingest — a year of micro-batch appends is 10^6 tiny
    * files whose per-file open/footer overhead dominates scans;
    * compaction restores scan bandwidth without touching semantics
    * (the s25 oracle pins the relation unchanged). Partition
    * boundaries are respected (a rewrite never mixes partition
    * values, so partitionValues stay per-file truths). Old files stay
    * on disk for time travel until [[vacuum]]. Returns the committed
    * version, or -1 when nothing needed compacting.
    */
  def compact(
      spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = logDirOf(tablePath)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    val snap = snapshot(spark, tablePath, None)
    if (snap.columnMappingMode != "none") writeGuards(snap, tablePath, "compact")
    else protocolWriteGuards(snap, "compact")
    require(zorderBy.size <= 2,
      "DeltaLog: zorderBy takes one column (range clustering) or two (z-interleave)")
    zorderBy.foreach { c =>
      require(snap.schema.exists(_.fieldNames.contains(c)) &&
        !snap.partitionColumns.contains(c),
        s"DeltaLog: zorderBy column '$c' must be a non-partition data column")
      if (zorderBy.size == 2) {
        val dt = snap.schema.get(c).dataType
        require(dt == LongType || dt == IntegerType,
          s"DeltaLog: two-column z-ordering needs integral columns, '$c' is ${dt.simpleString}")
      }
    }
    val dataSchema = snap.schema.map(s =>
      StructType(s.filterNot(f => snap.partitionColumns.contains(f.name))))
    // ROW-TRACKING compaction: survivors must keep their identities
    // through the dataChange=false rewrite — read each packing group
    // WITH its row ids and write them into the MATERIALIZED physical
    // columns (the protocol's carry; readers coalesce them over
    // base+position). The new files still take fresh baseRowIds, so
    // every add carries the required fields.
    val rt = snap.writerFeatures.contains("rowTracking")
    val rtCols: Option[(String, String)] =
      if (!rt) None
      else {
        val mi = snap.materializedRowIdCol
        val mv = snap.materializedRowVersionCol
        require(mi.isDefined && mv.isDefined,
          s"DeltaLog: compact on rowTracking table $tablePath needs the " +
            "materialized row-id column names in the table configuration — " +
            "without them survivor identities cannot be carried")
        Some((mi.get, mv.get))
      }
    val partitionKeys = physPartitionBy(snap)
    var removes = Seq.empty[DeltaFile]
    var adds = Seq.empty[Landing.Landed]
    snap.files.groupBy(_.partitionValues).toSeq
      .sortBy { case (pv, _) => snap.partitionColumns.map(c => pv.getOrElse(c, "")).mkString(" ") }
      .foreach { case (pvals, files) =>
        // z-order is a CLUSTERING rewrite: every file in the partition
        // participates so the result is globally range-disjoint; plain
        // bin-packing touches the small files plus every DV-carrying
        // one (the rewrite PURGES its vector — Delta's OPTIMIZE does
        // the same — so the output files are always clean)
        val small =
          if (zorderBy.nonEmpty) files
          else files.filter(f => f.size < targetFileBytes || f.dv.isDefined)
        // one DV-carrying file alone is still worth rewriting (purge);
        // plain bin-packing needs at least two to pack
        val worthIt =
          if (zorderBy.nonEmpty) small.nonEmpty
          else small.size >= 2 || small.exists(_.dv.isDefined)
        if (worthIt) {
          val total = small.map(_.size).sum
          val nOut = math.max(1, ((total + targetFileBytes - 1) / targetFileBytes).toInt)
          // DV-aware live-row scan, then back to the DATA columns only
          // (partition values re-attach via add.partitionValues); a
          // rowTracking rewrite scans WITH ids and lands them in the
          // materialized columns
          val base = rtCols match {
            case Some((mi, mv)) =>
              readFilesWithRowIds(spark, tablePath, snap, small)
                .withColumnRenamed("row_id", mi)
                .withColumnRenamed("row_commit_version", mv)
                .select((dataSchema.map(_.fieldNames.toSeq)
                  .getOrElse(Seq.empty) ++ Seq(mi, mv)).map(col): _*)
            case None =>
              val base0 = readLiveRows(spark, tablePath, snap, small, addFileColumn = false)
              dataSchema match {
                case Some(s) => base0.select(s.fieldNames.map(col).toSeq: _*)
                case None => snap.partitionColumns.foldLeft(base0)(_.drop(_))
              }
          }
          val rewritten = zorderBy match {
            case Seq() => base.coalesce(nOut)
            case Seq(a) =>
              // single column: plain range clustering (z of one dim)
              base.repartitionByRange(nOut, col(a)).sortWithinPartitions(col(a))
            case Seq(a, b) =>
              // interleave the two keys so every output file covers a
              // small rectangle in (a, b) space — min/max stay tight
              // on BOTH columns, and a scan filtered on either skips
              val z = graft.ext.ZOrder.zValue(
                col(a).cast(LongType), col(b).cast(LongType), 31)
              base.withColumn("__z", z)
                .repartitionByRange(nOut, col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
          }
          // the rewrite lands under the TABLE's own partition dir (the
          // Hive path of the group's values, as Spark's writer spells
          // it), never beside a source file: a shallow clone's files
          // live in the source table
          val dir = partitionKeys.map(k =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString(k, pvals.getOrElse(k, null))).mkString("/")
          adds = adds ++ Landing.land(fs, table, toPhysical(spark, snap, rewritten),
              "part-compact", dir = dir)
            .map(_.copy(partitionValues = pvals))
          removes = removes ++ small
        }
      }
    if (removes.isEmpty) return -1L
    // fresh base ids for the compacted outputs (every rowTracking add
    // must carry them; the materialized columns override for carried
    // rows) + the high-water-mark bump in the SAME commit
    val rowIds =
      if (!rt) None
      else {
        require(snap.rowIdHighWaterMark.isDefined,
          "DeltaLog: compact on a rowTracking table with no delta.rowTracking " +
            "high-water-mark domain metadata — fresh base ids could reuse burned ones")
        Some(RowIdBlock(snap.rowIdHighWaterMark, adds.map(_.stats.rows)))
      }
    // layout-only: removes carry no deletion time and dataChange=false
    val removeLines = removes.map(f => removeAction(f.path, 0L, dataChange = false))
    val addLines = landedAdds(partitionKeys, adds, dataChange = false, rowIds)
    commitWithRowIds(spark, fs, logDir, tablePath, "compact", rowIds,
      withIct = ictEnabled(snap.configuration))(v => removeLines ++ addLines(v))
  }

  /** VACUUM twin — physically delete data files that are NOT in the
    * current snapshot and whose modification time is older than
    * `retainMs` (Delta's documented semantics: time travel to
    * versions whose files were vacuumed stops working — the log
    * remains, the scan fails loudly). Never touches `_delta_log` or
    * in-flight staging dirs. Returns the deleted file count.
    *
    * Retention floor: like Delta itself, retention below the 7-day
    * default is REFUSED unless `force = true` — an in-flight append
    * moves data files into the table BEFORE its commit lands, so a
    * short-retention vacuum racing a writer would delete
    * about-to-be-referenced files. `force` is for single-writer tests
    * and fixtures only; production vacuums must outlast any writer.
    */
  def vacuum(
      spark: SparkSession, tablePath: String,
      retainMs: Long = 7L * 24 * 3600 * 1000, force: Boolean = false): Long = {
    require(force || retainMs >= 7L * 24 * 3600 * 1000,
      s"DeltaLog: vacuum retention ${retainMs}ms is below the 7-day safety floor — " +
        "files staged by an in-flight append are unreferenced until its commit " +
        "lands; pass force = true only when no concurrent writer can exist")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDirOf(tablePath)), s"not a Delta table: no _delta_log under $tablePath")
    val snapNow = snapshot(spark, tablePath, None)
    val live = snapNow.files
      .map(f => fs.makeQualified(new Path(resolve(tablePath, f.path))).toString).toSet
    // live DELETION-VECTOR files are referenced by add.deletionVector,
    // not by data paths — reclaiming one corrupts every current read;
    // orphaned ones (replaced by a later DV union) age out like data
    val liveDv = snapNow.files.flatMap(_.dv)
      .filter(d => d.storageType == "u" || d.storageType == "p")
      .map(d => fs.makeQualified(d.absolutePath(tablePath)).toString).toSet
    val cutoff = System.currentTimeMillis() - retainMs
    var deleted = 0L
    def walk(dir: Path): Unit = {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_delta_log" && !name.startsWith(Landing.StagePrefix) &&
              !name.startsWith("_cp_stage_"))
            walk(st.getPath)
        } else if (name.endsWith(".parquet") &&
            !live.contains(fs.makeQualified(st.getPath).toString) &&
            st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) deleted += 1
        } else if (name.startsWith("deletion_vector_") && name.endsWith(".bin") &&
            !liveDv.contains(fs.makeQualified(st.getPath).toString) &&
            st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    walk(table)
    deleted
  }
}

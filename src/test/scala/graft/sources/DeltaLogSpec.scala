package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[DeltaLog]] against hand-authored protocol-conformant logs: the
  * spec crafts `_delta_log` contents exactly as the published Delta
  * protocol lays them out (20-digit JSON commits, one action per
  * line, classic checkpoint parquet + `_last_checkpoint`) and asserts
  * snapshot reconstruction — including the cases a naive directory
  * glob gets wrong (removes, re-adds, time travel), partitioned
  * tables (values live in `add.partitionValues`, NOT the data files),
  * checkpoint-carried `protocol`/`metaData` (the r11 guard-bypass
  * fix), the checkpoint writer + `_last_checkpoint` resume, and the
  * loud-fail guards (unsupported reader features, malformed
  * checkpoints, log gaps).
  */
class DeltaLogSpec extends SparkSpec {

  private def newTable(): String =
    Files.createTempDirectory("graft-delta").toString

  /** Write `n` rows tagged `tag` as a single named data file. */
  private def dataFile(table: String, name: String, tag: String, n: Int): Unit = {
    import spark.implicits._
    val stage = s"$table/_stage"
    (0 until n).map(i => (tag, i.toLong)).toDF("tag", "i")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$stage/part-*.parquet"))(0).getPath
    val dest = new org.apache.hadoop.fs.Path(s"$table/$name")
    fs.mkdirs(dest.getParent)
    fs.rename(part, dest)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  private def commit(table: String, version: Long, lines: Seq[String]): Unit = {
    val dir = Paths.get(s"$table/_delta_log")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n"))
  }

  private val Protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
  private val Meta =
    """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{}","partitionColumns":[]}}"""
  private def add(p: String, pvals: String = "{}") =
    s"""{"add":{"path":"$p","partitionValues":$pvals,"size":1,"modificationTime":0,"dataChange":true}}"""
  private def remove(p: String) =
    s"""{"remove":{"path":"$p","deletionTimestamp":1,"dataChange":true}}"""

  /** Craft a spec-compliant classic checkpoint: protocol + metaData
    * rows plus one `add` per live path — the exact compaction a real
    * writer produces (and what makes the JSON prefix disposable).
    */
  private def writeCraftedCheckpoint(
      table: String, version: Long, livePaths: Seq[String],
      minReader: Int = 1, partitionCols: Seq[String] = Seq.empty,
      pvals: Map[String, Map[String, String]] = Map.empty,
      withPointer: Boolean = true): Unit = {
    import spark.implicits._
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val removeType = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType)))
    val head = spark.range(1).select(
      lit(null).cast(addType).as("add"),
      lit(null).cast(removeType).as("remove"),
      struct(lit(minReader).as("minReaderVersion"),
        lit(2).as("minWriterVersion")).as("protocol"),
      struct(lit("t").as("id"), lit("{}").as("schemaString"),
        (if (partitionCols.isEmpty) array().cast(ArrayType(StringType))
         else array(partitionCols.map(lit): _*)).as("partitionColumns")).as("metaData"))
    val adds = livePaths.toDF("p").select(
      struct(col("p").as("path"),
        typedLit[Map[String, String]](Map.empty).as("partitionValues"),
        lit(1L).as("size"), lit(0L).as("modificationTime"),
        lit(true).as("dataChange")).as("add"),
      lit(null).cast(removeType).as("remove"),
      lit(null).cast(head.schema("protocol").dataType).as("protocol"),
      lit(null).cast(head.schema("metaData").dataType).as("metaData"))
      // partitionValues per live path, when supplied
      .withColumn("add", when(col("add").isNotNull, struct(
        col("add.path").as("path"),
        coalesce(
          typedLit(pvals).getItem(col("add.path")),
          col("add.partitionValues")).as("partitionValues"),
        col("add.size").as("size"),
        col("add.modificationTime").as("modificationTime"),
        col("add.dataChange").as("dataChange"))))
    val cpDf = head.unionByName(adds)
    val stage = s"$table/_cpstage"
    cpDf.coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$stage/part-*.parquet"))(0).getPath
    Files.createDirectories(Paths.get(s"$table/_delta_log"))
    fs.rename(part, new org.apache.hadoop.fs.Path(
      s"$table/_delta_log/" + f"$version%020d" + ".checkpoint.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    if (withPointer)
      Files.writeString(Paths.get(s"$table/_delta_log/_last_checkpoint"),
        s"""{"version":$version,"size":${livePaths.size + 1}}""")
  }

  private def tagCounts(table: String, v: Option[Long] = None): Set[(String, Long)] = {
    val df = DeltaLog.read(spark, table, v)
    df.groupBy("tag").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("tag") -> r.getAs[Long]("n")).toSet
  }

  test("action replay: removes drop a file still on disk; later re-add restores it") {
    val t = newTable()
    dataFile(t, "a.parquet", "a", 3)
    dataFile(t, "b.parquet", "b", 4)
    commit(t, 0, Seq(Protocol, Meta, add("a.parquet"), add("b.parquet")))
    commit(t, 1, Seq(remove("b.parquet")))
    // b.parquet is STILL ON DISK — the log, not the directory, is truth
    assert(tagCounts(t) == Set("a" -> 3L))
    commit(t, 2, Seq(add("b.parquet"))) // re-add: last action per path wins
    assert(tagCounts(t) == Set("a" -> 3L, "b" -> 4L))
  }

  test("time travel: versionAsOf replays only the prefix of the log") {
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    dataFile(t, "b.parquet", "b", 2)
    commit(t, 0, Seq(Protocol, Meta, add("a.parquet")))
    commit(t, 1, Seq(remove("a.parquet"), add("b.parquet")))
    assert(tagCounts(t, Some(0L)) == Set("a" -> 2L))
    assert(tagCounts(t, Some(1L)) == Set("b" -> 2L))
    assert(tagCounts(t) == Set("b" -> 2L))
  }

  test("checkpoint: snapshot resumes from the checkpoint parquet plus later commits") {
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    dataFile(t, "b.parquet", "b", 3)
    dataFile(t, "c.parquet", "c", 5)
    // versions 0-1 are COMPACTED AWAY: only the checkpoint at v1 and
    // the v2 commit exist (the post-cleanup shape of a real table)
    writeCraftedCheckpoint(t, 1, Seq("a.parquet", "b.parquet"))
    commit(t, 2, Seq(remove("b.parquet"), add("c.parquet")))
    assert(tagCounts(t) == Set("a" -> 2L, "c" -> 5L))
  }

  test("checkpoint guards fire even when protocol/metaData live ONLY in the checkpoint") {
    // r11 verdict #1: the old reader nulled protocol/metaData out of
    // the checkpoint, so a reader-v3 table whose refusing actions were
    // compacted away was read silently wrong. Now the checkpoint's own
    // protocol row trips the guard.
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    // minReader 4 (not 3): version 3 with no unsupported features now
    // reads legitimately since the deletion-vector support landed
    writeCraftedCheckpoint(t, 0, Seq("a.parquet"), minReader = 4)
    val e = intercept[IllegalArgumentException](DeltaLog.read(spark, t))
    assert(e.getMessage.contains("minReaderVersion"), e.getMessage)
  }

  test("checkpoint-carried partitionColumns are honored, not dropped") {
    // the other half of the r11 guard bypass: partition columns known
    // only to the checkpoint's metaData must surface on the scan
    val t = newTable()
    dataFile(t, "day=1/a.parquet", "a", 2)
    dataFile(t, "day=2/b.parquet", "b", 3)
    writeCraftedCheckpoint(t, 0, Seq("day=1/a.parquet", "day=2/b.parquet"),
      partitionCols = Seq("day"),
      pvals = Map(
        "day=1/a.parquet" -> Map("day" -> "1"),
        "day=2/b.parquet" -> Map("day" -> "2")))
    val rows = DeltaLog.read(spark, t)
      .groupBy("day").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Long]("n")).toSet
    assert(rows == Set("1" -> 2L, "2" -> 3L))
  }

  test("malformed checkpoint (no protocol/metaData columns) is refused, not guessed") {
    import spark.implicits._
    val t = newTable()
    dataFile(t, "a.parquet", "a", 1)
    // a checkpoint parquet carrying ONLY add rows — protocol forbids it
    Seq("a.parquet").toDF("p")
      .select(struct(col("p").as("path"), lit(1L).as("size")).as("add"))
      .coalesce(1).write.parquet(s"$t/_cpstage")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$t/_cpstage/part-*.parquet"))(0).getPath
    Files.createDirectories(Paths.get(s"$t/_delta_log"))
    fs.rename(part, new org.apache.hadoop.fs.Path(
      s"$t/_delta_log/" + f"${0L}%020d" + ".checkpoint.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_cpstage"), true)
    val e = intercept[IllegalArgumentException](DeltaLog.read(spark, t))
    assert(e.getMessage.contains("malformed checkpoint"), e.getMessage)
  }

  test("partitioned table: values come from add.partitionValues, cast per schemaString") {
    import spark.implicits._
    // data files do NOT contain the partition column — the protocol
    // stores its value per-file in the add action; the declared schema
    // types it (year INT), and a null partition value round-trips
    val t = newTable()
    dataFile(t, "year=2020/a.parquet", "a", 2)
    dataFile(t, "year=2021/b.parquet", "b", 3)
    dataFile(t, "other/c.parquet", "c", 1)
    val schemaString = StructType(Seq(
      StructField("tag", StringType), StructField("i", LongType),
      StructField("year", IntegerType))).json
    val metaP =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder.build.writeValueAsString(schemaString)},"partitionColumns":["year"]}}"""
    commit(t, 0, Seq(Protocol, metaP,
      add("year=2020/a.parquet", """{"year":"2020"}"""),
      add("year=2021/b.parquet", """{"year":"2021"}"""),
      add("other/c.parquet", """{"year":null}""")))
    val df = DeltaLog.read(spark, t)
    assert(df.schema.fieldNames.toSeq == Seq("tag", "i", "year"))
    assert(df.schema("year").dataType == IntegerType)
    val got = df.groupBy("year").agg(count(lit(1)).as("n")).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) -> r.getLong(1)).toSet
    assert(got == Set(2020 -> 2L, 2021 -> 3L, -1 -> 1L))
    // a filter on the partition column reaches the one scan as a
    // partition filter, and the log-backed index hands the planner only
    // the matching year's file: the scan selects and reads that file
    // alone — file pruning, not row pruning
    val pruned = df.filter(col("year") === 2020)
    assert(pruned.count() == 2L)
    pruned.collect()
    val scans = graft.PlanProbe.fileScans(pruned.queryExecution.executedPlan)
    assert(scans.size == 1, s"expected one scan, got ${scans.size}")
    val selected = scans.head.metrics("numFiles").value
    val readFiles = scans.head.inputRDD.partitions.toSeq.flatMap {
      case p: org.apache.spark.sql.execution.datasources.FilePartition =>
        p.files.map(_.filePath.toString).toSeq
      case _ => Nil
    }
    assert(selected == 1 && readFiles.length == 1 && readFiles.head.contains("year=2020"),
      s"partition filter should prune to one file: selected $selected, read $readFiles")
  }

  test("string skipping compares in UTF-8 byte order, as parquet footers do") {
    import spark.implicits._
    // footer max is the 4-byte "😀" (F0 9F 98 80), above "！" (EF BC 81)
    // in UTF-8; in UTF-16 order its surrogate pair sorts below "！"
    val t = newTable()
    DeltaLog.append(spark, t, Seq("！", "😀").toDF("tag").coalesce(1))
    val slice = DeltaLog.read(spark, t).filter(col("tag").between("！", "！"))
    assert(LogFileIndex.plannedFiles(slice).size == 1)
    assert(slice.count() == 1L)
  }

  test("percent-encoded add paths resolve to the on-disk file") {
    val t = newTable()
    dataFile(t, "part a.parquet", "a", 2) // space in the data-file name
    commit(t, 0, Seq(Protocol, Meta, add("part%20a.parquet")))
    assert(tagCounts(t) == Set("a" -> 2L))
  }

  test("append writer: round trip, contiguous versions, time travel, conflict retry") {
    import spark.implicits._
    val t = newTable()
    val v0 = DeltaLog.append(spark, t,
      Seq(("a", 1L), ("a", 2L)).toDF("tag", "i"))
    assert(v0 == 0L)
    // a concurrent writer takes version 1 (commitInfo-only commit is
    // protocol-legal) — the next append must RETRY past it, not
    // overwrite it
    commit(t, 1, Seq("""{"commitInfo":{"operation":"OPTIMIZE"}}"""))
    val v2 = DeltaLog.append(spark, t, Seq(("b", 3L)).toDF("tag", "i"))
    assert(v2 == 2L, s"conflict retry should land at version 2, got $v2")
    assert(tagCounts(t) == Set("a" -> 2L, "b" -> 1L))
    // time travel cuts back to the first append
    assert(tagCounts(t, Some(0L)) == Set("a" -> 2L))
    // and version numbering on disk is exactly 0, 1, 2
    val names = new java.io.File(s"$t/_delta_log").list().toSeq
      .filter(_.endsWith(".json")).sorted
    assert(names == Seq(f"${0L}%020d.json", f"${1L}%020d.json", f"${2L}%020d.json"), names)
  }

  test("append writes a REAL schemaString and real file sizes (reader-interop fields)") {
    import spark.implicits._
    val t = newTable()
    val df = Seq(("a", 1L), ("b", 2L)).toDF("tag", "i")
    DeltaLog.append(spark, t, df)
    val lines = Files.readAllLines(
      Paths.get(s"$t/_delta_log/" + f"${0L}%020d.json")).toArray(Array.empty[String])
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaLine = lines.find(_.contains("\"metaData\"")).get
    val schemaString = mapper.readTree(metaLine).get("metaData").get("schemaString").asText()
    // what delta-spark/delta-rs parse at snapshot load: a serialized
    // StructType that round-trips to the written DataFrame's schema
    assert(DataType.fromJson(schemaString) == df.schema,
      s"schemaString must round-trip the schema, got: $schemaString")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    lines.filter(_.contains("\"add\"")).foreach { l =>
      val addNode = mapper.readTree(l).get("add")
      val p = new org.apache.hadoop.fs.Path(t, addNode.get("path").asText())
      assert(addNode.get("size").asLong() == fs.getFileStatus(p).getLen,
        s"add.size must be the real file length for $p")
    }
    // the read side now DECLARES that schema (no inference): column
    // names and types match the written frame exactly (file sources
    // force nullable, so nullability is excluded by design)
    assert(DeltaLog.read(spark, t).schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("append refuses a mismatched schema instead of corrupting the table") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq(("a", 1L)).toDF("tag", "i"))
    val e = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t, Seq((1L, "a")).toDF("i", "tag")))
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
  }

  test("checkpoint writer: 25 commits read identically via checkpoint resume after log cleanup") {
    import spark.implicits._
    val t = newTable()
    (0 until 25).foreach { i =>
      DeltaLog.append(spark, t, Seq((s"t$i", i.toLong)).toDF("tag", "i"))
    }
    // appends auto-checkpoint every 10 commits → checkpoints at 9 and
    // 19, _last_checkpoint → 19
    val logDir = new java.io.File(s"$t/_delta_log")
    val cps = logDir.list().toSeq.filter(_.endsWith(".checkpoint.parquet")).sorted
    assert(cps == Seq(f"${9L}%020d.checkpoint.parquet", f"${19L}%020d.checkpoint.parquet"), cps)
    val full = DeltaLog.read(spark, t).orderBy("i").collect().toSeq
    assert(full.size == 25)
    // CLEAN UP the JSON prefix the newest checkpoint covers — reads
    // must not notice (checkpoint + commits 20..24)
    (0L to 19L).foreach { v =>
      Files.delete(Paths.get(s"$t/_delta_log/" + f"$v%020d.json"))
    }
    val resumed = DeltaLog.read(spark, t).orderBy("i").collect().toSeq
    assert(resumed == full, "checkpoint resume must equal the pre-cleanup read")
    // time travel BETWEEN checkpoint and head anchors on the checkpoint
    assert(DeltaLog.read(spark, t, Some(21L)).count() == 22L)
    // time travel to the checkpoint version itself works
    assert(DeltaLog.read(spark, t, Some(19L)).count() == 20L)
    // time travel BEFORE every surviving checkpoint refuses loudly
    val e = intercept[IllegalArgumentException](DeltaLog.read(spark, t, Some(3L)))
    assert(e.getMessage.contains("cannot time-travel"), e.getMessage)
  }

  test("guards: unsupported reader version/features, log gap, no live files") {
    val t1 = newTable()
    dataFile(t1, "a.parquet", "a", 1)
    commit(t1, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","variantType"]}}""",
      Meta, add("a.parquet")))
    val e1 = intercept[IllegalArgumentException](DeltaLog.read(spark, t1))
    assert(e1.getMessage.contains("variantType"), e1.getMessage)
    // reader version 4 refuses even with supported features alone
    val t1b = newTable()
    dataFile(t1b, "a.parquet", "a", 1)
    commit(t1b, 0, Seq(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      Meta, add("a.parquet")))
    val e1b = intercept[IllegalArgumentException](DeltaLog.read(spark, t1b))
    assert(e1b.getMessage.contains("minReaderVersion 4"), e1b.getMessage)
    // version 3 declaring ONLY deletionVectors (none live) reads plainly
    val t1c = newTable()
    dataFile(t1c, "a.parquet", "a", 3)
    commit(t1c, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      Meta, add("a.parquet")))
    assert(DeltaLog.read(spark, t1c).count() == 3)

    val t3 = newTable()
    dataFile(t3, "a.parquet", "a", 1)
    commit(t3, 0, Seq(Protocol, Meta, add("a.parquet")))
    commit(t3, 2, Seq(add("a.parquet"))) // version 1 missing
    val e3 = intercept[IllegalArgumentException](DeltaLog.read(spark, t3))
    assert(e3.getMessage.contains("missing"), e3.getMessage)

    val t4 = newTable()
    dataFile(t4, "a.parquet", "a", 1)
    commit(t4, 0, Seq(Protocol, Meta, add("a.parquet")))
    commit(t4, 1, Seq(remove("a.parquet")))
    val e4 = intercept[IllegalArgumentException](DeltaLog.read(spark, t4))
    assert(e4.getMessage.contains("no live data files"), e4.getMessage)
  }

  test("partitioned append: Hive layout staged, partitionValues in adds, typed read-back") {
    import spark.implicits._
    val t = newTable()
    val df = Seq((1L, 2020, "a"), (2L, 2020, "b"), (3L, 2021, "a"))
      .toDF("id", "yr", "tag")
    DeltaLog.append(spark, t, df, partitionBy = Seq("yr"))
    val back = DeltaLog.read(spark, t)
    // schemaString order (id, yr, tag) survives even though the data
    // files store only (id, tag) under yr=... directories
    assert(back.schema.fieldNames.toSeq == Seq("id", "yr", "tag"))
    assert(back.schema("yr").dataType == org.apache.spark.sql.types.IntegerType)
    assert(back.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ==
      Set((1L, 2020, "a"), (2L, 2020, "b"), (3L, 2021, "a")))
    // the on-disk layout really is Hive-style (a real Delta reader
    // or plain-parquet tooling sees the familiar tree)
    assert(new java.io.File(s"$t/yr=2020").isDirectory && new java.io.File(s"$t/yr=2021").isDirectory)
    // a second matching append lands; a partitioning mismatch refuses
    DeltaLog.append(spark, t, Seq((4L, 2021, "c")).toDF("id", "yr", "tag"),
      partitionBy = Seq("yr"))
    assert(DeltaLog.read(spark, t).count() == 4)
    val e = intercept[IllegalArgumentException](DeltaLog.append(spark, t, df))
    assert(e.getMessage.contains("partitioning mismatch"), e.getMessage)
  }

  test("partitioned append: escaped partition values round-trip exactly") {
    import spark.implicits._
    val t = newTable()
    // '/' and ' ' force Spark's %xx directory escaping AND the add
    // path's percent-encoding; the value must come back verbatim
    DeltaLog.append(spark, t, Seq((1L, "a b/c", 1.0), (2L, "plain", 2.0))
      .toDF("id", "k", "v"), partitionBy = Seq("k"))
    val got = DeltaLog.read(spark, t).select("k", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(got == Set("a b/c" -> 1L, "plain" -> 2L))
  }

  test("schema evolution: add-column append replaces metaData; old files null-fill") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    // refused without the flag
    val e0 = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t, Seq((2L, "b", 9L)).toDF("id", "tag", "extra")))
    assert(e0.getMessage.contains("schema mismatch"), e0.getMessage)
    DeltaLog.append(spark, t, Seq((2L, "b", 9L)).toDF("id", "tag", "extra"),
      allowSchemaEvolution = true)
    val back = DeltaLog.read(spark, t).orderBy("id")
    // the merged schema is DECLARED (new metaData action); files from
    // before the evolution lack the column and scan as null
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "extra"))
    val rows = back.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a", -1L), (2L, "b", 9L)))
    // drops / retypes refused even with the flag — they would change
    // the meaning of already-written files
    val e1 = intercept[IllegalArgumentException](DeltaLog.append(spark, t,
      Seq(("x", 1L)).toDF("tag", "extra"), allowSchemaEvolution = true))
    assert(e1.getMessage.contains("ADD columns"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](DeltaLog.append(spark, t,
      Seq((1, "y", 2L)).toDF("id", "tag", "extra"), allowSchemaEvolution = true))
    assert(e2.getMessage.contains("ADD columns"), e2.getMessage) // id retyped int
  }

  test("txn-stamped appends are exactly-once; the guard survives checkpoint compaction") {
    import spark.implicits._
    val t = newTable()
    def batch(i: Long) = Seq((i, s"b$i")).toDF("id", "tag")
    assert(DeltaLog.append(spark, t, batch(0), txn = Some(("app", 0L))) == 0L)
    // exact replay of the same epoch: SKIPPED, no duplicate rows
    assert(DeltaLog.append(spark, t, batch(0), txn = Some(("app", 0L))) == -1L)
    assert(DeltaLog.read(spark, t).count() == 1)
    assert(DeltaLog.lastTxnVersion(spark, t, "app").contains(0L))
    assert(DeltaLog.lastTxnVersion(spark, t, "other").isEmpty)
    // 1..10 land (auto-checkpoint at commit 9); clean the JSON prefix
    (1L to 10L).foreach(i =>
      assert(DeltaLog.append(spark, t, batch(i), txn = Some(("app", i))) >= 0))
    (0L to 9L).foreach(v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        s"$t/_delta_log/" + f"$v%020d.json")))
    // the checkpoint carried the newest txn: the guard still holds
    assert(DeltaLog.lastTxnVersion(spark, t, "app").contains(10L))
    assert(DeltaLog.append(spark, t, batch(5), txn = Some(("app", 5L))) == -1L)
    assert(DeltaLog.read(spark, t).count() == 11)
  }

  test("compact: small files bin-pack per partition, dataChange=false, vacuum reclaims") {
    import spark.implicits._
    val t = newTable()
    // 4 tiny appends per partition value -> 8 small files in 2 partitions
    (0 until 4).foreach { i =>
      DeltaLog.append(spark, t,
        Seq((i.toLong, "x", 1L), (i.toLong + 100, "y", 2L)).toDF("id", "part", "v"),
        partitionBy = Seq("part"))
    }
    val before = DeltaLog.snapshot(spark, t).files
    assert(before.size == 8)
    val full = DeltaLog.read(spark, t).orderBy("id").collect().toSeq
    val v = DeltaLog.compact(spark, t)
    assert(v == 4L, s"compaction should land at version 4, got $v")
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.size == 2, s"expected 1 file per partition, got ${after.files.size}")
    // partition values survive the rewrite; relation is UNCHANGED
    assert(after.files.forall(f => f.partitionValues.keySet == Set("part")))
    assert(DeltaLog.read(spark, t).orderBy("id").collect().toSeq == full)
    // pre-compaction files are still on disk (time travel works)...
    assert(DeltaLog.read(spark, t, Some(2L)).count() == 6)
    // ...until vacuum(0) reclaims everything outside the live snapshot
    // negative retention: "now" mtimes must fall before the cutoff
    val deleted = DeltaLog.vacuum(spark, t, retainMs = -5000L, force = true)
    assert(deleted == 8L, s"vacuum should delete the 8 replaced files, got $deleted")
    assert(DeltaLog.read(spark, t).orderBy("id").collect().toSeq == full)
    // time travel to a vacuumed version now fails loudly at the scan
    intercept[Exception] {
      DeltaLog.read(spark, t, Some(2L)).collect()
    }
    // idempotence: nothing left to compact
    assert(DeltaLog.compact(spark, t) == -1L)
  }

  test("merge: remove+add dataChange pairs in ONE commit; pre-merge travel intact; only matched files rewritten") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "v").coalesce(1))
    DeltaLog.append(spark, t, Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("id", "tag", "v").coalesce(1))
    val preFiles = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert(preFiles.size == 2)
    val updates = Seq((2L, "B", 99.0), (5L, "e", 50.0)).toDF("id", "tag", "v")
    val v = DeltaLog.merge(spark, t, updates, keys = Seq("id"))
    assert(v == 2L, s"merge should land at version 2, got $v")
    val got = DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (4L, "d", 40.0), (5L, "e", 50.0)))
    // versionAsOf the pre-merge version still serves the OLD rows
    val old = DeltaLog.read(spark, t, Some(1L)).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(old == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // file-level copy-on-write: the (3,4) file had no matched key and survives verbatim
    val after = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert((preFiles intersect after).size == 1, s"exactly one base file untouched: $after")
    // the commit is one transaction of dataChange=true remove+add pairs
    val lines = Files.readAllLines(Paths.get(s"$t/_delta_log/" + f"${2L}%020d.json")).asScala
    val removes = lines.filter(_.contains("\"remove\""))
    val adds = lines.filter(_.contains("\"add\""))
    assert(removes.size == 1 && removes.forall(_.contains("\"dataChange\":true")))
    assert(adds.nonEmpty && adds.forall(_.contains("\"dataChange\":true")))
  }

  test("merge: partitioned tables route survivors and inserts through partitionValues") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val updates = Seq((2L, "p1", 20.0), (9L, "p3", 9.0)).toDF("id", "part", "v")
    DeltaLog.merge(spark, t, updates, keys = Seq("id"))
    val got = DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "p1", 1.0), (2L, "p1", 20.0), (3L, "p2", 3.0), (9L, "p3", 9.0)))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.forall(_.partitionValues.keySet == Set("part")))
    assert(snap.files.exists(_.partitionValues("part") == "p3"), "insert created a new partition")
  }

  test("merge txn stamps are exactly-once; schema mismatch refuses") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, 1.0)).toDF("id", "v"))
    val upd = Seq((1L, 2.0)).toDF("id", "v")
    assert(DeltaLog.merge(spark, t, upd, Seq("id"), txn = Some(("m", 1L))) >= 0)
    // same epoch replayed: NOT re-applied
    assert(DeltaLog.merge(spark, t, Seq((1L, 3.0)).toDF("id", "v"), Seq("id"),
      txn = Some(("m", 1L))) == -1L)
    assert(DeltaLog.read(spark, t).head().getDouble(1) == 2.0)
    // a later epoch applies
    assert(DeltaLog.merge(spark, t, Seq((1L, 3.0)).toDF("id", "v"), Seq("id"),
      txn = Some(("m", 2L))) >= 0)
    assert(DeltaLog.read(spark, t).head().getDouble(1) == 3.0)
    val e = intercept[IllegalArgumentException](
      DeltaLog.merge(spark, t, Seq(("x", 1L)).toDF("tag", "id"), Seq("id")))
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
  }

  test("delete: matched rows rewritten out; a fully-matched file drops with NO add; null predicate survives") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = newTable()
    // file 1: one matching row + a NULL-predicate row; file 2: all matching; file 3: none
    DeltaLog.append(spark, t,
      Seq((1L, Some(20.0)), (2L, None)).toDF("id", "v").coalesce(1))
    DeltaLog.append(spark, t, Seq((3L, Some(30.0)), (4L, Some(40.0))).toDF("id", "v").coalesce(1))
    DeltaLog.append(spark, t, Seq((5L, Some(5.0))).toDF("id", "v").coalesce(1))
    val preFiles = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    val v = DeltaLog.delete(spark, t, col("v") > 15.0)
    assert(v == 3L)
    val got = DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    assert(got == Seq((2L, None), (5L, Some(5.0))),
      "NULL predicate rows survive (SQL DELETE semantics); v>15 rows are gone")
    val lines = Files.readAllLines(Paths.get(s"$t/_delta_log/" + f"${3L}%020d.json")).asScala
    assert(lines.count(_.contains("\"remove\"")) == 2,
      "exactly the two files holding matches are removed")
    assert(lines.count(_.contains("\"add\"")) == 1,
      "the fully-matched file drops with no replacement add")
    // untouched file is still the same physical file
    val after = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert((preFiles intersect after).size == 1)
    // no-match delete is a no-op, not an empty commit
    assert(DeltaLog.delete(spark, t, col("id") === 999L) == -1L)
  }

  test("deleteWithDv: no file rewritten, vectors union, pre-delete travel intact, protocol upgraded") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = newTable()
    DeltaLog.append(spark, t,
      (1L to 8L).map(i => (i, i * 10.0)).toDF("id", "v").coalesce(1))
    DeltaLog.append(spark, t,
      (9L to 16L).map(i => (i, i * 10.0)).toDF("id", "v").coalesce(1))
    val preFiles = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    val v = DeltaLog.deleteWithDv(spark, t, col("id") % 4 === 0)
    assert(v == 2L)
    // the SAME physical files stay referenced — only the DV changed
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.map(_.path).toSet == preFiles, "no data file rewritten")
    assert(snap.files.forall(_.dv.isDefined) && snap.dvCardinality == 4L)
    assert(snap.readerVersion.contains(3) && snap.readerFeatures == Set("deletionVectors"))
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 16L).filterNot(_ % 4 == 0))
    // pre-delete version still serves every row
    assert(DeltaLog.read(spark, t, versionAsOf = Some(1L)).count() == 16)
    // second DV delete on the same files UNIONS the vectors (one DV per file)
    assert(DeltaLog.deleteWithDv(spark, t, col("id") % 5 === 0) == 3L)
    val snap2 = DeltaLog.snapshot(spark, t)
    assert(snap2.dvCardinality == 7L, "4, 8, 12, 16 ∪ 5, 10, 15")
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 16L).filterNot(i => i % 4 == 0 || i % 5 == 0))
    // a predicate matching ONLY DV-dead rows is a no-op, not an empty commit
    assert(DeltaLog.deleteWithDv(spark, t, col("id") === 4L) == -1L)
    // the upgrade landed exactly once, in commit 2
    val lines = Files.readAllLines(Paths.get(s"$t/_delta_log/" + f"${2L}%020d.json")).asScala
    assert(lines.count(_.contains("\"protocol\"")) == 1)
    assert(lines.exists(_.contains("\"deletionVectors\"")))
    val lines3 = Files.readAllLines(Paths.get(s"$t/_delta_log/" + f"${3L}%020d.json")).asScala
    assert(!lines3.exists(_.contains("\"protocol\"")), "no re-upgrade on the second delete")
  }

  test("file identities survive paths that URI-encode: space in a string partition value") {
    import spark.implicits._
    val t = newTable()
    // `p=x y` puts a literal space in the data file paths: the scan's
    // `_metadata.file_path` is percent-ENCODED while driver-side
    // resolution is a decoded string — fileIdentity must compare in
    // the ENCODED form or DV tombstones and copy-on-write provenance
    // silently miss the file (same class as the r16 Iceberg advice)
    DeltaLog.append(spark, t,
      (1L to 12L).map(i => (i, if (i % 2 == 0) "x y" else "plain")).toDF("id", "p"),
      partitionBy = Seq("p"))
    assert(DeltaLog.deleteWithDv(spark, t, col("id") <= 4L) >= 0)
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().toSet ==
      (5L to 12L).toSet)
    // copy-on-write merge: affected-file provenance keys on the same identity
    DeltaLog.merge(spark, t,
      Seq((6L, "x y"), (13L, "plain")).toDF("id", "p"), keys = Seq("id"))
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().toSet ==
      ((5L to 13L).toSet))
    // copy-on-write delete on the spaced partition
    assert(DeltaLog.delete(spark, t, col("id") === 6L) >= 0)
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().toSet ==
      ((5L to 13L).toSet - 6L))
  }

  test("deleteWithDv: partitioned tables keep partitionValues; txn exactly-once; CoW ops refuse") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      (1L to 12L).map(i => (i, (i % 3).toString)).toDF("id", "p"),
      partitionBy = Seq("p"))
    assert(DeltaLog.deleteWithDv(spark, t, col("id") <= 3L, txn = Some(("dv", 1L))) >= 0)
    assert(DeltaLog.deleteWithDv(spark, t, col("id") <= 6L, txn = Some(("dv", 1L))) == -1L,
      "same txn epoch must not re-apply")
    val got = DeltaLog.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (4L to 12L).map(i => (i, (i % 3).toString)))
    // the DV'd adds kept their partitionValues (read attaches p from them)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.filter(_.dv.isDefined).forall(_.partitionValues.keySet == Set("p")))
    // copy-on-write ops are DV-aware on PARTITIONED tables too: a
    // DV-dead key in the update set INSERTS (no ghost match), a live
    // predicate rewrites its file clean, and compaction purges
    DeltaLog.merge(spark, t, Seq((1L, "1")).toDF("id", "p"), Seq("id"))
    assert(DeltaLog.read(spark, t).filter(col("id") === 1L).count() == 1L,
      "a DV-dead key in the update set re-inserts")
    DeltaLog.delete(spark, t, col("id") === 5L)
    val expected = Seq(1L) ++ (4L to 12L).filterNot(_ == 5L)
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      expected)
    assert(DeltaLog.compact(spark, t) > 0)
    assert(DeltaLog.snapshot(spark, t).dvCardinality == 0L, "compaction purges the vectors")
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      expected)
  }

  test("DV tables checkpoint faithfully: descriptor + protocol survive log compaction") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.deleteWithDv(spark, t, col("id") > 7L)
    DeltaLog.writeCheckpoint(spark, t)
    // delete the JSON prefix — the checkpoint must carry everything
    (0L to 1L).foreach { v =>
      Files.delete(Paths.get(s"$t/_delta_log/" + f"$v%020d.json"))
    }
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.readerVersion.contains(3) && snap.readerFeatures == Set("deletionVectors"))
    assert(snap.dvCardinality == 3L)
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 7L))
  }

  test("inline deletion vectors (storageType i) read through the log") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = newTable()
    DeltaLog.append(spark, t, (0L until 6L).map(i => (i, s"r$i")).toDF("id", "tag").coalesce(1))
    val file = DeltaLog.snapshot(spark, t).files.head.path
    val data = DeletionVectors.serialize(Array(1L, 3L))
    val padded = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
    val inline = DeletionVectors.z85Encode(padded)
    commit(t, 1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"remove":{"path":"$file","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"$file","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${data.length},"cardinality":2}}}"""))
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(0L, 2L, 4L, 5L))
  }

  test("append records footer-true add.stats; readRange skips by them") {
    import spark.implicits._
    val t = newTable()
    // three files with DISJOINT id ranges and a null-bearing column
    DeltaLog.append(spark, t,
      Seq((1L, Some(1.0), "a"), (10L, None, "b")).toDF("id", "v", "tag").coalesce(1))
    DeltaLog.append(spark, t,
      Seq((100L, Some(2.5), "c")).toDF("id", "v", "tag").coalesce(1))
    DeltaLog.append(spark, t,
      Seq((1000L, Some(-3.5), "d")).toDF("id", "v", "tag").coalesce(1))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.forall(_.stats.isDefined), "every add carries stats")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val first = snap.files.flatMap(_.stats).map(mapper.readTree)
      .find(_.get("numRecords").asLong() == 2L).get
    assert(first.get("minValues").get("id").asLong() == 1L)
    assert(first.get("maxValues").get("id").asLong() == 10L)
    assert(first.get("minValues").get("v").asDouble() == 1.0)
    assert(first.get("nullCount").get("v").asLong() == 1L)
    assert(first.get("minValues").get("tag").asText() == "a")
    def slice(c: String, lo: Any, hi: Any) =
      DeltaLog.read(spark, t).filter(col(c).between(lo, hi))
    // skipping: the [90, 200] range can only live in file 2
    assert(LogFileIndex.plannedFiles(slice("id", 90L, 200L)).size == 1)
    assert(LogFileIndex.plannedFiles(slice("id", 0L, 5000L)).size == 3)
    assert(LogFileIndex.plannedFiles(slice("id", 2000L, 9000L)).isEmpty)
    val got = slice("id", 90L, 200L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(100L))
    // a fully-skipped range returns EMPTY with the declared schema
    val none = slice("id", 2000L, 9000L)
    assert(none.isEmpty && none.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    // string-typed skipping works off the footer's UTF8 min/max
    assert(slice("tag", "c", "cz").collect()
      .map(_.getString(2)).toSeq == Seq("c"))
    // stats survive checkpoint compaction
    DeltaLog.writeCheckpoint(spark, t)
    (0L to 2L).foreach { v =>
      Files.delete(Paths.get(s"$t/_delta_log/" + f"$v%020d.json"))
    }
    val snapCp = DeltaLog.snapshot(spark, t)
    assert(snapCp.files.forall(_.stats.isDefined), "stats must survive the checkpoint")
    assert(LogFileIndex.plannedFiles(slice("id", 90L, 200L)).size == 1)
  }

  test("compact(zorderBy): files cluster into z-rectangles; either column skips") {
    import spark.implicits._
    val t = newTable()
    // a SQUARE 32x32 key grid (equal bit-widths — the z-interleave's
    // design point), scattered across 8 files
    val df = spark.range(1024).select(
      (col("id") % 32L).as("x"),
      floor(col("id") / 32L).cast("long").as("y"),
      col("id").as("payload"))
    DeltaLog.append(spark, t, df.repartition(8))
    val before = DeltaLog.snapshot(spark, t)
    def planned(c: String, lo: Long, hi: Long) = LogFileIndex.plannedFiles(
      DeltaLog.read(spark, t).filter(col(c).between(lo, hi))).size
    // scattered writes: an x-slice overlaps EVERY file
    assert(planned("x", 16L, 31L) == before.files.size)
    DeltaLog.compact(spark, t, targetFileBytes = 4L * 1024, zorderBy = Seq("x", "y"))
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.size > 1, "clustering must yield several files for skipping to mean anything")
    // top-half x slice: z bit 8 set -> the low-z files are skippable;
    // bottom y slice: odd bits >= 3 clear -> the high-z files are
    val keptX = planned("x", 16L, 31L)
    val keptY = planned("y", 0L, 1L)
    assert(keptX < after.files.size, s"x-slice must skip: $keptX/${after.files.size}")
    assert(keptY < after.files.size, s"y-slice must skip: $keptY/${after.files.size}")
    // results stay exact
    assert(DeltaLog.read(spark, t).filter(col("x").between(16L, 31L)).count() == 512L)
    assert(DeltaLog.read(spark, t).filter(col("y").between(0L, 1L)).count() == 64L)
    // guards: 3 columns, partition columns, non-integral two-col z
    intercept[IllegalArgumentException](
      DeltaLog.compact(spark, t, zorderBy = Seq("x", "y", "payload")))
    val t2 = newTable()
    DeltaLog.append(spark, t2, Seq((1L, "a", 0.5)).toDF("id", "p", "w"), partitionBy = Seq("p"))
    intercept[IllegalArgumentException](
      DeltaLog.compact(spark, t2, zorderBy = Seq("p", "id")))
    intercept[IllegalArgumentException](
      DeltaLog.compact(spark, t2, zorderBy = Seq("id", "w")))
  }

  test("readRange prunes on PARTITION values when the column is a partition column") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      (1L to 12L).map(i => (i, (i % 4).toString, i * 2)).toDF("id", "p", "v")
        .withColumn("bucket", col("id") % 4L).drop("p"),
      partitionBy = Seq("bucket"))
    val snap = DeltaLog.snapshot(spark, t)
    val slice = DeltaLog.read(spark, t).filter(col("bucket").between(1L, 2L))
    val kept = LogFileIndex.plannedFiles(slice)
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"partition pruning via range: ${kept.size}/${snap.files.size}")
    assert(slice
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 12L).filter(i => i % 4 == 1 || i % 4 == 2))
  }

  test("multi-part checkpoints read (complete sets union; incomplete sets are ignored)") {
    import spark.implicits._
    import org.apache.hadoop.fs.{Path => HPath}
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 6L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.append(spark, t, (7L to 9L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    val cpV = DeltaLog.writeCheckpoint(spark, t)
    val fs = new HPath(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = s"$t/_delta_log"
    val classic = new HPath(logDir + "/" + f"$cpV%020d.checkpoint.parquet")
    // split the classic checkpoint's rows into TWO part files with the
    // protocol's multi-part names, repoint _last_checkpoint, drop the
    // classic file and the JSON prefix — the parts must carry the
    // whole snapshot
    val rows = spark.read.parquet(classic.toString).collect()
    val schema = spark.read.parquet(classic.toString).schema
    def writePart(part: Int, slice: Array[org.apache.spark.sql.Row]): Unit = {
      val stage = s"$t/_mp_stage_$part"
      spark.createDataFrame(
        spark.sparkContext.parallelize(slice.toSeq, 1), schema)
        .coalesce(1).write.parquet(stage)
      val f = fs.globStatus(new HPath(s"$stage/part-*.parquet"))(0).getPath
      fs.rename(f, new HPath(logDir + "/" + f"$cpV%020d.checkpoint.$part%010d.${2}%010d.parquet"))
      fs.delete(new HPath(stage), true)
    }
    writePart(1, rows.take(rows.length / 2))
    writePart(2, rows.drop(rows.length / 2))
    fs.delete(classic, false)
    // drop Hadoop's local-fs checksum sidecar before the raw rewrite
    Files.deleteIfExists(Paths.get(s"$logDir/._last_checkpoint.crc"))
    Files.writeString(Paths.get(s"$logDir/_last_checkpoint"),
      s"""{"version":$cpV,"size":${rows.length},"parts":2}""")
    (0L to cpV).foreach(v => Files.delete(Paths.get(s"$logDir/" + f"$v%020d.json")))
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 9L), "both parts must union into the full snapshot")
    // drop part 2: the pointer probe fails AND the listing ignores the
    // incomplete set — with the JSON prefix gone too, the read refuses
    // loudly instead of serving half a table
    fs.delete(new HPath(logDir + "/" + f"$cpV%020d.checkpoint.${2}%010d.${2}%010d.parquet"), false)
    intercept[Exception](DeltaLog.read(spark, t).collect())
  }

  test("readChangesSince: incremental pull with a replayable cursor") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 3L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    val (d0, c0) = DeltaLog.readChangesSince(spark, t, -1L)
    assert(c0 == 0L && d0.count() == 3L && d0.filter(col("_change_type") =!= "insert").isEmpty)
    // nothing new: empty frame, cursor unchanged
    val (d1, c1) = DeltaLog.readChangesSince(spark, t, c0)
    assert(c1 == c0 && d1.isEmpty)
    // a delete lands: the pull surfaces exactly its net changes
    DeltaLog.delete(spark, t, col("id") === 2L)
    val (d2, c2) = DeltaLog.readChangesSince(spark, t, c1)
    assert(c2 == 1L)
    assert(d2.collect().map(r => (r.getLong(0), r.getString(2))).toSeq == Seq((2L, "delete")))
    // crash replay: the SAME cursor yields the SAME changes
    val (d2b, c2b) = DeltaLog.readChangesSince(spark, t, c1)
    assert(c2b == c2 &&
      d2b.collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
        d2.collect().map(r => (r.getLong(0), r.getString(2))).toSeq)
  }

  test("restore: one new commit returns the table to an old version; history preserved") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 4L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.append(spark, t, (5L to 8L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.delete(spark, t, col("id") <= 2L) // v2 rewrites the first file
    assert(DeltaLog.read(spark, t).count() == 6)
    val v = DeltaLog.restore(spark, t, 1L)
    assert(v == 3L, "restore is a NEW commit")
    assert(DeltaLog.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 8L), "restore resurrects the deleted rows")
    // history preserved: the pre-restore state still time-travels
    assert(DeltaLog.read(spark, t, versionAsOf = Some(2L)).count() == 6)
    // restoring to the state we're already at is a no-op
    assert(DeltaLog.restore(spark, t, 1L) == -1L)
    // schema evolution rolls back with the restore
    DeltaLog.append(spark, t,
      (9L to 9L).map(i => (i, i * 1.0, "x")).toDF("id", "v", "tag"),
      allowSchemaEvolution = true)
    assert(DeltaLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    DeltaLog.restore(spark, t, 3L)
    assert(DeltaLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "v"),
      "restore re-emits the target metaData")
    assert(DeltaLog.read(spark, t).count() == 8)
  }

  test("diffVersions: net row changes; unchanged files cancel; DV change diffs") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 4L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.append(spark, t, (5L to 6L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    val d01 = DeltaLog.diffVersions(spark, t, 0L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(d01 == Seq((5L, "insert"), (6L, "insert")), "append step: inserts only")
    DeltaLog.delete(spark, t, col("id") === 1L || col("id") === 6L)
    val d12 = DeltaLog.diffVersions(spark, t, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(d12 == Seq((1L, "delete"), (6L, "delete")), "delete step: survivors cancel out")
    // a DV-only change (same path, new descriptor) still diffs
    val t2 = newTable()
    DeltaLog.append(spark, t2, (1L to 6L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.deleteWithDv(spark, t2, col("id") === 2L)
    val dv01 = DeltaLog.diffVersions(spark, t2, 0L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(dv01 == Seq((2L, "delete")))
    // across a schema change: refuse
    DeltaLog.append(spark, t2,
      Seq((7L, 7.0, "x")).toDF("id", "v", "tag"), allowSchemaEvolution = true)
    val e = intercept[IllegalArgumentException](DeltaLog.diffVersions(spark, t2, 1L, 2L))
    assert(e.getMessage.contains("schema change"), e.getMessage)
  }

  test("diffVersions preserves multiset multiplicity (the r17 netChanges |net| > 1 path)") {
    import spark.implicits._
    // exceptAll semantics: three identical inserted rows must surface
    // as THREE insert rows — the signed-aggregate rewrite re-emits
    // |net| copies via explode(sequence), the path a distinct-style
    // bug would silently collapse
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    DeltaLog.append(spark, t,
      Seq((2L, "b"), (2L, "b"), (2L, "b")).toDF("id", "tag").coalesce(1))
    val d = DeltaLog.diffVersions(spark, t, 0L, 1L).collect()
    assert(d.length == 3, d.mkString(", "))
    assert(d.forall(r => r.getLong(0) == 2L && r.getString(2) == "insert"),
      d.mkString(", "))
  }

  test("diffVersions scans each change file once: one file scan per change-feed commit, two for the file diff") {
    import spark.implicits._
    def scans(df: org.apache.spark.sql.DataFrame) =
      graft.PlanProbe.fileScans(df.queryExecution.executedPlan).size
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = Set((1L, "a", "delete"), (1L, "a2", "insert"), (3L, "c", "insert"))
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.merge(spark, t, Seq((1L, "a2"), (3L, "c")).toDF("id", "tag"), Seq("id"))
    val feed = DeltaLog.diffVersions(spark, t, 0L, 1L)
    assert(scans(feed) == 1, feed.queryExecution.executedPlan.toString)
    assert(rows(feed) == want)
    // without the feed the range recomputes from the rewritten files:
    // the old and the new side are different files, so two scans
    val t2 = newTable()
    DeltaLog.append(spark, t2, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    DeltaLog.merge(spark, t2, Seq((1L, "a2"), (3L, "c")).toDF("id", "tag"), Seq("id"))
    val recomputed = DeltaLog.diffVersions(spark, t2, 0L, 1L)
    assert(scans(recomputed) == 2, recomputed.queryExecution.executedPlan.toString)
    assert(rows(recomputed) == want)
  }

  test("timestamp travel: the newest commit at-or-before the instant wins") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    DeltaLog.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    DeltaLog.append(spark, t, Seq((3L, "c")).toDF("id", "tag"))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pin commit mtimes explicitly (no sleeps): v0@t0, v1@t0+10s, v2@t0+20s
    val t0 = 1700000000000L
    (0L to 2L).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(
        s"$t/_delta_log/" + f"$v%020d.json"), t0 + v * 10000L, -1L)
    }
    assert(DeltaLog.versionAtTimestamp(spark, t, t0) == 0L)
    assert(DeltaLog.versionAtTimestamp(spark, t, t0 + 9999L) == 0L)
    assert(DeltaLog.versionAtTimestamp(spark, t, t0 + 10000L) == 1L)
    assert(DeltaLog.versionAtTimestamp(spark, t, t0 + 999999L) == 2L)
    assert(DeltaLog.readAsOfTimestamp(spark, t, t0 + 15000L).count() == 2L)
    val e = intercept[IllegalArgumentException](
      DeltaLog.versionAtTimestamp(spark, t, t0 - 1L))
    assert(e.getMessage.contains("no commit at or before"), e.getMessage)
  }

  test("vacuum reclaims orphaned DV files but never live ones") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    DeltaLog.deleteWithDv(spark, t, col("id") === 1L)
    DeltaLog.deleteWithDv(spark, t, col("id") === 2L) // unions → first DV file orphaned
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(t))
      .map(_.getPath.getName).count(_.startsWith("deletion_vector_"))
    assert(before == 2)
    assert(DeltaLog.vacuum(spark, t, retainMs = -1000L, force = true) == 1L)
    assert(DeltaLog.read(spark, t).count() == 8L, "live DV intact after vacuum")
  }

  test("vacuum: retention below the 7-day floor refuses without force") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    val e = intercept[IllegalArgumentException](DeltaLog.vacuum(spark, t, retainMs = 1000L))
    assert(e.getMessage.contains("safety floor"), e.getMessage)
    assert(DeltaLog.vacuum(spark, t, retainMs = 1000L, force = true) == 0L)
  }

  test("checkpoint metaData carries format + configuration (spec-required fields)") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    val v = DeltaLog.writeCheckpoint(spark, t)
    val cp = spark.read.parquet(s"$t/_delta_log/" + f"$v%020d.checkpoint.parquet")
    val meta = cp.filter(col("metaData").isNotNull).select("metaData.*").head()
    val fmt = meta.getStruct(meta.fieldIndex("format"))
    assert(fmt.getString(fmt.fieldIndex("provider")) == "parquet")
    assert(!meta.isNullAt(meta.fieldIndex("configuration")),
      "configuration must be present (empty map, not null) for spec conformance")
  }

  test("commits land via temp+rename: no .tmp orphans, content never visible half-written") {
    import spark.implicits._
    val t = newTable()
    (0 until 5).foreach(i => DeltaLog.append(spark, t, Seq((i.toLong, "x")).toDF("id", "tag")))
    val names = new java.io.File(s"$t/_delta_log").list().toSeq
    assert(!names.exists(_.startsWith(".tmp-")), s"staging temp leaked: $names")
    assert(names.count(_.endsWith(".json")) == 5)
  }

  test("column mapping (name mode): physical files read back under logical names") {
    import spark.implicits._
    import com.fasterxml.jackson.databind.ObjectMapper
    val om = new ObjectMapper()
    def metaField(phys: String, id: Long): Metadata =
      new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build()

    // ---- unpartitioned table: data files carry PHYSICAL names
    val t = newTable()
    Seq((1L, "a"), (2L, "b")).toDF("col-aaaa", "col-bbbb")
      .coalesce(1).write.parquet(s"$t/_stage")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$t/_stage/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$t/f1.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_stage"), true)
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, metaField("col-aaaa", 1)),
      StructField("tag", StringType, nullable = true, metaField("col-bbbb", 2))))
    val schemaJson = om.writeValueAsString(logical.json)
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      add("f1.parquet")))
    val back = DeltaLog.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag"),
      "logical names, not the physical col-uuid names")
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))

    // ---- writes into the mapped table land PHYSICAL columns + logical reads
    DeltaLog.append(spark, t, Seq((3L, "c")).toDF("id", "tag"))
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the appended data file itself must carry the physical names
    val newFile = fs.globStatus(new org.apache.hadoop.fs.Path(s"$t/part-*.parquet"))(0).getPath
    assert(spark.read.parquet(newFile.toString).schema.fieldNames.toSet ==
      Set("col-aaaa", "col-bbbb"), "appended parquet must use physical column names")
    DeltaLog.merge(spark, t, Seq((1L, "z"), (9L, "new")).toDF("id", "tag"), Seq("id"))
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "z"), (2L, "b"), (3L, "c"), (9L, "new")))
    DeltaLog.delete(spark, t, col("tag") === "b")
    assert(DeltaLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 9L))
    // schema EVOLUTION into a mapped table still refuses (needs fresh ids)
    val eE = intercept[IllegalArgumentException](DeltaLog.append(spark, t,
      Seq((5L, "e", 1)).toDF("id", "tag", "extra"), allowSchemaEvolution = true))
    assert(eE.getMessage.contains("column-mapped"), eE.getMessage)
  }

  test("column mapping (name mode): partitionValues are keyed by PHYSICAL names") {
    import spark.implicits._
    import com.fasterxml.jackson.databind.ObjectMapper
    val om = new ObjectMapper()
    val t = newTable()
    // data file holds only the data column, under its physical name
    Seq(Tuple1(7L)).toDF("col-vvvv").coalesce(1).write.parquet(s"$t/_stage")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$t/_stage/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$t/f1.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_stage"), true)
    val logical = StructType(Seq(
      StructField("v", LongType, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", "col-vvvv").putLong("delta.columnMapping.id", 1).build()),
      StructField("day", StringType, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", "col-dddd").putLong("delta.columnMapping.id", 2).build())))
    val schemaJson = om.writeValueAsString(logical.json)
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":["day"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      add("f1.parquet", """{"col-dddd":"2024-01-01"}""")))
    val row = DeltaLog.read(spark, t).head()
    assert(row.getLong(0) == 7L && row.getString(1) == "2024-01-01")
  }

  test("column mapping (id mode): columns resolve by parquet FIELD ID, not name") {
    import spark.implicits._
    import com.fasterxml.jackson.databind.ObjectMapper
    val om = new ObjectMapper()
    val t = newTable()
    // the CONVERT-TO-DELTA-over-Iceberg shape: the data file keeps the
    // ORIGINAL column names (neither logical nor physicalName) and only
    // the parquet field ids line up with delta.columnMapping.id
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    def withId(n: Long) = new MetadataBuilder().putLong("parquet.field.id", n).build()
    Seq((1L, "a"), (2L, "b")).toDF("iceberg_id", "iceberg_tag")
      .select(col("iceberg_id").as("iceberg_id", withId(1)),
        col("iceberg_tag").as("iceberg_tag", withId(2)))
      .coalesce(1).write.parquet(s"$t/_stage")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$t/_stage/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$t/f1.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_stage"), true)
    def metaField(phys: String, id: Long): Metadata =
      new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, metaField("col-aaaa", 1)),
      StructField("tag", StringType, nullable = true, metaField("col-bbbb", 2))))
    val schemaJson = om.writeValueAsString(logical.json)
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      s"""{"metaData":{"id":"cm","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      add("f1.parquet")))
    val back = DeltaLog.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // id-mode APPEND writes physicalName-named columns WITH field ids —
    // both id-resolving and name-mode-compatible readers find them
    DeltaLog.append(spark, t, Seq((3L, "c")).toDF("id", "tag"))
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val newFile = fs.globStatus(new org.apache.hadoop.fs.Path(s"$t/part-*.parquet"))(0).getPath
    assert(spark.read.parquet(newFile.toString).schema.fieldNames.toSet ==
      Set("col-aaaa", "col-bbbb"))
  }

  test("column mapping: id-mode table with a field missing its id refuses; reader v2 sans mapping reads") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val om = new ObjectMapper()
    val t = newTable()
    dataFile(t, "a.parquet", "a", 1)
    // id mode declared but the schema carries NO delta.columnMapping.id
    val bare = StructType(Seq(StructField("tag", StringType), StructField("i", LongType)))
    val schemaJson = om.writeValueAsString(bare.json)
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      add("a.parquet")))
    val e = intercept[IllegalArgumentException](DeltaLog.read(spark, t))
    assert(e.getMessage.contains("delta.columnMapping.id"), e.getMessage)
    // reader version 2 WITHOUT column mapping reads plainly (mode none)
    val t2 = newTable()
    dataFile(t2, "a.parquet", "a", 2)
    commit(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      Meta, add("a.parquet")))
    assert(DeltaLog.read(spark, t2).count() == 2)
  }

  test("column mapping: creation via append(columnMapping=...), DV delete, merge, time travel") {
    import spark.implicits._
    val t = newTable()
    // CREATE a partitioned name-mapped table through the public writer
    DeltaLog.append(spark, t,
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2")).toDF("id", "tag", "day"),
      partitionBy = Seq("day"), columnMapping = "name")
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.columnMappingMode == "name")
    assert(snap.readerFeatures.contains("columnMapping"))
    assert(snap.configuration("delta.columnMapping.maxColumnId") == "3")
    val phys = snap.physicalNames
    assert(phys.values.forall(_.startsWith("col-")), phys.toString)
    // partitionValues keyed by the PHYSICAL day column
    assert(snap.files.forall(_.partitionValues.keySet == Set(phys("day"))))
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2")))
    // DV delete composes with mapping: no file rewrite, logical predicate
    val vPre = DeltaLog.currentVersion(spark, t)
    DeltaLog.deleteWithDv(spark, t, col("tag") === "b")
    assert(DeltaLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
    // time travel to the pre-delete version still serves the DV-dead row
    assert(DeltaLog.read(spark, t, Some(vPre)).count() == 3)
    // merge over the DV-carrying mapped table (CoW purges the vector)
    DeltaLog.merge(spark, t, Seq((1L, "z", "d1"), (7L, "g", "d3")).toDF("id", "tag", "day"),
      Seq("id"))
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "z"), (3L, "c"), (7L, "g")))
    // the dead row stays dead through the rewrite
    assert(!DeltaLog.read(spark, t).collect().map(_.getString(1)).contains("b"))
    // net changes across the whole history are readable (CDF fallback)
    val (changes, _) = DeltaLog.readChangesSince(spark, t, vPre)
    val byType = changes.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("insert", 0L) >= 2L, byType.toString) // 1->z, 7 new
    assert(byType.getOrElse("delete", 0L) >= 2L, byType.toString) // b gone, 1->a gone
  }

  test("commit retry advances past an occupied version slot without overwriting it") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq(("a", 1L)).toDF("tag", "i"))
    // an IOException whose target EXISTS is a lost race → advance; the
    // occupied slot is left untouched (here a directory squats on the
    // version-1 name, which fs.create cannot replace)
    Files.createDirectories(Paths.get(s"$t/_delta_log/" + f"${1L}%020d.json"))
    val v = DeltaLog.append(spark, t, Seq(("b", 2L)).toDF("tag", "i"))
    assert(v == 2L, s"append should skip the occupied slot, landed at $v")
    assert(Files.isDirectory(Paths.get(s"$t/_delta_log/" + f"${1L}%020d.json")))
  }

  test("change data feed: merge/delete/deleteWithDv materialize cdc files; readCdf replays them") {
    import spark.implicits._
    val t = newTable()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // v0: CDF-enabled creation (writer feature + table property)
    DeltaLog.append(spark, t, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val snap0 = DeltaLog.snapshot(spark, t)
    assert(DeltaLog.cdfEnabled(snap0) && snap0.writerFeatures.contains("changeDataFeed"))
    // v1: append — derivable as inserts, no cdc files needed
    DeltaLog.append(spark, t, Seq((4L, "d")).toDF("id", "tag"))
    // v2: merge — update (1 -> a2) + insert (9) land in _change_data
    DeltaLog.merge(spark, t, Seq((1L, "a2"), (9L, "i")).toDF("id", "tag"), Seq("id"))
    // v3: CoW delete of tag=b
    DeltaLog.delete(spark, t, col("tag") === "b")
    // v4: DV delete of id=3
    DeltaLog.deleteWithDv(spark, t, col("id") === 3L)
    assert(new java.io.File(s"$t/_change_data").listFiles().exists(_.getName.endsWith(".parquet")),
      "change files must land under _change_data/")
    // per-commit replay
    val cdf = DeltaLog.readCdf(spark, t, 0, 4)
    def ofType(v: Long, ct: String) = rows(cdf
      .filter(col("_commit_version") === v && col("_change_type") === ct)
      .select("id", "tag"))
    assert(ofType(1, "insert") == Set((4L, "d")))
    assert(ofType(2, "update_preimage") == Set((1L, "a")))
    assert(ofType(2, "update_postimage") == Set((1L, "a2")))
    assert(ofType(2, "insert") == Set((9L, "i")))
    assert(ofType(3, "delete") == Set((2L, "b")))
    assert(ofType(4, "delete") == Set((3L, "c")))
    // the merge commit carries cdc actions (its changes were NOT re-derived)
    val v2lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$t/_delta_log/" + f"${2L}%020d.json"))
    assert(v2lines.contains("\"cdc\""), "merge must commit cdc actions")
    // diffVersions prefers the CDF path and still nets correctly:
    // 1 appears as one insert (a2) + one delete (a), 2/3 as deletes, 4/9 as inserts
    val net = DeltaLog.diffVersions(spark, t, 0, 4)
    assert(rows(net.filter(col("_change_type") === "insert").select("id", "tag")) ==
      Set((4L, "d"), (9L, "i"), (1L, "a2")))
    assert(rows(net.filter(col("_change_type") === "delete").select("id", "tag")) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a DV delete whose predicate only re-hits dead rows is a no-op (no commit)
    assert(DeltaLog.deleteWithDv(spark, t, col("id") === 3L) == -1L)
    // a non-CDF table's rewrite refuses per-commit CDF but net-diffs fine
    val t2 = newTable()
    DeltaLog.append(spark, t2, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    DeltaLog.merge(spark, t2, Seq((1L, "z")).toDF("id", "tag"), Seq("id"))
    val e = intercept[IllegalArgumentException](DeltaLog.readCdf(spark, t2, 0, 1))
    assert(e.getMessage.contains("without cdc actions"), e.getMessage)
    assert(DeltaLog.diffVersions(spark, t2, 0, 1).count() == 2) // a->z pair
  }

  test("change data feed composes with column mapping: cdc files carry physical names") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "tag", "day"),
      partitionBy = Seq("day"), columnMapping = "name",
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.merge(spark, t, Seq((1L, "z", "d1")).toDF("id", "tag", "day"), Seq("id"))
    val cdf = DeltaLog.readCdf(spark, t, 0, 1).filter(col("_change_type") === "update_postimage")
    assert(cdf.select("id", "tag", "day").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq == Seq((1L, "z", "d1")))
    // the cdc parquet itself is written under the PHYSICAL partition dir
    val phys = DeltaLog.snapshot(spark, t).physicalNames
    val cdcDir = new java.io.File(s"$t/_change_data")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val cdcParquets = walk(cdcDir).filter(_.getName.endsWith(".parquet"))
    assert(cdcParquets.nonEmpty &&
      cdcParquets.forall(_.getPath.contains(s"${phys("day")}=")),
      cdcParquets.map(_.getPath).toString)
    val physCols = spark.read.parquet(cdcParquets.head.getPath).schema.fieldNames.toSet
    assert(physCols == Set(phys("id"), phys("tag"), "_change_type"), physCols.toString)
  }

  test("pull replication: readChangesSince -> exactly-once applyChanges converges the target") {
    import spark.implicits._
    val src = newTable()
    val dst = newTable()
    def srcRows = DeltaLog.read(spark, src).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def dstRows = DeltaLog.read(spark, dst).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // CDF-enabled source: the pull rides the change files, not rescans
    DeltaLog.append(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    // bootstrap pull: full snapshot
    val c0 = DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "repl-1")
    assert(c0 == 0L && dstRows == srcRows)
    // three more source commits: append, merge (update+insert), DV delete
    DeltaLog.append(spark, src, Seq((4L, "d")).toDF("id", "tag"))
    DeltaLog.merge(spark, src, Seq((1L, "z"), (9L, "i")).toDF("id", "tag"), Seq("id"))
    DeltaLog.deleteWithDv(spark, src, col("id") === 2L)
    val c1 = DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "repl-1")
    assert(c1 == 3L && dstRows == srcRows, s"$dstRows vs $srcRows")
    assert(dstRows == Seq((1L, "z"), (3L, "c"), (4L, "d"), (9L, "i")))
    // crash replay: the cursor IS the target's txn epoch, so a replayed
    // pull (same source range) is absorbed by the txn guard — no
    // duplicate rows, no extra commit
    val vBefore = DeltaLog.currentVersion(spark, dst)
    assert(DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "repl-1") == 3L)
    assert(DeltaLog.currentVersion(spark, dst) == vBefore, "idle poll must not commit")
    val dup = DeltaLog.applyChanges(spark, dst,
      Seq((1L, "z", "insert")).toDF("id", "tag", "_change_type"), Seq("id"),
      txn = Some(("repl-1", 3L)))
    assert(dup == -1L && dstRows.size == 4, "replayed epoch must be a no-op")
    // delete-only tail converges too
    DeltaLog.delete(spark, src, col("id") === 9L)
    DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "repl-1")
    assert(dstRows == srcRows && !dstRows.exists(_._1 == 9L))
  }

  test("V2 checkpoints: UUID name + sidecar, protocol auto-upgrade, read after JSON cleanup") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 6L).map(i => (i, s"v$i")).toDF("id", "tag").coalesce(1))
    DeltaLog.append(spark, t, (7L to 12L).map(i => (i, s"v$i")).toDF("id", "tag").coalesce(1),
      txn = Some(("app-x", 41L)))
    // a live DV must survive the checkpoint via the sidecar descriptor
    DeltaLog.deleteWithDv(spark, t, col("id") % 5L === 0L)
    val cv = DeltaLog.writeCheckpointV2(spark, t)
    assert(cv == 3L, s"upgrade commit (v3) is the checkpointed version, got $cv")
    // layout: UUID-named checkpoint + one sidecar parquet
    val logDir = new java.io.File(s"$t/_delta_log")
    val cpName = logDir.list().filter(_.matches("""\d{20}\.checkpoint\.[a-f0-9-]+\.parquet""")).toSeq
    assert(cpName.size == 1, logDir.list().mkString(","))
    assert(new java.io.File(s"$t/_delta_log/_sidecars").list().count(_.endsWith(".parquet")) == 1)
    val cp = spark.read.parquet(s"$t/_delta_log/${cpName.head}")
    assert(cp.filter(col("checkpointMetadata").isNotNull)
      .select("checkpointMetadata.version").as[Long].head() == cv)
    assert(cp.filter(col("sidecar").isNotNull).count() == 1L)
    assert(cp.filter(col("add").isNotNull).count() == 0L,
      "file actions live in the sidecar, not inline")
    // JSON prefix cleanup: the v2 checkpoint must carry EVERYTHING
    (0L to cv).foreach(v => Files.delete(Paths.get(s"$t/_delta_log/" + f"$v%020d.json")))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.readerVersion.contains(3) && snap.readerFeatures.contains("v2Checkpoint"))
    assert(snap.dvCardinality == 2L, "the DV descriptor survives via the sidecar")
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      (1L to 12L).filterNot(_ % 5 == 0))
    assert(DeltaLog.lastTxnVersion(spark, t, "app-x").contains(41L),
      "txn actions survive v2 checkpointing")
    // post-cleanup appends continue the version line (checkpoint floor)
    val v2 = DeltaLog.append(spark, t, Seq((99L, "new")).toDF("id", "tag"))
    assert(v2 == cv + 1, s"append after cleanup must land at ${cv + 1}, got $v2")
    assert(DeltaLog.read(spark, t).count() == 11L)
    // once the feature is adopted, the CLASSIC writer delegates to v2
    DeltaLog.writeCheckpoint(spark, t)
    val cps2 = logDir.list().filter(_.matches("""\d{20}\.checkpoint\.[a-f0-9-]+\.parquet""")).toSeq
    assert(cps2.size == 2, s"second checkpoint must be V2 too: ${logDir.list().mkString(",")}")
    assert(!logDir.list().exists(_.matches("""\d{20}\.checkpoint\.parquet""")))
  }

  test("checkpoint round trip: classic and V2 checkpoints rebuild snapshot, txns and tombstones") {
    import spark.implicits._
    def rows(from: Long, to: Long) =
      (from to to).map(i => (i, s"g${i % 3}", i * 1.5)).toDF("id", "g", "v")
    // partitioned, a copy-on-write delete (tombstones), a DV delete and
    // txn stamps from two appIds
    def dvTable(): String = {
      val t = newTable()
      DeltaLog.append(spark, t, rows(1L, 12L), partitionBy = Seq("g"), txn = Some(("app-a", 1L)))
      DeltaLog.append(spark, t, rows(13L, 18L), partitionBy = Seq("g"), txn = Some(("app-b", 7L)))
      DeltaLog.delete(spark, t, col("id") === 2L, txn = Some(("app-a", 2L)))
      DeltaLog.deleteWithDv(spark, t, col("id") === 4L, txn = Some(("app-b", 8L)))
      t
    }
    // row tracking refuses deletes in this writer, so its tombstones
    // come from a compaction
    def rowTrackingTable(): String = {
      val t = newTable()
      DeltaLog.append(spark, t, rows(1L, 6L), partitionBy = Seq("g"), rowTracking = true,
        txn = Some(("app-a", 3L)))
      DeltaLog.append(spark, t, rows(7L, 12L), partitionBy = Seq("g"), txn = Some(("app-b", 5L)))
      assert(DeltaLog.compact(spark, t) >= 0)
      t
    }
    def roundTrip(t: String, v2: Boolean): Unit = {
      val logDir = s"$t/_delta_log"
      val cv = if (v2) DeltaLog.writeCheckpointV2(spark, t) else DeltaLog.writeCheckpoint(spark, t)
      // time travel with every commit present replays the JSON alone
      val before = DeltaLog.snapshot(spark, t, Some(cv))
      val txnsBefore = Seq("app-a", "app-b").map(DeltaLog.lastTxnVersion(spark, t, _))
      assert(txnsBefore.forall(_.isDefined), txnsBefore)
      val removed = spark.read.json(s"$logDir/*.json")
        .filter(col("remove").isNotNull).select("remove.path").as[String].collect().toSet
      val tombstones = removed -- before.files.map(_.path)
      assert(tombstones.nonEmpty)
      (0L to cv).foreach(v => Files.delete(Paths.get(s"$logDir/" + f"$v%020d.json")))
      assert(DeltaLog.snapshot(spark, t) == before)
      assert(Seq("app-a", "app-b").map(DeltaLog.lastTxnVersion(spark, t, _)) == txnsBefore)
      val fileActions =
        if (v2) s"$logDir/_sidecars"
        else s"$logDir/" + f"$cv%020d.checkpoint.parquet"
      val removeRows = spark.read.parquet(fileActions)
        .filter(col("remove").isNotNull).select("remove.path").as[String].collect().toSeq
      assert(removeRows.sorted == tombstones.toSeq.sorted, s"v2=$v2")
    }
    for (v2 <- Seq(false, true)) {
      roundTrip(dvTable(), v2)
      roundTrip(rowTrackingTable(), v2)
    }
  }

  private def withJobs[A](body: => A): (A, Int) = graft.PlanProbe.withJobs(spark)(body)

  /** A partitioned table of ids 1-8 in four files, checkpointed at v1
    * and not yet read since.
    */
  private def checkpointedTable(): String = {
    import spark.implicits._
    val t = newTable()
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"g${i % 2}")).toDF("id", "g").coalesce(1)
    DeltaLog.append(spark, t, rows(1L to 4L), partitionBy = Seq("g"), txn = Some(("app", 1L)))
    DeltaLog.append(spark, t, rows(5L to 8L), partitionBy = Seq("g"), txn = Some(("app", 2L)))
    assert(DeltaLog.writeCheckpoint(spark, t) == 1L)
    t
  }

  private def ids(t: String): Seq[Long] = {
    import spark.implicits._
    DeltaLog.read(spark, t).select("id").as[Long].collect().toSeq.sorted
  }

  test("reads over 40 log-listed files build with no Spark job, Delta and Iceberg alike") {
    // over 32 explicit paths Spark's own file listing starts a parallel
    // listing job; the log-backed index stats each file on the driver
    val rows = spark.range(0, 40, 1, 40).withColumn("g", col("id") % 4)
    val t = newTable()
    DeltaLog.append(spark, t, rows, partitionBy = Seq("g"))
    assert(DeltaLog.snapshot(spark, t).files.size == 40)
    val (delta, deltaJobs) = withJobs(DeltaLog.read(spark, t))
    assert(deltaJobs == 0)
    assert(delta.count() == 40L)
    val ice = Files.createTempDirectory("graft-iceberg").toString
    IcebergTable.append(spark, ice, rows)
    assert(IcebergTable.snapshot(spark, ice).dataRefs.size == 40)
    val (iceberg, icebergJobs) = withJobs(IcebergTable.read(spark, ice))
    assert(icebergJobs == 0)
    assert(iceberg.count() == 40L)
  }

  test("a data filter skips files by the log's min/max at planning, with no Spark job") {
    import spark.implicits._
    // three files with disjoint id ranges, in each format
    val parts = Seq(1L to 50L, 100L to 150L, 200L to 250L).map(_.toDF("id").coalesce(1))
    val t = newTable()
    parts.foreach(DeltaLog.append(spark, t, _))
    val ice = Files.createTempDirectory("graft-iceberg").toString
    parts.foreach(IcebergTable.append(spark, ice, _))
    val reads = Seq("delta" -> (() => DeltaLog.read(spark, t)),
      "iceberg" -> (() => IcebergTable.read(spark, ice)))
    for ((format, read) <- reads) {
      val (planned, jobs) =
        withJobs(LogFileIndex.plannedFiles(read().filter(col("id") === 100L)))
      assert(jobs == 0, format)
      assert(planned.size == 1, s"$format plans $planned")
      assert(read().filter(col("id") === 100L).as[Long].collect().toSeq == Seq(100L), format)
    }
  }

  test("decimal stats spell the value; decimal filters keep every row, also over unscaled stats") {
    import spark.implicits._
    // 1.00 .. 100.00 as decimal(10,2): parquet stores the unscaled INT64
    val t = newTable()
    DeltaLog.append(spark, t, (1 to 100).map(c => java.math.BigDecimal.valueOf(c * 100L, 2))
      .toDF("p").select(col("p").cast(DecimalType(10, 2)).as("p")).coalesce(1))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val stats = mapper.readTree(DeltaLog.snapshot(spark, t).files.head.stats.get)
    assert(stats.get("minValues").get("p").decimalValue.compareTo(
      new java.math.BigDecimal("1.00")) == 0, stats.toString)
    assert(stats.get("maxValues").get("p").decimalValue.compareTo(
      new java.math.BigDecimal("100.00")) == 0, stats.toString)
    assert(DeltaLog.read(spark, t).filter(col("p") < 50).count() == 49)
    // a log written before the stats were scaled records 100 .. 10000
    val log = Paths.get(f"$t/_delta_log/${0L}%020d.json")
    val unscaled = """{"numRecords":100,"minValues":{"p":100},"maxValues":{"p":10000},"nullCount":{"p":0}}"""
    Files.writeString(log, Files.readAllLines(log).toArray(Array.empty[String]).map { l =>
      val n = mapper.readTree(l)
      Option(n.get("add")).fold(l) { a =>
        a.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("stats", unscaled)
        mapper.writeValueAsString(n)
      }
    }.mkString("", "\n", "\n"))
    Files.deleteIfExists(log.resolveSibling(s".${log.getFileName}.crc"))
    assert(DeltaLog.snapshot(spark, t).files.head.stats.contains(unscaled))
    assert(DeltaLog.read(spark, t).filter(col("p") < 50).count() == 49)
    assert(DeltaLog.read(spark, t).filter(col("p") === 100).count() == 1)
  }

  test("a filter on a signed zero keeps every row it matches, in both formats") {
    import spark.implicits._
    // parquet's dictionary filter alone would drop the -0.0 row group
    // under `= 0.0` and `>= 0.0`, and the 0.0 one under `<= -0.0`
    val t = newTable()
    val ice = Files.createTempDirectory("graft-iceberg").toString
    Seq(Seq(-0.0, -0.0), Seq(0.0, 0.0)).map(_.toDF("d").coalesce(1)).foreach { f =>
      DeltaLog.append(spark, t, f)
      IcebergTable.append(spark, ice, f)
    }
    for ((format, read) <- Seq("delta" -> (() => DeltaLog.read(spark, t)),
        "iceberg" -> (() => IcebergTable.read(spark, ice)))) {
      assert(read().filter(col("d") === 0.0).count() == 4, format)
      assert(read().filter(col("d") >= 0.0).count() == 4, format)
      assert(read().filter(col("d") <= -0.0).count() == 4, format)
    }
  }

  test("checkpoint cache: decoded once per process, a second snapshot runs no Spark job") {
    val t = checkpointedTable()
    val (first, firstJobs) = withJobs(DeltaLog.snapshot(spark, t))
    val (second, secondJobs) = withJobs(DeltaLog.snapshot(spark, t))
    assert(firstJobs == 1)
    assert(secondJobs == 0)
    assert(second == first)
    assert(first.files.size == 4)
  }

  test("checkpoint cache: a checkpoint rewritten in place is decoded again and refused") {
    import spark.implicits._
    val t = checkpointedTable()
    assert(ids(t) == (1L to 8L))
    // the same path now holds a checkpoint with add rows only
    val cp = new org.apache.hadoop.fs.Path(s"$t/_delta_log/" + f"${1L}%020d" + ".checkpoint.parquet")
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("x.parquet").toDF("p")
      .select(struct(col("p").as("path"), lit(1L).as("size")).as("add"))
      .coalesce(1).write.parquet(s"$t/_cpstage")
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$t/_cpstage/part-*.parquet"))(0)
    assert(fs.getFileStatus(cp).getLen != part.getLen)
    assert(fs.delete(cp, false) && fs.rename(part.getPath, cp))
    val e = intercept[IllegalArgumentException](DeltaLog.snapshot(spark, t))
    assert(e.getMessage.contains("malformed checkpoint"), e.getMessage)
  }

  test("checkpoint cache: reads, snapshot and txns stay right across checkpoint, vacuum and restore") {
    val t = checkpointedTable()
    val atV1 = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert(ids(t) == (1L to 8L))
    assert(DeltaLog.lastTxnVersion(spark, t, "app") == Some(2L))
    // v2 rewrites v0's two files without ids 1 and 2
    DeltaLog.delete(spark, t, col("id") <= 2L, txn = Some(("app", 3L)))
    assert(ids(t) == (3L to 8L))
    assert(DeltaLog.writeCheckpoint(spark, t) == 2L)
    assert(ids(t) == (3L to 8L))
    assert(DeltaLog.lastTxnVersion(spark, t, "app") == Some(3L))
    // v3 restores v1's files over the checkpoint at v2
    assert(DeltaLog.restore(spark, t, 1L) == 3L)
    assert(ids(t) == (1L to 8L))
    assert(DeltaLog.snapshot(spark, t).files.map(_.path).toSet == atV1)
    assert(DeltaLog.lastTxnVersion(spark, t, "app") == Some(3L))
    // the delete's rewritten files are no longer live: vacuum reclaims them
    assert(DeltaLog.vacuum(spark, t, retainMs = 0L, force = true) == 2L)
    assert(DeltaLog.writeCheckpoint(spark, t) == 3L)
    assert(ids(t) == (1L to 8L))
    assert(DeltaLog.snapshot(spark, t).files.map(_.path).toSet == atV1)
    assert(DeltaLog.snapshot(spark, t, Some(1L)).files.map(_.path).toSet == atV1)
    assert(DeltaLog.lastTxnVersion(spark, t, "app") == Some(3L))
  }

  test("checkpoint cache: two threads reading one table together get equal snapshots") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = checkpointedTable()
    val start = new java.util.concurrent.CountDownLatch(1)
    val both = Seq.fill(2)(Future {
      start.await()
      (DeltaLog.snapshot(spark, t), ids(t))
    })
    start.countDown()
    val Seq(a, b) = both.map(Await.result(_, 2.minutes))
    assert(a == b)
    assert(a._1 == DeltaLog.snapshot(spark, t))
    assert(a._2 == (1L to 8L))
  }

  test("checkpoint cache: bounded by action count, evicting least recently used entries") {
    val cache = new CheckpointCache[String, Int](4)
    var decodes = 0
    def get(k: String, n: Int): Seq[Int] = cache.getOrDecode(k) { decodes += 1; Seq.fill(n)(n) }
    get("a", 2); get("b", 1); get("a", 2) // holds a, b; a most recent
    assert(decodes == 2)
    get("c", 2) // 5 > 4: evicts b, the least recently used
    get("a", 2); get("c", 2)
    assert(decodes == 3)
    get("b", 1) // decoded again; evicts a
    assert(decodes == 4)
    get("big", 5); get("big", 5) // over the bound: never kept
    assert(decodes == 6)
    get("c", 2); get("b", 1)
    assert(decodes == 6)
  }

  test("merge over DV-carrying files: dead rows neither match nor resurrect; rewrites come out clean") {
    import spark.implicits._
    val t = newTable()
    // one file per parity so the copy-on-write split is observable
    val base = (1L to 12L).map(i => (i, s"v$i"))
    DeltaLog.append(spark, t, base.filter(_._1 % 2 == 0).toDF("id", "tag").coalesce(1))
    DeltaLog.append(spark, t, base.filter(_._1 % 2 == 1).toDF("id", "tag").coalesce(1))
    // DV-delete ids 3,6,9,12 — BOTH files now carry vectors
    DeltaLog.deleteWithDv(spark, t, col("id") % 3L === 0L)
    // merge: update id 2 (live), "update" id 6 (DV-dead → must INSERT,
    // not match), insert id 99
    val v = DeltaLog.merge(spark, t,
      Seq((2L, "UP"), (6L, "BACK"), (99L, "NEW")).toDF("id", "tag"), Seq("id"))
    assert(v > 0)
    val got = DeltaLog.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = Seq(1L -> "v1", 2L -> "UP", 4L -> "v4", 5L -> "v5", 6L -> "BACK",
      7L -> "v7", 8L -> "v8", 10L -> "v10", 11L -> "v11", 99L -> "NEW")
    assert(got == expect, got.toString)
    // every rewritten file is clean; only files untouched by the merge
    // may still carry a vector
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.filter(_.path.contains("part-m")).forall(_.dv.isEmpty),
      "rewritten files must not re-carry a deletion vector")
    // a merge whose keys match ONLY DV-dead rows inserts, never rewrites
    val before = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    DeltaLog.merge(spark, t, Seq((12L, "AGAIN")).toDF("id", "tag"), Seq("id"))
    val after = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert(before.subsetOf(after), "no pre-existing file should be rewritten")
    assert(DeltaLog.read(spark, t).filter(col("id") === 12L).select("tag")
      .as[String].head() == "AGAIN")
  }

  test("delete (CoW) over DV-carrying files composes; compact purges vectors, dataChange=false") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 10L).map(i => (i, s"v$i")).toDF("id", "tag").coalesce(1))
    DeltaLog.deleteWithDv(spark, t, col("id") <= 2L)
    // CoW delete over the DV'd file: dead rows must not resurrect
    val v = DeltaLog.delete(spark, t, col("id") >= 9L)
    assert(v > 0)
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq == (3L to 8L))
    assert(DeltaLog.snapshot(spark, t).dvCardinality == 0L,
      "the rewritten file is clean — the old DV went with the removed add")
    // compact purges: re-create a DV'd state, then OPTIMIZE
    val t2 = newTable()
    DeltaLog.append(spark, t2, (1L to 8L).map(i => (i, i * 2)).toDF("id", "x").coalesce(1))
    DeltaLog.append(spark, t2, (9L to 16L).map(i => (i, i * 2)).toDF("id", "x").coalesce(1))
    DeltaLog.deleteWithDv(spark, t2, col("id") % 4L === 0L)
    assert(DeltaLog.snapshot(spark, t2).dvCardinality == 4L)
    val cv = DeltaLog.compact(spark, t2)
    assert(cv > 0)
    val snap2 = DeltaLog.snapshot(spark, t2)
    assert(snap2.dvCardinality == 0L, "compaction purges deletion vectors")
    assert(DeltaLog.read(spark, t2).select("id").as[Long].collect().sorted.toSeq ==
      (1L to 16L).filterNot(_ % 4 == 0))
    // layout-only: the purge commit carries dataChange=false adds
    val lines = Files.readAllLines(
      Paths.get(s"$t2/_delta_log/" + f"$cv%020d.json")).toArray.mkString("\n")
    assert(lines.contains(""""dataChange":false"""), lines)
    assert(!lines.contains(""""dataChange":true"""), "a purge changes no logical row")
  }

  test("restore across a DV delete: the (path, dv) diff re-carries the target's descriptor") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "tag").coalesce(1))
    assert(DeltaLog.deleteWithDv(spark, t, col("id") <= 2L) == 1L)   // DV A
    assert(DeltaLog.deleteWithDv(spark, t, col("id") >= 9L) == 2L)   // DV A∪B, same path
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq == (3L to 8L))
    // restore to version 1: the path is live in BOTH snapshots but its
    // DV differs — a path-only diff would emit nothing and leave ids
    // 9,10 deleted (the r13 advice's silent wrong restore)
    val v = DeltaLog.restore(spark, t, 1L)
    assert(v == 3L, s"restore must be a new commit, got $v")
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      (3L to 10L), "rows deleted after the target version must come back")
    assert(DeltaLog.snapshot(spark, t).dvCardinality == 2L, "the target's DV (ids 1,2) stays")
    // restore to version 0: DV-carrying current vs DV-free target —
    // also a same-path diff; everything comes back
    DeltaLog.restore(spark, t, 0L)
    assert(DeltaLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq == (1L to 10L))
    assert(DeltaLog.snapshot(spark, t).dvCardinality == 0L)
  }

  test("a row group whose footer drops its min/max (NaN) leaves the column unbounded") {
    val t = newTable()
    val ice = Files.createTempDirectory("graft-iceberg").toString
    val rows = spark.range(0, 2000).select(
      when(col("id") === 0L, lit(Double.NaN)).otherwise(col("id").cast("double")).as("d"))
      .coalesce(1)
    // ~100-row row groups; the first holds a NaN, and parquet reads a
    // NaN-bearing chunk's stats back with no min/max at all
    spark.conf.set("parquet.block.size", "1024")
    try { DeltaLog.append(spark, t, rows); IcebergTable.append(spark, ice, rows) }
    finally spark.conf.unset("parquet.block.size")
    val path = new org.apache.hadoop.fs.Path(t, DeltaLog.snapshot(spark, t).files.head.path)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, spark.sparkContext.hadoopConfiguration))
    try assert(footer.getRowGroups.size > 1) finally footer.close()
    assert(DeltaLog.read(spark, t).filter(col("d") < 50.0).count() == 49L)
    assert(IcebergTable.read(spark, ice).filter(col("d") < 50.0).count() == 49L)
  }

  test("timestamp range skipping: sub-second bounds are not double-counted") {
    import spark.implicits._
    val t = newTable()
    // one file entirely inside [1.6s, 1.8s] epoch; the buggy comparable
    // mapped a 1.5s lower bound to 2.0s and skipped it
    val rows = Seq(1600L, 1700L, 1800L).map(ms =>
      (ms, new java.sql.Timestamp(ms)))
    // INT64 micros (not the INT96 default) so the footer stats are
    // indexable and the skip path actually engages
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try DeltaLog.append(spark, t, rows.toDF("id", "ts").coalesce(1))
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    def slice(lo: Long, hi: Long) = DeltaLog.read(spark, t)
      .filter(col("ts").between(new java.sql.Timestamp(lo), new java.sql.Timestamp(hi)))
    val kept = LogFileIndex.plannedFiles(slice(1500L, 1900L))
    assert(kept.size == 1, "a 1.5s..1.9s range must keep the 1.6s..1.8s file")
    assert(slice(1500L, 1900L).count() == 3L)
    // and a range strictly above still skips
    assert(LogFileIndex.plannedFiles(slice(1900L, 2500L)).isEmpty)
  }

  test("delta.appendOnly: row-removing transactions refuse; appends and compaction proceed") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"),
      configuration = Map("delta.appendOnly" -> "true"))
    DeltaLog.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    def refuses(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("APPEND-ONLY"), e.getMessage)
    }
    refuses(DeltaLog.delete(spark, t, col("id") === 1L))
    refuses(DeltaLog.deleteWithDv(spark, t, col("id") === 1L))
    refuses(DeltaLog.merge(spark, t, Seq((1L, "z")).toDF("id", "tag"), Seq("id")))
    refuses(DeltaLog.applyChanges(spark, t,
      Seq((1L, "z", "insert")).toDF("id", "tag", "_change_type"), Seq("id")))
    refuses(DeltaLog.restore(spark, t, 0L)) // would remove v1's file
    // compaction removes FILES, not rows (dataChange=false) — legal
    assert(DeltaLog.compact(spark, t) >= 0L)
    assert(DeltaLog.read(spark, t).count() == 2)
  }

  test("rename/drop column: metadata-only on mapped tables; time travel keeps old shapes") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "tag", "day"),
      partitionBy = Seq("day"), columnMapping = "name")
    val dataFilesBefore = new java.io.File(t).listFiles().count(_.getName.endsWith(".parquet"))
    // RENAME a data column and the PARTITION column — zero files touched
    val vRename = DeltaLog.renameColumn(spark, t, "tag", "label")
    DeltaLog.renameColumn(spark, t, "day", "dt")
    assert(DeltaLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "label", "dt"))
    assert(DeltaLog.read(spark, t).orderBy("id").select("label")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // pre-rename time travel serves the OLD shape
    assert(DeltaLog.read(spark, t, Some(vRename - 1)).schema.fieldNames.toSeq ==
      Seq("id", "tag", "day"))
    // appends speak the NEW schema; merge works across the rename
    DeltaLog.append(spark, t, Seq((3L, "c", "d1")).toDF("id", "label", "dt"),
      partitionBy = Seq("dt"))
    DeltaLog.merge(spark, t, Seq((1L, "z", "d1")).toDF("id", "label", "dt"), Seq("id"))
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "z"), (2L, "b"), (3L, "c")))
    // DROP: the column vanishes logically, the files keep it invisibly
    DeltaLog.dropColumn(spark, t, "label")
    assert(DeltaLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "dt"))
    // a partition column cannot drop; unknown/duplicate names refuse
    assert(intercept[IllegalArgumentException](
      DeltaLog.dropColumn(spark, t, "dt")).getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.renameColumn(spark, t, "nope", "x")).getMessage.contains("not in the table"))
    // zero data files were created by any of the schema changes
    val dataFilesAfter = new java.io.File(t).listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFilesAfter >= dataFilesBefore, "sanity") // appends/merge added some
    // unmapped tables refuse (rename would rewrite every file)
    val t2 = newTable()
    DeltaLog.append(spark, t2, Seq((1L, "a")).toDF("id", "tag"))
    val e = intercept[IllegalArgumentException](DeltaLog.renameColumn(spark, t2, "tag", "x"))
    assert(e.getMessage.contains("column mapping"), e.getMessage)
    // a CHECK constraint referencing the column blocks its rename
    val t3 = newTable()
    DeltaLog.append(spark, t3, Seq((1L, "a")).toDF("id", "tag"),
      columnMapping = "name",
      configuration = Map("delta.constraints.idpos" -> "id >= 0"))
    val eC = intercept[IllegalArgumentException](DeltaLog.renameColumn(spark, t3, "id", "k"))
    assert(eC.getMessage.contains("delta.constraints.idpos"), eC.getMessage)
  }

  test("type widening: ALTER COLUMN TYPE is metadata-only; narrow files upcast on read") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1, 10), (2, 20)).toDF("id", "v")) // both INT
    val vPre = DeltaLog.currentVersion(spark, t)
    DeltaLog.widenColumnType(spark, t, "v", LongType)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.readerFeatures.contains("typeWidening") &&
      snap.writerFeatures.contains("typeWidening"))
    assert(snap.schema.get("v").dataType == LongType)
    assert(snap.schema.get("v").metadata.getString("delta.typeChanges").contains("integer"))
    // the old INT files read back as LONG — no rewrite happened
    assert(DeltaLog.read(spark, t).schema("v").dataType == LongType)
    // a post-widen append carries values only LONG can hold
    DeltaLog.append(spark, t, Seq((3, 3000000000L)).toDF("id", "v"))
    assert(DeltaLog.read(spark, t).orderBy("id").select("v").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 20L, 3000000000L))
    // pre-widen time travel serves the NARROW shape
    assert(DeltaLog.read(spark, t, Some(vPre)).schema("v").dataType == IntegerType)
    // merge rewrites across mixed-width generations
    DeltaLog.merge(spark, t, Seq((1, 11L)).toDF("id", "v"), Seq("id"))
    assert(DeltaLog.read(spark, t).orderBy("id").select("v").collect()
      .map(_.getLong(0)).toSeq == Seq(11L, 20L, 3000000000L))
    // stats skipping composes: int-era stats serve the long-typed range
    assert(DeltaLog.read(spark, t).filter(col("v").between(15L, 25L)).count() == 1)
    // NARROWING refuses, as does an unknown column
    assert(intercept[IllegalArgumentException](
      DeltaLog.widenColumnType(spark, t, "v", IntegerType))
      .getMessage.contains("not a permitted widening"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.widenColumnType(spark, t, "nope", LongType))
      .getMessage.contains("not in the table"))
    // float->double and date->timestamp_ntz also widen
    val t2 = newTable()
    DeltaLog.append(spark, t2,
      Seq((1.5f, java.sql.Date.valueOf("2024-01-02"))).toDF("f", "d"))
    DeltaLog.widenColumnType(spark, t2, "f", DoubleType)
    DeltaLog.widenColumnType(spark, t2, "d", TimestampNTZType)
    val r = DeltaLog.read(spark, t2).head()
    assert(r.getDouble(0) == 1.5 &&
      r.getAs[java.time.LocalDateTime](1).toLocalDate.toString == "2024-01-02")
    // float-era stats spell 0.7f and 1.1f as "0.7" and "1.1", but the
    // file's values read as doubles lie just below 0.7 and above 1.1
    val t3 = newTable()
    DeltaLog.append(spark, t3, Seq(0.7f, 1.1f).toDF("x").coalesce(1))
    DeltaLog.widenColumnType(spark, t3, "x", DoubleType)
    assert(DeltaLog.read(spark, t3).filter(col("x") < 0.7).count() == 1)
    assert(DeltaLog.read(spark, t3).filter(col("x") > 1.1).count() == 1)
    assert(DeltaLog.read(spark, t3).filter(col("x") === 0.7f.toDouble).count() == 1)
  }

  test("shallow clone: metadata-only copy that diverges without ever touching the source") {
    import spark.implicits._
    val src = newTable()
    val dst = newTable() + "/clone"
    DeltaLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    DeltaLog.append(spark, src, Seq((3L, "c"), (4L, "d")).toDF("id", "tag"))
    DeltaLog.deleteWithDv(spark, src, col("id") === 2L) // a DV rides into the clone
    def rows(t: String) = DeltaLog.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    DeltaLog.shallowClone(spark, src, dst)
    assert(rows(dst) == rows(src) && rows(dst) == Seq((1L, "a"), (3L, "c"), (4L, "d")))
    // zero data copied: the clone dir holds only its _delta_log
    val copied = Option(new java.io.File(dst).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    assert(copied.isEmpty, copied.map(_.getName).toString)
    // the clone diverges; the source never notices
    DeltaLog.merge(spark, dst, Seq((1L, "z"), (9L, "i")).toDF("id", "tag"), Seq("id"))
    assert(rows(dst) == Seq((1L, "z"), (3L, "c"), (4L, "d"), (9L, "i")))
    assert(rows(src) == Seq((1L, "a"), (3L, "c"), (4L, "d")), "source untouched")
    // vacuum on the clone scans only ITS directory — source files survive
    DeltaLog.vacuum(spark, dst, retainMs = 0L, force = true)
    assert(rows(src) == Seq((1L, "a"), (3L, "c"), (4L, "d")))
    assert(rows(dst) == Seq((1L, "z"), (3L, "c"), (4L, "d"), (9L, "i")))
    // historical clone: versionAsOf anchors the copied snapshot
    val dst0 = newTable() + "/clone0"
    DeltaLog.shallowClone(spark, src, dst0, versionAsOf = Some(0L))
    assert(rows(dst0) == Seq((1L, "a"), (2L, "b")))
  }

  test("shallow clone: compact writes under the clone, so a source vacuum cannot strand it") {
    import spark.implicits._
    val src = newTable()
    val dst = newTable() + "/clone"
    DeltaLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    DeltaLog.append(spark, src, Seq((3L, "c"), (4L, "d")).toDF("id", "tag"))
    DeltaLog.deleteWithDv(spark, src, col("id") === 2L)
    DeltaLog.shallowClone(spark, src, dst)
    assert(DeltaLog.compact(spark, dst) >= 0L)
    val live = DeltaLog.snapshot(spark, dst).files.map(_.path)
    assert(live.nonEmpty && live.forall(p => !p.contains(":") && !p.startsWith("/")),
      s"compacted clone files must be clone-relative: $live")
    DeltaLog.vacuum(spark, src, retainMs = 0L, force = true)
    val rows = DeltaLog.read(spark, dst).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (3L, "c"), (4L, "d")))
  }

  test("in-commit timestamps: a monotonic commitInfo clock drives timestamp travel, not mtimes") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"),
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    DeltaLog.merge(spark, t, Seq((3L, "c")).toDF("id", "tag"), Seq("id"))
    assert(DeltaLog.snapshot(spark, t).writerFeatures.contains("inCommitTimestamp"))
    // every commit leads with commitInfo.inCommitTimestamp, strictly increasing
    val icts = (0L to 2L).map { v =>
      val first = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
        s"$t/_delta_log/" + f"$v%020d.json")).get(0)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(first)
      assert(node.has("commitInfo"), s"commit $v must lead with commitInfo")
      node.get("commitInfo").get("inCommitTimestamp").asLong()
    }
    assert(icts == icts.sorted && icts.distinct.size == 3, icts.toString)
    // SABOTAGE the file mtimes (a table copy destroys them in reality):
    // timestamp travel must keep resolving via the in-commit clock
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 2L).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(
        s"$t/_delta_log/" + f"$v%020d.json"), 1000L, -1)
    }
    assert(DeltaLog.versionAtTimestamp(spark, t, icts(1)) == 1L)
    assert(DeltaLog.versionAtTimestamp(spark, t, icts(2) - 1) == 1L)
    assert(DeltaLog.readAsOfTimestamp(spark, t, icts(1)).count() == 2)
    assert(DeltaLog.readAsOfTimestamp(spark, t, icts(2)).count() == 3)
  }

  test("writer-enforced rules: CHECK constraints, invariants, generated columns; identity refuses") {
    import spark.implicits._
    // v3 CHECK constraint: conforming rows land, violators refuse by name
    val t3 = newTable()
    dataFile(t3, "a.parquet", "a", 2)
    commit(t3, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{"delta.constraints.pos":"i >= 0"}}}""",
      add("a.parquet")))
    DeltaLog.append(spark, t3, Seq(("b", 9L)).toDF("tag", "i"))
    assert(DeltaLog.read(spark, t3).count() == 3)
    val eC = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t3, Seq(("x", -1L)).toDF("tag", "i")))
    assert(eC.getMessage.contains("CHECK constraint 'pos'"), eC.getMessage)
    // NULL passes a CHECK (SQL semantics: only FALSE violates)
    DeltaLog.append(spark, t3, Seq(("n", null.asInstanceOf[java.lang.Long]))
      .toDF("tag", "i").select(col("tag"), col("i").cast(LongType)))
    // a violating MERGE refuses too; the conforming one lands
    val eM = intercept[IllegalArgumentException](
      DeltaLog.merge(spark, t3, Seq(("m", -5L)).toDF("tag", "i"), Seq("tag")))
    assert(eM.getMessage.contains("CHECK constraint"), eM.getMessage)
    DeltaLog.merge(spark, t3, Seq(("b", 10L)).toDF("tag", "i"), Seq("tag"))
    // v4 GENERATED column: the stored value must satisfy the expression
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.generationExpression\":\"length(tag)\"}}]}","partitionColumns":[]}}""",
      add("a.parquet")))
    val eG = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t, Seq(("b", 9L)).toDF("tag", "i")))
    assert(eG.getMessage.contains("generated column i"), eG.getMessage)
    DeltaLog.append(spark, t, Seq(("bb", 2L)).toDF("tag", "i")) // length("bb") = 2
    assert(DeltaLog.read(spark, t).count() == 3)
    // column INVARIANT (writer v2 feature, field metadata)
    val t4 = newTable()
    dataFile(t4, "a.parquet", "a", 2)
    commit(t4, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.invariants\":\"{\\\"expression\\\":{\\\"expression\\\":\\\"i < 100\\\"}}\"}}]}","partitionColumns":[]}}""",
      add("a.parquet")))
    val eI = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t4, Seq(("z", 500L)).toDF("tag", "i")))
    assert(eI.getMessage.contains("invariant on i"), eI.getMessage)
    DeltaLog.append(spark, t4, Seq(("z", 50L)).toDF("tag", "i"))
    // v6 IDENTITY columns stay a refusal — only when one is ACTIVE
    val t6 = newTable()
    dataFile(t6, "a.parquet", "a", 2)
    commit(t6, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.identity.start\":1}}]}","partitionColumns":[]}}""",
      add("a.parquet")))
    val eId = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t6, Seq(("b", 9L)).toDF("tag", "i")))
    assert(eId.getMessage.contains("identity"), eId.getMessage)
    // v6 with NO identity metadata: nothing unimplemented is active — writes land
    val t2 = newTable()
    dataFile(t2, "a.parquet", "a", 2)
    commit(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[]}}""",
      add("a.parquet")))
    DeltaLog.append(spark, t2, Seq(("b", 9L)).toDF("tag", "i"))
    assert(DeltaLog.read(spark, t2).count() == 3)
  }

  test("delta.appendOnly composes with column mapping: appends land, removes refuse") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"),
      columnMapping = "name",
      configuration = Map("delta.appendOnly" -> "true"))
    // the guard forbids ROW REMOVAL — a mapped append is legal
    DeltaLog.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    assert(DeltaLog.read(spark, t).count() == 2)
    val e = intercept[IllegalArgumentException](DeltaLog.delete(spark, t, col("id") === 1L))
    assert(e.getMessage.contains("APPEND-ONLY"), e.getMessage)
  }

  test("applyChanges: a net-zero batch with a txn stamp still advances the cursor") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    // change batch that nets to nothing: delete of a key that is not
    // in the table; the txn epoch must still persist (otherwise a
    // replication cursor never advances past a no-op interval)
    val v = DeltaLog.applyChanges(spark, t,
      Seq((99L, "x", "delete")).toDF("id", "tag", "_change_type"), Seq("id"),
      txn = Some(("repl-z", 7L)))
    assert(v >= 0L, "txn-stamped no-op must COMMIT the cursor")
    assert(DeltaLog.lastTxnVersion(spark, t, "repl-z").contains(7L))
    assert(DeltaLog.read(spark, t).count() == 1)
    // without a stamp there is nothing to persist: no commit
    val v2 = DeltaLog.applyChanges(spark, t,
      Seq((99L, "x", "delete")).toDF("id", "tag", "_change_type"), Seq("id"))
    assert(v2 == -1L)
  }

  test("replicateOnce prefers _change_data: update-only commits pull without touching rewritten data files") {
    import spark.implicits._
    val src = newTable()
    val dst = newTable()
    DeltaLog.append(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val c0 = DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "r-cdf")
    // TWO merges touch the same key between polls: the CDF pull must
    // net them (only the LAST state of key 1 applies — a naive replay
    // would upsert both and duplicate the row)
    DeltaLog.merge(spark, src, Seq((1L, "x")).toDF("id", "tag"), Seq("id"))
    DeltaLog.merge(spark, src, Seq((1L, "y"), (4L, "d")).toDF("id", "tag"), Seq("id"))
    val cur = DeltaLog.currentVersion(spark, src)
    // IO honesty: physically remove every NON-cdc data file those
    // commits added — a pull that opens them instead of _change_data
    // fails loudly, so success proves the CDF path reads change bytes
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    ((c0 + 1) to cur).foreach { v =>
      val jp = new org.apache.hadoop.fs.Path(f"$src/_delta_log/$v%020d.json")
      val in = fs.open(jp)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
      lines.map(mapper.readTree).flatMap(n => Option(n.get("add"))).foreach { a =>
        val p = a.get("path").asText
        if (!p.startsWith("_change_data/"))
          assert(fs.delete(new org.apache.hadoop.fs.Path(s"$src/$p"), false),
            s"fixture expects to remove $p")
      }
    }
    assert(DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "r-cdf") == cur)
    assert(DeltaLog.read(spark, dst).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "y"), (2L, "b"), (3L, "c"), (4L, "d")))
    // idle poll after the CDF pull: no commit
    val vBefore = DeltaLog.currentVersion(spark, dst)
    assert(DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "r-cdf") == cur)
    assert(DeltaLog.currentVersion(spark, dst) == vBefore)
  }

  test("row tracking: row_id/row_commit_version surface from baseRowId, stable across DV deletes") {
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    dataFile(t, "b.parquet", "b", 3)
    val meta = """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[]}}"""
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["rowTracking","deletionVectors","appendOnly","invariants","domainMetadata"]}}""",
      meta,
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0}}"""))
    commit(t, 1, Seq(
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"baseRowId":2,"defaultRowCommitVersion":1}}"""))
    def rows = DeltaLog.readWithRowIds(spark, t).orderBy("row_id").collect()
      .map(r => (r.getAs[Long]("row_id"), r.getAs[String]("tag"),
        r.getAs[Long]("i"), r.getAs[Long]("row_commit_version"))).toSeq
    assert(rows == Seq(
      (0L, "a", 0L, 0L), (1L, "a", 1L, 0L),
      (2L, "b", 0L, 1L), (3L, "b", 1L, 1L), (4L, "b", 2L, 1L)))
    // a DV delete of a.parquet's FIRST row: survivors keep their
    // ORIGINAL ids (position-derived, not renumbered) — the feature's
    // whole point for CDC consumers
    val data = DeletionVectors.serialize(Array(0L))
    val padded = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
    val inline = DeletionVectors.z85Encode(padded)
    commit(t, 2, Seq(
      """{"remove":{"path":"a.parquet","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${data.length},"cardinality":1}}}"""))
    assert(rows == Seq(
      (1L, "a", 1L, 0L),
      (2L, "b", 0L, 1L), (3L, "b", 1L, 1L), (4L, "b", 2L, 1L)))
    // the plain read serves the same table without the metadata columns
    assert(DeltaLog.read(spark, t).count() == 4)
    assert(!DeltaLog.read(spark, t).columns.contains("row_id"))
    // WRITES keep refusing: this writer does not allocate base row ids
    import spark.implicits._
    val eW = intercept[IllegalArgumentException](
      DeltaLog.append(spark, t, Seq(("c", 9L)).toDF("tag", "i")))
    assert(eW.getMessage.contains("rowTracking") || eW.getMessage.contains("domainMetadata"),
      eW.getMessage)
    // an add WITHOUT the fields refuses rather than fabricating ids
    val t2 = newTable()
    dataFile(t2, "a.parquet", "a", 2)
    commit(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","appendOnly","invariants"]}}""",
      meta, add("a.parquet")))
    val eM = intercept[IllegalArgumentException](DeltaLog.readWithRowIds(spark, t2))
    assert(eM.getMessage.contains("fabricate"), eM.getMessage)
    // and a table NOT declaring the feature refuses the api loudly
    val t3 = newTable()
    dataFile(t3, "a.parquet", "a", 2)
    commit(t3, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta, add("a.parquet")))
    val eF = intercept[IllegalArgumentException](DeltaLog.readWithRowIds(spark, t3))
    assert(eF.getMessage.contains("rowTracking"), eF.getMessage)
  }

  test("row tracking identities survive a classic checkpoint") {
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    val meta = """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[]}}"""
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","appendOnly","invariants"]}}""",
      meta,
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"baseRowId":10,"defaultRowCommitVersion":0}}"""))
    def rows = DeltaLog.readWithRowIds(spark, t).orderBy("row_id").collect()
      .map(r => (r.getAs[Long]("row_id"), r.getAs[Long]("row_commit_version"))).toSeq
    assert(rows == Seq((10L, 0L), (11L, 0L)))
    // checkpoint, then delete the JSON prefix: the replay is now
    // checkpoint-sourced and the identities must still be there
    DeltaLog.writeCheckpoint(spark, t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(f"$t/_delta_log/${0L}%020d.json"), false)
    assert(rows == Seq((10L, 0L), (11L, 0L)),
      "baseRowId/defaultRowCommitVersion must survive checkpointing")
  }

  test("replicateOnce CDF netting: a key-CHANGING update deletes the stale old key") {
    import spark.implicits._
    val src = newTable()
    val dst = newTable()
    DeltaLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "r-kc")
    // hand-craft the commit an EXTERNAL engine's key-modifying UPDATE
    // produces: _change_data with preimage id=1 / postimage id=9, the
    // data file swapped to the post-state
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataFileTyped(src, "post.parquet", Seq((2L, "b"), (9L, "a2")))
    dataFileTyped(src, s"_change_data/cdc-1.parquet",
      Seq.empty, cdc = Seq((1L, "a", "update_preimage"), (9L, "a2", "update_postimage")))
    val oldFile = DeltaLog.snapshot(spark, src).files.head.path
    commit(src, 1, Seq(
      s"""{"remove":{"path":"$oldFile","deletionTimestamp":1,"dataChange":true}}""",
      """{"add":{"path":"post.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"cdc":{"path":"_change_data/cdc-1.parquet","partitionValues":{},"size":1,"dataChange":false}}"""))
    DeltaLog.replicateOnce(spark, src, dst, Seq("id"), "r-kc")
    val got = DeltaLog.read(spark, dst).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b"), (9L, "a2")),
      s"the stale old key 1 must be deleted by the orphaned preimage: $got")
  }

  /** Write exact typed rows as one named data file; with `cdc` set,
    * writes (id, tag, _change_type) rows instead.
    */
  private def dataFileTyped(
      table: String, name: String, rows: Seq[(Long, String)],
      cdc: Seq[(Long, String, String)] = Seq.empty): Unit = {
    import spark.implicits._
    val stage = s"$table/_stage_t"
    val df =
      if (cdc.nonEmpty) cdc.toDF("id", "tag", "_change_type")
      else rows.toDF("id", "tag")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$stage/part-*.parquet"))(0).getPath
    val dest = new org.apache.hadoop.fs.Path(s"$table/$name")
    fs.mkdirs(dest.getParent)
    fs.rename(part, dest)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  test("protocol upgrade from legacy versions re-declares every implied feature") {
    import spark.implicits._
    // a legacy (1,4) table: changeDataFeed + generatedColumns +
    // checkConstraints + appendOnly + invariants are all IMPLIED; the
    // widening upgrade to (3,7) must enumerate them or a spec-compliant
    // engine could append without enforcing what the config activates
    val t = newTable()
    dataFile(t, "a.parquet", "a", 2)
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"i\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[]}}""",
      add("a.parquet")))
    DeltaLog.widenColumnType(spark, t, "i", LongType)
    val snap = DeltaLog.snapshot(spark, t)
    assert(Set("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
      "generatedColumns", "typeWidening").subsetOf(snap.writerFeatures),
      snap.writerFeatures.toString)
    // and the upgraded table still reads + widens correctly
    assert(DeltaLog.read(spark, t).schema("i").dataType == LongType)
  }

  test("an empty or unparsable _last_checkpoint falls back to listing the log") {
    import spark.implicits._
    val t = newTable()
    (1L to 3L).foreach(i => DeltaLog.append(spark, t, Seq((i, "x")).toDF("id", "tag")))
    assert(DeltaLog.writeCheckpoint(spark, t) == 2L)
    DeltaLog.append(spark, t, Seq((4L, "y")).toDF("id", "tag"))
    val logDir = s"$t/_delta_log"
    Seq("", "{not json", """{"parts":2}""").foreach { text =>
      Files.deleteIfExists(Paths.get(s"$logDir/._last_checkpoint.crc"))
      Files.writeString(Paths.get(s"$logDir/_last_checkpoint"), text)
      assert(DeltaLog.read(spark, t).count() == 4L, s"pointer '$text'")
      assert(DeltaLog.snapshot(spark, t).files.size == 4, s"pointer '$text'")
    }
    // the checkpoint writer repoints it by temp + rename, leaving no temp file
    assert(DeltaLog.writeCheckpoint(spark, t) == 3L)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$logDir/_last_checkpoint"))).get("version").asLong == 3L)
    assert(!new java.io.File(logDir).list().exists(_.startsWith(".tmp-")))
  }

  test("landFile without overwrite refuses a taken target and leaves its bytes in place") {
    val dir = Files.createTempDirectory("graft-land")
    val target = new org.apache.hadoop.fs.Path(dir.resolve("v1.json").toUri)
    // Hadoop's own local filesystem, whose rename (File.renameTo)
    // replaces an existing file: the put-if-absent must refuse before
    // it gets there
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(Landing.landFile(fs, target, "first".getBytes("UTF-8"), overwrite = false))
    assert(!Landing.landFile(fs, target, "second".getBytes("UTF-8"), overwrite = false))
    assert(Files.readString(dir.resolve("v1.json")) == "first")
    assert(Landing.landFile(fs, target, "third".getBytes("UTF-8"), overwrite = true))
    assert(Files.readString(dir.resolve("v1.json")) == "third")
    assert(!dir.toFile.list().exists(_.startsWith(".tmp-")))
  }

  test("writeCheckpointV2 on an in-commit-timestamp table: the upgrade commit carries its ICT") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a")).toDF("id", "tag"),
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    assert(DeltaLog.writeCheckpointV2(spark, t) == 1L)
    DeltaLog.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val icts = (0L to 2L).map { v =>
      val first = mapper.readTree(Files.readAllLines(Paths.get(
        s"$t/_delta_log/" + f"$v%020d.json")).get(0))
      assert(first.has("commitInfo"), s"commit $v must lead with commitInfo: $first")
      first.get("commitInfo").get("inCommitTimestamp").asLong()
    }
    assert(icts == icts.sorted && icts.distinct.size == 3, icts.toString)
    assert(DeltaLog.versionAtTimestamp(spark, t, icts(1)) == 1L)
  }
}

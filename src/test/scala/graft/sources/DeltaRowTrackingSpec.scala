package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The WRITE side of Delta row tracking (delta.io PROTOCOL.md,
  * "Row Tracking"): [[DeltaLog.append]] allocates each new file a
  * contiguous block of fresh row ids above the `delta.rowTracking`
  * domain-metadata high-water mark, and [[DeltaLog.compact]] carries
  * survivor identities through its dataChange=false rewrite via the
  * MATERIALIZED row-id columns — so a CDC consumer keying on `row_id`
  * sees stable identities across appends, maintenance, checkpoints,
  * and crash/replay.
  */
class DeltaRowTrackingSpec extends SparkSpec {

  private def newTable(): String =
    Files.createTempDirectory("graft-rowtrack").toString

  private def df(tag: String, from: Int, n: Int) = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, tag)).toDF("id", "tag")
      .coalesce(1).sortWithinPartitions("id")
  }

  private def idsOf(table: String): Map[Long, (Long, Long)] = {
    import spark.implicits._
    DeltaLog.readWithRowIds(spark, table)
      .select("id", "row_id", "row_commit_version")
      .as[(Long, Long, Long)].collect()
      .map { case (k, rid, rcv) => k -> (rid, rcv) }.toMap
  }

  test("append allocates monotonic base row ids and advances the high-water mark") {
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 10), rowTracking = true)
    DeltaLog.append(spark, t, df("b", 100, 5))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.writerFeatures.contains("rowTracking"))
    assert(snap.writerFeatures.contains("domainMetadata"))
    assert(snap.rowIdHighWaterMark.contains(14L))
    assert(snap.files.forall(f => f.baseRowId.isDefined && f.defaultRowCommitVersion.isDefined))
    val ids = idsOf(t)
    assert(ids.size == 15)
    // single sorted file per append: row id == hwm-ordered rank
    assert((0 until 10).map(i => ids(i.toLong)._1) == (0L until 10L))
    assert((100 until 105).map(i => ids(i.toLong)._1) == (10L until 15L))
    // commit version: creation commit 0, second append commit 1
    assert(ids(0L)._2 == 0L && ids(104L)._2 == 1L)
  }

  test("compact preserves survivor ids via materialized columns; fresh appends continue above") {
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 8), rowTracking = true)
    DeltaLog.append(spark, t, df("b", 8, 8))
    val before = idsOf(t)
    val v = DeltaLog.compact(spark, t)
    assert(v >= 0, "compaction should have packed the two small files")
    val snapAfter = DeltaLog.snapshot(spark, t)
    // the rewrite landed ONE file carrying a fresh base, and the mark
    // moved past it (ids burn even for dataChange=false adds)
    assert(snapAfter.files.size == 1)
    assert(snapAfter.rowIdHighWaterMark.exists(_ >= 16L))
    val after = idsOf(t)
    assert(after == before, "compaction must not renumber a single survivor")
    // a post-compaction append takes ids ABOVE the compacted file's
    // burned block — never reusing, never colliding
    DeltaLog.append(spark, t, df("c", 100, 4))
    val ids = idsOf(t)
    assert(ids.size == 20)
    val freshIds = (100 until 104).map(i => ids(i.toLong)._1)
    assert(freshIds.toSet.intersect(before.values.map(_._1).toSet).isEmpty)
    assert(freshIds == freshIds.sorted && freshIds.head > 15L)
    // survivors STILL unchanged after the later append
    assert(before.forall { case (k, v2) => ids(k) == v2 })
  }

  test("partitioned row-tracking table: per-partition compaction keeps every identity") {
    import spark.implicits._
    val base = (0 until 30).map(i => (i.toLong, (i % 3).toString)).toDF("id", "p")
    DeltaLog.append(spark, newTableVar, base.repartition(2), partitionBy = Seq("p"),
      rowTracking = true)
    DeltaLog.append(spark, newTableVar,
      (30 until 60).map(i => (i.toLong, (i % 3).toString)).toDF("id", "p").repartition(2),
      partitionBy = Seq("p"))
    val before = idsOf(newTableVar)
    assert(before.size == 60)
    assert(before.values.map(_._1).toSeq.distinct.size == 60, "row ids must be unique")
    assert(DeltaLog.compact(spark, newTableVar) >= 0)
    assert(idsOf(newTableVar) == before)
  }
  private val newTableVar = newTable()

  test("ids survive checkpointing: domain metadata and base ids ride the checkpoint") {
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 6), rowTracking = true)
    DeltaLog.append(spark, t, df("b", 6, 6))
    val before = idsOf(t)
    DeltaLog.writeCheckpoint(spark, t)
    // drop the JSON prefix — the checkpoint is now the only witness
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L, 1L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(f"$t/_delta_log/$v%020d.json"), false)
    }
    assert(idsOf(t) == before, "checkpoint must carry baseRowId/defaultRowCommitVersion")
    // and the high-water mark survived too: the next append continues
    // above 11 instead of re-allocating from scratch
    DeltaLog.append(spark, t, df("c", 100, 3))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.rowIdHighWaterMark.contains(14L))
    val ids = idsOf(t)
    assert((100 until 103).map(i => ids(i.toLong)._1) == (12L until 15L))
  }

  test("crash replay: staged-but-uncommitted files burn nothing; txn replay burns once") {
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 5), rowTracking = true,
      txn = Some(("app", 1L)))
    // a crashed append dies AFTER moving data files but BEFORE its
    // commit lands — simulate the orphan it leaves behind
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    df("orphan", 900, 7).write.parquet(s"$t/_crash_stage")
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$t/_crash_stage/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$t/part-crashed-orphan.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/_crash_stage"), true)
    // ids allocate at COMMIT time, so the orphan burned nothing
    assert(DeltaLog.snapshot(spark, t).rowIdHighWaterMark.contains(4L))
    // the RETRY of epoch 1 (exactly-once txn) is a no-op: no rows, no burn
    assert(DeltaLog.append(spark, t, df("a", 0, 5), txn = Some(("app", 1L))) == -1L)
    assert(DeltaLog.snapshot(spark, t).rowIdHighWaterMark.contains(4L))
    // the NEXT epoch allocates contiguously — the crash left no gap
    DeltaLog.append(spark, t, df("b", 10, 5), txn = Some(("app", 2L)))
    val ids = idsOf(t)
    assert(ids.size == 10)
    assert((10 until 15).map(i => ids(i.toLong)._1) == (5L until 10L))
  }

  test("identity columns: generated values respect start/step and advance the field-metadata mark") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 5), identity = Some(("sk", 100L, 3L)))
    DeltaLog.append(spark, t, df("b", 10, 4))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.writerFeatures.contains("identityColumns"))
    val f = snap.schema.get("sk")
    assert(f.metadata.getLong("delta.identity.start") == 100L)
    assert(f.metadata.getLong("delta.identity.step") == 3L)
    assert(f.metadata.getLong("delta.identity.highWaterMark") == 100L + 3L * 8)
    val got = DeltaLog.read(spark, t).select("id", "sk")
      .as[(Long, Long)].collect().toMap
    // single sorted file per append: sk follows key rank within each
    assert((0 until 5).map(i => got(i.toLong)) == (0 until 5).map(i => 100L + 3L * i))
    assert((10 until 14).map(i => got(i.toLong)) == (0 until 4).map(i => 115L + 3L * i))
    // compaction is a pure rewrite: identity values are data and survive
    assert(DeltaLog.compact(spark, t) >= 0)
    assert(DeltaLog.read(spark, t).select("id", "sk")
      .as[(Long, Long)].collect().toMap == got)
    // the mark did NOT move on compact
    assert(DeltaLog.snapshot(spark, t).schema.get("sk")
      .metadata.getLong("delta.identity.highWaterMark") == 124L)
  }

  test("NAME-mapped rowTracking table reads: materialized carry + rename; ID-mapped refuses") {
    import scala.jdk.CollectionConverters._
    val t = newTable()
    // synthesize log-side: a real rowTracking table (with a compact so
    // the MATERIALIZED carry columns physically exist in a data file),
    // THEN a metadata-only upgrade commit enabling name mapping with a
    // LOGICAL rename (physical names keep the original labels — the
    // upgrade path delta-spark allows for existing parquet)
    DeltaLog.append(spark, t, df("a", 0, 6), rowTracking = true)
    DeltaLog.append(spark, t, df("b", 6, 6))
    assert(DeltaLog.compact(spark, t) >= 0)
    val before = idsOf(t)
    val snap0 = DeltaLog.snapshot(spark, t)
    val matId = snap0.materializedRowIdCol.get
    val matVer = snap0.materializedRowVersionCol.get
    val cfg = (snap0.configuration ++ Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> "2"))
      .map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val schemaStr =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"ident\",\"type\":\"long\",\"nullable\":true,\"metadata\":""" +
        """{\"delta.columnMapping.id\":1,\"delta.columnMapping.physicalName\":\"id\"}},""" +
        """{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":""" +
        """{\"delta.columnMapping.id\":2,\"delta.columnMapping.physicalName\":\"tag\"}}]}"""
    val upgrade = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["columnMapping"],""" +
        """"writerFeatures":["rowTracking","domainMetadata","columnMapping"]}}""",
      s"""{"metaData":{"id":"${snap0.metaId.getOrElse("t")}","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":[],"configuration":{$cfg}}}""")
    val nextV = 3L // append, append, compact -> 0,1,2
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/" + f"$nextV%020d.json"),
      upgrade.asJava)
    // the mapped read serves the RENAMED logical schema with every
    // identity intact: physical columns (incl. the materialized carry,
    // whose physical label IS its name) resolve by name
    import spark.implicits._
    val got = DeltaLog.readWithRowIds(spark, t)
      .select("ident", "row_id", "row_commit_version")
      .as[(Long, Long, Long)].collect()
      .map { case (k, rid, rcv) => k -> ((rid, rcv)) }.toMap
    assert(got == before, "the mapping upgrade must not shift a single row identity")
    assert(DeltaLog.readWithRowIds(spark, t).columns.toSeq ==
      Seq("ident", "tag", "row_id", "row_commit_version"))
    // ID-mapped refuses loudly (materialized columns have no field id)
    val t2 = newTable()
    DeltaLog.append(spark, t2, df("a", 0, 4), rowTracking = true)
    val snap2 = DeltaLog.snapshot(spark, t2)
    val cfg2 = (snap2.configuration ++ Map(
      "delta.columnMapping.mode" -> "id",
      "delta.columnMapping.maxColumnId" -> "2"))
      .map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/_delta_log/" + f"${1L}%020d.json"),
      Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],""" +
          """"writerFeatures":["rowTracking","domainMetadata","columnMapping"]}}""",
        s"""{"metaData":{"id":"${snap2.metaId.getOrElse("t")}","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaStr","partitionColumns":[],"configuration":{$cfg2}}}""").asJava)
    assert(intercept[IllegalArgumentException](DeltaLog.readWithRowIds(spark, t2))
      .getMessage.contains("ID-mapped"))
    // NAME-mapped rowTracking APPENDS compose: fresh ids allocate
    // above the mark, the new file lands under physical names
    DeltaLog.append(spark, t,
      (100L until 102L).map(i => (i, "c")).toDF("ident", "tag")
        .coalesce(1).sortWithinPartitions("ident"))
    val afterAppend = DeltaLog.readWithRowIds(spark, t)
      .select("ident", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterAppend.size == 14)
    assert(before.forall { case (k, (rid, _)) => afterAppend(k) == rid },
      "the mapped append must not shift an existing identity")
    assert(Seq(100L, 101L).map(afterAppend).forall(_ > before.values.map(_._1).max))
    // and a MAPPED compaction carries every identity through the
    // physical-name rewrite (materialized columns pass unmapped)
    assert(DeltaLog.compact(spark, t) >= 0)
    assert(DeltaLog.readWithRowIds(spark, t)
      .select("ident", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == afterAppend,
      "the mapped compaction must not renumber a survivor")
    // CREATION with both features in one call also composes
    val t3 = newTable()
    DeltaLog.append(spark, t3, df("a", 0, 4),
      rowTracking = true, columnMapping = "name")
    DeltaLog.append(spark, t3, df("b", 10, 3))
    val ids3 = idsOf(t3)
    assert(ids3.size == 7 && ids3.values.map(_._1).toSet == (0L until 7L).toSet)
    assert(DeltaLog.snapshot(spark, t3).readerFeatures.contains("columnMapping"))
    // ids and the mapping survive a CHECKPOINT + log truncation replay
    DeltaLog.writeCheckpoint(spark, t3)
    assert(idsOf(t3) == ids3, "checkpointed mapped rowTracking ids must not move")
    DeltaLog.append(spark, t3, df("c", 100, 2))
    assert(idsOf(t3).size == 9)
    assert(idsOf(t3).values.map(_._1).toSet == (0L until 9L).toSet,
      "post-checkpoint ids continue contiguously above the checkpointed mark")
  }

  test("identity columns: add-column evolution and mark advance share one append") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      (0 until 5).map(i => (i.toLong, "a")).toDF("id", "tag")
        .coalesce(1).sortWithinPartitions("id"),
      identity = Some(("sk", 100L, 3L)))
    // ONE append that both adds a column and allocates identities: the
    // merged schema and the advanced high-water mark must land in the
    // same metaData action (r16 refused this combination)
    DeltaLog.append(spark, t,
      (10 until 14).map(i => (i.toLong, "b", i * 1.5)).toDF("id", "tag", "score")
        .coalesce(1).sortWithinPartitions("id"),
      allowSchemaEvolution = true)
    val snap = DeltaLog.snapshot(spark, t)
    val f = snap.schema.get("sk")
    // ids continued: 5 + 4 rows -> mark at the 9th value, 97 + 3*9
    assert(f.metadata.getLong("delta.identity.highWaterMark") == 124L)
    assert(f.metadata.getLong("delta.identity.start") == 100L,
      "evolution must not strip the identity field metadata")
    assert(snap.schema.get.fieldNames.contains("score"))
    val got = DeltaLog.read(spark, t).select("id", "sk")
      .as[(Long, Long)].collect().toMap
    assert((0 until 5).map(i => got(i.toLong)) == (0 until 5).map(i => 100L + 3L * i))
    assert((10 until 14).map(i => got(i.toLong)) == (0 until 4).map(i => 115L + 3L * i))
    // old files null-fill the evolved column
    assert(DeltaLog.read(spark, t).filter(col("score").isNull).count() == 5)
    // a THIRD plain append keeps allocating above the evolved mark
    DeltaLog.append(spark, t,
      Seq((20L, "c", 2.0)).toDF("id", "tag", "score").coalesce(1))
    assert(DeltaLog.snapshot(spark, t).schema.get("sk")
      .metadata.getLong("delta.identity.highWaterMark") == 127L)
  }

  test("row-tracking reads survive paths that URI-encode: space in a partition value") {
    import spark.implicits._
    val t = newTable()
    // the (file -> baseRowId) broadcast map keys on fileIdentity,
    // joined against the scan's percent-ENCODED `_metadata.file_path`
    // — a decoded driver key would drop every row of the `p=x y`
    // files from the inner join and silently lose them
    DeltaLog.append(spark, t,
      (0 until 8).map(i => (i.toLong, if (i % 2 == 0) "x y" else "plain"))
        .toDF("id", "p").repartition(2, col("p")),
      partitionBy = Seq("p"), rowTracking = true)
    val ids = idsOf(t)
    assert(ids.size == 8, s"all 8 rows must survive the row-id join, got ${ids.size}")
    assert(ids.values.map(_._1).toSet == (0L until 8L).toSet)
  }

  test("identity columns + row tracking compose: both marks advance, both ids survive compact") {
    import spark.implicits._
    val t = newTable()
    // one table carrying BOTH allocation systems: protocol row ids
    // (domain-metadata mark) and the identity column (field-metadata
    // mark) — each commit advances both, independently
    DeltaLog.append(spark, t, df("a", 0, 6),
      rowTracking = true, identity = Some(("sk", 10L, 2L)))
    DeltaLog.append(spark, t, df("b", 10, 4))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.writerFeatures.contains("rowTracking"))
    assert(snap.writerFeatures.contains("identityColumns"))
    assert(snap.rowIdHighWaterMark.contains(9L), "10 rows burn row ids 0..9")
    assert(snap.schema.get("sk").metadata.getLong("delta.identity.highWaterMark") == 28L,
      "6 + 4 identity values at start 10 step 2 end at 28")
    val sk = DeltaLog.read(spark, t).select("id", "sk").as[(Long, Long)].collect().toMap
    assert((0 until 6).map(i => sk(i.toLong)) == (0 until 6).map(i => 10L + 2L * i))
    assert((10 until 14).map(i => sk(i.toLong)) == (0 until 4).map(i => 22L + 2L * i))
    val rowIds = idsOf(t)
    assert(rowIds.values.map(_._1).toSet == (0L until 10L).toSet)
    // compact: row identities carry via the materialized columns,
    // identity VALUES are data and survive, the identity mark stays
    assert(DeltaLog.compact(spark, t) >= 0)
    assert(idsOf(t) == rowIds, "compaction must not renumber row ids")
    assert(DeltaLog.read(spark, t).select("id", "sk")
      .as[(Long, Long)].collect().toMap == sk)
    assert(DeltaLog.snapshot(spark, t).schema.get("sk")
      .metadata.getLong("delta.identity.highWaterMark") == 28L)
    // a post-compact append advances BOTH marks from where they stood
    DeltaLog.append(spark, t, df("c", 100, 2))
    val snap2 = DeltaLog.snapshot(spark, t)
    assert(snap2.schema.get("sk").metadata.getLong("delta.identity.highWaterMark") == 32L)
    assert(snap2.rowIdHighWaterMark.exists(_ >= 21L),
      "compact burned a block; the append allocates above it")
    assert(idsOf(t).size == 12)
  }

  test("identity columns: negative step descends; guards refuse the unsupported shapes") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 3), identity = Some(("sk", -10L, -5L)))
    val got = DeltaLog.read(spark, t).select("id", "sk").as[(Long, Long)].collect().toMap
    assert((0 until 3).map(i => got(i.toLong)) == Seq(-10L, -15L, -20L))
    // explicit values refuse (generated-only subset)
    assert(intercept[IllegalArgumentException](
      DeltaLog.append(spark, t,
        Seq((99L, "x", 1L)).toDF("id", "tag", "sk")))
      .getMessage.contains("generated-only"))
    // row-removing writes refuse while an identity column is active
    assert(intercept[IllegalArgumentException](
      DeltaLog.delete(spark, t, col("id") === 0L))
      .getMessage.contains("identity"))
    // identity is a creation option; step 0 refuses
    val t2 = newTable()
    DeltaLog.append(spark, t2, df("a", 0, 3))
    assert(intercept[IllegalArgumentException](
      DeltaLog.append(spark, t2, df("b", 3, 3), identity = Some(("sk", 1L, 1L))))
      .getMessage.contains("CREATION option"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.append(spark, newTable(), df("a", 0, 3), identity = Some(("sk", 1L, 0L))))
      .getMessage.contains("non-zero"))
  }

  test("guards: row-removing writes refuse; creation combos refuse; foreign half-config refuses") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 4), rowTracking = true)
    // delete/merge would renumber or drop identities — refused loudly
    val e1 = intercept[IllegalArgumentException](
      DeltaLog.delete(spark, t, col("id") === 1L))
    assert(e1.getMessage.contains("rowTracking"))
    // rowTracking is a creation option
    val t2 = newTable()
    DeltaLog.append(spark, t2, df("a", 0, 4))
    assert(intercept[IllegalArgumentException](
      DeltaLog.append(spark, t2, df("b", 4, 4), rowTracking = true))
      .getMessage.contains("CREATION option"))
    // ID mapping + row tracking is out of scope, loudly (name-mode
    // composes — see the NAME-mapped creation test)
    assert(intercept[IllegalArgumentException](
      DeltaLog.append(spark, newTable(), df("a", 0, 4),
        columnMapping = "id", rowTracking = true))
      .getMessage.contains("ID-mapped"))
    // a table declaring only ONE materialized column name is corrupt
    val t3 = newTable()
    DeltaLog.append(spark, t3, df("a", 0, 4), rowTracking = true)
    val logDir = f"$t3/_delta_log"
    val v1 = java.nio.file.Paths.get(logDir, f"${0L}%020d.json")
    val rewritten = new String(java.nio.file.Files.readAllBytes(v1), "UTF-8")
      .replaceAll(""""delta\.rowTracking\.materializedRowCommitVersionColumnName":"[^"]*",?""", "")
      .replace(",}", "}")
    java.nio.file.Files.write(v1, rewritten.getBytes("UTF-8"))
    // the out-of-band rewrite invalidates the local FS checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(logDir, f".${0L}%020d.json.crc"))
    assert(intercept[IllegalArgumentException](idsOf(t3))
      .getMessage.contains("half-configured"))
  }

  test("restore re-adds files with the row ids the target version gave them") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, df("a", 0, 4), rowTracking = true)
    DeltaLog.append(spark, t, df("b", 4, 4))
    assert(DeltaLog.compact(spark, t) >= 0)
    def rows(v: Option[Long]) = DeltaLog.readWithRowIds(spark, t, v)
      .select("id", "tag", "row_id", "row_commit_version")
      .as[(Long, String, Long, Long)].collect().toSet
    val atV0 = rows(Some(0L))
    assert(atV0.size == 4)
    val restored = DeltaLog.restore(spark, t, 0L)
    assert(DeltaLog.snapshot(spark, t).files
      .forall(f => f.baseRowId.isDefined && f.defaultRowCommitVersion.isDefined))
    assert(rows(None) == atV0)
    assert(rows(Some(restored)) == atV0)
  }

  test("shallow clone carries row ids and the high-water mark; its appends allocate above them") {
    import spark.implicits._
    val src = newTable()
    DeltaLog.append(spark, src, df("a", 0, 4), rowTracking = true)
    DeltaLog.append(spark, src, df("b", 4, 3))
    DeltaLog.append(spark, src, df("c", 7, 2))
    def rows(t: String, v: Option[Long] = None) = DeltaLog.readWithRowIds(spark, t, v)
      .select("id", "tag", "row_id", "row_commit_version")
      .as[(Long, String, Long, Long)].collect().toSet
    val atV1 = rows(src, Some(1L))
    val clone = newTable()
    assert(DeltaLog.shallowClone(spark, src, clone, versionAsOf = Some(1L)) == 0L)
    assert(DeltaLog.snapshot(spark, clone).rowIdHighWaterMark ==
      DeltaLog.snapshot(spark, src, Some(1L)).rowIdHighWaterMark)
    assert(rows(clone) == atV1)
    DeltaLog.append(spark, clone, df("d", 100, 5))
    val after = rows(clone)
    val fresh = after.filter(_._2 == "d").map(_._3)
    assert(fresh.size == 5)
    assert(fresh.min > atV1.map(_._3).max, s"fresh ids $fresh must lie above ${atV1.map(_._3)}")
    assert(after.toSeq.map(_._3).distinct.size == after.size, "no row id repeats")
  }
}

package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[IcebergTable]] — v1 metadata walk: writer→reader round trip with
  * carried-forward manifests, snapshot time travel, DELETED-entry
  * exclusion (hand-crafted manifest, since the writer is append-only),
  * and the loud-fail guards (v2 refusal, schema mismatch, unsupported
  * types, missing snapshot).
  */
class IcebergTableSpec extends SparkSpec {

  private def newTable(): String =
    Files.createTempDirectory("graft-iceberg").toString

  private def fileName(p: String): String = new org.apache.hadoop.fs.Path(p).getName

  test("writer -> reader round trip across two snapshots; declared schema types") {
    import spark.implicits._
    val t = newTable()
    val s1 = IcebergTable.append(spark, t, Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "tag", "v"))
    val s2 = IcebergTable.append(spark, t, Seq((3L, "c", 3.5)).toDF("id", "tag", "v"))
    assert(s1 != s2)
    val back = IcebergTable.read(spark, t).orderBy("id")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", LongType), ("tag", StringType), ("v", DoubleType)))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    // time travel: the FIRST snapshot still reads (its manifest list
    // predates the second append)
    assert(IcebergTable.read(spark, t, Some(s1)).count() == 2)
    assert(IcebergTable.read(spark, t, Some(s2)).count() == 3)
    // a made-up snapshot id refuses
    val e = intercept[IllegalArgumentException](IcebergTable.read(spark, t, Some(12345L)))
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("DELETED manifest entries are excluded from the scan") {
    import spark.implicits._
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "keep")).toDF("id", "tag"))
    IcebergTable.append(spark, t, Seq((2L, "drop")).toDF("id", "tag"))
    // hand-craft snapshot 3: same manifests as current PLUS a manifest
    // whose entry DELETES the second snapshot's file (spec-local avro
    // schemas — the reader must work off field names, not our writer)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaP = new org.apache.hadoop.fs.Path(s"$t/metadata/v2.metadata.json")
    val meta = { val in = fs.open(metaP); try mapper.readTree(in) finally in.close() }
    val curId = meta.get("current-snapshot-id").asLong()
    val snaps = meta.get("snapshots")
    val listPath = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == curId).get.get("manifest-list").asText()
    // find the file added by snapshot 2 (the one holding id=2)
    val dropFile = IcebergTable.snapshot(spark, t).files
      .find(p => spark.read.parquet(p).filter(col("id") === 2L).count() == 1).get
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |    {"name":"file_path","type":"string"},
        |    {"name":"file_format","type":"string"}]}}]}""".stripMargin)
    val delManifest = new org.apache.hadoop.fs.Path(s"$t/metadata/manifest-del.avro")
    val out = fs.create(delManifest, false)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
    w.create(entrySchema, out)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 2) // DELETED
    val d = new GenericData.Record(entrySchema.getField("data_file").schema())
    d.put("file_path", dropFile); d.put("file_format", "PARQUET")
    e.put("data_file", d)
    w.append(e); w.close()
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string"},
        |  {"name":"manifest_length","type":"long"},
        |  {"name":"partition_spec_id","type":"int"}]}""".stripMargin)
    val oldList = {
      val input = new org.apache.avro.mapred.FsInput(
        new org.apache.hadoop.fs.Path(listPath), conf)
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        input, new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try { val b = Seq.newBuilder[GenericRecord]; while (r.hasNext) b += r.next(); b.result() }
      finally r.close()
    }
    val newList = new org.apache.hadoop.fs.Path(s"$t/metadata/snap-99.avro")
    val lo = fs.create(newList, false)
    val lw = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](listSchema))
    lw.create(listSchema, lo)
    oldList.foreach { r =>
      val n = new GenericData.Record(listSchema)
      n.put("manifest_path", r.get("manifest_path").toString)
      n.put("manifest_length", r.get("manifest_length").asInstanceOf[Long])
      n.put("partition_spec_id", 0)
      lw.append(n)
    }
    val dm = new GenericData.Record(listSchema)
    dm.put("manifest_path", fs.makeQualified(delManifest).toString)
    dm.put("manifest_length", fs.getFileStatus(delManifest).getLen)
    dm.put("partition_spec_id", 0)
    lw.append(dm); lw.close()
    val m3 = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    m3.put("current-snapshot-id", 99L)
    val sn = m3.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots").addObject()
    sn.put("snapshot-id", 99L); sn.put("timestamp-ms", 0L)
    sn.put("manifest-list", fs.makeQualified(newList).toString)
    val mo = fs.create(new org.apache.hadoop.fs.Path(s"$t/metadata/v3.metadata.json"), false)
    try mo.write(mapper.writeValueAsBytes(m3)) finally mo.close()
    val ho = fs.create(new org.apache.hadoop.fs.Path(s"$t/metadata/version-hint.text"), true)
    try ho.write("3".getBytes("UTF-8")) finally ho.close()

    val rows = IcebergTable.read(spark, t).collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L), s"deleted entry should drop id=2, got $rows")
  }

  test("partitioned metadata reads fine: Iceberg data files carry complete rows") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "x", 2020), (2L, "y", 2021)).toDF("id", "tag", "yr"))
    // graft a partition spec onto the metadata (identity on yr) — row
    // content is unaffected because the files hold every column
    val p = java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$t/metadata/.v1.metadata.json.crc"))
    val txt = java.nio.file.Files.readString(p)
    java.nio.file.Files.writeString(p, txt.replace(
      "\"partition-spec\" : [ ]",
      "\"partition-spec\" : [ {\"name\":\"yr\",\"transform\":\"identity\",\"source-id\":3,\"field-id\":1000} ]"))
    val rows = IcebergTable.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "x", 2020), (2L, "y", 2021)))
  }

  test("partitioned append: Hive layout under data/, partition tuples in manifests, file-level pruning") {
    import spark.implicits._
    val t = newTable()
    val df1 = Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("id", "tag", "yr")
    val df2 = Seq((3L, "c", 2020), (4L, "d", 2022)).toDF("id", "tag", "yr")
    IcebergTable.append(spark, t, df1, partitionBy = Seq("yr"))
    IcebergTable.append(spark, t, df2, partitionBy = Seq("yr"))
    // full round trip: data files carry COMPLETE rows (yr included)
    val back = IcebergTable.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(back == Seq((1L, "a", 2020), (2L, "b", 2021), (3L, "c", 2020), (4L, "d", 2022)))
    // Hive-style placement under data/, no __p_ alias leakage
    val snap = IcebergTable.snapshot(spark, t)
    assert(snap.partitionColumns == Seq("yr"))
    assert(snap.files.forall(f => f.contains("/data/yr=")), snap.files.toString)
    assert(!snap.files.exists(_.contains("__p_")), "alias columns must not leak into paths")
    // manifests carry the typed identity tuple per file
    assert(snap.files.zip(snap.filePartitions).forall { case (f, pv) =>
      f.contains(s"/data/yr=${pv("yr")}/")
    }, "manifest tuple must agree with the layout")
    // FILE-level pruning: a yr=2020 filter reads exactly the 2020 files
    val pruned = IcebergTable.read(spark, t).filter(col("yr") === 2020)
    assert(LogFileIndex.plannedFiles(pruned).size == 2, "one 2020 file per append")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // data files do NOT contain the alias; schema is the logical one
    assert(pruned.schema.fieldNames.toSeq == Seq("id", "tag", "yr"))
    // mismatch guards: partitioning must match the declared spec
    val e1 = intercept[IllegalArgumentException](
      IcebergTable.append(spark, t, df1)) // unpartitioned into partitioned
    assert(e1.getMessage.contains("partitioning mismatch"), e1.getMessage)
    // time travel composes with the spec: first snapshot still readable
    val metaTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$t/metadata/v2.metadata.json"))
    assert(metaTxt.contains("\"partition-specs\""), "modern spec list present")
  }

  test("a partition filter on the read plans only that partition's files, with no Spark job") {
    import spark.implicits._
    val t = newTable()
    def years(ids: Seq[Long]) = ids.map(i => (i, 1996 + (i % 3).toInt)).toDF("id", "Year")
    IcebergTable.append(spark, t, years(1L to 12L), partitionBy = Seq("Year"))
    IcebergTable.append(spark, t, years(13L to 24L), partitionBy = Seq("Year"))
    val refs = IcebergTable.snapshot(spark, t).dataRefs
    val want = refs.filter(_.partition("Year") == "1997").map(r => fileName(r.path))
    assert(want.nonEmpty && want.size < refs.size)
    val (planned, jobs) = graft.PlanProbe.withJobs(spark)(LogFileIndex.plannedFiles(
      IcebergTable.read(spark, t).filter(col("Year") === 1997)))
    assert(jobs == 0)
    assert(planned.map(fileName).sorted == want.sorted, s"planned $planned")
    assert(IcebergTable.read(spark, t).filter(col("Year") === 1997)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 24L).filter(_ % 3 == 1))
  }

  test("guards: unsupported format-version refusal, schema-mismatch append, unsupported type") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    // bump format-version past the supported pair -> refuse
    val p = java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json")
    // drop Hadoop's checksum sidecar: the raw-nio edit below would
    // otherwise fail the local FS's CRC verification on read
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$t/metadata/.v1.metadata.json.crc"))
    val txt = java.nio.file.Files.readString(p)
    // v3 is now a SUPPORTED read version (deletion vectors); the
    // refusal boundary moved to v4
    java.nio.file.Files.writeString(p,
      txt.replace("\"format-version\" : 1", "\"format-version\" : 4"))
    val e1 = intercept[IllegalArgumentException](IcebergTable.read(spark, t))
    assert(e1.getMessage.contains("format-version"), e1.getMessage)
    java.nio.file.Files.writeString(p, txt) // restore
    val e2 = intercept[IllegalArgumentException](
      IcebergTable.append(spark, t, Seq((1, "a")).toDF("id", "tag"))) // id retyped int
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      IcebergTable.append(spark, newTable(), Seq((1L, Seq("x"))).toDF("id", "arr")))
    assert(e3.getMessage.contains("unsupported column type"), e3.getMessage)
  }

  test("v2 deleteRows: merge-on-read round trip, upgrade in place, pre-delete travel") {
    import spark.implicits._
    val t = newTable()
    val s1 = IcebergTable.append(spark, t,
      (1L to 10L).map(i => (i, i * 2.0)).toDF("id", "v"))
    val s2 = IcebergTable.deleteRows(spark, t, col("id") % 3 === 0)
    assert(s2 > 0 && s2 != s1)
    // no data file rewritten — merge-on-read
    val snap = IcebergTable.snapshot(spark, t)
    assert(snap.formatVersion == 2 && snap.deleteFiles.nonEmpty)
    assert(snap.files == IcebergTable.snapshot(spark, t, Some(s1)).files,
      "delete must not rewrite data files")
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 10L).filterNot(_ % 3 == 0))
    // time travel to the pre-delete snapshot serves every row
    assert(IcebergTable.read(spark, t, Some(s1)).count() == 10)
    // second delete stacks (both files anti-join)
    IcebergTable.deleteRows(spark, t, col("id") % 5 === 0)
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 10L).filterNot(i => i % 3 == 0 || i % 5 == 0))
    // a predicate matching only dead rows is a no-op, not a new snapshot
    assert(IcebergTable.deleteRows(spark, t, col("id") === 3L) == -1L)
  }

  test("v2 sequence numbers: appends AFTER a delete are never affected by it") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "old"), (2L, "old")).toDF("id", "tag"))
    IcebergTable.deleteRows(spark, t, col("id") === 2L)
    // the appended file reuses row position 0 — a sequence-blind reader
    // would tombstone (newfile, 0) if it matched deletes by pos alone;
    // the REAL hazard is a delete with seq N applying to data seq > N
    IcebergTable.append(spark, t, Seq((2L, "new")).toDF("id", "tag"))
    val snap = IcebergTable.snapshot(spark, t)
    assert(snap.formatVersion == 2)
    val newRef = snap.dataRefs.find(_.sequence > snap.deleteFiles.map(_.sequence).max)
    assert(newRef.isDefined, "the post-delete append must carry a HIGHER sequence number")
    val got = IcebergTable.read(spark, t).orderBy("id", "tag")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "old"), (2L, "new")))
    // and deleting from the merged state still works across generations
    IcebergTable.deleteRows(spark, t, col("id") === 1L)
    assert(IcebergTable.read(spark, t).collect().map(_.getString(1)).toSeq == Seq("new"))
  }

  test("timestamp travel: the newest snapshot at-or-before the instant wins") {
    import spark.implicits._
    val t = newTable()
    val before = System.currentTimeMillis() - 1L
    val s1 = IcebergTable.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    val s2 = IcebergTable.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    assert(IcebergTable.snapshotIdAtTimestamp(spark, t, mid) == s1)
    assert(IcebergTable.snapshotIdAtTimestamp(spark, t, System.currentTimeMillis()) == s2)
    assert(IcebergTable.readAsOfTimestamp(spark, t, mid).count() == 1L)
    val e = intercept[IllegalArgumentException](
      IcebergTable.snapshotIdAtTimestamp(spark, t, before))
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
  }

  test("v2 equality deletes: key-set tombstones with the STRICT sequence gate") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      (1L to 6L).map(i => (i, s"r$i")).toDF("id", "tag"))
    val sid = IcebergTable.deleteRowsEquality(spark, t, Seq("id"),
      Seq(2L, 4L).toDF("id"))
    assert(sid > 0)
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(1L, 3L, 5L, 6L))
    // re-insert a tombstoned key AFTER the delete: dataSeq > deleteSeq
    // is NOT affected (strict gate) — this is what makes equality
    // deletes usable as CDC upserts
    IcebergTable.append(spark, t, Seq((2L, "reborn")).toDF("id", "tag"))
    val got = IcebergTable.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "r1"), (2L, "reborn"), (3L, "r3"), (5L, "r5"), (6L, "r6")))
    // position + equality deletes stack across generations
    IcebergTable.deleteRows(spark, t, col("id") === 5L)
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L, 6L))
    // guards: keysDf columns must be exactly the keys
    val e = intercept[IllegalArgumentException](
      IcebergTable.deleteRowsEquality(spark, t, Seq("id"),
        Seq((9L, "x")).toDF("id", "tag")))
    assert(e.getMessage.contains("exactly the keys"), e.getMessage)
  }

  test("addColumn without a default stays metadata-only and null-fills pre-column files") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      (0 until 5).map(i => (i.toLong, s"r$i")).toDF("id", "tag").coalesce(1))
    IcebergTable.addColumn(spark, t, "extra", StringType)
    // no default declared -> pre-column rows null-fill (the s11-style
    // backfill), and the table does NOT upgrade to v3 for it
    assert(IcebergTable.read(spark, t).filter(col("extra").isNull).count() == 5)
    assert(IcebergTable.snapshot(spark, t).formatVersion < 3)
    IcebergTable.append(spark, t,
      Seq((10L, "n", "x")).toDF("id", "tag", "extra").coalesce(1))
    assert(IcebergTable.read(spark, t).filter(col("extra") === "x").count() == 1)
    assert(IcebergTable.read(spark, t).filter(col("extra").isNull).count() == 5)
  }

  test("v2 deleteRows survives paths that URI-encode: space in a string partition value") {
    import spark.implicits._
    val t = newTable()
    // `p=x y` puts a literal space in the data file's path: the scan's
    // `_metadata.file_path` percent-ENCODES it while manifests and
    // position-delete files store the DECODED string — both the
    // tombstone write (fid -> manifest path map) and the read-side
    // anti-join must remap onto the scan identity or deletes silently
    // miss the encoded file (r16 advice)
    val base = (0 until 30).map(i => (i.toLong, if (i % 2 == 0) "x y" else "plain"))
      .toDF("id", "p")
    IcebergTable.append(spark, t, base.repartition(2), partitionBy = Seq("p"))
    IcebergTable.deleteRows(spark, t, col("id") < 6)
    assert(IcebergTable.read(spark, t).select("id").as[Long].collect().toSet ==
      (6L until 30L).toSet)
    // second delete layers (the live-row scan applies the FIRST
    // delete's tombstones through the same remap before matching)
    IcebergTable.deleteRows(spark, t, col("id") === 10L)
    assert(IcebergTable.read(spark, t).select("id").as[Long].collect().toSet ==
      (6L until 30L).filterNot(_ == 10L).toSet)
  }

  test("v2 partitioned deleteRows: per-tuple delete files with typed partition records") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      (1L to 12L).map(i => (i, 1996 + (i % 3).toInt)).toDF("id", "Year"),
      partitionBy = Seq("Year"))
    IcebergTable.deleteRows(spark, t, col("id") % 4 === 0)
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 12L).filterNot(_ % 4 == 0))
    // the delete manifest's entries carry the tuples: one delete file
    // per affected partition, each with its Year value
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delManifest = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$t/metadata/manifest-del-*.avro"))(0).getPath
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]()
    val din = new org.apache.avro.file.DataFileReader(
      new org.apache.avro.mapred.FsInput(delManifest, spark.sparkContext.hadoopConfiguration),
      reader)
    val entries = try {
      val b = Seq.newBuilder[org.apache.avro.generic.GenericRecord]
      while (din.hasNext) b += din.next()
      b.result()
    } finally din.close()
    // ids 4,8,12 -> Years 1996 (12), 1997 (4), 1998 (8): three tuples
    val years = entries.map { e =>
      val d = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      assert(d.get("content") == 1)
      d.get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord].get("Year")
    }
    assert(years.map(_.asInstanceOf[Int]).sorted == Seq(1996, 1997, 1998), years.toString)
    // partition pruning and deletes compose
    assert(IcebergTable.read(spark, t).filter(col("Year") === 1997)
      .orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(1L, 7L, 10L), "Year=1997 holds ids 1,4,7,10 minus the deleted 4")
  }

  test("v2 equality deletes on PARTITIONED tables: global applies everywhere, scoped only in its partition") {
    import spark.implicits._
    val t = newTable()
    // ids 1..12 across Years 1996/1997/1998 (id % 3)
    IcebergTable.append(spark, t,
      (1L to 12L).map(i => (i, 1996 + (i % 3).toInt)).toDF("id", "Year"),
      partitionBy = Seq("Year"))
    // PARTITION-SCOPED delete: key id ∈ {3, 4} but only within
    // Year=1996 (ids 3,6,9,12) — id 3 dies there; id 4 lives in
    // Year=1997 and MUST survive (the r13 advice: a partition-blind
    // reader deletes it too)
    val sid = IcebergTable.deleteRowsEquality(spark, t, Seq("id"),
      Seq(3L, 4L).toDF("id"), partitionScope = Map("Year" -> "1996"))
    assert(sid > 0)
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 12L).filterNot(_ == 3L),
      "only Year=1996's id 3 dies; Year=1997's id 4 survives the scoped delete")
    // GLOBAL delete (empty scope — the unpartitioned-spec shape):
    // applies table-wide
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(4L, 6L).toDF("id"))
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      (1L to 12L).filterNot(Set(3L, 4L, 6L)))
    // partition PRUNING composes with both delete kinds: the pruned
    // branch still applies the global tombstone (4 dies in Year=1997)
    assert(IcebergTable.read(spark, t).filter(col("Year") === 1997)
      .orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 7L, 10L))
    // a PARTIAL scope tuple refuses (the spec matches full tuples)
    val e = intercept[IllegalArgumentException](
      IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(1L).toDF("id"),
        partitionScope = Map("nope" -> "1")))
    assert(e.getMessage.contains("FULL partition tuple"), e.getMessage)
  }

  test("append schema evolution: add-column keeps field ids stable; old files null-fill") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    // non-prefix evolution refuses (ids are positional)
    val eR = intercept[IllegalArgumentException](IcebergTable.append(spark, t,
      Seq((0.5, 3L, "c")).toDF("score", "id", "tag"), allowSchemaEvolution = true))
    assert(eR.getMessage.contains("prefix"), eR.getMessage)
    // APPENDED column evolves; old rows read back null-filled
    IcebergTable.append(spark, t, Seq((3L, "c", 0.9)).toDF("id", "tag", "score"),
      allowSchemaEvolution = true)
    val back = IcebergTable.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(back == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.9))))
    // equality deletes still bind the ORIGINAL field ids after evolution
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(2L).toDF("id"))
    assert(IcebergTable.read(spark, t).orderBy("id").select("id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    // the PRIOR schema stays in the schemas array (historical snapshots
    // reference their schema-id; the spec requires it stay resolvable)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/metadata")).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("""v\d+\.metadata\.json""") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong }.max
    val meta = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$t/metadata/v$latest.metadata.json"))
      try mapper.readTree(in) finally in.close()
    }
    val ids = (0 until meta.get("schemas").size())
      .map(i => meta.get("schemas").get(i).get("schema-id").asInt()).toSet
    assert(ids == Set(0, 1), s"pre- and post-evolution schemas must both survive: $ids")
  }

  test("field-id evolution: rename is metadata-only and OLD equality deletes still apply") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "tag", "v"))
    // tombstone id=2 BEFORE the rename: equality_ids bind field id 1
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(2L).toDF("id"))
    val dataFilesBefore = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$t/data")).map(_.getName).toSet
    }
    IcebergTable.renameColumn(spark, t, "id", "key")
    IcebergTable.renameColumn(spark, t, "v", "score")
    // ZERO files touched
    def walk2(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk2) else Seq(f)
    assert(walk2(new java.io.File(s"$t/data")).map(_.getName).toSet == dataFilesBefore)
    // reads resolve by field id: new names, old files, delete applied
    val back = IcebergTable.read(spark, t).orderBy("key")
    assert(back.schema.fieldNames.toSeq == Seq("key", "tag", "score"))
    assert(back.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((1L, 10.0), (3L, 30.0)), "the pre-rename equality delete must still bind")
    // appends speak the NEW names, same ids — both generations read
    IcebergTable.append(spark, t, Seq((4L, "d", 40.0)).toDF("key", "tag", "score"))
    assert(IcebergTable.read(spark, t).orderBy("key").select("key")
      .as[Long].collect().toSeq == Seq(1L, 3L, 4L))
    // a POST-rename equality delete binds the same field id
    IcebergTable.deleteRowsEquality(spark, t, Seq("key"), Seq(1L).toDF("key"))
    assert(IcebergTable.read(spark, t).orderBy("key").select("key")
      .as[Long].collect().toSeq == Seq(3L, 4L))
    // TIME TRAVEL serves each snapshot under its OWN schema-id: the
    // pre-rename snapshot still answers to the OLD names
    val preRenameId = IcebergTable.snapshotsTable(spark, t)
      .orderBy("lineage").collect().head.getAs[Long]("snapshot_id")
    val old = IcebergTable.read(spark, t, Some(preRenameId))
    assert(old.schema.fieldNames.toSeq == Seq("id", "tag", "v"),
      old.schema.fieldNames.mkString(","))
    assert(old.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L, 3L),
      "the first snapshot predates the equality delete")
    // guards: unknown source, taken target, partition source column
    assert(intercept[IllegalArgumentException](
      IcebergTable.renameColumn(spark, t, "nope", "x")).getMessage.contains("not in the"))
    assert(intercept[IllegalArgumentException](
      IcebergTable.renameColumn(spark, t, "key", "tag")).getMessage.contains("already exists"))
  }

  test("field-id evolution: drop column is metadata-only; eq-delete references refuse") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "v"))
    IcebergTable.deleteRowsEquality(spark, t, Seq("tag"), Seq("b").toDF("tag"))
    // 'tag' is referenced by a live equality delete — dropping it would
    // orphan the tombstones
    val e = intercept[IllegalArgumentException](IcebergTable.dropColumn(spark, t, "tag"))
    assert(e.getMessage.contains("equality-delete"), e.getMessage)
    // compaction physically applies the tombstone; then the drop lands
    IcebergTable.rewriteDataFiles(spark, t, minFileSizeBytes = Long.MaxValue)
    IcebergTable.dropColumn(spark, t, "tag")
    val back = IcebergTable.read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(back.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 10.0)))
    // the dropped id is never reused: a later add-column takes a fresh id
    IcebergTable.append(spark, t, Seq((5L, 50.0, "x")).toDF("id", "v", "note"),
      allowSchemaEvolution = true)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/metadata")).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("""v\d+\.metadata\.json""") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong }.max
    val meta = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$t/metadata/v$latest.metadata.json"))
      try mapper.readTree(in) finally in.close()
    }
    val cur = meta.get("schemas")
    val curSchema = (0 until cur.size()).map(cur.get)
      .find(_.get("schema-id").asInt() == meta.get("current-schema-id").asInt()).get
    val idsNow = (0 until curSchema.get("fields").size())
      .map(i => (curSchema.get("fields").get(i).get("name").asText(),
        curSchema.get("fields").get(i).get("id").asInt())).toMap
    assert(idsNow("id") == 1 && idsNow("v") == 3 && idsNow("note") == 4,
      s"dropped id 2 (tag) must never be reused: $idsNow")
  }

  test("field-id evolution: widen int->long reads narrow files upcast; mixed generations") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      Seq((1L, 10), (2L, 20)).toDF("id", "ck")) // ck is INT
    IcebergTable.widenColumnType(spark, t, "ck", LongType)
    assert(IcebergTable.read(spark, t).schema("ck").dataType == LongType)
    // post-widen append carries values only LONG holds
    IcebergTable.append(spark, t, Seq((3L, 10000000000L)).toDF("id", "ck"))
    // a delete composes across the width generations
    IcebergTable.deleteRows(spark, t, col("id") === 2L)
    assert(IcebergTable.read(spark, t).orderBy("id").select("ck")
      .as[Long].collect().toSeq == Seq(10L, 10000000000L))
    // narrowing and unknown columns refuse
    assert(intercept[IllegalArgumentException](
      IcebergTable.widenColumnType(spark, t, "ck", IntegerType))
      .getMessage.contains("not an Iceberg type promotion"))
    // a table WITHOUT the field-ids property refuses evolution loudly
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/metadata")).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("""v\d+\.metadata\.json""") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong }.max
    val mp = new org.apache.hadoop.fs.Path(s"$t/metadata/v$latest.metadata.json")
    val meta = {
      val in = fs.open(mp)
      try mapper.readTree(in).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    }
    meta.putObject("properties") // strip the capability marker
    val out = fs.create(mp, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    finally out.close()
    val e = intercept[IllegalArgumentException](
      IcebergTable.renameColumn(spark, t, "ck", "c2"))
    assert(e.getMessage.contains("field-id-capable"), e.getMessage)
    // LEGACY-table safety: without the capability property the parsed
    // schema must carry NO parquet.field.id metadata — otherwise, once
    // any id-mode read turns the sticky session flag on, a legacy
    // table whose files lack footer ids becomes unreadable
    val snapLegacy = IcebergTable.snapshot(spark, t)
    assert(snapLegacy.schema.fields.forall(f => !f.metadata.contains("parquet.field.id")),
      "property-less tables must parse an id-free schema")
    val key = "spark.sql.parquet.fieldId.read.enabled"
    val saved = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try assert(IcebergTable.read(spark, t).count() == 2) // ids 1 and 3 live
    finally spark.conf.set(key, saved)
  }

  test("manifest column bounds: range reads prune files at plan time; deletes still apply") {
    import spark.implicits._
    val t = newTable()
    (0 until 4).foreach { k =>
      IcebergTable.append(spark, t,
        (k * 100L until k * 100L + 50L).map(i => (i, s"t$i", i.toDouble / 2))
          .toDF("id", "tag", "v").coalesce(1))
    }
    val snap = IcebergTable.snapshot(spark, t)
    assert(snap.dataRefs.size == 4)
    assert(snap.dataRefs.forall(r =>
      r.bounds.contains("id") && r.bounds.contains("tag") && r.bounds.contains("v")),
      "every data file must carry bounds for every primitive column")
    def slice(c: String, lo: Any, hi: Any) =
      IcebergTable.read(spark, t).filter(col(c).between(lo, hi))
    def planned(c: String, lo: Any, hi: Any): Seq[IcebergTable.DataFileRef] = {
      val names = LogFileIndex.plannedFiles(slice(c, lo, hi)).map(fileName).toSet
      snap.dataRefs.filter(r => names(fileName(r.path)))
    }
    // PLAN-time pruning: [120, 130] hits exactly the second file
    assert(planned("id", 120L, 130L).size == 1)
    assert(slice("id", 120L, 130L).count() == 11)
    // double bounds prune the same way
    assert(planned("v", 60.0, 65.0).size == 1)
    // string bounds are lexicographic — coarser, never wrong
    val keptTag = planned("tag", "t120", "t130")
    assert(keptTag.size <= 2 && keptTag.exists(_.bounds("tag")._1 == "t100"))
    // empty overlap: zero files read, typed empty frame
    assert(slice("id", 5000L, 6000L).count() == 0)
    // a position delete inside the surviving range applies through the
    // pruned scan (deletes gate on the kept subset, not the full table)
    IcebergTable.deleteRows(spark, t, col("id") === 125L)
    assert(slice("id", 120L, 130L)
      .select("id").as[Long].collect().toSeq.sorted ==
      (120L to 130L).filterNot(_ == 125L))
    // compaction re-collects bounds on the packed outputs
    IcebergTable.rewriteDataFiles(spark, t, minFileSizeBytes = Long.MaxValue)
    val after = IcebergTable.snapshot(spark, t)
    assert(after.dataRefs.forall(_.bounds.contains("id")))
    assert(slice("id", 120L, 130L)
      .select("id").as[Long].collect().toSeq.sorted ==
      (120L to 130L).filterNot(_ == 125L))
  }

  test("timestamp and decimal columns append, read back equal and filter; unboundable stats stay unbounded") {
    import spark.implicits._
    val ts = Seq("2021-03-01 04:00:00", "2021-03-02 04:00:00", "2021-03-03 04:00:00")
      .map(java.sql.Timestamp.valueOf)
    val df = Seq((1L, ts(0), "1.25", "10.0001"), (2L, ts(1), "2.50", "20.0002"),
      (3L, ts(2), "3.75", "30.0003")).toDF("id", "ts", "small", "wide")
      .select(col("id"), col("ts"), col("small").cast(DecimalType(9, 2)),
        col("wide").cast(DecimalType(20, 4)))
      .coalesce(1)
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(key)
    // INT96 is Spark's default timestamp encoding; the INT64 encodings
    // carry bounds, converted to epoch micros
    for ((enc, tsBounded) <- Seq("INT96" -> false, "TIMESTAMP_MICROS" -> true,
        "TIMESTAMP_MILLIS" -> true)) {
      spark.conf.set(key, enc)
      val t = try { val t = newTable(); IcebergTable.append(spark, t, df); t }
        finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val back = IcebergTable.read(spark, t)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq, enc)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty, enc)
      assert(back.filter(col("ts") >= lit(ts(1))).select("id").as[Long].collect().sorted.toSeq ==
        Seq(2L, 3L), enc)
      assert(back.filter(col("ts").between(ts(1), ts(1)))
        .select("id").as[Long].collect().toSeq == Seq(2L), enc)
      val ref = IcebergTable.snapshot(spark, t).dataRefs.head
      assert(ref.bounds.contains("id") && !ref.bounds.contains("small") &&
        !ref.bounds.contains("wide"), enc)
      assert(ref.bounds.contains("ts") == tsBounded, enc)
      // a timestamp range outside the file's bounds prunes it
      if (tsBounded) assert(LogFileIndex.plannedFiles(back.filter(col("ts").between(
        java.sql.Timestamp.valueOf("2022-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2022-01-02 00:00:00")))).isEmpty, enc)
    }
  }

  test("refs: tags pin snapshots across expiry; branches move; refs survive appends") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    IcebergTable.createTag(spark, t, "v1")
    IcebergTable.append(spark, t, Seq((3L, "c")).toDF("id", "tag"))
    IcebergTable.createBranch(spark, t, "audit")
    IcebergTable.append(spark, t, Seq((4L, "d")).toDF("id", "tag"))
    // refs table lists both plus the implicit main head
    val refs = IcebergTable.refsTable(spark, t).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("audit", "branch"), ("main", "branch"), ("v1", "tag")))
    // named reads resolve their pinned snapshots; refs survived appends
    assert(IcebergTable.readRef(spark, t, "v1").count() == 2)
    assert(IcebergTable.readRef(spark, t, "audit").count() == 3)
    assert(IcebergTable.readRef(spark, t, "main").count() == 4)
    // a branch HEAD can move — but only via the EXPLICIT replaceRef;
    // a bare re-create refuses (it would silently unpin the promise)
    assert(intercept[IllegalArgumentException](
      IcebergTable.createBranch(spark, t, "audit"))
      .getMessage.contains("use replaceRef"))
    IcebergTable.replaceRef(spark, t, "audit", "branch")
    assert(IcebergTable.readRef(spark, t, "audit").count() == 4)
    // expiry keeps everything a ref reaches
    val reclaimed = IcebergTable.expireSnapshots(spark, t,
      olderThanMillis = System.currentTimeMillis() + 60000, retainLast = 1)
    assert(IcebergTable.readRef(spark, t, "v1")
      .orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(IcebergTable.read(spark, t).count() == 4)
    // guards: unknown ref, reserved 'main', bad type
    assert(intercept[IllegalArgumentException](
      IcebergTable.readRef(spark, t, "nope")).getMessage.contains("no ref"))
    assert(intercept[IllegalArgumentException](
      IcebergTable.createTag(spark, t, "main")).getMessage.contains("main"))
    assert(intercept[IllegalArgumentException](
      IcebergTable.createBranch(spark, t, "v1")).getMessage.contains("different type"))
  }

  test("incremental append scan: each snapshot's own added rows; replace skipped, delete refuses") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    IcebergTable.append(spark, t, Seq((3L, "c")).toDF("id", "tag").coalesce(1))
    IcebergTable.append(spark, t, Seq((4L, "d")).toDF("id", "tag").coalesce(1))
    val ids = IcebergTable.snapshotsTable(spark, t)
      .orderBy("lineage").select("snapshot_id")
      .as[Long].collect().toSeq
    // (s1, s3]: exactly the second and third appends
    assert(IcebergTable.readAppendsBetween(spark, t, ids(0), ids(2))
      .orderBy("id").select("id").as[Long].collect().toSeq == Seq(3L, 4L))
    // (s2, s2]: empty range -> typed empty frame
    assert(IcebergTable.readAppendsBetween(spark, t, ids(1), ids(1)).count() == 0)
    // a compaction in the range contributes nothing (layout, not rows)
    IcebergTable.rewriteDataFiles(spark, t, minFileSizeBytes = Long.MaxValue)
    val ids2 = IcebergTable.snapshotsTable(spark, t)
      .orderBy("lineage").select("snapshot_id")
      .as[Long].collect().toSeq
    assert(IcebergTable.readAppendsBetween(spark, t, ids2(1), ids2.last)
      .orderBy("id").select("id").as[Long].collect().toSeq == Seq(4L))
    // a DELETE snapshot in the range refuses loudly
    IcebergTable.deleteRows(spark, t, col("id") === 1L)
    val ids3 = IcebergTable.snapshotsTable(spark, t)
      .orderBy("lineage").select("snapshot_id")
      .as[Long].collect().toSeq
    val e = intercept[IllegalArgumentException](
      IcebergTable.readAppendsBetween(spark, t, ids3.head, ids3.last).count())
    assert(e.getMessage.contains("cannot express row removal"), e.getMessage)
  }

  test("metadata tables: snapshots/history/manifests/files over a table with both delete kinds") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t,
      Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 3.0), (4L, "B", 4.0))
        .toDF("id", "p", "v"), partitionBy = Seq("p"))
    IcebergTable.deleteRows(spark, t, col("id") === 1L) // position, partition A
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(4L).toDF("id")) // global eq
    // snapshots: three linear commits with honest operations
    val snaps = IcebergTable.snapshotsTable(spark, t)
      .orderBy("lineage").collect()
    assert(snaps.length == 3)
    assert(snaps.map(_.getAs[String]("operation")).toSeq == Seq("append", "delete", "delete"))
    assert(snaps.map(_.getAs[Long]("sequence_number")).toSeq == Seq(0L, 1L, 2L))
    // history mirrors the lineage
    assert(IcebergTable.historyTable(spark, t).count() == 3)
    // manifests of the CURRENT snapshot: 1 data + 2 delete manifests
    val mans = IcebergTable.manifestsTable(spark, t).collect()
    assert(mans.count(_.getAs[Int]("content") == 0) == 1)
    assert(mans.count(_.getAs[Int]("content") == 1) == 2)
    // files: data rows carry real counts + tuples; delete rows their kinds
    val files = IcebergTable.filesTable(spark, t).collect()
    val data = files.filter(_.getAs[Int]("content") == 0)
    assert(data.map(_.getAs[Long]("record_count")).sum == 4L)
    assert(data.map(_.getAs[Map[String, String]]("partition")("p")).toSet == Set("A", "B"))
    assert(data.forall(_.getAs[Long]("file_size_in_bytes") > 0L))
    val pos = files.filter(_.getAs[Int]("content") == 1)
    assert(pos.map(_.getAs[Long]("record_count")).sum == 1L)
    assert(pos.forall(_.getAs[Map[String, String]]("partition")("p") == "A"))
    val eq = files.filter(_.getAs[Int]("content") == 2)
    assert(eq.length == 1 && eq.head.getAs[Long]("record_count") == 1L)
    assert(eq.head.getAs[Map[String, String]]("partition").isEmpty, "global delete: no tuple")
    assert(eq.head.getAs[scala.collection.Seq[Int]]("equality_ids").toSeq == Seq(1),
      "id binds field 1 (id)")
    // the metadata relations never open a data file: read still agrees
    assert(IcebergTable.read(spark, t).orderBy("id").select("id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // time travel: the files table AT the first snapshot has no deletes
    val firstId = snaps.head.getAs[Long]("snapshot_id")
    assert(IcebergTable.filesTable(spark, t, Some(firstId))
      .filter(col("content") > 0).count() == 0)
  }

  test("rewriteDataFiles selection: full-sized files keep exact paths; cost is the small-file debt") {
    import spark.implicits._
    val t = newTable()
    // one LARGE file + three small appends, then tombstones in BOTH
    IcebergTable.append(spark, t,
      (1L to 3000L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    IcebergTable.append(spark, t,
      (3001L to 3010L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    IcebergTable.append(spark, t,
      (3011L to 3020L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    IcebergTable.append(spark, t,
      (3021L to 3030L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    IcebergTable.deleteRows(spark, t, col("id") === 5L || col("id") === 3005L)
    val before = IcebergTable.snapshot(spark, t)
    val largePath = before.dataRefs.maxBy(_.sizeBytes).path
    val smallPaths = before.dataRefs.filterNot(_.path == largePath).map(_.path).toSet
    assert(before.dataRefs.forall(_.records > 0L), "manifests must carry real record counts")
    // threshold right below the large file: ONLY the smalls select
    val minSize = before.dataRefs.map(_.sizeBytes).max
    val preSnapId = before.snapshotId
    val sid = IcebergTable.rewriteDataFiles(spark, t,
      targetFileBytes = 1L << 20, minFileSizeBytes = minSize)
    assert(sid > 0L)
    val after = IcebergTable.snapshot(spark, t)
    // the full-sized file survives BY EXACT PATH — never read, never moved
    assert(after.files.contains(largePath), "large file must keep its exact path")
    assert(after.files.toSet.intersect(smallPaths).isEmpty, "every small file rewrites")
    assert(after.files.size < before.files.size, "smalls must bin-pack into fewer files")
    // deletes: physically purged from the packed rows, still GATING the
    // untouched large file via the carried delete manifest
    assert(after.deleteFiles.nonEmpty,
      "delete manifests must carry forward while pre-rewrite files survive")
    def ids = IcebergTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(!ids.contains(5L) && !ids.contains(3005L) && ids.size == 3028)
    // pre-rewrite time travel intact
    assert(IcebergTable.read(spark, t, Some(preSnapId)).count() == 3028)
    // a second pass with EVERYTHING under threshold = full-debt rewrite:
    // no pre-rewrite file survives, so the delete manifests drop
    assert(IcebergTable.rewriteDataFiles(spark, t,
      targetFileBytes = 1L << 30, minFileSizeBytes = Long.MaxValue) > 0L)
    val after2 = IcebergTable.snapshot(spark, t)
    assert(after2.deleteFiles.isEmpty, "full rewrite physically applies every tombstone")
    assert(ids.size == 3028 && !ids.contains(5L))
    // nothing under threshold -> no-op
    assert(IcebergTable.rewriteDataFiles(spark, t,
      targetFileBytes = 1L << 20, minFileSizeBytes = 0L) == -1L)
  }

  test("rewriteDataFiles on partitioned tables: packing never crosses tuples") {
    import spark.implicits._
    val t = newTable()
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, if (i % 2 == 0) "A" else "B")).toDF("id", "p")
    IcebergTable.append(spark, t, rows(1, 20).coalesce(1), partitionBy = Seq("p"))
    IcebergTable.append(spark, t, rows(21, 40).coalesce(1), partitionBy = Seq("p"))
    // equality tombstone scoped to partition A only
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(2L, 4L).toDF("id"),
      partitionScope = Map("p" -> "A"))
    assert(IcebergTable.rewriteDataFiles(spark, t) > 0L)
    val snap = IcebergTable.snapshot(spark, t)
    // every packed file belongs to exactly one partition tuple
    assert(snap.dataRefs.forall(r => r.partition.keySet == Set("p")))
    assert(snap.dataRefs.map(_.partition("p")).toSet == Set("A", "B"))
    val back = IcebergTable.read(spark, t).orderBy("id")
      .select("id").as[Long].collect().toSeq
    assert(back == (1L to 40L).filterNot(i => i == 2L || i == 4L))
    // partition pruning still runs off the rewritten manifests
    assert(IcebergTable.read(spark, t).filter(col("p") === "A").count() == 18)
  }

  test("rewriteDataFiles + expireSnapshots: compaction orphans old files; expiry reclaims them") {
    import spark.implicits._
    val t = newTable()
    val snapA = IcebergTable.append(spark, t, (1L to 4L).map(i => (i, s"t$i")).toDF("id", "tag"))
    IcebergTable.append(spark, t, (5L to 8L).map(i => (i, s"t$i")).toDF("id", "tag"))
    IcebergTable.deleteRows(spark, t, col("id") % 2 === 0) // v2 position deletes
    def dataFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$t/data")).filter(_.getName.endsWith(".parquet"))
    }
    val preCount = dataFiles.size
    assert(preCount >= 3, "two appends + a position-delete file")
    // REWRITE: live rows republish clean; nothing carried forward
    IcebergTable.rewriteDataFiles(spark, t)
    def liveIds = IcebergTable.read(spark, t)
      .orderBy("id").select("id").as[Long].collect().toSeq
    assert(liveIds == Seq(1L, 3L, 5L, 7L))
    // pre-rewrite time travel still works while snapshots survive
    assert(IcebergTable.read(spark, t, Some(snapA)).count() == 4)
    // EXPIRE everything but the rewrite snapshot, then the old data,
    // delete files, manifests and lists are physically gone
    val reclaimed = IcebergTable.expireSnapshots(spark, t,
      olderThanMillis = System.currentTimeMillis() + 10000, retainLast = 1)
    assert(reclaimed >= preCount, s"reclaimed $reclaimed of at least $preCount old files")
    assert(liveIds == Seq(1L, 3L, 5L, 7L), "current read intact after expiry")
    assert(dataFiles.size < preCount, "orphaned data files physically deleted")
    val e = intercept[IllegalArgumentException](IcebergTable.read(spark, t, Some(snapA)))
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("v2 guards: id-less equality deletes refuse on read") {
    import spark.implicits._
    import org.apache.avro.Schema

    // MALFORMED equality-delete refusal: an entry with content=2 but
    // NO equality_ids cannot be applied — reading past it would
    // resurrect rows. Splice one into an unpartitioned v2 table
    // (spec-local avro, reader works by name).
    val t2 = newTable()
    IcebergTable.append(spark, t2, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    IcebergTable.deleteRows(spark, t2, col("id") === 1L) // now v2
    val fs = new org.apache.hadoop.fs.Path(t2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"sequence_number","type":["null","long"],"default":null},
        |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |    {"name":"content","type":"int"},
        |    {"name":"file_path","type":"string"},
        |    {"name":"file_format","type":"string"},
        |    {"name":"record_count","type":"long"},
        |    {"name":"file_size_in_bytes","type":"long"}
        |  ]}}
        |]}""".stripMargin)
    val eq = new org.apache.avro.generic.GenericData.Record(entrySchema)
    eq.put("status", 1)
    eq.put("sequence_number", 9L)
    val d = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    d.put("content", 2) // EQUALITY deletes
    d.put("file_path", s"$t2/data/eq-del.parquet")
    d.put("file_format", "PARQUET")
    d.put("record_count", 1L)
    d.put("file_size_in_bytes", 1L)
    eq.put("data_file", d)
    val mp = new org.apache.hadoop.fs.Path(s"$t2/metadata/manifest-eq.avro")
    val out = fs.create(mp, false)
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](entrySchema))
    try { w.create(entrySchema, out); w.append(eq) } finally w.close()
    // splice it into the current manifest list by appending a row
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaP = new org.apache.hadoop.fs.Path(s"$t2/metadata/v2.metadata.json")
    val meta = { val in = fs.open(metaP); try mapper.readTree(in) finally in.close() }
    val curId = meta.get("current-snapshot-id").asLong()
    val snaps = meta.get("snapshots")
    val listP = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == curId).get.get("manifest-list").asText()
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string"},
        |  {"name":"manifest_length","type":"long"},
        |  {"name":"partition_spec_id","type":"int"},
        |  {"name":"content","type":"int"},
        |  {"name":"sequence_number","type":"long"},
        |  {"name":"min_sequence_number","type":"long"}
        |]}""".stripMargin)
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]()
    val din = new org.apache.avro.file.DataFileReader(
      new org.apache.avro.mapred.FsInput(new org.apache.hadoop.fs.Path(listP),
        spark.sparkContext.hadoopConfiguration), reader)
    val rows = try {
      val b = Seq.newBuilder[org.apache.avro.generic.GenericRecord]
      while (din.hasNext) b += din.next()
      b.result()
    } finally din.close()
    val rewritten = rows.map { r =>
      val n = new org.apache.avro.generic.GenericData.Record(listSchema)
      n.put("manifest_path", r.get("manifest_path").toString)
      n.put("manifest_length", r.get("manifest_length"))
      n.put("partition_spec_id", 0)
      n.put("content", r.get("content"))
      n.put("sequence_number", r.get("sequence_number"))
      n.put("min_sequence_number", r.get("min_sequence_number"))
      n
    } :+ {
      val n = new org.apache.avro.generic.GenericData.Record(listSchema)
      n.put("manifest_path", fs.makeQualified(mp).toString)
      n.put("manifest_length", fs.getFileStatus(mp).getLen)
      n.put("partition_spec_id", 0)
      n.put("content", 1)
      n.put("sequence_number", 9L)
      n.put("min_sequence_number", 9L)
      n
    }
    fs.delete(new org.apache.hadoop.fs.Path(listP), false)
    val out2 = fs.create(new org.apache.hadoop.fs.Path(listP), true)
    val w2 = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](listSchema))
    try { w2.create(listSchema, out2); rewritten.foreach(w2.append) } finally w2.close()
    val e2 = intercept[IllegalArgumentException](IcebergTable.read(spark, t2))
    assert(e2.getMessage.contains("equality delete"), e2.getMessage)
  }
}

package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import graft.SparkSpec
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The exact metadata every [[IcebergTable]] writer commits: the new
  * `vN.metadata.json` (key order included), the records of the current
  * snapshot's manifest list and the entries of every manifest the
  * commit added. Volatile values are masked: clocks, uuids, the
  * staging stamps in file names, the temp table roots, and snapshot
  * ids (numbered in the order the table's metadata first lists them).
  * Every `manifest_length` and non-zero `file_size_in_bytes` is
  * checked against the file on disk before it is masked. Bounds
  * print as hex.
  */
class IcebergCommitShapeSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val Prefix = "graft-ice-shape"

  private def newTable(): String = Files.createTempDirectory(Prefix).toString

  private val tableRoot = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath.toString
    ("(file:)?" + java.util.regex.Pattern.quote(tmp.stripSuffix("/")) + "/" + Prefix + "[0-9]+").r
  }
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val Stamp = "-[0-9a-f]{8}(?=(-x?[0-9]+)?\\.(avro|parquet|puffin))".r
  private val Clocks = Set("timestamp-ms", "last-updated-ms")
  private val Sizes = Set("manifest_length", "file_size_in_bytes")

  /** Masks one table's commits; snapshot ids become `<sN>`. */
  private final class Shapes(table: String) {
    private val ids = scala.collection.mutable.LinkedHashMap.empty[String, String]

    private def text(s: String): String = {
      val noIds = ids.keys.toSeq.sortBy(-_.length).foldLeft(s) { (acc, id) =>
        acc.replaceAll(s"(?<![0-9])$id(?![0-9])", ids(id))
      }
      Stamp.replaceAllIn(Uuid.replaceAllIn(tableRoot.replaceAllIn(noIds, "<table>"), "<uuid>"),
        "-<stamp>")
    }

    private def mask(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        o.fields().asScala.foreach { e =>
          val v = e.getValue
          val masked: JsonNode =
            if (Clocks(e.getKey) && v.isNumber) new TextNode("<ts>")
            else if (Sizes(e.getKey) && v.isNumber && v.asLong != 0L) new TextNode("<size>")
            else if (v.isIntegralNumber && ids.contains(v.asText)) new TextNode(ids(v.asText))
            else mask(v)
          out.set[JsonNode](e.getKey, masked)
        }
        out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.elements().asScala.foreach(x => out.add(mask(x)))
        out
      case t: TextNode => new TextNode(text(t.asText))
      case other => other
    }

    private def fileOf(uri: String): File = new File(new java.net.URI(uri))

    private def avro(uri: String): Seq[GenericRecord] = {
      val r = new DataFileReader[GenericRecord](fileOf(uri), new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }

    /** An avro record as JSON in schema field order; bytes as hex. */
    private def json(v: Any): JsonNode = v match {
      case null => mapper.nullNode()
      case r: GenericRecord =>
        val o = mapper.createObjectNode()
        r.getSchema.getFields.asScala.foreach(f => o.set[JsonNode](f.name, json(r.get(f.name))))
        o
      case l: java.util.List[_] =>
        val a = mapper.createArrayNode()
        l.asScala.foreach(x => a.add(json(x)))
        a
      case b: java.nio.ByteBuffer =>
        val bytes = new Array[Byte](b.remaining())
        b.duplicate().get(bytes)
        new TextNode(bytes.map(x => f"${x & 0xff}%02x").mkString)
      case i: java.lang.Integer => mapper.getNodeFactory.numberNode(i.intValue)
      case l: java.lang.Long => mapper.getNodeFactory.numberNode(l.longValue)
      case other => new TextNode(other.toString)
    }

    private def metadata(v: Long): JsonNode =
      mapper.readTree(new File(table, s"metadata/v$v.metadata.json"))

    private def listOf(meta: JsonNode): Option[String] = {
      val cur = meta.get("current-snapshot-id")
      Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
        .find(s => cur != null && s.get("snapshot-id").asLong == cur.asLong)
        .map(_.get("manifest-list").asText)
    }

    /** The newest metadata version, found by listing. */
    def latest: Long = new File(table, "metadata").list().toSeq.collect {
      case n if n.matches("v[0-9]+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong
    }.max

    /** Commit `v`: its metadata, then (when the commit wrote a new
      * manifest list) the list's records and the entries of every
      * manifest the previous version's list did not name.
      */
    def commit(v: Long): Seq[String] = {
      val meta = metadata(v)
      meta.get("snapshots").elements().asScala.foreach { s =>
        val id = s.get("snapshot-id").asText
        if (!ids.contains(id)) ids(id) = s"<s${ids.size + 1}>"
      }
      val prevList = if (v > 1) listOf(metadata(v - 1)) else None
      val list = listOf(meta).filterNot(l => prevList.contains(l))
      val prevManifests = prevList.toSeq.flatMap(avro).map(_.get("manifest_path").toString).toSet
      val records = list.toSeq.flatMap(avro)
      records.foreach { r =>
        assert(r.get("manifest_length") == fileOf(r.get("manifest_path").toString).length,
          s"manifest_length of ${r.get("manifest_path")}")
      }
      val entries = records.map(_.get("manifest_path").toString)
        .filterNot(prevManifests).flatMap(avro)
      entries.foreach { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        val size = d.get("file_size_in_bytes").asInstanceOf[Long]
        if (size != 0L)
          assert(size == fileOf(d.get("file_path").toString).length,
            s"file_size_in_bytes of ${d.get("file_path")}")
      }
      def wrap(kind: String, r: GenericRecord): JsonNode = {
        val o = mapper.createObjectNode()
        o.set[JsonNode](kind, json(r))
        o
      }
      (meta +: (records.map(wrap("manifest_file", _)) ++ entries.map(wrap("manifest_entry", _))))
        .map(n => mapper.writeValueAsString(mask(n)))
    }
  }

  private def assertCommit(shapes: Shapes, v: Long, expected: String*): Unit = {
    assert(shapes.latest == v, s"newest metadata version")
    val actual = shapes.commit(v)
    assert(actual == expected.map(e => mapper.writeValueAsString(mapper.readTree(e))),
      s"commit $v:\n" + actual.mkString("\n"))
  }

  test("append: partitioned creation with row lineage, then add-column evolution") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t,
      Seq((1L, 1996), (2L, 1997), (3L, 1996)).toDF("id", "Year").coalesce(1),
      partitionBy = Seq("Year"), rowLineage = true)
    assertCommit(s, 1,
      """{"format-version":3,"last-sequence-number":1,"next-row-id":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}],"partition-specs":[{"spec-id":0,"fields":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}]}],"default-spec-id":0,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"first-row-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}]}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s1>","sequence_number":1,"data_file":{"content":0,"file_path":"<table>/data/Year=1996/part-<stamp>-0.parquet","file_format":"PARQUET","record_count":2,"file_size_in_bytes":"<size>","first_row_id":0,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":[{"key":1,"value":"0100000000000000"},{"key":2,"value":"cc070000"}],"upper_bounds":[{"key":1,"value":"0300000000000000"},{"key":2,"value":"cc070000"}],"partition":{"Year":1996}}}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s1>","sequence_number":1,"data_file":{"content":0,"file_path":"<table>/data/Year=1997/part-<stamp>-1.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":2,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":[{"key":1,"value":"0200000000000000"},{"key":2,"value":"cd070000"}],"upper_bounds":[{"key":1,"value":"0200000000000000"},{"key":2,"value":"cd070000"}],"partition":{"Year":1997}}}}""")
    IcebergTable.append(spark, t,
      Seq((4L, 1997, "x")).toDF("id", "Year", "tag").coalesce(1),
      partitionBy = Seq("Year"), allowSchemaEvolution = true)
    assertCommit(s, 2,
      """{"format-version":3,"last-sequence-number":2,"next-row-id":4,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":3,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}],"schema-id":0},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"}],"schema-id":1}],"current-schema-id":1,"partition-spec":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}],"partition-specs":[{"spec-id":0,"fields":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}]}],"default-spec-id":0,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s2>","snapshots":[{"snapshot-id":"<s1>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"first-row-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","sequence-number":2,"timestamp-ms":"<ts>","schema-id":1,"first-row-id":3,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"append"}}]}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":2,"min_sequence_number":2,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s2>","sequence_number":2,"data_file":{"content":0,"file_path":"<table>/data/Year=1997/part-<stamp>-0.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":3,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":[{"key":1,"value":"0400000000000000"},{"key":2,"value":"cd070000"},{"key":3,"value":"78"}],"upper_bounds":[{"key":1,"value":"0400000000000000"},{"key":2,"value":"cd070000"},{"key":3,"value":"78"}],"partition":{"Year":1997}}}}""")
  }

  test("appendOnce stamps its summary and absorbs a replay; a v1 rewriteDataFiles") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t, Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "tag", "v")
      .coalesce(1))
    assertCommit(s, 1,
      """{"format-version":1,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":3,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"},{"id":3,"name":"v","required":false,"type":"double"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"},{"id":3,"name":"v","required":false,"type":"double"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}]}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s1>","data_file":{"file_path":"<table>/data/part-<stamp>-0.parquet","file_format":"PARQUET","record_count":2,"file_size_in_bytes":"<size>","first_row_id":null,"lower_bounds":[{"key":1,"value":"0100000000000000"},{"key":2,"value":"61"},{"key":3,"value":"000000000000f83f"}],"upper_bounds":[{"key":1,"value":"0200000000000000"},{"key":2,"value":"62"},{"key":3,"value":"0000000000000440"}]}}}""")
    IcebergTable.appendOnce(spark, t, Seq((3L, "c", 3.5)).toDF("id", "tag", "v").coalesce(1),
      "app", 1L, extraSummary = Map("k" -> "v"))
    assertCommit(s, 2,
      """{"format-version":1,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":3,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"},{"id":3,"name":"v","required":false,"type":"double"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"},{"id":3,"name":"v","required":false,"type":"double"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s2>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"append","k":"v","graft.app-id":"app","graft.epoch":"1"}}]}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s2>","data_file":{"file_path":"<table>/data/part-<stamp>-0.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":null,"lower_bounds":[{"key":1,"value":"0300000000000000"},{"key":2,"value":"63"},{"key":3,"value":"0000000000000c40"}],"upper_bounds":[{"key":1,"value":"0300000000000000"},{"key":2,"value":"63"},{"key":3,"value":"0000000000000c40"}]}}}""")
    assert(IcebergTable.appendOnce(spark, t, Seq((3L, "c", 3.5)).toDF("id", "tag", "v"),
      "app", 1L) == -1L)
    assert(s.latest == 2L)
    IcebergTable.rewriteDataFiles(spark, t, minFileSizeBytes = Long.MaxValue)
    assertCommit(s, 3,
      """{"format-version":1,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":3,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"},{"id":3,"name":"v","required":false,"type":"double"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"},{"id":3,"name":"v","required":false,"type":"double"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s3>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"append","k":"v","graft.app-id":"app","graft.epoch":"1"}},{"snapshot-id":"<s3>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s3>-<stamp>.avro","summary":{"operation":"replace"}}]}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"added_snapshot_id":"<s3>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s3>","data_file":{"file_path":"<table>/data/part-<stamp>-0.parquet","file_format":"PARQUET","record_count":3,"file_size_in_bytes":"<size>","first_row_id":null,"lower_bounds":[{"key":1,"value":"0100000000000000"},{"key":2,"value":"61"},{"key":3,"value":"000000000000f83f"}],"upper_bounds":[{"key":1,"value":"0300000000000000"},{"key":2,"value":"63"},{"key":3,"value":"0000000000000c40"}]}}}""")
  }

  test("deleteRows upgrades a partitioned v1 table; a global deleteRowsEquality") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t,
      (1L to 6L).map(i => (i, 1996 + (i % 2).toInt)).toDF("id", "Year").coalesce(1),
      partitionBy = Seq("Year"))
    IcebergTable.deleteRows(spark, t, col("id") <= 2L)
    assertCommit(s, 2,
      """{"format-version":2,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}],"partition-specs":[{"spec-id":0,"fields":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s2>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"delete"}}],"last-sequence-number":1,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s2>","sequence_number":1,"data_file":{"content":1,"file_path":"<table>/data/delete-<stamp>-0.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":null,"upper_bounds":null,"partition":{"Year":1996}}}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s2>","sequence_number":1,"data_file":{"content":1,"file_path":"<table>/data/delete-<stamp>-1.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":null,"upper_bounds":null,"partition":{"Year":1997}}}}""")
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(5L, 6L).toDF("id"))
    assertCommit(s, 3,
      """{"format-version":2,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}],"partition-specs":[{"spec-id":0,"fields":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s3>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"delete"}},{"snapshot-id":"<s3>","sequence-number":2,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s3>-<stamp>.avro","summary":{"operation":"delete"}}],"last-sequence-number":2,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":2,"min_sequence_number":2,"added_snapshot_id":"<s3>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s3>","sequence_number":2,"data_file":{"content":2,"file_path":"<table>/data/eqdelete-<stamp>-0.parquet","file_format":"PARQUET","record_count":2,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":[1],"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":null,"upper_bounds":null}}}""")
  }

  test("a scoped deleteRowsEquality, then a v2 rewrite keeps survivors EXISTING") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t,
      Seq((1L, 1996), (2L, 1997)).toDF("id", "Year").coalesce(1), partitionBy = Seq("Year"))
    IcebergTable.append(spark, t,
      Seq((3L, 1996)).toDF("id", "Year").coalesce(1), partitionBy = Seq("Year"))
    IcebergTable.deleteRowsEquality(spark, t, Seq("id"), Seq(1L, 2L).toDF("id"),
      partitionScope = Map("Year" -> "1996"))
    assertCommit(s, 3,
      """{"format-version":2,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}],"partition-specs":[{"spec-id":0,"fields":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s3>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s3>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s3>-<stamp>.avro","summary":{"operation":"delete"}}],"last-sequence-number":1,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s3>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s3>","sequence_number":1,"data_file":{"content":2,"file_path":"<table>/data/eqdelete-<stamp>-0.parquet","file_format":"PARQUET","record_count":2,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":[1],"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":null,"upper_bounds":null,"partition":{"Year":1996}}}}""")
    IcebergTable.rewriteDataFiles(spark, t, minFileSizeBytes = Long.MaxValue)
    assertCommit(s, 4,
      """{"format-version":2,"last-sequence-number":2,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"Year","required":false,"type":"int"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}],"partition-specs":[{"spec-id":0,"fields":[{"name":"Year","transform":"identity","source-id":2,"field-id":1000}]}],"default-spec-id":0,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s4>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s3>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s3>-<stamp>.avro","summary":{"operation":"delete"}},{"snapshot-id":"<s4>","sequence-number":2,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s4>-<stamp>.avro","summary":{"operation":"replace"}}]}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>-x1.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s4>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s3>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":2,"min_sequence_number":2,"added_snapshot_id":"<s4>"}}""",
      """{"manifest_entry":{"status":0,"snapshot_id":"<s1>","sequence_number":0,"data_file":{"content":0,"file_path":"<table>/data/Year=1997/part-<stamp>-1.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":[{"key":1,"value":"0200000000000000"},{"key":2,"value":"cd070000"}],"upper_bounds":[{"key":1,"value":"0200000000000000"},{"key":2,"value":"cd070000"}],"partition":{"Year":1997}}}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s4>","sequence_number":2,"data_file":{"content":0,"file_path":"<table>/data/Year=1996/part-<stamp>-0.parquet","file_format":"PARQUET","record_count":1,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":null,"referenced_data_file":null,"content_offset":null,"content_size_in_bytes":null,"lower_bounds":[{"key":1,"value":"0300000000000000"},{"key":2,"value":"cc070000"}],"upper_bounds":[{"key":1,"value":"0300000000000000"},{"key":2,"value":"cc070000"}],"partition":{"Year":1996}}}}""")
  }

  test("deleteRowsDv: first use upgrades to v3; second use replaces the vector") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t, (1L to 4L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    IcebergTable.deleteRowsDv(spark, t, col("id") === 1L)
    assertCommit(s, 2,
      """{"format-version":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s2>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"delete"}}],"last-sequence-number":1,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s2>","sequence_number":1,"data_file":{"content":1,"file_path":"<table>/data/dv-<stamp>.puffin","file_format":"PUFFIN","record_count":1,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":null,"referenced_data_file":"<table>/data/part-<stamp>-0.parquet","content_offset":4,"content_size_in_bytes":42,"lower_bounds":null,"upper_bounds":null}}}""")
    IcebergTable.deleteRowsDv(spark, t, col("id") === 2L)
    assertCommit(s, 3,
      """{"format-version":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s3>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","sequence-number":1,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"delete"}},{"snapshot-id":"<s3>","sequence-number":2,"timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s3>-<stamp>.avro","summary":{"operation":"delete"}}],"last-sequence-number":2,"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":0,"sequence_number":0,"min_sequence_number":0,"added_snapshot_id":"<s1>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":1,"min_sequence_number":1,"added_snapshot_id":"<s2>"}}""",
      """{"manifest_file":{"manifest_path":"<table>/metadata/manifest-del-<stamp>.avro","manifest_length":"<size>","partition_spec_id":0,"content":1,"sequence_number":2,"min_sequence_number":2,"added_snapshot_id":"<s3>"}}""",
      """{"manifest_entry":{"status":1,"snapshot_id":"<s3>","sequence_number":2,"data_file":{"content":1,"file_path":"<table>/data/dv-<stamp>.puffin","file_format":"PUFFIN","record_count":2,"file_size_in_bytes":"<size>","first_row_id":null,"equality_ids":null,"referenced_data_file":"<table>/data/part-<stamp>-0.parquet","content_offset":4,"content_size_in_bytes":44,"lower_bounds":null,"upper_bounds":null}}}""",
      """{"manifest_entry":{"status":2,"snapshot_id":"<s3>","sequence_number":1,"data_file":{"content":1,"file_path":"<table>/data/dv-<stamp>.puffin","file_format":"PUFFIN","record_count":0,"file_size_in_bytes":0,"first_row_id":null,"equality_ids":null,"referenced_data_file":"<table>/data/part-<stamp>-0.parquet","content_offset":4,"content_size_in_bytes":42,"lower_bounds":null,"upper_bounds":null}}}""")
  }

  test("createTag and replaceRef are metadata-only commits") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    IcebergTable.createTag(spark, t, "v1")
    assertCommit(s, 2,
      """{"format-version":1,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}],"refs":{"v1":{"snapshot-id":"<s1>","type":"tag"}}}""")
    IcebergTable.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    IcebergTable.replaceRef(spark, t, "v1", "tag")
    assertCommit(s, 4,
      """{"format-version":1,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"refs":{"v1":{"snapshot-id":"<s2>","type":"tag"}},"current-snapshot-id":"<s2>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}},{"snapshot-id":"<s2>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s2>-<stamp>.avro","summary":{"operation":"append"}}]}""")
  }

  test("addColumn with a default, renameColumn, dropColumn, widenColumnType") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    IcebergTable.append(spark, t, Seq((1L, 7, "a")).toDF("id", "n", "tag"))
    IcebergTable.addColumn(spark, t, "extra", StringType, Some("dflt"))
    assertCommit(s, 2,
      """{"format-version":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":4,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":1},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"}],"schema-id":0},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":1}],"current-schema-id":1,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}],"last-sequence-number":0}""")
    IcebergTable.renameColumn(spark, t, "tag", "label")
    assertCommit(s, 3,
      """{"format-version":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":4,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":2},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"}],"schema-id":0},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":1},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":2}],"current-schema-id":2,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}],"last-sequence-number":0}""")
    IcebergTable.dropColumn(spark, t, "extra")
    assertCommit(s, 4,
      """{"format-version":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":4,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"}],"schema-id":3},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"}],"schema-id":0},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":1},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":2},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"}],"schema-id":3}],"current-schema-id":3,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}],"last-sequence-number":0}""")
    IcebergTable.widenColumnType(spark, t, "n", LongType)
    assertCommit(s, 5,
      """{"format-version":3,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":4,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"long"},{"id":3,"name":"label","required":false,"type":"string"}],"schema-id":4},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"}],"schema-id":0},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"tag","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":1},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"},{"id":4,"name":"extra","required":false,"type":"string","initial-default":"dflt","write-default":"dflt"}],"schema-id":2},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"int"},{"id":3,"name":"label","required":false,"type":"string"}],"schema-id":3},{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"n","required":false,"type":"long"},{"id":3,"name":"label","required":false,"type":"string"}],"schema-id":4}],"current-schema-id":4,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s1>","snapshots":[{"snapshot-id":"<s1>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s1>-<stamp>.avro","summary":{"operation":"append"}}],"last-sequence-number":0}""")
  }

  test("expireSnapshots drops all but the newest snapshot") {
    import spark.implicits._
    val t = newTable()
    val s = new Shapes(t)
    (1L to 3L).foreach(i => IcebergTable.append(spark, t, Seq((i, s"t$i")).toDF("id", "tag")))
    s.commit(3)
    assert(IcebergTable.expireSnapshots(spark, t, Long.MaxValue) == 2L)
    assertCommit(s, 4,
      """{"format-version":1,"table-uuid":"<uuid>","location":"<table>","last-updated-ms":"<ts>","last-column-id":2,"schema":{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}]},"schemas":[{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"tag","required":false,"type":"string"}],"schema-id":0}],"current-schema-id":0,"partition-spec":[],"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,"properties":{"graft.parquet.field-ids":"true"},"current-snapshot-id":"<s3>","snapshots":[{"snapshot-id":"<s3>","timestamp-ms":"<ts>","schema-id":0,"manifest-list":"<table>/metadata/snap-<s3>-<stamp>.avro","summary":{"operation":"append"}}]}""")
  }
}

package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The exact action lines every [[DeltaLog]] writer commits: each
  * line of the commit is parsed, its volatile values are masked
  * (wall-clock timestamps, uuids, staging stamps in file names, the
  * temp table roots, uuid-named deletion-vector tokens) and the line
  * is re-serialized, so key order, optional fields, null partition
  * values and per-writer flags (`dataChange`, `deletionTimestamp = 0`
  * on compaction removes, verbatim log paths, re-anchored clone
  * descriptors) are all compared. Every `add`/`cdc` `size` is checked
  * against the file on disk before it is masked. Lines of one action
  * kind in a row compare as a sorted run: their order follows the
  * random staging stamps of the files they name.
  */
class DeltaActionShapeSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val Prefix = "graft-shape"

  private def newTable(): String = Files.createTempDirectory(Prefix).toString

  private val tableRoot = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath.toString
    ("(file:)?" + java.util.regex.Pattern.quote(tmp.stripSuffix("/")) + "/" + Prefix + "[0-9]+").r
  }
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val StagedName = "-[0-9a-f]{8}(-[0-9]+)+\\.parquet".r
  private val Volatile =
    Set("modificationTime", "deletionTimestamp", "timestamp", "inCommitTimestamp")

  private def maskText(s: String): String =
    StagedName.replaceAllIn(Uuid.replaceAllIn(tableRoot.replaceAllIn(s, "<table>"), "<uuid>"),
      "-<stamp>.parquet")

  private def mask(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val out = mapper.createObjectNode()
      o.fields().asScala.foreach { e =>
        val v = e.getValue
        val masked: JsonNode =
          if (Volatile(e.getKey) && v.isNumber && v.asLong != 0L) new TextNode("<ts>")
          else if (e.getKey == "size" && v.isNumber) new TextNode("<size>")
          else if (e.getKey == "pathOrInlineDv" &&
            Option(o.get("storageType")).exists(_.asText == "u")) new TextNode("<dv>")
          else mask(v)
        out.set[JsonNode](e.getKey, masked)
      }
      out
    case a: com.fasterxml.jackson.databind.node.ArrayNode =>
      val out = mapper.createArrayNode()
      a.elements().asScala.foreach(x => out.add(mask(x)))
      out
    case t: TextNode => new TextNode(maskText(t.asText))
    case other => other
  }

  /** `size` of an `add`/`cdc` line equals the length of the file it names. */
  private def checkSize(table: String, root: JsonNode): Unit =
    Seq("add", "cdc").flatMap(k => Option(root.get(k))).foreach { a =>
      val raw = a.get("path").asText
      val p =
        if (raw.contains(":")) new org.apache.hadoop.fs.Path(new java.net.URI(raw))
        else new org.apache.hadoop.fs.Path(table, new java.net.URI(raw).getPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(a.get("size").asLong == fs.getFileStatus(p).getLen, s"size of $raw")
    }

  /** Commit `v` of `table`, masked, with same-kind runs sorted. */
  private def shape(table: String, v: Long): Seq[String] = {
    val lines = Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json"))
      .asScala.toSeq.filter(_.trim.nonEmpty)
    val masked = lines.map { l =>
      val root = mapper.readTree(l)
      checkSize(table, root)
      (root.fieldNames().next(), mapper.writeValueAsString(mask(root)))
    }
    val runs = masked.foldLeft(List.empty[(String, List[String])]) {
      case ((k, run) :: rest, (kind, s)) if k == kind => (k, s :: run) :: rest
      case (acc, (kind, s)) => (kind, List(s)) :: acc
    }
    runs.reverse.flatMap(_._2.sorted)
  }

  private def assertShape(table: String, v: Long, expected: String*): Unit = {
    val actual = shape(table, v)
    assert(actual == expected.map(e => mapper.writeValueAsString(mapper.readTree(e))),
      s"commit $v of $table:\n" + actual.mkString("\n"))
  }

  test("append: creation with CDF, ICT, row tracking and name mapping; a txn-stamped append") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"),
      columnMapping = "name", rowTracking = true,
      configuration = Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableInCommitTimestamps" -> "true"))
    assertShape(t, 0,
      """{"commitInfo":{"timestamp":"<ts>","inCommitTimestamp":"<ts>"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping","changeDataFeed","inCommitTimestamp","rowTracking","domainMetadata"]}}""",
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"delta.columnMapping.id\":1,\"delta.columnMapping.physicalName\":\"col-<uuid>\"}},{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{\"delta.columnMapping.id\":2,\"delta.columnMapping.physicalName\":\"col-<uuid>\"}}]}","partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true","delta.enableRowTracking":"true","delta.rowTracking.materializedRowCommitVersionColumnName":"_row-commit-version-col-<uuid>","delta.rowTracking.materializedRowIdColumnName":"_row-id-col-<uuid>","delta.enableInCommitTimestamps":"true","delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0,"stats":"{\"numRecords\":1,\"minValues\":{\"col-<uuid>\":1,\"col-<uuid>\":\"a\"},\"maxValues\":{\"col-<uuid>\":1,\"col-<uuid>\":\"a\"},\"nullCount\":{\"col-<uuid>\":0,\"col-<uuid>\":0}}"}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"baseRowId":1,"defaultRowCommitVersion":0,"stats":"{\"numRecords\":1,\"minValues\":{\"col-<uuid>\":2,\"col-<uuid>\":\"b\"},\"maxValues\":{\"col-<uuid>\":2,\"col-<uuid>\":\"b\"},\"nullCount\":{\"col-<uuid>\":0,\"col-<uuid>\":0}}"}}""",
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":1}","removed":false}}""")
    DeltaLog.append(spark, t, Seq((3L, "c")).toDF("id", "tag"), txn = Some(("app", 1L)))
    assertShape(t, 1,
      """{"commitInfo":{"timestamp":"<ts>","inCommitTimestamp":"<ts>"}}""",
      """{"txn":{"appId":"app","version":1}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"baseRowId":2,"defaultRowCommitVersion":1,"stats":"{\"numRecords\":1,\"minValues\":{\"col-<uuid>\":3,\"col-<uuid>\":\"c\"},\"maxValues\":{\"col-<uuid>\":3,\"col-<uuid>\":\"c\"},\"nullCount\":{\"col-<uuid>\":0,\"col-<uuid>\":0}}"}}""",
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":2}","removed":false}}""")
  }

  test("append: identity column, null partition value, add-column evolution") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t,
      Seq((1L, "x"), (2L, null)).toDF("v", "p"),
      partitionBy = Seq("p"), identity = Some(("rid", 10L, 5L)))
    assertShape(t, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["identityColumns"]}}""",
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"rid\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"delta.identity.highWaterMark\":15,\"delta.identity.step\":5,\"delta.identity.allowExplicitInsert\":false,\"delta.identity.start\":10}},{\"name\":\"v\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":["p"],"configuration":{}}}""",
      """{"add":{"path":"p=__HIVE_DEFAULT_PARTITION__/part-<stamp>.parquet","partitionValues":{"p":null},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"rid\":15,\"v\":2},\"maxValues\":{\"rid\":15,\"v\":2},\"nullCount\":{\"rid\":0,\"v\":0}}"}}""",
      """{"add":{"path":"p=x/part-<stamp>.parquet","partitionValues":{"p":"x"},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"rid\":10,\"v\":1},\"maxValues\":{\"rid\":10,\"v\":1},\"nullCount\":{\"rid\":0,\"v\":0}}"}}""")
    DeltaLog.append(spark, t,
      Seq((3L, "x", 7)).toDF("v", "p", "extra").coalesce(1),
      partitionBy = Seq("p"), allowSchemaEvolution = true)
    assertShape(t, 1,
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"rid\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"delta.identity.highWaterMark\":20,\"delta.identity.step\":5,\"delta.identity.allowExplicitInsert\":false,\"delta.identity.start\":10}},{\"name\":\"v\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"extra\",\"type\":\"integer\",\"nullable\":false,\"metadata\":{}}]}","partitionColumns":["p"],"configuration":{}}}""",
      """{"add":{"path":"p=x/part-<stamp>.parquet","partitionValues":{"p":"x"},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"rid\":20,\"v\":3,\"extra\":7},\"maxValues\":{\"rid\":20,\"v\":3,\"extra\":7},\"nullCount\":{\"rid\":0,\"v\":0,\"extra\":0}}"}}""")
  }

  test("merge with change data feed, delete, and their cdc lines") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.merge(spark, t, Seq((1L, "z"), (9L, "i")).toDF("id", "tag").coalesce(1),
      Seq("id"), txn = Some(("m", 1L)))
    assertShape(t, 1,
      """{"txn":{"appId":"m","version":1}}""",
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-m-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":2,\"minValues\":{\"id\":1,\"tag\":\"i\"},\"maxValues\":{\"id\":9,\"tag\":\"z\"},\"nullCount\":{\"id\":0,\"tag\":0}}"}}""",
      """{"add":{"path":"part-m-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":2,\"minValues\":{\"id\":2,\"tag\":\"b\"},\"maxValues\":{\"id\":3,\"tag\":\"c\"},\"nullCount\":{\"id\":0,\"tag\":0}}"}}""",
      """{"cdc":{"path":"_change_data/cdc-<stamp>.parquet","partitionValues":{},"size":"<size>","dataChange":false}}""",
      """{"cdc":{"path":"_change_data/cdc-<stamp>.parquet","partitionValues":{},"size":"<size>","dataChange":false}}""",
      """{"cdc":{"path":"_change_data/cdc-<stamp>.parquet","partitionValues":{},"size":"<size>","dataChange":false}}""")
    DeltaLog.delete(spark, t, col("id") === 9L)
    assertShape(t, 2,
      """{"remove":{"path":"part-m-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-d-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"id\":1,\"tag\":\"z\"},\"maxValues\":{\"id\":1,\"tag\":\"z\"},\"nullCount\":{\"id\":0,\"tag\":0}}"}}""",
      """{"cdc":{"path":"_change_data/cdc-<stamp>.parquet","partitionValues":{},"size":"<size>","dataChange":false}}""")
  }

  test("deleteWithDv: first use upgrades the protocol; second use unions the vector") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 4L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    DeltaLog.deleteWithDv(spark, t, col("id") === 1L, txn = Some(("d", 1L)))
    assertShape(t, 1,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["appendOnly","deletionVectors","invariants"]}}""",
      """{"txn":{"appId":"d","version":1}}""",
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":4,\"minValues\":{\"id\":1,\"tag\":\"t1\"},\"maxValues\":{\"id\":4,\"tag\":\"t4\"},\"nullCount\":{\"id\":0,\"tag\":0}}","deletionVector":{"storageType":"u","pathOrInlineDv":"<dv>","offset":1,"sizeInBytes":30,"cardinality":1}}}""")
    DeltaLog.deleteWithDv(spark, t, col("id") === 2L)
    assertShape(t, 2,
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":4,\"minValues\":{\"id\":1,\"tag\":\"t1\"},\"maxValues\":{\"id\":4,\"tag\":\"t4\"},\"nullCount\":{\"id\":0,\"tag\":0}}","deletionVector":{"storageType":"u","pathOrInlineDv":"<dv>","offset":1,"sizeInBytes":32,"cardinality":2}}}""")
  }

  test("applyChanges: a rewrite commit and a txn-only commit") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "tag").coalesce(1))
    DeltaLog.applyChanges(spark, t,
      Seq((3L, "c", "insert"), (1L, "a", "delete")).toDF("id", "tag", "_change_type")
        .coalesce(1),
      Seq("id"), txn = Some(("r", 1L)))
    assertShape(t, 1,
      """{"txn":{"appId":"r","version":1}}""",
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-c-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"id\":2,\"tag\":\"b\"},\"maxValues\":{\"id\":2,\"tag\":\"b\"},\"nullCount\":{\"id\":0,\"tag\":0}}"}}""",
      """{"add":{"path":"part-c-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"id\":3,\"tag\":\"c\"},\"maxValues\":{\"id\":3,\"tag\":\"c\"},\"nullCount\":{\"id\":0,\"tag\":0}}"}}""")
    DeltaLog.applyChanges(spark, t,
      Seq((99L, "x", "delete")).toDF("id", "tag", "_change_type"), Seq("id"),
      txn = Some(("r", 2L)))
    assertShape(t, 2,
      """{"txn":{"appId":"r","version":2}}""")
  }

  test("restore: metaData re-emitted, verbatim paths, descriptors carried") {
    import spark.implicits._
    val t = newTable()
    DeltaLog.append(spark, t, (1L to 3L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    DeltaLog.deleteWithDv(spark, t, col("id") === 1L)
    DeltaLog.append(spark, t, Seq((4L, "d", 1)).toDF("id", "tag", "n").coalesce(1),
      allowSchemaEvolution = true)
    DeltaLog.restore(spark, t, 0L)
    assertShape(t, 3,
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{}}}""",
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":3,\"minValues\":{\"id\":1,\"tag\":\"t1\"},\"maxValues\":{\"id\":3,\"tag\":\"t3\"},\"nullCount\":{\"id\":0,\"tag\":0}}"}}""")
    DeltaLog.restore(spark, t, 1L)
    assertShape(t, 4,
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":"<ts>","dataChange":true}}""",
      """{"add":{"path":"part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":true,"stats":"{\"numRecords\":3,\"minValues\":{\"id\":1,\"tag\":\"t1\"},\"maxValues\":{\"id\":3,\"tag\":\"t3\"},\"nullCount\":{\"id\":0,\"tag\":0}}","deletionVector":{"storageType":"u","pathOrInlineDv":"<dv>","offset":1,"sizeInBytes":30,"cardinality":1}}}""")
  }

  test("compact: row-tracked and partitioned rewrites are dataChange=false") {
    import spark.implicits._
    val rt = newTable()
    DeltaLog.append(spark, rt, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), rowTracking = true)
    DeltaLog.compact(spark, rt)
    assertShape(rt, 1,
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"part-<stamp>.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"add":{"path":"part-compact-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":"<ts>","dataChange":false,"baseRowId":2,"defaultRowCommitVersion":1,"stats":"{\"numRecords\":2,\"minValues\":{\"id\":1,\"tag\":\"a\",\"_row-id-col-<uuid>\":0,\"_row-commit-version-col-<uuid>\":0},\"maxValues\":{\"id\":2,\"tag\":\"b\",\"_row-id-col-<uuid>\":1,\"_row-commit-version-col-<uuid>\":0},\"nullCount\":{\"id\":0,\"tag\":0,\"_row-id-col-<uuid>\":0,\"_row-commit-version-col-<uuid>\":0}}"}}""",
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":3}","removed":false}}""")
    val pt = newTable()
    DeltaLog.append(spark, pt,
      Seq((1L, "x"), (2L, "x"), (3L, null), (4L, null)).toDF("id", "p"),
      partitionBy = Seq("p"))
    DeltaLog.compact(spark, pt)
    assertShape(pt, 1,
      """{"remove":{"path":"p=__HIVE_DEFAULT_PARTITION__/part-<stamp>.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"p=__HIVE_DEFAULT_PARTITION__/part-<stamp>.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"p=x/part-<stamp>.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"remove":{"path":"p=x/part-<stamp>.parquet","deletionTimestamp":0,"dataChange":false}}""",
      """{"add":{"path":"p=__HIVE_DEFAULT_PARTITION__/part-compact-<stamp>.parquet","partitionValues":{"p":null},"size":"<size>","modificationTime":"<ts>","dataChange":false,"stats":"{\"numRecords\":2,\"minValues\":{\"id\":3},\"maxValues\":{\"id\":4},\"nullCount\":{\"id\":0}}"}}""",
      """{"add":{"path":"p=x/part-compact-<stamp>.parquet","partitionValues":{"p":"x"},"size":"<size>","modificationTime":"<ts>","dataChange":false,"stats":"{\"numRecords\":2,\"minValues\":{\"id\":1},\"maxValues\":{\"id\":2},\"nullCount\":{\"id\":0}}"}}""")
  }

  test("shallowClone: absolute paths and a deletion vector re-anchored to the source") {
    import spark.implicits._
    val src = newTable()
    DeltaLog.append(spark, src, (1L to 3L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    DeltaLog.deleteWithDv(spark, src, col("id") === 2L)
    val dst = newTable() + "/clone"
    DeltaLog.shallowClone(spark, src, dst)
    assertShape(dst, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["appendOnly","deletionVectors","invariants"]}}""",
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"<table>/part-<stamp>.parquet","partitionValues":{},"size":"<size>","modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":3,\"minValues\":{\"id\":1,\"tag\":\"t1\"},\"maxValues\":{\"id\":3,\"tag\":\"t3\"},\"nullCount\":{\"id\":0,\"tag\":0}}","deletionVector":{"storageType":"p","pathOrInlineDv":"<table>/deletion_vector_<uuid>.bin","offset":1,"sizeInBytes":30,"cardinality":1}}}""")
  }

  test("renameColumn, widenColumnType and the writeCheckpointV2 upgrade") {
    import spark.implicits._
    val mapped = newTable()
    DeltaLog.append(spark, mapped, Seq((1L, "a")).toDF("id", "tag"), columnMapping = "name")
    DeltaLog.renameColumn(spark, mapped, "tag", "label")
    assertShape(mapped, 1,
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"delta.columnMapping.id\":1,\"delta.columnMapping.physicalName\":\"col-<uuid>\"}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{\"delta.columnMapping.id\":2,\"delta.columnMapping.physicalName\":\"col-<uuid>\"}}]}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""")
    DeltaLog.writeCheckpointV2(spark, mapped)
    assertShape(mapped, 2,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","v2Checkpoint"],"writerFeatures":["appendOnly","columnMapping","invariants","v2Checkpoint"]}}""")
    val plain = newTable()
    DeltaLog.append(spark, plain, Seq((1, "a")).toDF("n", "tag"))
    DeltaLog.widenColumnType(spark, plain, "n", LongType)
    assertShape(plain, 1,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["appendOnly","invariants","typeWidening"]}}""",
      """{"metaData":{"id":"graft-<uuid>","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"n\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"delta.typeChanges\":\"[{\\\"fromType\\\":\\\"integer\\\",\\\"toType\\\":\\\"long\\\"}]\"}},{\"name\":\"tag\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{}}}""")
  }
}

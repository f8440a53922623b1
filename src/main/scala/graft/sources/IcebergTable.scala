package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Reader/writer for Apache Iceberg's TABLE-METADATA format (v1–v3) —
  * the other open table format beside Delta, published at
  * iceberg.apache.org (spec: Table Metadata / Manifests / Manifest
  * Lists). The layout is `metadata/vN.metadata.json` → current
  * snapshot → a manifest-list AVRO file → manifest AVRO files → data
  * file paths; `version-hint.text` names N, and readers probe forward
  * past it (or list when it is missing or unreadable), as Hadoop
  * tables do. No connector jar is needed: the metadata JSON parses
  * with Jackson, the manifests with the avro-core/avro-mapred jars
  * Spark already ships, and the data files are ordinary parquet.
  *
  * Scope (guarded loudly, never silently wrong):
  *  - parquet data files; identity-partitioned tables read AND write
  *    (partition tuples in `data_file.partition`, Hive-style
  *    `data/col=value/` layout, file-level pruning from the manifests
  *    on read);
  *  - row-level deletes: v2 position and equality delete files and v3
  *    deletion vectors, honored on read and written by [[deleteRows]],
  *    [[deleteRowsEquality]] and [[deleteRowsDv]];
  *  - schema types: the primitive set the testdata needs (long, int,
  *    double, float, boolean, string, date, timestamp, decimal).
  *
  * Scale shape: manifests are METADATA-sized (Iceberg's own design
  * point — a 100 TB table is ~10^5 manifest entries split across
  * manifest files); this reader walks them on the driver exactly as
  * Iceberg's own planner does, then hands Spark one declared-schema
  * parquet scan over the live files. Every writer commits through one
  * path: data and delete files land through [[Landing.land]], their
  * manifest entries through [[entryRecord]], the manifest list (prior
  * manifests CARRIED FORWARD, so old snapshots stay readable = time
  * travel) through [[writeManifestList]], and `vN+1.metadata.json` plus
  * `version-hint.text` through [[commitMetadata]].
  */
object IcebergTable {

  private val mapper = new ObjectMapper()

  private val ManifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"partition_spec_id","type":"int"},
      |  {"name":"added_snapshot_id","type":["null","long"],"default":null}
      |]}""".stripMargin)

  /** v2 manifest-list rows add `content` (0 data / 1 deletes) and the
    * manifest's sequence numbers — what entry-level inheritance and
    * delete-applicability are gated on.
    */
  private val ManifestListSchemaV2: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"partition_spec_id","type":"int"},
      |  {"name":"content","type":"int"},
      |  {"name":"sequence_number","type":"long"},
      |  {"name":"min_sequence_number","type":"long"},
      |  {"name":"added_snapshot_id","type":["null","long"],"default":null}
      |]}""".stripMargin)

  /** Manifest-entry schema. The v1 shape is what appends write; the v2
    * shape (`v2`) adds the entry's explicit `sequence_number`, the file
    * `content` (0 data, 1 position deletes or deletion vectors, 2
    * equality deletes), `equality_ids` and the v3 deletion-vector
    * reference. Partitioned tables add the spec's `data_file.partition`
    * struct (r102) with one nullable field per identity-transformed
    * partition column.
    */
  private def entrySchema(partitionFields: Seq[(String, DataType)], v2: Boolean): Schema = {
    val pField =
      if (partitionFields.isEmpty) ""
      else {
        val fields = partitionFields.map { case (n, dt) =>
          require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"IcebergTable: partition column '$n' is not a valid Avro field name")
          val t = dt match {
            case IntegerType => "\"int\""
            case LongType => "\"long\""
            case StringType => "\"string\""
            case other => throw new IllegalArgumentException(
              s"IcebergTable: unsupported partition column type ${other.simpleString}")
          }
          s"""{"name":"$n","type":["null",$t],"default":null}"""
        }.mkString(",")
        s""",{"name":"partition","type":{"type":"record","name":"r102","fields":[$fields]}}"""
      }
    def v2Only(fields: String): String = if (v2) fields else ""
    val sequence = v2Only("""{"name":"sequence_number","type":["null","long"],"default":null},""")
    val content = v2Only("""{"name":"content","type":"int"},""")
    val deletes = v2Only(
      """{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
        |{"name":"referenced_data_file","type":["null","string"],"default":null},
        |{"name":"content_offset","type":["null","long"],"default":null},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null},""".stripMargin)
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int"},
         |  {"name":"snapshot_id","type":["null","long"],"default":null},$sequence
         |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[$content
         |    {"name":"file_path","type":"string"},
         |    {"name":"file_format","type":"string"},
         |    {"name":"record_count","type":"long"},
         |    {"name":"file_size_in_bytes","type":"long"},
         |    {"name":"first_row_id","type":["null","long"],"default":null},$deletes
         |    {"name":"lower_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"k126_v127","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
         |    {"name":"upper_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"k128_v129","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null}$pField
         |  ]}}
         |]}""".stripMargin)
  }

  // ------------------- column bounds (Iceberg single-value binary) --

  /** Iceberg's binary single-value serialization (spec Appendix D):
    * little-endian fixed-width numerics, UTF-8 strings. `v` is the
    * JVM-typed value of a partition tuple, or the Catalyst value of a
    * footer bound.
    */
  private def boundBytes(dt: DataType, v: Any): Array[Byte] = {
    def le(n: Long, w: Int): Array[Byte] =
      (0 until w).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    (dt, v) match {
      case (IntegerType, x: Int) => le(x.toLong, 4)
      case (DateType, x: Int) => le(x.toLong, 4) // epoch days
      case (LongType, x: Long) => le(x, 8)
      case (TimestampType, x: Long) => le(x, 8) // epoch micros
      case (FloatType, x: Float) => le(java.lang.Float.floatToIntBits(x).toLong, 4)
      case (DoubleType, x: Double) => le(java.lang.Double.doubleToLongBits(x), 8)
      case (BooleanType, x: Boolean) => Array(if (x) 1.toByte else 0.toByte)
      case (StringType, x: String) => x.getBytes("UTF-8")
      case (StringType, x: org.apache.spark.unsafe.types.UTF8String) => x.getBytes
      case other => throw new IllegalArgumentException(
        s"IcebergTable: no single-value serialization for $other")
    }
  }

  private def boundValue(dt: DataType, b: Array[Byte]): Any = {
    def le(w: Int): Long = {
      var n = 0L
      (0 until w).foreach(i => n |= (b(i) & 0xffL) << (8 * i))
      n
    }
    dt match {
      case IntegerType | DateType => le(4).toInt
      // type promotion (int -> long): bounds written pre-widening stay
      // 4-byte int encodings — decode by payload width and promote
      case LongType | TimestampType => if (b.length == 4) le(4).toInt.toLong else le(8)
      case FloatType => java.lang.Float.intBitsToFloat(le(4).toInt)
      case DoubleType =>
        if (b.length == 4) java.lang.Float.intBitsToFloat(le(4).toInt).toDouble
        else java.lang.Double.longBitsToDouble(le(8))
      case BooleanType => b(0) != 0
      case StringType => new String(b, "UTF-8")
      case other => throw new IllegalArgumentException(
        s"IcebergTable: no single-value deserialization for $other")
    }
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Driver-side twin of [[DeltaLog.normalizedFileId]]: the exact
    * string the scan column produces for this file — scheme-less and
    * percent-ENCODED. Spark's `_metadata.file_path` is the
    * URL-encoded `Path.toUri.toString` while manifests store the
    * DECODED `Path.toString`, so keying by the decoded
    * `toUri.getPath` makes any path with a space/`#`/non-ASCII byte
    * (e.g. a string partition value) silently never match — DV
    * tombstones then fail open and deleted rows resurrect.
    */
  private def scanFileId(p: String): String = {
    val u = new Path(p).toUri
    Option(u.getRawPath).getOrElse(u.getPath)
  }

  /** What [[DeltaLog.normalizedFileId]] yields on a manifest-STORED
    * path string read back as a COLUMN (position-delete files carry
    * the manifest's decoded string verbatim, so the codegen'd scheme
    * strip leaves it decoded) — the dictionary key that remaps
    * stored strings onto [[scanFileId]] identities.
    */
  private def storedFileId(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
      .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:", "")

  /** (stored-normalized -> scan identity) dictionary rows for a set
    * of data files, broadcast-joined against position-delete files'
    * `file_path` column so tombstones land on the scan identity even
    * when the stored path encodes differently. The scan identity
    * itself rides along as a key so delete files written with
    * already-encoded URIs still translate.
    */
  private def fidDictRows(paths: Seq[String]): Seq[(String, String)] =
    paths.flatMap { p =>
      val fid = scanFileId(p)
      Seq(storedFileId(p) -> fid, fid -> fid).distinct
    }.distinct

  // ---------- Iceberg schema JSON <-> Spark StructType ----------

  private def toIcebergType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"IcebergTable: unsupported column type ${other.simpleString}")
  }

  private val IcebergDecimal = """decimal\((\d+),\s*(\d+)\)""".r

  private def fromIcebergType(t: String): DataType = t match {
    case "long" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case "string" => StringType
    case "date" => DateType
    case "timestamp" | "timestamptz" => TimestampType
    case IcebergDecimal(p, sc) => DecimalType(p.toInt, sc.toInt)
    case other => throw new IllegalArgumentException(
      s"IcebergTable: unsupported Iceberg type $other")
  }

  /** Parse a v3 field default (the spec's JSON single-value
    * serialization) into a Spark literal — or refuse LOUDLY for a
    * type/shape this reader cannot represent: silently null-filling
    * where the table declares a default mis-reads every pre-column
    * row (iceberg.apache.org/spec, "Default values").
    */
  private def parseDefault(name: String, dt: DataType, v: JsonNode): Any = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"IcebergTable: column '$name' declares default $v this reader cannot " +
        s"represent ($why) — refusing rather than mis-reading pre-column rows")
    dt match {
      case LongType if v.isNumber && v.canConvertToLong => v.asLong()
      case IntegerType if v.isNumber && v.canConvertToInt => v.asInt()
      case DoubleType if v.isNumber => v.asDouble()
      case FloatType if v.isNumber => v.asDouble().toFloat
      case BooleanType if v.isBoolean => v.asBoolean()
      case StringType if v.isTextual => v.asText()
      case DateType if v.isTextual =>
        try java.sql.Date.valueOf(java.time.LocalDate.parse(v.asText()))
        catch { case _: java.time.format.DateTimeParseException =>
          fail("unparseable date literal") }
      case TimestampType if v.isTextual =>
        val t = v.asText()
        try java.sql.Timestamp.from(java.time.OffsetDateTime.parse(t).toInstant)
        catch { case _: java.time.format.DateTimeParseException =>
          try java.sql.Timestamp.from(
            java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC))
          catch { case _: java.time.format.DateTimeParseException =>
            fail("unparseable timestamp literal") } }
      case _ => fail(s"type ${dt.simpleString} with that JSON shape")
    }
  }

  /** The spec's JSON single-value form of a default literal — the
    * write-side twin of [[parseDefault]] ([[addColumn]] emits it).
    */
  private def defaultJsonNode(dt: DataType, v: Any): JsonNode = {
    val nf = mapper.getNodeFactory
    (dt, v) match {
      case (LongType, x: Long) => nf.numberNode(x)
      case (IntegerType, x: Int) => nf.numberNode(x)
      case (DoubleType, x: Double) => nf.numberNode(x)
      case (FloatType, x: Float) => nf.numberNode(x)
      case (BooleanType, x: Boolean) => nf.booleanNode(x)
      case (StringType, x: String) => nf.textNode(x)
      case (DateType, x: java.sql.Date) => nf.textNode(x.toLocalDate.toString)
      case (TimestampType, x: java.sql.Timestamp) => nf.textNode(
        x.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString)
      case _ => throw new IllegalArgumentException(
        s"IcebergTable: cannot serialize default $v for ${dt.simpleString} — " +
          "supported literal kinds: long/int/double/float/boolean/string/" +
          "java.sql.Date/java.sql.Timestamp")
    }
  }

  /** The current schema's `initial-default`/`write-default` nodes
    * keyed by FIELD ID — re-attached whenever a schema json is
    * rebuilt ([[schemaJsonOf]] writes only id/name/required/type, so
    * without the carry any append or later evolution would silently
    * strip declared defaults and every pre-column row would flip from
    * the declared literal to null).
    */
  private def carriedDefaults(meta: JsonNode): Map[Int, Seq[(String, JsonNode)]] =
    elements(currentSchemaNode(meta).get("fields")).flatMap { f =>
      val keep = Seq("initial-default", "write-default")
        .filter(k => f.has(k) && !f.get(k).isNull).map(k => k -> f.get(k))
      if (keep.isEmpty) None else Some(f.get("id").asInt() -> keep)
    }.toMap

  /** Decorate a rebuilt schema json with carried defaults (by field
    * id) plus any NEW defaults this operation declares (by name, both
    * spec keys — the add-column rule makes the declared literal the
    * backfill AND the omitted-write value).
    */
  private def attachDefaults(
      node: ObjectNode,
      carried: Map[Int, Seq[(String, JsonNode)]],
      fresh: Map[String, (DataType, Any)] = Map.empty): Unit = {
    val arr = node.withArray[ArrayNode]("fields")
    (0 until arr.size()).map(arr.get).foreach { fn =>
      val ob = fn.asInstanceOf[ObjectNode]
      carried.get(ob.get("id").asInt()).foreach(_.foreach { case (k, v) =>
        ob.set[ObjectNode](k, v) })
      fresh.get(ob.get("name").asText()).foreach { case (dt, v) =>
        ob.set[ObjectNode](
          "initial-default", defaultJsonNode(dt, v))
        ob.set[ObjectNode](
          "write-default", defaultJsonNode(dt, v))
      }
    }
  }

  /** One schema field with its STABLE Iceberg field id — the identity
    * everything else binds to (parquet footers, equality-delete
    * `equality_ids`, partition-spec `source-id`). Names are labels;
    * ids are the truth, which is what makes rename/drop/widen
    * metadata-only operations.
    */
  final case class IceField(id: Int, name: String, dataType: DataType)

  private def schemaJson(schema: StructType): ObjectNode =
    schemaJsonOf(schema.fields.zipWithIndex.map { case (f, i) =>
      IceField(i + 1, f.name, f.dataType) }.toSeq)

  private def schemaJsonOf(fields: Seq[IceField]): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("type", "struct")
    val arr = node.putArray("fields")
    fields.foreach { f =>
      val fn = arr.addObject()
      fn.put("id", f.id)
      fn.put("name", f.name)
      fn.put("required", false)
      fn.put("type", toIcebergType(f.dataType))
    }
    node
  }

  private def parseFields(node: JsonNode): Seq[IceField] = {
    require(node != null && node.get("type") != null &&
      node.get("type").asText() == "struct", "IcebergTable: malformed schema node")
    val fields = node.get("fields")
    (0 until fields.size()).map { i =>
      val f = fields.get(i)
      require(f.get("type").isTextual,
        s"IcebergTable: non-primitive column type ${f.get("type")} not supported")
      IceField(f.get("id").asInt(i + 1), f.get("name").asText(),
        fromIcebergType(f.get("type").asText()))
    }
  }

  /** The parsed StructType. With `withIds` (ONLY for tables whose
    * files carry footer field ids — [[Snapshot.fieldIdsWritten]]) each
    * field carries `parquet.field.id` metadata for Spark's by-id
    * resolution. Legacy tables must parse WITHOUT ids: once the
    * session-wide field-id read flag is on (any id-mode read sets it,
    * sticky by Spark's scan-build-time design), a requested schema
    * with ids over footer-id-less files THROWS — attaching ids
    * unconditionally made a legacy table unreadable after any id-mode
    * read in the same session.
    */
  private def parseSchema(node: JsonNode, withIds: Boolean = false): StructType =
    StructType(parseFields(node).map { f =>
      StructField(f.name, f.dataType, nullable = true,
        if (withIds)
          new MetadataBuilder().putLong("parquet.field.id", f.id.toLong).build()
        else Metadata.empty)
    })

  // ---------- metadata location ----------

  private def metadataDir(tablePath: String) = new Path(tablePath, "metadata")

  private def metadataFile(dir: Path, version: Long) = new Path(dir, s"v$version.metadata.json")

  private val MetadataFile = """v(\d+)\.metadata\.json""".r

  private def versionHint(dir: Path) = new Path(dir, "version-hint.text")

  /** A table's current metadata version and its JSON. */
  private[sources] final case class Head(version: Long, meta: ObjectNode) {
    def formatVersion: Int = meta.get("format-version").asInt()
    def nextSequence: Long =
      (if (meta.has("last-sequence-number")) meta.get("last-sequence-number").asLong() else 0L) + 1
  }

  /** The current metadata, or None when the table has no
    * `vN.metadata.json` yet. The version comes from `version-hint.text`
    * when it names an existing file, else from listing; either way the
    * reader then probes forward while `v(N+1).metadata.json` exists
    * (the Hadoop-table `findVersion` rule), so a commit that crashed
    * before repointing the hint, or a missing, empty or unparsable
    * hint, never hides or wedges a version.
    */
  private def headOption(fs: FileSystem, tablePath: String): Option[Head] = {
    val dir = metadataDir(tablePath)
    if (!fs.exists(dir)) return None
    val hinted =
      try {
        val in = fs.open(versionHint(dir))
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
        finally in.close()
      } catch { case _: java.io.IOException | _: NumberFormatException => None }
    hinted.filter(v => fs.exists(metadataFile(dir, v))).orElse(
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case MetadataFile(v) => v.toLong }.maxOption
    ).map { v0 =>
      val v = Iterator.iterate(v0)(_ + 1).dropWhile(v => fs.exists(metadataFile(dir, v + 1)))
        .next()
      Head(v, readJson(fs, metadataFile(dir, v)).asInstanceOf[ObjectNode])
    }
  }

  private[sources] def head(fs: FileSystem, tablePath: String): Head = {
    require(fs.exists(metadataDir(tablePath)),
      s"not an Iceberg table: no metadata/ under $tablePath")
    headOption(fs, tablePath).getOrElse(throw new IllegalArgumentException(
      s"IcebergTable: no vN.metadata.json under ${metadataDir(tablePath)}"))
  }

  /** The one Iceberg commit: land `newMeta` as `v(N+1).metadata.json`
    * over `prev` (None creates the table) and repoint
    * `version-hint.text`. With `snapshot` it first appends the
    * snapshot node, under the table's current schema id and last
    * sequence number, and makes it current. Both files land through a
    * temp file ([[Landing.landFile]]): the metadata file put-if-absent,
    * so a writer that finds v(N+1) already there raises
    * FileAlreadyExistsException and leaves it and the hint untouched
    * (atomic on the local filesystem and where rename refuses an
    * existing destination; see landFile), and the hint by replacement
    * (readers that find it missing or stale list or probe past it).
    */
  private[sources] def commitMetadata(
      fs: FileSystem, tablePath: String, prev: Option[Head], newMeta: ObjectNode,
      snapshot: Option[NewSnapshot] = None): Unit = {
    val now = snapshot.fold(System.currentTimeMillis())(_.timestampMs)
    newMeta.put("last-updated-ms", now)
    snapshot.foreach { s =>
      newMeta.put("current-snapshot-id", s.id)
      val sn = newMeta.withArray[ArrayNode]("snapshots").addObject()
      sn.put("snapshot-id", s.id)
      if (newMeta.has("last-sequence-number"))
        sn.put("sequence-number", newMeta.get("last-sequence-number").asLong())
      sn.put("timestamp-ms", now)
      if (newMeta.has("current-schema-id"))
        sn.put("schema-id", newMeta.get("current-schema-id").asInt())
      s.firstRowId.foreach(sn.put("first-row-id", _))
      sn.put("manifest-list", s.manifestList)
      val sm = sn.putObject("summary")
      sm.put("operation", s.operation)
      s.summary.foreach { case (k, v) => sm.put(k, v) }
    }
    val dir = metadataDir(tablePath)
    val version = prev.fold(0L)(_.version) + 1
    val target = metadataFile(dir, version)
    if (!Landing.landFile(fs, target,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(newMeta), overwrite = false))
      throw new FileAlreadyExistsException(
        s"IcebergTable: $target already exists — a concurrent writer committed version $version")
    Landing.landFile(fs, versionHint(dir), version.toString.getBytes("UTF-8"), overwrite = true)
  }

  private def newSnapshotId(): Long =
    math.abs(java.util.UUID.randomUUID().getMostSignificantBits)

  /** A snapshot a commit appends: its id, manifest list, summary
    * (operation first), on row-lineage tables its first row id, and
    * the clock its commit stamps as `timestamp-ms` and `last-updated-ms`.
    */
  private[sources] final case class NewSnapshot(
      id: Long, manifestList: String, operation: String,
      summary: Map[String, String] = Map.empty, firstRowId: Option[Long] = None,
      timestampMs: Long = System.currentTimeMillis())

  private def readJson(fs: FileSystem, p: Path): JsonNode = {
    val in = fs.open(p)
    try mapper.readTree(in) finally in.close()
  }

  private def readAvro(fs: FileSystem, p: Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[GenericRecord] = {
    val input = new org.apache.avro.mapred.FsInput(p, conf)
    val reader = new DataFileReader[GenericRecord](input, new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.result()
    } finally reader.close()
  }

  /** An optional avro field: None when the record's schema lacks it
    * or its value is null.
    */
  private def field(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None else Option(r.get(name))

  /** A JSON array's elements; none for a missing or non-array node. */
  private def elements(n: JsonNode): Seq[JsonNode] =
    if (n == null || !n.isArray) Seq.empty else (0 until n.size()).map(n.get)

  private def snapshotsOf(meta: JsonNode): Seq[JsonNode] = elements(meta.get("snapshots"))

  private def snapshotNode(meta: JsonNode, id: Long): Option[JsonNode] =
    snapshotsOf(meta).find(_.get("snapshot-id").asLong() == id)

  /** One manifest-list row. */
  private final case class ManifestRef(
      path: String, length: Long, content: Int, sequence: Long, minSequence: Long,
      addedSnapshotId: Long, specId: Int = 0)

  /** The manifests a snapshot's list names. Fields a v1 list lacks
    * read as 0 (the spec's upgrade rule), and a missing
    * `added_snapshot_id` as the snapshot itself.
    */
  private def manifestRefs(
      fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      snap: JsonNode): Seq[ManifestRef] = {
    val sid = snap.get("snapshot-id").asLong()
    readAvro(fs, new Path(snap.get("manifest-list").asText()), conf).map { r =>
      def num(n: String): Long = field(r, n).fold(0L)(_.asInstanceOf[Number].longValue)
      ManifestRef(r.get("manifest_path").toString, num("manifest_length"),
        num("content").toInt, num("sequence_number"), num("min_sequence_number"),
        field(r, "added_snapshot_id").fold(sid)(_.asInstanceOf[Long]),
        num("partition_spec_id").toInt)
    }
  }

  /** The current snapshot's manifests; none before the first snapshot. */
  private def currentManifests(
      fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      meta: JsonNode): Seq[ManifestRef] =
    Option(meta.get("current-snapshot-id")).flatMap(id => snapshotNode(meta, id.asLong()))
      .toSeq.flatMap(manifestRefs(fs, conf, _))

  /** The snapshot's live data-file paths + declared schema.
    * `filePartitions` is aligned with `files`: each file's identity
    * partition tuple from the manifest's `data_file.partition` record
    * (stringified — the pruning comparison key), empty for
    * unpartitioned tables or manifests written without the field.
    */
  /** One live data file with its v2 data sequence number (0 for v1 /
    * upgraded files), its identity partition tuple, and the manifest's
    * declared size/row count (what compaction selection and the
    * metadata tables run on — never a data-file read).
    */
  final case class DataFileRef(
      path: String, sequence: Long, partition: Map[String, String],
      sizeBytes: Long = 0L, records: Long = 0L,
      bounds: Map[String, (Any, Any)] = Map.empty,
      firstRowId: Option[Long] = None)

  /** One delete file with the sequence number that gates which data
    * files it applies to: POSITION deletes (`equalityColumns` empty)
    * apply when `deleteSeq >= dataSeq`, EQUALITY deletes (the named
    * columns, resolved from the manifest's `equality_ids`) when
    * `deleteSeq > dataSeq` — the spec's strict/inclusive asymmetry.
    * `partition` is the delete entry's identity partition tuple: per
    * the spec a delete file written under a partitioned spec applies
    * ONLY to data files in the SAME partition; an empty tuple is a
    * GLOBAL delete (unpartitioned spec) and applies table-wide.
    */
  final case class DeleteFileRef(
      path: String, sequence: Long, records: Long = 0L,
      equalityColumns: Seq[String] = Seq.empty,
      partition: Map[String, String] = Map.empty,
      sizeBytes: Long = 0L,
      // v3 DELETION VECTORS: a puffin blob scoped to exactly ONE data
      // file (`referenced_data_file`), located by `content_offset` /
      // `content_size_in_bytes` — set together or not at all
      referencedDataFile: Option[String] = None,
      contentOffset: Long = 0L,
      contentSize: Long = 0L) {
    def isDv: Boolean = referencedDataFile.isDefined
  }

  final case class Snapshot(
      snapshotId: Long, files: Seq[String], schema: StructType,
      partitionColumns: Seq[String] = Seq.empty,
      filePartitions: Seq[Map[String, String]] = Seq.empty,
      dataRefs: Seq[DataFileRef] = Seq.empty,
      deleteFiles: Seq[DeleteFileRef] = Seq.empty,
      formatVersion: Int = 1,
      properties: Map[String, String] = Map.empty,
      defaults: Seq[(String, Int, Any)] = Seq.empty,
      nextRowId: Option[Long] = None) {
    /** Whether every data/delete file of this table carries parquet
      * field ids (set at creation by this writer) — the gate for
      * by-id column resolution and metadata-only schema evolution.
      */
    def fieldIdsWritten: Boolean = properties.get(FieldIdsProperty).contains("true")
  }

  /** Table property marking that all files carry parquet field ids. */
  val FieldIdsProperty = "graft.parquet.field-ids"

  private def propertiesOf(meta: JsonNode): Map[String, String] = {
    val p = meta.get("properties")
    if (p == null || !p.isObject) Map.empty
    else {
      val it = p.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
  }

  private def specColumnNames(meta: JsonNode): Seq[String] = {
    // modern pair first (the only shape v2 requires), legacy fallback
    val specs = elements(meta.get("partition-specs"))
    val wantId = if (meta.has("default-spec-id")) meta.get("default-spec-id").asInt() else 0
    (if (specs.nonEmpty)
      specs.find(_.get("spec-id").asInt() == wantId).fold(Seq.empty[JsonNode])(s =>
        elements(s.get("fields")))
    else elements(meta.get("partition-spec"))).map(_.get("name").asText())
  }

  /** The current schema NODE: v2's `schemas` + `current-schema-id`
    * pair when present, v1's inline `schema` otherwise.
    */
  private def currentSchemaNode(meta: JsonNode): JsonNode = {
    val schemas = elements(meta.get("schemas"))
    if (schemas.nonEmpty) {
      val wantId =
        if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt() else 0
      schemas.find(s => !s.has("schema-id") || s.get("schema-id").asInt() == wantId)
        .getOrElse(throw new IllegalArgumentException(
          s"IcebergTable: current-schema-id $wantId not found in schemas"))
    } else meta.get("schema")
  }

  private def currentSchema(meta: JsonNode): StructType =
    parseSchema(currentSchemaNode(meta))

  /** field id -> column name, from the current schema node (equality
    * delete manifests reference columns by FIELD ID).
    */
  private def fieldIdToName(meta: JsonNode): Map[Int, String] =
    elements(currentSchemaNode(meta).get("fields"))
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap

  def snapshot(
      spark: SparkSession, tablePath: String, snapshotId: Option[Long] = None): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, new Path(tablePath))
    val meta = head(fs, tablePath).meta
    val fv = meta.get("format-version").asInt()
    require(fv >= 1 && fv <= 3,
      s"IcebergTable: format-version $fv not supported (v1-v3 only)")
    // v3 COLUMN DEFAULTS are implemented on read (parsed below from
    // the snapshot's schema node, surfaced by [[scanData]]); defaults
    // whose type or JSON shape this reader cannot represent refuse
    // LOUDLY in [[parseDefault]] rather than silently null-filling
    // where the table declares a value. (Row lineage fields —
    // next-row-id, first_row_id — are writer bookkeeping and do not
    // change row content; they are intentionally ignored on read.)
    // partitioned tables ARE readable correctly: unlike Delta (where
    // partition values live only in the log), Iceberg data files carry
    // COMPLETE rows — the partition spec affects file placement and
    // pruning, never row content. Identity partition tuples are read
    // from data_file.partition for FILE-level pruning in [[read]].
    val pcols = specColumnNames(meta)
    require(snapshotsOf(meta).nonEmpty, "IcebergTable: no snapshots")
    val wantId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snap = snapshotNode(meta, wantId)
      .getOrElse(throw new IllegalArgumentException(
        s"IcebergTable: snapshot $wantId not found (expired?)"))
    // TIME TRAVEL serves the snapshot's OWN schema (its `schema-id`
    // into the schemas array, per spec) — the shape current WHEN THE
    // SNAPSHOT COMMITTED. A CURRENT read always uses the CURRENT
    // schema: metadata-only evolution (rename/drop/widen) publishes no
    // snapshot, so the newest snapshot node intentionally predates it.
    // Snapshots without the field (older writers) fall back to current.
    val schemaNode = {
      val fallback = currentSchemaNode(meta)
      if (snapshotId.isEmpty || !snap.has("schema-id")) fallback
      else {
        val sid = snap.get("schema-id").asInt()
        elements(meta.get("schemas"))
          .find(x => x.has("schema-id") && x.get("schema-id").asInt() == sid)
          .getOrElse(fallback)
      }
    }
    val schema = parseSchema(schemaNode,
      withIds = propertiesOf(meta).get(FieldIdsProperty).contains("true"))
    // v3 `initial-default` per field (name, field id, Spark literal):
    // the value for rows written BEFORE the field was added. Parsed
    // from the SAME schema node the scan reads under, so time travel
    // serves the defaults current when the snapshot committed.
    // `write-default` only affects writers that OMIT the column —
    // this writer always brings full rows, so it never activates and
    // is ignored on read (it does not change scan semantics).
    val defaults: Seq[(String, Int, Any)] =
      elements(schemaNode.get("fields")).flatMap { f =>
        val d = f.get("initial-default")
        if (d == null || d.isNull) None
        else {
          val name = f.get("name").asText()
          Some((name, f.get("id").asInt(),
            parseDefault(name, fromIcebergType(f.get("type").asText()), d)))
        }
      }
    // equality-delete ids resolve against the SNAPSHOT's schema, the
    // same one the scan will read under — names line up by field id
    val idToType: Map[Int, (String, DataType)] =
      parseFields(schemaNode).map(f => f.id -> (f.name, f.dataType)).toMap
    val idToName: Map[Int, String] = idToType.map { case (k, (n, _)) => k -> n }
    // per-entry column bounds: k/v arrays of (field id, single-value
    // binary); ids outside the snapshot schema are ignored (a bound on
    // a since-dropped column prunes nothing)
    def boundsOf(df: GenericRecord, field: String): Map[String, Any] =
      (if (df.getSchema.getField(field) == null) None else Option(df.get(field))) match {
        case Some(l: java.util.List[_]) =>
          val b = Map.newBuilder[String, Any]
          l.asInstanceOf[java.util.List[GenericRecord]].forEach { kv =>
            val id = kv.get("key").asInstanceOf[Int]
            idToType.get(id).foreach { case (name, dt) =>
              val buf = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
              val bytes = new Array[Byte](buf.remaining())
              buf.duplicate().get(bytes)
              b += name -> boundValue(dt, bytes)
            }
          }
          b.result()
        case _ => Map.empty
      }
    // (path, status, tuple, dataSeq, size, recs, bounds) / (path, status, deleteSeq, recs, eqCols)
    val dataEntries = Seq.newBuilder[
      (String, Int, Map[String, String], Long, Long, Long, Map[String, (Any, Any)],
        Option[Long])]
    val deleteEntries =
      Seq.newBuilder[(String, Int, Long, Long, Seq[String], Map[String, String], Long)]
    // v3 deletion vectors: (puffin path, status, seq, recs, tuple,
    // size, referenced file, offset, length) — identity is the BLOB
    // (path, offset), not the puffin file (one file packs many blobs)
    val dvEntries = Seq.newBuilder[
      (String, Int, Long, Long, Map[String, String], Long, String, Long, Long)]
    manifestRefs(fs, conf, snap).foreach { m =>
      readAvro(fs, new Path(m.path), conf).foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val entrySeq: Long =
          field(e, "sequence_number").fold(m.sequence)(_.asInstanceOf[Long])
        // v2 file content: 0 data, 1 position deletes, 2 EQUALITY deletes
        val fContent: Int = field(df, "content").map(_.asInstanceOf[Int])
          .getOrElse(if (m.content == 1) 1 else 0)
        // v3 deletion vectors live in PUFFIN files; everything else is
        // parquet (the only data format this reader implements)
        val isPuffin = fContent == 1 &&
          field(df, "file_format").exists(_.toString.equalsIgnoreCase("puffin"))
        if (status != 2 && !isPuffin) {
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("parquet"),
            s"IcebergTable: data file format $fmt not supported")
        }
        val path = df.get("file_path").toString
        // identity partition tuple — read for DATA and DELETE entries
        // alike: a delete file written under a partitioned spec is
        // scoped to its partition (the r13 advice: dropping a delete
        // entry's tuple over-applies equality deletes table-wide)
        val tuple: Map[String, String] =
          if (df.getSchema.getField("partition") == null) Map.empty
          else df.get("partition") match {
            case null => Map.empty
            case r: GenericRecord =>
              r.getSchema.getFields.toArray.map(_.asInstanceOf[Schema.Field].name())
                .flatMap(n => Option(r.get(n)).map(v => n -> v.toString)).toMap
            case _ => Map.empty
          }
        if (fContent == 2) {
          // equality delete: tombstones by COLUMN VALUES, columns named
          // via field ids; an id we can't resolve would silently
          // resurrect rows — refuse instead
          val ids: Seq[Int] = field(df, "equality_ids") match {
            case Some(l: java.util.List[_]) =>
              import scala.jdk.CollectionConverters._
              l.asScala.toSeq.map(_.asInstanceOf[Number].intValue)
            case _ => Seq.empty
          }
          require(ids.nonEmpty,
            s"IcebergTable: equality delete file $path carries no equality_ids")
          val cols = ids.map(id => idToName.getOrElse(id,
            throw new IllegalArgumentException(
              s"IcebergTable: equality delete field id $id not in the current schema")))
          val recs = field(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L)
          val dsz = field(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
          deleteEntries += ((path, status, entrySeq, recs, cols, tuple, dsz))
        } else if (fContent == 1) {
          val recs = field(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L)
          val dsz = field(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
          // a v3 DELETION VECTOR declares its single referenced data
          // file and its blob location — all three fields or none
          val refFile = field(df, "referenced_data_file").map(_.toString)
          val (cOff, cSize) = (
            field(df, "content_offset").map(_.asInstanceOf[Long]),
            field(df, "content_size_in_bytes").map(_.asInstanceOf[Long]))
          if (isPuffin) {
            require(refFile.isDefined && cOff.isDefined && cSize.isDefined,
              s"IcebergTable: puffin deletion vector $path lacks " +
                "referenced_data_file/content_offset/content_size_in_bytes")
            dvEntries += ((path, status, entrySeq, recs, tuple, dsz,
              refFile.get, cOff.get, cSize.get))
          } else
            deleteEntries += ((path, status, entrySeq, recs, Seq.empty, tuple, dsz))
        } else {
          val size =
            field(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
          val recs = field(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L)
          val lo = boundsOf(df, "lower_bounds")
          val hi = boundsOf(df, "upper_bounds")
          val bounds = lo.keySet.intersect(hi.keySet)
            .map(k => k -> ((lo(k), hi(k)))).toMap
          val firstRowId = field(df, "first_row_id").map(_.asInstanceOf[Long])
          dataEntries += ((path, status, tuple, entrySeq, size, recs, bounds, firstRowId))
        }
      }
    }
    // DELETED entries win over adds anywhere in the snapshot's list —
    // defensive toward lists that still carry the pre-delete manifest
    val dataSeq = dataEntries.result()
    val delSeq = deleteEntries.result()
    val deadData = dataSeq.collect { case (p, 2, _, _, _, _, _, _) => p }.toSet
    val live = dataSeq.collect {
      case (p, s, t, q, size, recs, bnds, frid) if s != 2 && !deadData(p) =>
        (p, t, q, size, recs, bnds, frid)
    }.distinctBy(_._1)
    val deadDel = delSeq.collect { case (p, 2, _, _, _, _, _) => p }.toSet
    val liveDel = delSeq.collect {
      case (p, s, q, recs, eqCols, t, dsz) if s != 2 && !deadDel(p) =>
        DeleteFileRef(p, q, recs, eqCols, t, dsz)
    }.distinctBy(_.path)
    // deletion vectors reconcile by BLOB identity (path, offset)
    val dvSeqd = dvEntries.result()
    val deadDv = dvSeqd.collect { case (p, 2, _, _, _, _, _, off, _) => (p, off) }.toSet
    val liveDv = dvSeqd.collect {
      case (p, s, q, recs, t, dsz, ref, off, len) if s != 2 && !deadDv((p, off)) =>
        DeleteFileRef(p, q, recs, Seq.empty, t, dsz, Some(ref), off, len)
    }.distinctBy(d => (d.path, d.contentOffset))
    // v3 bans parquet position-delete files (DVs replace them); a
    // reader that silently applied both would mask an invalid table
    require(fv != 3 || !liveDel.exists(_.equalityColumns.isEmpty),
      "IcebergTable: format-version 3 with live parquet position-delete files — " +
        "v3 requires deletion vectors; rewrite the deletes before upgrading")
    require(liveDv.groupBy(_.referencedDataFile.get).forall(_._2.size == 1),
      "IcebergTable: multiple live deletion vectors reference one data file — " +
        "v3 requires at most one DV per file")
    Snapshot(wantId, live.map(_._1), schema, pcols, live.map(_._2),
      live.map { case (p, t, q, size, recs, bnds, frid) =>
        DataFileRef(p, q, t, size, recs, bnds, frid) },
      liveDel ++ liveDv, fv, propertiesOf(meta), defaults,
      if (meta.has("next-row-id")) Some(meta.get("next-row-id").asLong()) else None)
  }

  /** Resolve a wall-clock instant to the snapshot current AT that
    * time: the latest snapshot whose `timestamp-ms` is <= the asked
    * instant (Iceberg's own AS OF TIMESTAMP rule).
    */
  def snapshotIdAtTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): Long = {
    val fs = fsOf(spark, new Path(tablePath))
    val snaps = snapshotsOf(head(fs, tablePath).meta)
    require(snaps.nonEmpty, "IcebergTable: no snapshots")
    val stamped = snaps.map(s => (s.get("snapshot-id").asLong(), s.get("timestamp-ms").asLong()))
      .sortBy(_._2)
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"IcebergTable: no snapshot at or before timestamp $tsMillis " +
        s"(earliest is at ${stamped.head._2})")
    eligible.last._1
  }

  def readAsOfTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): DataFrame =
    read(spark, tablePath, Some(snapshotIdAtTimestamp(spark, tablePath, tsMillis)))

  /** Per-file presence of the defaulted columns, probed from parquet
    * FOOTERS in executor tasks (by field id for id-capable tables, by
    * name otherwise) — one `Set[String]` per file returns to the
    * driver, metadata-sized. The spec scopes `initial-default` to
    * rows "written before the field was added", i.e. whole files that
    * LACK the field; stored values (including stored NULLs) in files
    * that carry it are the truth and must not be coalesced over.
    */
  private def probeFieldPresence(spark: SparkSession, paths: Seq[String],
      fields: Seq[(String, Int)], byId: Boolean): Map[String, Set[String]] = {
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    spark.sparkContext.parallelize(paths, math.max(1, math.min(paths.size, 64)))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(p), confB.value.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val msg = try r.getFileMetaData.getSchema finally r.close()
        import scala.jdk.CollectionConverters._
        val present = fields.filter { case (n, id) =>
          if (byId)
            msg.getFields.asScala.exists(t => t.getId != null && t.getId.intValue == id)
          else msg.containsField(n)
        }.map(_._1).toSet
        (p, present)
      }.collect().toMap
  }

  /** A data file's bounds for a scan column, as Catalyst values: the
    * identity-partition value of an integral or string column as
    * (v, v), else the manifest's `lower_bounds`/`upper_bounds`.
    */
  private def fileBounds(r: DataFileRef): (String, DataType) => Option[(Any, Any)] =
    (column, dt) => dt match {
      case IntegerType | LongType | StringType if r.partition.contains(column) =>
        LogFileIndex.textBound(r.partition(column), dt).map(v => (v, v))
      case StringType => r.bounds.get(column).collect { case (lo: String, hi: String) =>
        (org.apache.spark.unsafe.types.UTF8String.fromString(lo),
          org.apache.spark.unsafe.types.UTF8String.fromString(hi))
      }
      case IntegerType | LongType | DateType | TimestampType | FloatType | DoubleType |
          BooleanType => r.bounds.get(column)
      case _ => None
    }

  /** The declared-schema scan over data files, each group one scan
    * over a [[LogFileIndex]] of the manifests' paths and bounds (no
    * listing; the data files carry their partition columns, so the
    * index has none and a partition filter skips by [[fileBounds]]),
    * surfacing v3 `initial-default` values: files written BEFORE a
    * defaulted column existed read the declared literal in its place
    * (grouped by footer presence — [[probeFieldPresence]]), files that
    * carry the column read their stored values. Tables without
    * defaults (every v1/v2 table) take a single scan.
    * With `withFidPos` each row carries the scan-side file identity
    * and row index — requested INSIDE each group scan because
    * `_metadata` only resolves directly on a file source, not through
    * the union the default fill builds.
    */
  private def scanData(spark: SparkSession, snap: Snapshot,
      paths: Seq[String], withFidPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val refs = snap.dataRefs.map(r => r.path -> r).toMap
    def one(group: Seq[String]): DataFrame = {
      val base = LogFileIndex.scan(spark,
        group.map(p => refs.get(p).fold(LogFile(p))(r => LogFile(p, bounds = fileBounds(r)))),
        new StructType(), Some(snap.schema))
      if (withFidPos)
        base.select(col("*"),
          DeltaLog.normalizedFileId(col("_metadata.file_path")).as("__fid"),
          col("_metadata.row_index").as("__pos"))
      else base
    }
    if (snap.defaults.isEmpty || paths.isEmpty) return one(paths)
    val presence = probeFieldPresence(spark, paths,
      snap.defaults.map(d => (d._1, d._2)), byId = snap.fieldIdsWritten)
    paths.groupBy(presence).toSeq.sortBy(_._2.head)
      .map { case (present, group) =>
        snap.defaults.filterNot(d => present(d._1)).foldLeft(one(group)) {
          case (d, (n, _, v)) =>
            d.withColumn(n, lit(v).cast(snap.schema(n).dataType))
        }
      }.reduce(_.unionByName(_))
  }

  /** Read a snapshot as a DataFrame: metadata walk → declared-schema
    * parquet scan over the live files through a [[LogFileIndex]]
    * (pushdown intact), with position, equality and deletion-vector
    * deletes applied. A filter on the result prunes FILES at planning
    * time from the manifests alone — the planning step Iceberg's own
    * reader performs: the index skips every file whose identity
    * partition value or `lower_bounds`/`upper_bounds` prove that no
    * row can match, so `read(...).filter(col("Year") === 1996)` opens
    * only the 1996 files.
    */
  def read(
      spark: SparkSession, tablePath: String, snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, snapshotId)
    require(snap.dataRefs.nonEmpty,
      s"IcebergTable: snapshot ${snap.snapshotId} of $tablePath has no data files")
    // id-capable tables resolve columns by FIELD ID (the schema carries
    // parquet.field.id metadata from parseSchema) — names in the files
    // are whatever the column was CALLED when written, which is what
    // makes rename/drop metadata-only; legacy tables read by name
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    if (snap.deleteFiles.isEmpty) scanData(spark, snap, snap.files)
    else readWithPositionDeletes(spark, snap, snap.dataRefs)
  }

  /** The reserved field id of the materialized `_row_id` column
    * (iceberg.apache.org/spec, "Reserved field ids" / "Row lineage"):
    * what a rewrite writes to carry survivor identities, and what the
    * lineage read resolves the carry by on field-id-capable tables.
    */
  private val RowIdFieldId = 2147483540L

  /** Row-lineage scan of a data-file SUBSET — shared by
    * [[readWithRowIds]] (all live files) and [[rewriteDataFiles]]'s
    * identity-preserving rewrite. A row's `_row_id` is its
    * MATERIALIZED column value when the file carries one (the carry
    * across rewrites, null-filled elsewhere), else
    * `first_row_id + position`. Ids key off the scan-side file
    * identity + row index, which [[readWithPositionDeletes]] assigns
    * BEFORE any tombstone (DV or equality) drops rows — so survivors
    * keep stable ids across every delete kind, the lineage feature's
    * whole point (the Delta readWithRowIds shape).
    */
  private def readFilesWithRowIds(spark: SparkSession, snap: Snapshot,
      refs: Seq[DataFileRef]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    import spark.implicits._
    require(snap.nextRowId.isDefined,
      "IcebergTable: readWithRowIds needs a row-lineage table (no next-row-id " +
        "in the metadata) — create one with append(rowLineage = true)")
    val missing = refs.filterNot(_.firstRowId.isDefined)
    require(missing.isEmpty,
      s"IcebergTable: ${missing.size} live data file(s) lack first_row_id " +
        s"(first: ${missing.headOption.map(_.path).getOrElse("")}) — refusing to " +
        "fabricate row identities")
    require(!snap.schema.fieldNames.contains("_row_id"),
      "IcebergTable: a declared _row_id column shadows the lineage metadata column")
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    // the MATERIALIZED carry rides the read schema (reserved field id
    // on id-capable tables, by name otherwise); un-carried files
    // simply null-fill it
    val ext = StructType(snap.schema.fields :+ StructField("_row_id", LongType,
      nullable = true,
      if (snap.fieldIdsWritten)
        new MetadataBuilder().putLong("parquet.field.id", RowIdFieldId).build()
      else Metadata.empty))
    val live = readWithPositionDeletes(spark, snap.copy(schema = ext), refs,
      withFidPos = true)
    val fileMap = refs.map(r => (scanFileId(r.path), r.firstRowId.get))
      .toDF("__rl_fid", "__rl_first")
    live.join(broadcast(fileMap), col("__fid") === col("__rl_fid"))
      .withColumn("_row_id", coalesce(col("_row_id"), col("__rl_first") + col("__pos")))
      .select((snap.schema.fieldNames.toSeq :+ "_row_id").map(col): _*)
  }

  /** Read a v3 ROW-LINEAGE table with `_row_id` surfaced — the
    * Iceberg twin of [[DeltaLog.readWithRowIds]] (format parity with
    * Delta row tracking): the table columns plus a stable `_row_id` a
    * downstream CDC consumer keys on, surviving appends, DV deletes,
    * and compaction.
    */
  def readWithRowIds(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, snapshotId)
    readFilesWithRowIds(spark, snap, snap.dataRefs)
  }

  /** Apply v2 POSITION DELETES: a delete file tombstones `(file_path,
    * pos)` pairs and applies to data files whose data sequence number
    * is <= its own. Data files are grouped by their APPLICABLE
    * delete-file set (usually one or two groups — the pre/post-delete
    * generations), each group scans with `_metadata.row_index` and
    * anti-joins the union of its delete files; files no delete touches
    * scan plainly. The per-pair identity is the scheme-less absolute
    * path on both sides (manifests store qualified URIs, the scan
    * metadata another dialect of the same).
    *
    * Scale shape: delete files are data-proportional but SMALL (two
    * columns); the anti-join broadcasts when the manifests' declared
    * record counts fit, and the grouping itself is metadata-sized.
    */
  private def readWithPositionDeletes(
      spark: SparkSession, snap: Snapshot, refs: Seq[DataFileRef],
      withFidPos: Boolean = false): DataFrame = {
    // `withFidPos` keeps each row's scan identity + row index on the
    // result (the lineage read keys ids off them); positions are
    // assigned INSIDE the group scans, before any tombstone drops
    // rows, so survivors keep their original provenance
    import org.apache.spark.sql.functions.{broadcast, col}
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    def fits(dels: Seq[DeleteFileRef]): Boolean =
      dels.map(_.records).forall(_ > 0L) && dels.map(_.records).sum <= 4000000L
    // group data files by the delete sets that apply to them: position
    // deletes gate on deleteSeq >= dataSeq, equality deletes STRICTLY
    // on deleteSeq > dataSeq (the spec's asymmetry — an equality
    // delete never affects rows committed in its own sequence).
    // Equality deletes additionally gate on PARTITION: one written
    // under a partitioned spec applies only to data files in the SAME
    // partition (an empty tuple is a global delete, table-wide) — a
    // partition-blind reader would delete matching rows everywhere
    // (r13 advice; over-applied POSITION deletes are inert because
    // they match exact file paths, so they stay partition-blind).
    // a v3 deletion vector is scoped to exactly ONE data file — it
    // applies by reference, not by sequence; identity is the
    // SCAN-side file id on both sides (percent-encoded scheme-less
    // path — see [[scanFileId]])
    val dvByFile: Map[String, DeleteFileRef] =
      snap.deleteFiles.filter(_.isDv)
        .map(d => scanFileId(d.referencedDataFile.get) -> d).toMap
    val groups = refs
      .groupBy { r =>
        (snap.deleteFiles.filter(d =>
            d.equalityColumns.isEmpty && !d.isDv && d.sequence >= r.sequence)
          .map(_.path).sorted,
          snap.deleteFiles.filter(d => d.equalityColumns.nonEmpty && d.sequence > r.sequence &&
              (d.partition.isEmpty || d.partition == r.partition))
            .map(_.path).sorted,
          dvByFile.contains(scanFileId(r.path)))
      }
      .toSeq.sortBy(_._2.head.path)
    val branches = groups.map { case ((posPaths, eqPaths, hasDv), files) =>
      val afterPos =
        if (posPaths.isEmpty && !hasDv)
          scanData(spark, snap, files.map(_.path), withFidPos)
        else {
          val withMeta = scanData(spark, snap, files.map(_.path), withFidPos = true)
          // tombstone (file, pos) pairs: parquet position-delete files
          // plus puffin deletion-vector blobs DECODED IN EXECUTOR
          // TASKS (one task per blob — positions never funnel through
          // the driver, the Delta readWithDv contract)
          val posPairs =
            if (posPaths.isEmpty) None
            else {
              import spark.implicits._
              // delete files store the manifest's DECODED path string;
              // remap it onto the scan identity through a
              // metadata-sized broadcast dictionary (a direct join
              // would silently drop tombstones for any path that
              // URI-encodes — space, #, non-ASCII)
              val dict = broadcast(
                fidDictRows(files.map(_.path)).toDF("__dfn", "__dfid"))
              Some(positionTombstones(spark, posPaths, dict))
            }
          val dvRefs = files.flatMap(f => dvByFile.get(scanFileId(f.path)))
          val dvPairs =
            if (dvRefs.isEmpty) None
            else {
              import spark.implicits._
              val hadoopConfB = spark.sparkContext.broadcast(
                new org.apache.spark.util.SerializableConfiguration(
                  spark.sessionState.newHadoopConf()))
              val descs = dvRefs.map(d =>
                (scanFileId(d.referencedDataFile.get), d.path, d.contentOffset, d.contentSize))
              Some(spark.createDataset(descs).flatMap { case (fid, pp, off, len) =>
                val p = new Path(pp)
                Puffin.readDv(p.getFileSystem(hadoopConfB.value.value), p, off, len)
                  .toSeq.map(pos => (fid, pos))
              }.toDF("__dfid", "__dpos"))
            }
          val dels0 = (posPairs.toSeq ++ dvPairs.toSeq).reduce(_.unionByName(_))
          // manifests declare record_count per delete file/blob
          // (required) — broadcast when the tombstone set provably fits
          val gateRefs = snap.deleteFiles.filter(d => posPaths.contains(d.path)) ++ dvRefs
          val dels = if (fits(gateRefs)) broadcast(dels0) else dels0
          val joined = withMeta.join(dels,
            withMeta("__fid") === dels("__dfid") && withMeta("__pos") === dels("__dpos"),
            "left_anti")
          if (withFidPos) joined else joined.drop("__fid", "__pos")
        }
      // equality deletes anti-join on the named columns, null-safe
      // (Iceberg equality matching treats NULL = NULL), one join per
      // distinct column set
      val eqRefs = snap.deleteFiles.filter(d => eqPaths.contains(d.path))
      eqRefs.groupBy(_.equalityColumns).toSeq.sortBy(_._2.head.path)
        .foldLeft(afterPos) { case (acc, (cols, dfiles)) =>
          // id-capable tables read the delete file BY FIELD ID (its
          // columns carry whatever the field was NAMED when the delete
          // was written — binding by id is what keeps old equality
          // deletes applying across renames; the schema carries the
          // ids); legacy tables by name
          val eqScan = LogFileIndex.scan(spark, dfiles.map(d => LogFile(d.path)),
            new StructType(), Some(StructType(cols.map(c => snap.schema(c)))))
          val dels0 = eqScan.select(
            cols.map(c => col(c).as(s"__eq_$c")): _*).distinct()
          val dels = if (fits(dfiles)) broadcast(dels0) else dels0
          val cond = cols.map(c => acc(c) <=> dels(s"__eq_$c")).reduce(_ && _)
          acc.join(dels, cond, "left_anti")
        }
    }
    branches.reduce(_.unionByName(_))
  }

  /** The `(file, pos)` tombstones of position-delete files, keyed
    * by scan identity through `dict` (stored path `__dfn` → scan
    * identity `__dfid`): columns `__dfid`, `__dpos`.
    */
  private def positionTombstones(
      spark: SparkSession, paths: Seq[String], dict: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)))
    LogFileIndex.scan(spark, paths.map(LogFile(_)), new StructType(), Some(schema))
      .select(DeltaLog.normalizedFileId(col("file_path")).as("__dfn"),
        col("pos").as("__dpos"))
      .join(dict, "__dfn")
      .select(col("__dfid"), col("__dpos"))
  }

  private def writeAvro(
      fs: FileSystem, p: Path, schema: Schema, records: Seq[GenericRecord]): Long = {
    val out = fs.create(p, false)
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    try {
      writer.create(schema, out)
      records.foreach(writer.append)
    } finally writer.close()
    fs.getFileStatus(p).getLen
  }

  /** APPEND a new snapshot: data files staged and moved under the
    * table's `data/` dir, one new manifest for them, a new manifest
    * LIST carrying forward every prior manifest (old snapshots remain
    * readable — time travel), then the commit ([[commitMetadata]]:
    * `vN+1.metadata.json` put-if-absent, `version-hint.text`
    * repointed; concurrent writers on object stores need a catalog's
    * atomic swap, exactly as the Iceberg spec documents — out of scope
    * here like the Delta writer's object-store caveat). Returns the
    * new snapshot id.
    */
  def append(
      spark: SparkSession, tablePath: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false,
      summary: Map[String, String] = Map.empty,
      rowLineage: Boolean = false): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val prev = headOption(fs, tablePath)
    val prevMeta = prev.map(_.meta)
    val exists = prev.isDefined
    val fv = prev.map(_.formatVersion).getOrElse(if (rowLineage) 3 else 1)
    require(fv >= 1 && fv <= 3,
      s"IcebergTable: append into format-version $fv is not supported")
    // v3 ROW LINEAGE (write side): active when the table tracks a
    // `next-row-id`, or requested at CREATION (rowLineage creates the
    // table at format-version 3). An existing table cannot adopt it —
    // retro-assigning ids to already-written files is a v3 upgrade
    // step this writer does not perform.
    val prevNextRowId: Option[Long] =
      prevMeta.filter(_.has("next-row-id")).map(_.get("next-row-id").asLong())
    require(!rowLineage || !exists || prevNextRowId.isDefined,
      "IcebergTable: rowLineage is a CREATION option — the existing table " +
        "tracks no next-row-id (ids for already-written files are undefined)")
    val lineageActive = prevNextRowId.isDefined || (!exists && rowLineage)
    var schemaEvolved = false
    prevMeta.foreach { m =>
      val have = currentSchema(m).fields.map(f => (f.name, f.dataType)).toSeq
      val incoming = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (have != incoming) {
        require(allowSchemaEvolution,
          s"IcebergTable: append schema mismatch — table declares $have, append " +
            s"brings $incoming (pass allowSchemaEvolution = true for add-column evolution)")
        // APPEND-only evolution here: the declared fields must survive
        // as a PREFIX with their types (new columns take FRESH ids past
        // last-column-id); reorders/retypes go through the dedicated
        // metadata-only ops ([[renameColumn]]/[[dropColumn]]/
        // [[widenColumnType]]) which keep ids stable
        require(incoming.take(have.size) == have,
          s"IcebergTable: schema evolution may only APPEND columns — declared " +
            s"$have must survive as a prefix of $incoming")
        schemaEvolved = true
      }
      val prevSpec = specColumnNames(m)
      require(prevSpec == partitionBy,
        s"IcebergTable: append partitioning mismatch — table declares " +
          s"[${prevSpec.mkString(",")}], append brings [${partitionBy.mkString(",")}]")
    }
    df.schema.fields.foreach(f => toIcebergType(f.dataType)) // loud unsupported-type check
    partitionBy.foreach(c => require(df.schema.fieldNames.contains(c),
      s"IcebergTable: partition column $c missing from the append schema"))
    // STABLE field ids: an existing table's ids come from its current
    // schema (evolution appends fresh ids past last-column-id); a new
    // table assigns 1..n and declares the field-ids property so reads
    // resolve by id from the first file on
    val prevLastCol: Int = prevMeta.map { m =>
      val declared = if (m.has("last-column-id")) m.get("last-column-id").asInt() else 0
      math.max(declared, parseFields(currentSchemaNode(m)).map(_.id).max)
    }.getOrElse(0)
    val prior = prevMeta.fold(Seq.empty[IceField])(m => parseFields(currentSchemaNode(m)))
    val fields: Seq[IceField] = prior ++
      df.schema.fields.drop(prior.size).zipWithIndex.map { case (f, i) =>
        IceField(prevLastCol + 1 + i, f.name, f.dataType) }
    val lastColumnId = math.max(prevLastCol, fields.map(_.id).max)
    val idCapable = prevMeta.fold(true)(m =>
      propertiesOf(m).get(FieldIdsProperty).contains("true"))
    val idDf = if (idCapable) withFieldIds(spark, df, fields) else df
    val pfields: Seq[(String, DataType)] =
      partitionBy.map(c => c -> df.schema(c).dataType)
    fs.mkdirs(metadataDir(tablePath))
    val stamp = Landing.newStamp()
    val dataFiles = Landing.land(fs, table, idDf, "part", stamp, "data",
      partitionBy = partitionBy, keepPartitionColumns = true)
    val snapshotId = newSnapshotId()
    val newSeq = prev.fold(1L)(_.nextSequence)
    // per-file first_row_id blocks: contiguous above the table's
    // next-row-id, in staged-file order — a row's id is
    // first_row_id + its position, the Delta baseRowId shape
    val rlBase: Long = prevNextRowId.getOrElse(0L)
    val rlFirsts: Seq[Long] = dataFiles.map(_.stats.rows).scanLeft(rlBase)(_ + _)
    // one manifest for this append; record_count carries the footer
    // truth (readers size broadcasts and metadata tables off it); from
    // format-version 2 on, entries carry `content` and their sequence
    // number, as the spec requires
    val manifest = writeManifest(fs, tablePath, s"manifest-$stamp.avro",
      entrySchema(pfields, v2 = fv >= 2), content = 0, newSeq, snapshotId,
      dataFiles.zip(rlFirsts).map { case (sf, first) =>
        addedDataEntry(fs, table, sf, fields, pfields, snapshotId, newSeq,
          if (lineageActive) Some(first) else None) })
    val list = writeManifestList(fs, tablePath, fv, snapshotId, stamp,
      prevMeta.toSeq.flatMap(currentManifests(fs, conf, _)) :+ manifest)
    val newSnap = NewSnapshot(snapshotId, list, "append", summary,
      if (lineageActive) Some(rlBase) else None)
    val newMeta = dataMetadata(tablePath, prevMeta, fv, fields, lastColumnId, partitionBy,
      schemaEvolved, newSeq, newSnap,
      newProperties =
        if (idCapable && prevMeta.isEmpty) Map(FieldIdsProperty -> "true") else Map.empty,
      nextRowId = if (lineageActive) Some(rlFirsts.last) else None)
    commitMetadata(fs, tablePath, prev, newMeta, Some(newSnap))
    snapshotId
  }

  /** EXACTLY-ONCE APPEND — the Iceberg twin of the Delta `txn` sink
    * (what Flink's Iceberg committer does with checkpoint ids): each
    * commit stamps `(appId, epoch)` into its snapshot SUMMARY, and a
    * replayed epoch is absorbed by comparing against the newest stamp
    * for the appId. Returns the new snapshot id, or -1 when the epoch
    * already landed. The stamp lives in snapshot history — size the
    * [[expireSnapshots]] retention above the longest writer outage, as
    * Iceberg's own streaming committers require.
    */
  def appendOnce(
      spark: SparkSession, tablePath: String, df: DataFrame,
      appId: String, epoch: Long,
      partitionBy: Seq[String] = Seq.empty,
      extraSummary: Map[String, String] = Map.empty): Long = {
    if (lastCommittedEpoch(spark, tablePath, appId).exists(_ >= epoch)) return -1L
    append(spark, tablePath, df, partitionBy,
      summary = extraSummary ++
        Map("graft.app-id" -> appId, "graft.epoch" -> epoch.toString))
  }

  /** The newest epoch `appId` committed (from snapshot summaries,
    * newest first), or None if never / all stamped snapshots expired.
    */
  def lastCommittedEpoch(
      spark: SparkSession, tablePath: String, appId: String): Option[Long] =
    lastCommittedStamp(spark, tablePath, appId).map(_._1)

  /** The newest `(epoch, full summary)` stamp `appId` committed — the
    * read side of the exactly-once sink, which a CONSUMER also uses to
    * recover its source cursor after a restart ([[replicate]]).
    */
  def lastCommittedStamp(
      spark: SparkSession, tablePath: String,
      appId: String): Option[(Long, Map[String, String])] = {
    val meta = headOption(fsOf(spark, new Path(tablePath)), tablePath).getOrElse(return None).meta
    val stamps = snapshotsOf(meta).flatMap { sn =>
      val sm = sn.get("summary")
      if (sm != null && sm.has("graft.app-id") &&
          sm.get("graft.app-id").asText() == appId && sm.has("graft.epoch")) {
        val b = Map.newBuilder[String, String]
        val it = sm.fields()
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        Some(sm.get("graft.epoch").asText().toLong -> b.result())
      } else None
    }
    if (stamps.isEmpty) None else Some(stamps.maxBy(_._1))
  }

  /** ICEBERG STREAMING SOURCE — the per-micro-batch consumer twin of
    * the [[appendOnce]] sink (r15 verdict item 4, closing format
    * parity with the Delta side's `readChangesSince` replication):
    * each APPEND snapshot of `srcTable` lands in `dstTable` as one
    * exactly-once micro-batch, rows pulled through
    * [[readAppendsBetween]] (so a maintenance `replace` in the range
    * contributes nothing, and a row-removing snapshot refuses loudly —
    * an append-only replica cannot express it).
    *
    * The cursor is the s57 mechanism READ-side: every batch commit
    * stamps `(appId, epoch, graft.src-snapshot)` into the SINK's
    * snapshot summary, and a restart recovers `graft.src-snapshot`
    * from the newest stamp via [[lastCommittedStamp]] — so a kill
    * between any two batches resumes exactly after the last consumed
    * source snapshot, and a replayed batch is absorbed by the epoch
    * guard. Storing the source SNAPSHOT ID (not a lineage ordinal)
    * keeps the cursor valid across source [[expireSnapshots]] runs —
    * as long as retention outlasts consumer lag; a cursor pointing at
    * an expired snapshot refuses loudly rather than re-reading or
    * skipping. `maxBatches` bounds one poll (and simulates a
    * mid-stream crash in tests). Returns the number of batches
    * applied.
    */
  def replicate(
      spark: SparkSession, srcTable: String, dstTable: String,
      appId: String = "graft-iceberg-repl", maxBatches: Int = Int.MaxValue): Int = {
    val lineage: Seq[(Long, String)] = snapshotsTable(spark, srcTable)
      .orderBy("lineage").select("snapshot_id", "operation")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stamp = lastCommittedStamp(spark, dstTable, appId)
    var lastEpoch = stamp.map(_._1).getOrElse(-1L)
    var prevSid: Option[Long] = stamp.map { case (e, sm) =>
      sm.getOrElse("graft.src-snapshot", throw new IllegalArgumentException(
        s"IcebergTable: replication stamp epoch $e in $dstTable carries no " +
          "graft.src-snapshot — not a replicate() sink")).toLong
    }
    val startIdx = prevSid match {
      case None => 0
      case Some(sid) =>
        val i = lineage.indexWhere(_._1 == sid)
        require(i >= 0,
          s"IcebergTable: replication cursor snapshot $sid expired from $srcTable — " +
            "source retention must outlast consumer lag")
        i + 1
    }
    var applied = 0
    lineage.drop(startIdx).foreach { case (sid, op) =>
      if (applied < maxBatches) op match {
        case "replace" => () // layout-only: the next append's range covers it
        case "append" =>
          val rows = prevSid match {
            case None => read(spark, srcTable, Some(sid))
            case Some(p) => readAppendsBetween(spark, srcTable, p, sid)
          }
          lastEpoch += 1
          appendOnce(spark, dstTable, rows, appId, lastEpoch,
            extraSummary = Map("graft.src-snapshot" -> sid.toString))
          prevSid = Some(sid)
          applied += 1
        case other => throw new IllegalArgumentException(
          s"IcebergTable: source snapshot $sid is a '$other' — an append-only " +
            "replica cannot express row removal; rebuild the replica instead")
      }
    }
    applied
  }

  /** REWRITE DATA FILES — the `rewrite_data_files` maintenance twin
    * (Iceberg's bin-packing compaction), cost ∝ SMALL-FILE DEBT, never
    * O(table):
    *
    *  - SELECTION per partition: files under `minFileSizeBytes`
    *    (default ¾ of the target, Iceberg's own min-input default)
    *    bin-pack together; a lone small file rewrites only when an
    *    applicable delete file tombstones into it (the rewrite then
    *    physically purges the tombstones). Full-sized files are NEVER
    *    read or moved — their bytes and exact paths survive.
    *  - The selected rows re-read with every applicable position and
    *    equality delete applied, then land as ~`targetFileBytes`
    *    outputs (content-hash salting splits a partition whose debt
    *    exceeds one target file).
    *  - MANIFESTS: untouched data manifests carry forward VERBATIM;
    *    a manifest that named a rewritten file is replaced by one
    *    re-listing only its surviving entries as EXISTING with their
    *    original explicit sequence numbers (the spec's rule — EXISTING
    *    entries never inherit); delete manifests carry forward while
    *    any pre-rewrite data file survives (their tombstones still
    *    gate it) and drop once nothing they can apply to remains. The
    *    compacted files enter at the NEW sequence number, so carried
    *    deletes never re-apply to them (pos `>=` / eq `>` both fail).
    *
    * Old files stay reachable through prior snapshots for time travel
    * until [[expireSnapshots]]. Returns the new snapshot id, or -1
    * when nothing needed compacting.
    */
  def rewriteDataFiles(
      spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFileSizeBytes: Long = -1L): Long = {
    import org.apache.spark.sql.functions.{col => fcol, hash => fhash, lit => flit, pmod}
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val h = head(fs, tablePath)
    val meta = h.meta
    val fv = h.formatVersion
    val pby = specColumnNames(meta)
    val schema = currentSchema(meta)
    val snap = snapshot(spark, tablePath, None)
    val minSize = if (minFileSizeBytes >= 0) minFileSizeBytes else (targetFileBytes * 3) / 4
    def deleteApplies(r: DataFileRef): Boolean = snap.deleteFiles.exists { d =>
      if (d.isDv)
        scanFileId(d.referencedDataFile.get) == scanFileId(r.path)
      else if (d.equalityColumns.isEmpty) d.sequence >= r.sequence
      else d.sequence > r.sequence && (d.partition.isEmpty || d.partition == r.partition)
    }
    val selected: Seq[DataFileRef] = snap.dataRefs.groupBy(_.partition).toSeq
      .flatMap { case (_, refs) =>
        // a manifest that omits file_size_in_bytes (0/absent) is
        // UNKNOWN, not "large": treat it as small so a delete-purging
        // rewrite can still select it — otherwise a tombstoned file
        // written by a size-less engine could never compact, and
        // dropColumn's prescribed remedy ("rewriteDataFiles first")
        // would be permanently unsatisfiable
        val small = refs.filter(r => r.sizeBytes <= 0 || r.sizeBytes < minSize)
        if (small.size >= 2) small else small.filter(deleteApplies)
      }
    if (selected.isEmpty) return -1L
    val selectedPaths = selected.map(_.path).toSet
    // output sizing ∝ debt: enough tasks for the total, salt splits a
    // partition whose own debt exceeds one target file
    val totalBytes = selected.map(_.sizeBytes).sum
    val nOut = math.max(1L, math.min(selected.size.toLong,
      (totalBytes + targetFileBytes - 1) / targetFileBytes)).toInt
    val maxPerPartition = selected.groupBy(_.partition).values
      .map(g => ((g.map(_.sizeBytes).sum + targetFileBytes - 1) / targetFileBytes).toInt)
      .max
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    // ROW-LINEAGE tables rewrite through the id-surfacing scan: every
    // surviving row carries its `_row_id` (materialized-or-computed)
    // into the compacted file as the MATERIALIZED column, so consumer
    // identities hold across the rewrite — the Delta compact carry
    val lineage = meta.has("next-row-id")
    val rows =
      if (lineage) readFilesWithRowIds(spark, snap, selected)
      else readWithPositionDeletes(spark, snap, selected)
    val packed =
      if (pby.isEmpty) rows.coalesce(nOut)
      else if (maxPerPartition <= 1) rows.repartition(nOut, pby.map(fcol): _*)
      else rows.repartition(nOut,
        (pby.map(fcol) :+
          pmod(fhash(schema.fieldNames.map(fcol).toIndexedSeq: _*),
            flit(maxPerPartition))): _*)
    val pfields: Seq[(String, DataType)] = pby.map(c => c -> schema(c).dataType)
    val stamp = Landing.newStamp()
    val fieldsCur = parseFields(currentSchemaNode(meta))
    val stageFields =
      if (lineage) fieldsCur :+ IceField(RowIdFieldId.toInt, "_row_id", LongType)
      else fieldsCur
    val toStage =
      if (snap.fieldIdsWritten) withFieldIds(spark, packed, stageFields)
      else packed
    val staged = Landing.land(fs, table, toStage, "part", stamp, "data",
      partitionBy = pby, keepPartitionColumns = true)
    val snapshotId = newSnapshotId()
    val newSeq = h.nextSequence
    // v2 entry shape: the explicit content/sequence fields gate carried
    // deletes OFF the compacted outputs
    val schemaOut = entrySchema(pfields, v2 = fv >= 2)
    // fresh first_row_id blocks for the compacted outputs (ids burn on
    // rewrite, the Delta compact shape — carried rows override through
    // the materialized column)
    val rlBase: Long = if (lineage) meta.get("next-row-id").asLong() else 0L
    val rlFirsts: Seq[Long] = staged.map(_.stats.rows).scanLeft(rlBase)(_ + _)
    val added = writeManifest(fs, tablePath, s"manifest-$stamp.avro", schemaOut, content = 0,
      newSeq, snapshotId, staged.zip(rlFirsts).map { case (sf, first) =>
        addedDataEntry(fs, table, sf, fieldsCur, pfields, snapshotId, newSeq,
          if (lineage) Some(first) else None) })
    // walk the current snapshot's manifest list; rewrite only the
    // manifests that named a compacted file
    val livePaths = snap.dataRefs.map(_.path).toSet
    val anySurvivor = snap.dataRefs.exists(r => !selectedPaths(r.path))
    var replaceIdx = 0
    val carried = currentManifests(fs, conf, meta).flatMap { m =>
      if (m.content == 1) {
        // delete manifest: still gates the surviving pre-rewrite
        // files; inert (and dropped) once none remain
        if (anySurvivor) Some(m) else None
      } else {
        val entries = readAvro(fs, new Path(m.path), conf)
        def pathOf(e: GenericRecord) =
          e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
        if (!entries.exists(e => selectedPaths(pathOf(e)))) Some(m) // untouched: verbatim
        else {
          val keep = entries.filter { e =>
            val p = pathOf(e)
            e.get("status").asInstanceOf[Int] != 2 && !selectedPaths(p) && livePaths(p)
          }
          if (keep.isEmpty) None
          else {
            // replacement: surviving entries as EXISTING with their
            // original EXPLICIT sequence numbers (never inherited)
            val out = keep.map(existingEntry(_, m.sequence, pby))
            replaceIdx += 1
            Some(writeManifest(fs, tablePath, s"manifest-$stamp-x$replaceIdx.avro", schemaOut,
              content = 0, out.map(_.sequence).max, snapshotId, out))
          }
        }
      }
    }
    val list = writeManifestList(fs, tablePath, fv, snapshotId, stamp, carried :+ added)
    val newSnap = NewSnapshot(snapshotId, list, "replace",
      firstRowId = if (lineage) Some(rlBase) else None)
    val newMeta = dataMetadata(tablePath, Some(meta), fv, fieldsCur,
      if (meta.has("last-column-id")) meta.get("last-column-id").asInt()
      else fieldsCur.map(_.id).max,
      pby, schemaEvolved = false, newSeq, newSnap,
      nextRowId = if (lineage) Some(rlFirsts.last) else None)
    commitMetadata(fs, tablePath, Some(h), newMeta, Some(newSnap))
    snapshotId
  }

  /** The manifest's `file_path` of a file [[Landing.land]] landed. */
  private def landedPath(fs: FileSystem, table: Path, l: Landing.Landed): String =
    fs.makeQualified(new Path(table, l.rel)).toString

  /** A partition tuple as the manifest's typed `partition` record
    * values: integral columns as Integer/Long, the rest as strings.
    */
  private def typedTuple(
      tuple: Map[String, String], types: Seq[(String, DataType)]): Map[String, Any] = {
    val byName = types.toMap
    tuple.map { case (k, v) =>
      k -> (if (v == null) null else byName.get(k) match {
        case Some(IntegerType) => Integer.valueOf(v.toInt)
        case Some(LongType) => java.lang.Long.valueOf(v.toLong)
        case _ => v
      })
    }
  }

  /** One manifest entry as this writer encodes it ([[entryRecord]]):
    * `status` 0 EXISTING / 1 ADDED / 2 DELETED, `content` 0 data /
    * 1 position deletes or a deletion vector / 2 equality deletes,
    * bounds as (field id, single-value binary) pairs, and `dv` the
    * deletion vector's (referenced data file, offset, length).
    */
  private final case class Entry(
      status: Int, snapshotId: Option[Long], sequence: Long, content: Int,
      path: String, format: String, records: Long, size: Long,
      partition: Map[String, Any] = Map.empty,
      firstRowId: Option[Long] = None,
      lower: Seq[(Int, java.nio.ByteBuffer)] = Nil,
      upper: Seq[(Int, java.nio.ByteBuffer)] = Nil,
      equalityIds: Seq[Int] = Nil,
      dv: Option[(String, Long, Long)] = None)

  /** The one manifest-entry encoder. Fields the schema lacks (the v1
    * shape has no sequence number, content or delete references) are
    * not written; the `partition` record is written whenever the
    * schema declares one.
    */
  private def entryRecord(schema: Schema, e: Entry): GenericRecord = {
    val fileSchema = schema.getField("data_file").schema()
    val d = new GenericData.Record(fileSchema)
    if (fileSchema.getField("content") != null) d.put("content", e.content)
    d.put("file_path", e.path)
    d.put("file_format", e.format)
    d.put("record_count", e.records)
    d.put("file_size_in_bytes", e.size)
    e.firstRowId.foreach(d.put("first_row_id", _))
    if (e.equalityIds.nonEmpty) {
      val ids = new GenericData.Array[Integer](e.equalityIds.size,
        fileSchema.getField("equality_ids").schema().getTypes.get(1))
      e.equalityIds.foreach(id => ids.add(Integer.valueOf(id)))
      d.put("equality_ids", ids)
    }
    e.dv.foreach { case (ref, offset, length) =>
      d.put("referenced_data_file", ref)
      d.put("content_offset", offset)
      d.put("content_size_in_bytes", length)
    }
    Seq("lower_bounds" -> e.lower, "upper_bounds" -> e.upper).foreach { case (name, kvs) =>
      if (kvs.nonEmpty) {
        val as = fileSchema.getField(name).schema().getTypes.get(1)
        val items = new java.util.ArrayList[GenericRecord](kvs.size)
        kvs.foreach { case (id, bytes) =>
          val kv = new GenericData.Record(as.getElementType)
          kv.put("key", id)
          kv.put("value", bytes)
          items.add(kv)
        }
        d.put(name, new GenericData.Array[GenericRecord](as, items))
      }
    }
    Option(fileSchema.getField("partition")).foreach { f =>
      val pr = new GenericData.Record(f.schema())
      e.partition.foreach { case (k, v) => pr.put(k, v) }
      d.put("partition", pr)
    }
    val r = new GenericData.Record(schema)
    r.put("status", e.status)
    e.snapshotId.foreach(r.put("snapshot_id", _))
    if (schema.getField("sequence_number") != null) r.put("sequence_number", e.sequence)
    r.put("data_file", d)
    r
  }

  /** The ADDED entry of a data file this commit landed: its typed
    * partition tuple, and `lower_bounds`/`upper_bounds` (field-id keys,
    * Iceberg single-value binary) for every column with footer bounds
    * ([[footerBoundBytes]]). An identity partition column holds one
    * value per file, so that value is its bound.
    */
  private def addedDataEntry(
      fs: FileSystem, table: Path, l: Landing.Landed, fields: Seq[IceField],
      pfields: Seq[(String, DataType)],
      snapshotId: Long, sequence: Long, firstRowId: Option[Long]): Entry = {
    val tuple = typedTuple(l.partitionValues, pfields)
    val types = fields.map(f => f.name -> f.dataType).toMap
    val bounds = footerBoundBytes(l.stats, types) ++ tuple.flatMap { case (k, v) =>
      types.get(k).filter(_ => v != null).map { dt => val b = boundBytes(dt, v); k -> ((b, b)) }
    }
    def side(pick: ((Array[Byte], Array[Byte])) => Array[Byte]) = fields.flatMap(f =>
      bounds.get(f.name).map(b => f.id -> java.nio.ByteBuffer.wrap(pick(b))))
    Entry(1, Some(snapshotId), sequence, 0, landedPath(fs, table, l), "PARQUET", l.stats.rows,
      l.size, tuple, firstRowId, side(_._1), side(_._2))
  }

  /** A carried data entry re-listed as EXISTING: its snapshot id,
    * explicit sequence number (the manifest's, `inherited`, when the
    * entry has none), counts, first row id, bounds and the `partition`
    * values of the table's partition columns, all verbatim.
    */
  private def existingEntry(e: GenericRecord, inherited: Long, pby: Seq[String]): Entry = {
    val src = e.get("data_file").asInstanceOf[GenericRecord]
    def long(r: GenericRecord, n: String): Option[Long] = field(r, n).map(_.asInstanceOf[Long])
    def kvs(n: String): Seq[(Int, java.nio.ByteBuffer)] = field(src, n) match {
      case Some(l: java.util.List[_]) =>
        l.toArray.toSeq.map { case kv: GenericRecord =>
          kv.get("key").asInstanceOf[Int] -> kv.get("value").asInstanceOf[java.nio.ByteBuffer] }
      case _ => Nil
    }
    val partition: Map[String, Any] = field(src, "partition") match {
      case Some(p: GenericRecord) =>
        pby.filter(c => p.getSchema.getField(c) != null).map(c => c -> p.get(c)).toMap
      case _ => Map.empty
    }
    Entry(0, long(e, "snapshot_id"), long(e, "sequence_number").getOrElse(inherited), 0,
      src.get("file_path").toString, src.get("file_format").toString,
      long(src, "record_count").getOrElse(0L), long(src, "file_size_in_bytes").getOrElse(0L),
      partition, long(src, "first_row_id"), kvs("lower_bounds"), kvs("upper_bounds"))
  }

  /** Decorate each column with its `parquet.field.id` so the written
    * footers carry Iceberg field ids (Spark's field-id write is on by
    * default when the schema declares them) — the physical binding
    * that makes rename/drop metadata-only and keeps equality deletes
    * applying across them.
    */
  private def withFieldIds(
      spark: SparkSession, df: DataFrame, fields: Seq[IceField]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(spark.conf.get("spark.sql.parquet.fieldId.write.enabled", "true").toBoolean,
      "IcebergTable: writing field-id-capable tables needs " +
        "spark.sql.parquet.fieldId.write.enabled=true (this session disabled it)")
    val ids = fields.map(f => f.name -> f.id).toMap
    df.select(df.schema.fieldNames.map { n =>
      ids.get(n) match {
        case Some(id) => col(n).as(n,
          new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
        case None => col(n)
      }
    }.toIndexedSeq: _*)
  }

  /** Write one manifest of `entries` under `metadata/` and return its
    * manifest-list row: `sequence` is the manifest's, its minimum the
    * lowest live entry's, and `snapshotId` the snapshot adding it.
    */
  private def writeManifest(
      fs: FileSystem, tablePath: String, name: String, schema: Schema, content: Int,
      sequence: Long, snapshotId: Long, entries: Seq[Entry]): ManifestRef = {
    val path = new Path(metadataDir(tablePath), name)
    val len = writeAvro(fs, path, schema, entries.map(entryRecord(schema, _)))
    ManifestRef(fs.makeQualified(path).toString, len, content, sequence,
      entries.filter(_.status != 2).map(_.sequence).minOption.getOrElse(sequence), snapshotId)
  }

  /** Write a snapshot's manifest LIST avro and return its qualified
    * path. Carried manifests keep the id of the snapshot that ACTUALLY
    * added them (the spec's meaning; the incremental append scan keys
    * on it); the v2 fields are dropped under v1.
    */
  private def writeManifestList(
      fs: FileSystem, tablePath: String, fv: Int, snapshotId: Long, stamp: String,
      rows: Seq[ManifestRef]): String = {
    val listSchema = if (fv >= 2) ManifestListSchemaV2 else ManifestListSchema
    val path = new Path(metadataDir(tablePath), s"snap-$snapshotId-$stamp.avro")
    writeAvro(fs, path, listSchema, rows.map { m =>
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.length)
      r.put("partition_spec_id", m.specId)
      if (fv >= 2) {
        r.put("content", m.content)
        r.put("sequence_number", m.sequence)
        r.put("min_sequence_number", m.minSequence)
      }
      r.put("added_snapshot_id", m.addedSnapshotId)
      r
    })
    fs.makeQualified(path).toString
  }

  /** The table metadata a DATA snapshot (append / replace) commits
    * over, rebuilt from the writer's fields: prior snapshots, schemas,
    * properties and refs carry forward, and an add-column evolution
    * publishes its schema under a BUMPED schema id. `snapshot` is
    * current and stamps `last-updated-ms`; [[commitMetadata]] appends
    * its node. A lineage table's `next-row-id` advances to
    * `nextRowId`, or carries (the mark must never regress or vanish).
    */
  private def dataMetadata(
      tablePath: String, prevMeta: Option[JsonNode], fv: Int, fields: Seq[IceField],
      lastColumnId: Int, partitionBy: Seq[String], schemaEvolved: Boolean, newSeq: Long,
      snapshot: NewSnapshot, newProperties: Map[String, String] = Map.empty,
      nextRowId: Option[Long] = None): ObjectNode = {
    val meta = mapper.createObjectNode()
    meta.put("format-version", fv)
    if (fv >= 2) meta.put("last-sequence-number", newSeq)
    nextRowId.orElse(prevMeta.filter(_.has("next-row-id")).map(_.get("next-row-id").asLong()))
      .foreach(meta.put("next-row-id", _))
    meta.put("table-uuid",
      prevMeta.map(_.get("table-uuid").asText()).getOrElse(java.util.UUID.randomUUID().toString))
    meta.put("location", tablePath)
    meta.put("last-updated-ms", snapshot.timestampMs)
    meta.put("last-column-id", lastColumnId)
    // defaults carry by field id into every rebuilt schema json — an
    // append must not strip what addColumn declared
    val carried = prevMeta.map(carriedDefaults).getOrElse(Map.empty)
    val inlineSchema = schemaJsonOf(fields)
    attachDefaults(inlineSchema, carried)
    meta.set[ObjectNode]("schema", inlineSchema)
    // v2's required "schemas"/"current-schema-id" pair (also legal —
    // and ignored — under v1 readers that use the legacy "schema")
    val schemaId = prevMeta.map { m =>
      val prev = if (m.has("current-schema-id")) m.get("current-schema-id").asInt() else 0
      if (schemaEvolved) prev + 1 else prev
    }.getOrElse(0)
    val schemasArr = meta.putArray("schemas")
    // prior schemas CARRY FORWARD: still-listed historical snapshots
    // reference their schema-id, and the spec requires every schema a
    // live snapshot references to stay resolvable (an external reader
    // time-traveling to a pre-evolution snapshot needs it)
    prevMeta.foreach(m => elements(m.get("schemas"))
      .filter(s => !s.has("schema-id") || s.get("schema-id").asInt() != schemaId)
      .foreach(schemasArr.add))
    val schema0 = schemaJsonOf(fields)
    schema0.put("schema-id", schemaId)
    attachDefaults(schema0, carried)
    schemasArr.add(schema0)
    meta.put("current-schema-id", schemaId)
    // v1's required legacy "partition-spec" plus the modern
    // "partition-specs"/"default-spec-id" pair; identity transforms
    // over the STABLE schema field ids
    def specFields(arr: ArrayNode): Unit = partitionBy.zipWithIndex.foreach { case (c, i) =>
      val f = arr.addObject()
      f.put("name", c)
      f.put("transform", "identity")
      f.put("source-id", fields.find(_.name == c).map(_.id).getOrElse(
        throw new IllegalArgumentException(
          s"IcebergTable: partition column $c not in the schema fields")))
      f.put("field-id", 1000 + i)
    }
    specFields(meta.putArray("partition-spec"))
    val spec0 = meta.putArray("partition-specs").addObject()
    spec0.put("spec-id", 0)
    specFields(spec0.putArray("fields"))
    meta.put("default-spec-id", 0)
    if (fv >= 2) {
      meta.putArray("sort-orders").addObject().put("order-id", 0).putArray("fields")
      meta.put("default-sort-order-id", 0)
    }
    // table properties carry forward verbatim, new ones layered on top
    val props = meta.putObject("properties")
    prevMeta.map(_.get("properties")).filter(p => p != null && p.isObject)
      .foreach(p => props.setAll[JsonNode](p.asInstanceOf[ObjectNode]))
    newProperties.foreach { case (k, v) => props.put(k, v) }
    // named refs (tags/branches) carry forward verbatim
    prevMeta.map(_.get("refs")).filter(r => r != null && r.isObject).foreach { r =>
      meta.set[JsonNode]("refs", r.deepCopy())
    }
    meta.put("current-snapshot-id", snapshot.id)
    val snaps = meta.putArray("snapshots")
    prevMeta.foreach(m => snapshotsOf(m).foreach(snaps.add))
    meta
  }

  /** Iceberg's encoder of [[Landing.FooterStats]]: per column, the
    * (lower, upper) single-value bytes of its footer bounds, for the
    * columns whose footer type is the table field's own type (`types`)
    * and one [[boundBytes]] serializes. Decimals stay unbounded, as do
    * non-UTC timestamps, whose footer type is not the field's; the
    * reader leaves nanosecond timestamps unbounded. Readers treat
    * missing bounds as "keep the file".
    */
  private[sources] def footerBoundBytes(
      stats: Landing.FooterStats,
      types: Map[String, DataType]): Map[String, (Array[Byte], Array[Byte])] =
    stats.columns.collect {
      case (name, Landing.ColumnStats(_, Some((dt, lo, hi))))
          if types.get(name).contains(dt) && !dt.isInstanceOf[DecimalType] =>
        name -> ((boundBytes(dt, lo), boundBytes(dt, hi)))
    }.toMap

  /** DELETE rows via v2 POSITION DELETES — Iceberg's merge-on-read
    * path: no data file is rewritten; the matching `(file_path, pos)`
    * pairs land in position-delete parquet files, a DELETE manifest
    * (`content = 1`) carries them at the next sequence number, and the
    * new snapshot publishes under format-version 2 (upgrading a v1
    * table in place, as the spec allows — its existing snapshots keep
    * sequence number 0, so the delete gates correctly onto them while
    * LATER appends, stamped with higher sequence numbers, are never
    * affected).
    *
    * Partitioned tables route tombstones into ONE delete file per
    * affected partition tuple, each manifest entry carrying its typed
    * `partition` record (real readers match delete files to data
    * files by partition). Re-deleting an already-dead row is
    * idempotent (both delete files tombstone the same pair). Returns
    * the new snapshot id, or -1 when no LIVE row matches.
    *
    * Scale shape: one predicate-pushed scan over the live files; the
    * pairs are written distributed (no driver materialization); the
    * metadata walk is manifest-sized.
    */
  def deleteRows(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val h = head(fs, tablePath)
    val snap = snapshot(spark, tablePath, None)
    require(snap.formatVersion < 3,
      "IcebergTable: deleteRows writes parquet position-delete files, which " +
        "format-version 3 bans — use deleteRowsDv (deletion vectors) instead")
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    // live-row scan WITH existing POSITION deletes applied, so a
    // predicate matching only position-dead rows is a no-op, plus the
    // row provenance the delete file needs (rows dead under EQUALITY
    // deletes may be re-tombstoned by position — idempotent on read)
    val scanned = {
      val base = scanData(spark, snap, snap.files, withFidPos = true)
      val posDels = snap.deleteFiles.filter(_.equalityColumns.isEmpty)
      if (posDels.isEmpty) base
      else {
        import spark.implicits._
        // same stored-string -> scan-identity remap as the read path:
        // delete files carry the manifest's decoded path verbatim
        val dict = broadcast(
          fidDictRows(snap.dataRefs.map(_.path)).toDF("__dfn", "__dfid"))
        val dels = positionTombstones(spark, posDels.map(_.path), dict)
        base.join(dels,
          base("__fid") === dels("__dfid") && base("__pos") === dels("__dpos"), "left_anti")
      }
    }
    // PARTITIONED tables: each delete file must carry its partition
    // tuple in the manifest (real readers match delete files to data
    // files by partition), so tombstones route into one delete-file
    // group per distinct tuple. The tuple index rides along the
    // (fid -> exact manifest path) broadcast.
    val tuples: Seq[Map[String, String]] = snap.dataRefs.map(_.partition).distinct
    val tupleIdx: Map[Map[String, String], Int] = tuples.zipWithIndex.toMap
    import spark.implicits._
    val pathMap = snap.dataRefs
      .map(r => (scanFileId(r.path), r.path, tupleIdx(r.partition)))
      .toDF("__fid", "file_path", "__pt")
    val matches = scanned.filter(predicate)
      .select(col("__fid"), col("__pos"))
      .join(broadcast(pathMap), "__fid")
      .select(col("file_path"), col("__pos").cast(LongType).as("pos"), col("__pt"))
      .orderBy("file_path", "pos")
    val ptypes = snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val (stamp, snapshotId, seq) = (Landing.newStamp(), newSnapshotId(), h.nextSequence)
    commitDeletes(fs, conf, tablePath, h, ptypes, stamp, snapshotId, seq,
      math.max(2, h.formatVersion),
      Landing.land(fs, table, matches, "delete", stamp, "data", groupBy = Seq("__pt"),
        dropEmptyFiles = true).map(l =>
        Entry(1, Some(snapshotId), seq, 1, landedPath(fs, table, l), "PARQUET", l.stats.rows,
          l.size, typedTuple(tuples(l.partitionValues("__pt").toInt), ptypes))))
  }

  /** DELETE rows via v2 EQUALITY DELETES: tombstone every row whose
    * `keys` tuple appears in `keysDf` — no scan of the table at all
    * (the write cost is the KEY SET, not the data), which is why
    * streaming CDC writers use this shape. The delete file holds the
    * distinct key tuples; the manifest entry carries `content = 2` and
    * the keys' field ids; applicability is STRICTLY
    * `dataSeq < deleteSeq`, so rows (re-)inserted at or after the
    * delete's sequence number survive even when their keys match.
    *
    * Partitioning: with `partitionScope` empty the delete is GLOBAL —
    * the spec's unpartitioned-spec shape, applying table-wide (legal
    * on partitioned tables too; the manifest entry carries no
    * partition tuple). With `partitionScope` set (the full partition
    * tuple, stringified), the delete file is PARTITION-SCOPED — the
    * CDC-writer shape Flink emits — and the reader applies it only to
    * data files in that partition. Returns the new snapshot id.
    */
  def deleteRowsEquality(
      spark: SparkSession, tablePath: String, keys: Seq[String],
      keysDf: DataFrame, partitionScope: Map[String, String] = Map.empty): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val h = head(fs, tablePath)
    val snap = snapshot(spark, tablePath, None)
    if (partitionScope.nonEmpty)
      require(partitionScope.keySet == snap.partitionColumns.toSet,
        s"IcebergTable: partitionScope must be the FULL partition tuple " +
          s"[${snap.partitionColumns.mkString(",")}], got ${partitionScope.keySet}")
    require(keys.nonEmpty && keys.forall(snap.schema.fieldNames.contains),
      s"IcebergTable: equality keys [${keys.mkString(",")}] not all in the table schema")
    require(keysDf.schema.fieldNames.toSeq == keys,
      s"IcebergTable: keysDf columns ${keysDf.schema.fieldNames.mkString(",")} " +
        s"must be exactly the keys [${keys.mkString(",")}]")
    val nameToId = fieldIdToName(h.meta).map(_.swap)
    val ids = keys.map(k => nameToId.getOrElse(k, throw new IllegalArgumentException(
      s"IcebergTable: no field id for equality key '$k'")))
    val distinctKeys = keysDf.distinct()
      .orderBy(keys.map(org.apache.spark.sql.functions.col): _*)
    // id-capable tables stamp the key columns with their field ids so
    // the delete file stays resolvable across later renames
    val keyedOut =
      if (snap.fieldIdsWritten)
        withFieldIds(spark, distinctKeys,
          keys.zip(ids).map { case (k, id) => IceField(id, k, snap.schema(k).dataType) })
      else distinctKeys
    // scoped deletes carry their typed tuple in the manifest entry;
    // global deletes carry none (the unpartitioned-spec shape)
    val ptypes =
      if (partitionScope.isEmpty) Seq.empty
      else snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val (stamp, snapshotId, seq) = (Landing.newStamp(), newSnapshotId(), h.nextSequence)
    commitDeletes(fs, conf, tablePath, h, ptypes, stamp, snapshotId, seq,
      math.max(2, h.formatVersion),
      Landing.land(fs, table, keyedOut, "eqdelete", stamp, "data",
        dropEmptyFiles = true).map(l =>
        Entry(1, Some(snapshotId), seq, 2, landedPath(fs, table, l), "PARQUET", l.stats.rows,
          l.size, typedTuple(partitionScope, ptypes), equalityIds = ids)))
  }

  /** DELETE rows via format-version 3 DELETION VECTORS: one puffin
    * `deletion-vector-v1` blob per affected data file (decoded
    * roaring bitmaps of dead `_metadata.row_index` positions),
    * referenced from a delete manifest by `referenced_data_file` +
    * `content_offset`/`content_size_in_bytes`. Commits upgrade the
    * table to format-version 3 (v1/v2 reads are otherwise unchanged —
    * the v2 manifest shapes carry over, per the spec's upgrade rule).
    *
    * Re-deleting a file that already carries a DV writes a NEW vector
    * holding the UNION of old and new positions and tombstones the
    * old blob's entry (status DELETED) in the same manifest — the
    * spec's at-most-one-DV-per-file invariant. Parquet position
    * deletes may not coexist (v3 bans them): rewrite first. Equality
    * deletes are untouched and keep applying. Returns the new
    * snapshot id, or -1 when no LIVE row matches.
    *
    * Scale shape: one predicate-pushed scan; per-file bitmaps
    * serialize in EXECUTOR tasks (groupByKey on the file identity) and
    * only compressed bytes reach the driver — the same contract as
    * [[DeltaLog.deleteWithDv]].
    */
  def deleteRowsDv(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val h = head(fs, tablePath)
    val snap = snapshot(spark, tablePath, None)
    require(snap.deleteFiles.forall(d => d.isDv || d.equalityColumns.nonEmpty),
      "IcebergTable: live parquet position-delete files — format-version 3 bans " +
        "them; rewriteDataFiles to purge the tombstones before DV deletes")
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    val existingDvs: Map[String, (String, Long, Long, Long)] =
      snap.deleteFiles.filter(_.isDv).map(d =>
        scanFileId(d.referencedDataFile.get) ->
          ((d.path, d.contentOffset, d.contentSize, d.sequence))).toMap
    import spark.implicits._
    val hadoopConfB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    // LIVE rows (existing DVs applied) with row provenance
    val base = scanData(spark, snap, snap.files, withFidPos = true)
    val live =
      if (existingDvs.isEmpty) base
      else {
        val descs = existingDvs.toSeq.map { case (fid, (p, off, len, _)) => (fid, p, off, len) }
        val dels = spark.createDataset(descs).flatMap { case (fid, pp, off, len) =>
          val p = new Path(pp)
          Puffin.readDv(p.getFileSystem(hadoopConfB.value.value), p, off, len)
            .toSeq.map(pos => (fid, pos))
        }.toDF("__dfid", "__dpos")
        base.join(dels,
          base("__fid") === dels("__dfid") && base("__pos") === dels("__dpos"), "left_anti")
      }
    // per-file union of old + fresh positions, serialized in executors
    val exB = spark.sparkContext.broadcast(existingDvs)
    val frames: Seq[(String, Array[Byte], Long)] =
      live.filter(predicate).select(col("__fid"), col("__pos"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (fid, it) =>
          val fresh = it.map(_._2).toArray
          val old = exB.value.get(fid).map { case (p, off, len, _) =>
            val pp = new Path(p)
            Puffin.readDv(pp.getFileSystem(hadoopConfB.value.value), pp, off, len)
          }.getOrElse(Array.empty[Long])
          val all = (old ++ fresh).distinct.sorted
          (fid, Puffin.serialize64(all), all.length.toLong)
        }
        .collect().toSeq.sortBy(_._1)
    if (frames.isEmpty) return -1L
    // publish: the puffin file, then ADDED entries for the new blobs
    // and DELETED entries tombstoning any replaced blob
    val (stamp, snapshotId, newSeq) = (Landing.newStamp(), newSnapshotId(), h.nextSequence)
    val refByFid: Map[String, DataFileRef] =
      snap.dataRefs.map(r => scanFileId(r.path) -> r).toMap
    val puffinPath = new Path(table, s"data/dv-$stamp.puffin")
    fs.mkdirs(puffinPath.getParent)
    val blobs = Puffin.writeDvFilePacked(fs, puffinPath,
      frames.map { case (fid, bytes, card) => (refByFid(fid).path, bytes, card) },
      snapshotId, newSeq)
    val puffinLen = fs.getFileStatus(puffinPath).getLen
    val qPuffin = fs.makeQualified(puffinPath).toString
    val ptypes = snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    def dvEntry(status: Int, seq: Long, path: String, fileLen: Long, fid: String,
        offset: Long, size: Long, card: Long): Entry = {
      val ref = refByFid(fid)
      Entry(status, Some(snapshotId), seq, 1, path, "PUFFIN", card, fileLen,
        typedTuple(ref.partition, ptypes), dv = Some((ref.path, offset, size)))
    }
    val added = frames.zip(blobs).map { case ((fid, _, card), b) =>
      dvEntry(1, newSeq, qPuffin, puffinLen, fid, b.offset, b.length, card)
    }
    val replaced = frames.flatMap { case (fid, _, _) =>
      existingDvs.get(fid).map { case (p, off, size, oldSeq) =>
        dvEntry(2, oldSeq, p, 0L, fid, off, size, 0L)
      }
    }
    commitDeletes(fs, conf, tablePath, h, ptypes, stamp, snapshotId, newSeq, formatVersion = 3,
      added ++ replaced)
  }

  /** Commit a DELETE snapshot: one `manifest-del-<stamp>.avro` of
    * `entries` (the v2 entry shape) at sequence number `seq`, the
    * current snapshot's manifests carried forward in a v2 list, and
    * the metadata upgraded in place to `formatVersion` — v2 for
    * parquet deletes, v3 for deletion vectors, never a downgrade (a v1
    * table's existing files keep sequence number 0, so the deletes
    * gate onto them while LATER appends are never affected). Returns
    * the new snapshot id, or -1 when `entries` is empty.
    */
  private def commitDeletes(
      fs: FileSystem, conf: org.apache.hadoop.conf.Configuration, tablePath: String,
      h: Head, ptypes: Seq[(String, DataType)], stamp: String, snapshotId: Long, seq: Long,
      formatVersion: Int, entries: Seq[Entry]): Long = {
    if (entries.isEmpty) return -1L
    val manifest = writeManifest(fs, tablePath, s"manifest-del-$stamp.avro",
      entrySchema(ptypes, v2 = true), content = 1, seq, snapshotId, entries)
    val list = writeManifestList(fs, tablePath, fv = 2, snapshotId, stamp,
      currentManifests(fs, conf, h.meta) :+ manifest)
    val newMeta = h.meta.deepCopy[ObjectNode]()
    newMeta.put("format-version", formatVersion)
    newMeta.put("last-sequence-number", seq)
    if (!newMeta.has("schemas")) {
      val s0 = h.meta.get("schema").deepCopy[ObjectNode]()
      s0.put("schema-id", 0)
      newMeta.putArray("schemas").add(s0)
      newMeta.put("current-schema-id", 0)
    }
    if (!newMeta.has("sort-orders")) {
      newMeta.putArray("sort-orders").addObject().put("order-id", 0).putArray("fields")
      newMeta.put("default-sort-order-id", 0)
    }
    commitMetadata(fs, tablePath, Some(h), newMeta,
      Some(NewSnapshot(snapshotId, list, "delete")))
    snapshotId
  }

  // ----------------------------------------------- refs (tags/branches)

  /** The metadata's `refs` map: name -> (snapshot-id, type). The
    * implicit `main` branch (current-snapshot-id) is NOT listed here,
    * matching the spec's default.
    */
  private def refsOf(meta: JsonNode): Map[String, (Long, String)] = {
    val r = meta.get("refs")
    if (r == null || !r.isObject) Map.empty
    else {
      val it = r.fields()
      val b = Map.newBuilder[String, (Long, String)]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> ((e.getValue.get("snapshot-id").asLong(),
          e.getValue.get("type").asText()))
      }
      b.result()
    }
  }

  /** Create (or move) a named REF — the spec's `refs` map. A TAG pins
    * a snapshot forever ([[expireSnapshots]] never reclaims what a ref
    * reaches); a BRANCH is a movable read head. Metadata-only publish.
    * Writes THROUGH a branch are out of scope (branch-scoped lineage
    * needs a catalog's commit arbitration) — branches here are what
    * audit/reproducibility workflows need: stable named read points.
    */
  def createRef(
      spark: SparkSession, tablePath: String, name: String,
      refType: String, snapshotId: Option[Long] = None): Unit =
    writeRef(spark, tablePath, name, refType, snapshotId, replace = false)

  /** Re-point an EXISTING ref of the same type to a new snapshot (the
    * current one by default) — the explicit move [[createRef]] refuses:
    * silently re-pointing on create would let a typo'd re-create move a
    * tag's retention promise off the snapshot it was protecting from
    * [[expireSnapshots]].
    */
  def replaceRef(
      spark: SparkSession, tablePath: String, name: String,
      refType: String, snapshotId: Option[Long] = None): Unit =
    writeRef(spark, tablePath, name, refType, snapshotId, replace = true)

  private def writeRef(
      spark: SparkSession, tablePath: String, name: String,
      refType: String, snapshotId: Option[Long], replace: Boolean): Unit = {
    require(refType == "tag" || refType == "branch",
      s"IcebergTable: ref type must be 'tag' or 'branch', got '$refType'")
    require(name.nonEmpty && name != "main",
      "IcebergTable: 'main' is the implicit current-snapshot branch")
    val fs = fsOf(spark, new Path(tablePath))
    val h = head(fs, tablePath)
    val meta = h.meta
    val target = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    require(snapshotNode(meta, target).isDefined,
      s"IcebergTable: ref target snapshot $target not found (expired?)")
    val refs =
      if (meta.has("refs") && meta.get("refs").isObject) meta.get("refs").asInstanceOf[ObjectNode]
      else meta.putObject("refs")
    if (replace) {
      require(refs.has(name),
        s"IcebergTable: replaceRef on '$name' which does not exist — use createRef")
      require(refsOf(meta)(name)._2 == refType,
        s"IcebergTable: ref '$name' already exists with a different type")
    } else
      require(!refs.has(name),
        s"IcebergTable: ref '$name' already exists" +
          (if (refsOf(meta)(name)._2 == refType) " — use replaceRef to re-point it"
           else " with a different type"))
    val node = refs.putObject(name)
    node.put("snapshot-id", target)
    node.put("type", refType)
    commitMetadata(fs, tablePath, Some(h), meta)
  }

  def createTag(spark: SparkSession, tablePath: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    createRef(spark, tablePath, name, "tag", snapshotId)

  def createBranch(spark: SparkSession, tablePath: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    createRef(spark, tablePath, name, "branch", snapshotId)

  /** Read the table AS OF a named ref (`main` = current). */
  def readRef(spark: SparkSession, tablePath: String, name: String): DataFrame = {
    val fs = fsOf(spark, new Path(tablePath))
    val meta = head(fs, tablePath).meta
    if (name == "main") read(spark, tablePath)
    else {
      val (sid, _) = refsOf(meta).getOrElse(name, throw new IllegalArgumentException(
        s"IcebergTable: no ref named '$name' " +
          s"(have: ${(refsOf(meta).keys.toSeq :+ "main").sorted.mkString(", ")})"))
      read(spark, tablePath, Some(sid))
    }
  }

  /** The `refs` metadata table: name, type, snapshot-id (plus the
    * implicit `main` head).
    */
  def refsTable(spark: SparkSession, tablePath: String): DataFrame = {
    val fs = fsOf(spark, new Path(tablePath))
    val meta = head(fs, tablePath).meta
    val rows = (refsOf(meta).toSeq.map { case (n, (sid, tp)) =>
      org.apache.spark.sql.Row(n, tp, sid)
    } :+ org.apache.spark.sql.Row("main", "branch",
      meta.get("current-snapshot-id").asLong())).sortBy(_.getString(0))
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("snapshot_id", LongType)))
    spark.createDataFrame(new java.util.ArrayList(rows.asJavaList), schema)
  }

  // --------------------------------------------- incremental append scan

  /** Rows ADDED by the snapshots in `(fromSnapshotId, toSnapshotId]` —
    * Iceberg's incremental append scan, the polling-consumer shape
    * ([[DeltaLog.readChangesSince]]'s table-format twin): each append
    * snapshot contributes exactly the data files its own manifests
    * ADDED. `replace` snapshots (compaction) are SKIPPED — they carry
    * no new rows, only new layout; `delete` snapshots refuse loudly
    * (an incremental APPEND scan cannot express row removal — that
    * consumer needs the table-diff path).
    *
    * Scale shape: the walk touches only the asked snapshots' own
    * manifests; the scan reads only their added files.
    */
  def readAppendsBetween(
      spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, new Path(tablePath))
    val all = snapshotsOf(head(fs, tablePath).meta)
    def idOf(s: JsonNode) = s.get("snapshot-id").asLong()
    val fromIdx = all.indexWhere(idOf(_) == fromSnapshotId)
    val toIdx = all.indexWhere(idOf(_) == toSnapshotId)
    require(fromIdx >= 0 && toIdx >= 0 && fromIdx <= toIdx,
      s"IcebergTable: snapshot range ($fromSnapshotId, $toSnapshotId] not resolvable " +
        "in the listed lineage (expired, or reversed order)")
    val snap = snapshot(spark, tablePath, Some(toSnapshotId))
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    val range = all.slice(fromIdx + 1, toIdx + 1)
    val added = range.flatMap { s =>
      val op = Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
        .map(_.asText()).getOrElse("")
      op match {
        case "append" =>
          val sid = idOf(s)
          readAvro(fs, new Path(s.get("manifest-list").asText()), conf)
            .filter(r => field(r, "added_snapshot_id").contains(sid))
            .flatMap(r => readAvro(fs, new Path(r.get("manifest_path").toString), conf))
            .filter(_.get("status").asInstanceOf[Int] == 1) // ADDED
            // per-entry snapshot_id confirms the adder (defensive for
            // lists older writers stamped with the wrong manifest-level id)
            .filter(e => field(e, "snapshot_id").forall(_ == sid))
            .map(_.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)
        case "replace" => Seq.empty // layout-only: no new rows
        case other => throw new IllegalArgumentException(
          s"IcebergTable: snapshot ${idOf(s)} in the asked range is a '$other' — " +
            "an incremental APPEND scan cannot express row removal; " +
            "use a full-table diff for that consumer")
      }
    }
    scanData(spark, snap, added)
  }

  // ------------------------------------------ schema evolution (by id)

  /** Shared tail of the METADATA-ONLY schema-evolution ops: verify the
    * table is field-id-capable (files resolve by id, so no data file
    * needs touching), apply `transform` to the current fields, publish
    * `vN+1.metadata.json` with the new schema under a BUMPED schema-id
    * while every prior schema and snapshot carries forward verbatim.
    */
  private def publishSchemaEvolution(
      spark: SparkSession, tablePath: String, op: String,
      newDefaults: Map[String, (DataType, Any)] = Map.empty)(
      transform: (Seq[IceField], JsonNode) => Seq[IceField]): Unit = {
    val fs = fsOf(spark, new Path(tablePath))
    val h = head(fs, tablePath)
    val meta = h.meta
    require(propertiesOf(meta).get(FieldIdsProperty).contains("true"),
      s"IcebergTable: $op needs a field-id-capable table " +
        s"($FieldIdsProperty=true) — files without parquet field ids could not " +
        "re-resolve the evolved schema; rewrite the table first")
    val fields = parseFields(currentSchemaNode(meta))
    val newFields = transform(fields, meta)
    newFields.foreach(f => toIcebergType(f.dataType)) // loud unsupported-type check
    require(newFields.map(_.name).distinct.size == newFields.size,
      s"IcebergTable: $op would leave duplicate column names")
    val newMeta = meta.deepCopy[ObjectNode]()
    val curId =
      if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt() else 0
    val newId = curId + 1
    // DEFAULT carry: existing initial-default/write-default nodes ride
    // by FIELD ID into the new current schema ([[carriedDefaults]]),
    // then `newDefaults` decorates the fields this op declares one for
    val carried = carriedDefaults(meta)
    def decorate(node: ObjectNode): Unit =
      attachDefaults(node, carried, newDefaults)
    // legacy inline "schema" tracks the current shape; the schemas
    // array keeps every prior entry (live snapshots reference them)
    val inline = schemaJsonOf(newFields)
    inline.put("schema-id", newId)
    decorate(inline)
    newMeta.set[ObjectNode]("schema", inline)
    val schemasArr =
      if (newMeta.has("schemas") && newMeta.get("schemas").isArray)
        newMeta.withArray[ArrayNode]("schemas")
      else {
        val arr = newMeta.putArray("schemas")
        val s0 = schemaJsonOf(fields)
        s0.put("schema-id", curId)
        attachDefaults(s0, carried)
        arr.add(s0)
        arr
      }
    val bumped = schemaJsonOf(newFields)
    bumped.put("schema-id", newId)
    decorate(bumped)
    schemasArr.add(bumped)
    newMeta.put("current-schema-id", newId)
    // fresh field ids (addColumn) advance last-column-id so no id is
    // ever reused, even across a later drop
    val maxId = newFields.map(_.id).max
    val declaredLast =
      if (newMeta.has("last-column-id")) newMeta.get("last-column-id").asInt() else 0
    if (maxId > declaredLast) newMeta.put("last-column-id", maxId)
    // column defaults are a FORMAT-VERSION 3 feature: declaring one on
    // a v1/v2 table upgrades the metadata in place (the same in-place
    // upgrade deleteRowsDv performs), which v3's position-delete ban
    // makes conditional on no live parquet position-delete files
    if (newDefaults.nonEmpty && meta.get("format-version").asInt() < 3) {
      val hasSnapshots =
        meta.has("snapshots") && meta.get("snapshots").isArray &&
          meta.get("snapshots").size() > 0
      require(!hasSnapshots || !snapshot(spark, tablePath, None).deleteFiles
          .exists(d => !d.isDv && d.equalityColumns.isEmpty),
        s"IcebergTable: $op declares a default (a v3 feature) but the table " +
          "carries live parquet position-delete files, which v3 bans — " +
          "rewriteDataFiles first")
      newMeta.put("format-version", 3)
      if (!newMeta.has("last-sequence-number")) newMeta.put("last-sequence-number", 0L)
    }
    commitMetadata(fs, tablePath, Some(h), newMeta)
  }

  /** ADD COLUMN — metadata-only (zero files touched): the new field
    * takes a fresh id past `last-column-id`; existing files simply
    * lack it and null-fill on read. With `initialDefault` the
    * declared literal becomes the value every PRE-EXISTING row reads
    * (the v3 `initial-default`, also emitted as `write-default` per
    * the spec's add-column rule), and the table publishes as
    * format-version 3 — the version that defines default values. The
    * literal round-trips through [[defaultJsonNode]]/[[parseDefault]]
    * at declaration time, so an unrepresentable default refuses HERE,
    * not at the next read.
    */
  def addColumn(spark: SparkSession, tablePath: String, name: String,
      dataType: DataType, initialDefault: Option[Any] = None): Unit = {
    toIcebergType(dataType) // loud unsupported-type check
    initialDefault.foreach(v =>
      parseDefault(name, dataType, defaultJsonNode(dataType, v)))
    publishSchemaEvolution(spark, tablePath, s"addColumn($name)",
      newDefaults = initialDefault.map(v => name -> ((dataType, v))).toMap) { (fields, m) =>
      require(!fields.exists(_.name == name),
        s"IcebergTable: addColumn '$name' already exists")
      // fresh id past EVERY id ever used, not just the live maximum —
      // a dropped column's id must never be reassigned
      val declaredLast = if (m.has("last-column-id")) m.get("last-column-id").asInt() else 0
      val freshId = math.max(declaredLast, fields.map(_.id).max) + 1
      fields :+ IceField(freshId, name, dataType)
    }
  }

  /** RENAME COLUMN — metadata-only (zero files touched): the field id
    * is the binding everywhere (parquet footers, equality-delete
    * `equality_ids`, spec `source-id`), so only the label changes.
    * Old data AND old equality-delete files keep resolving by id —
    * deletes written before the rename still apply after it.
    */
  def renameColumn(spark: SparkSession, tablePath: String, from: String, to: String): Unit =
    publishSchemaEvolution(spark, tablePath, s"renameColumn($from -> $to)") { (fields, m) =>
      require(fields.exists(_.name == from),
        s"IcebergTable: renameColumn '$from' not in the table schema")
      require(!fields.exists(_.name == to),
        s"IcebergTable: renameColumn target '$to' already exists")
      require(!specColumnNames(m).contains(from),
        s"IcebergTable: renameColumn '$from' is a partition source column — its name " +
          "keys the Hive-style data paths and stringified manifest tuples; rewrite instead")
      fields.map(f => if (f.name == from) f.copy(name = to) else f)
    }

  /** DROP COLUMN — metadata-only: the field vanishes from the current
    * schema (its id is never reused — `last-column-id` stays put) and
    * every data file keeps the bytes invisibly. Refuses while a LIVE
    * equality-delete file still references the field (dropping it
    * would make the tombstones unresolvable and resurrect rows);
    * compact first.
    */
  def dropColumn(spark: SparkSession, tablePath: String, column: String): Unit = {
    val snap = snapshot(spark, tablePath, None)
    require(!snap.deleteFiles.exists(_.equalityColumns.contains(column)),
      s"IcebergTable: dropColumn '$column' is referenced by a live equality-delete " +
        "file — dropping it would orphan the tombstones; rewriteDataFiles first")
    publishSchemaEvolution(spark, tablePath, s"dropColumn($column)") { (fields, _) =>
      require(fields.exists(_.name == column),
        s"IcebergTable: dropColumn '$column' not in the table schema")
      require(fields.size > 1,
        s"IcebergTable: dropColumn '$column' would leave an empty schema")
      require(!snap.partitionColumns.contains(column),
        s"IcebergTable: dropColumn '$column' is a partition source column")
      fields.filterNot(_.name == column)
    }
  }

  /** WIDEN COLUMN TYPE — metadata-only, following Iceberg's type
    * promotion rules (`int -> long`, `float -> double`): existing
    * narrow files upcast through the declared schema on every read,
    * later writes land wide natively. Partition source columns refuse
    * (their stringified manifest tuples would re-type underneath every
    * reader at once).
    */
  def widenColumnType(
      spark: SparkSession, tablePath: String, column: String, to: DataType): Unit =
    publishSchemaEvolution(spark, tablePath, s"widenColumnType($column)") { (fields, m) =>
      val f = fields.find(_.name == column).getOrElse(throw new IllegalArgumentException(
        s"IcebergTable: widenColumnType '$column' not in the table schema"))
      val ok = (f.dataType, to) match {
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(ok, s"IcebergTable: ${f.dataType.simpleString} -> ${to.simpleString} is " +
        "not an Iceberg type promotion (int -> long, float -> double)")
      require(!specColumnNames(m).contains(column),
        s"IcebergTable: widenColumnType '$column' is a partition source column — its " +
          "stringified manifest tuples would re-type under every reader; rewrite instead")
      fields.map(x => if (x.name == column) x.copy(dataType = to) else x)
    }

  // ------------------------------------------------ metadata tables

  /** The `snapshots` metadata table: one row per snapshot still listed
    * in the current table metadata — what an operator debugging a
    * 100 TB table reaches for first. Driver-parsed (the metadata JSON
    * is metadata-sized by design), handed to Spark as a local relation.
    */
  def snapshotsTable(spark: SparkSession, tablePath: String): DataFrame = {
    val fs = fsOf(spark, new Path(tablePath))
    val meta = head(fs, tablePath).meta
    require(meta.path("snapshots").isArray, "IcebergTable: no snapshots array")
    // `lineage` is the snapshot's position in the metadata array — the
    // COMMIT order. Timestamps have millisecond granularity, so two
    // commits in the same tick would sort nondeterministically by
    // (committed_at, random id); order by lineage instead.
    val rows = snapshotsOf(meta).zipWithIndex.map { case (s, i) =>
      org.apache.spark.sql.Row(
        i.toLong,
        new java.sql.Timestamp(s.get("timestamp-ms").asLong()),
        s.get("snapshot-id").asLong(),
        if (s.has("sequence-number")) s.get("sequence-number").asLong() else 0L,
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText()).getOrElse(""),
        s.get("manifest-list").asText())
    }
    val schema = StructType(Seq(
      StructField("lineage", LongType),
      StructField("committed_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("sequence_number", LongType),
      StructField("operation", StringType),
      StructField("manifest_list", StringType)))
    spark.createDataFrame(new java.util.ArrayList(rows.asJavaList), schema)
  }

  /** The `history` metadata table: when each snapshot became current.
    * This writer's lineage is linear (no branch rollback), so every
    * listed snapshot is a current-ancestor.
    */
  def historyTable(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    snapshotsTable(spark, tablePath).select(
      col("committed_at").as("made_current_at"),
      col("snapshot_id"),
      org.apache.spark.sql.functions.lit(true).as("is_current_ancestor"))
  }

  /** The `manifests` metadata table: one row per manifest in the
    * CURRENT (or asked) snapshot's manifest list.
    */
  def manifestsTable(
      spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, new Path(tablePath))
    val meta = head(fs, tablePath).meta
    val wantId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snapNode = snapshotNode(meta, wantId).getOrElse(throw new IllegalArgumentException(
      s"IcebergTable: snapshot $wantId not found (expired?)"))
    val rows = manifestRefs(fs, conf, snapNode).map(m => org.apache.spark.sql.Row(
      m.path, m.length, m.specId, m.content, m.sequence, m.minSequence, m.addedSnapshotId))
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("length", LongType),
      StructField("partition_spec_id", IntegerType),
      StructField("content", IntegerType),
      StructField("sequence_number", LongType),
      StructField("min_sequence_number", LongType),
      StructField("added_snapshot_id", LongType)))
    spark.createDataFrame(new java.util.ArrayList(rows.asJavaList), schema)
  }

  /** The `files` metadata table: one row per LIVE file of the current
    * (or asked) snapshot — data files (`content = 0`) AND delete files
    * (1 position / 2 equality; Iceberg splits these into
    * `delete_files`, folded here under the spec's own content code),
    * with the manifests' declared counts/sizes, the identity partition
    * tuple, the gating sequence number, and equality field ids. Built
    * from the same avro walk as [[snapshot]] — no data file is opened.
    */
  def filesTable(
      spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val fs = fsOf(spark, new Path(tablePath))
    val meta = head(fs, tablePath).meta
    val nameToId = fieldIdToName(meta).map(_.swap)
    val snap = snapshot(spark, tablePath, snapshotId)
    val rows =
      snap.dataRefs.map { r =>
        org.apache.spark.sql.Row(0, r.path, "PARQUET", r.records, r.sizeBytes,
          r.sequence, r.partition, null)
      } ++ snap.deleteFiles.map { d =>
        org.apache.spark.sql.Row(
          if (d.equalityColumns.isEmpty) 1 else 2,
          d.path, "PARQUET", d.records, d.sizeBytes, d.sequence, d.partition,
          if (d.equalityColumns.isEmpty) null
          else d.equalityColumns.map(c => nameToId.getOrElse(c, -1)))
      }
    val schema = StructType(Seq(
      StructField("content", IntegerType),
      StructField("file_path", StringType),
      StructField("file_format", StringType),
      StructField("record_count", LongType),
      StructField("file_size_in_bytes", LongType),
      StructField("sequence_number", LongType),
      StructField("partition", MapType(StringType, StringType)),
      StructField("equality_ids", ArrayType(IntegerType))))
    spark.createDataFrame(new java.util.ArrayList(rows.asJavaList), schema)
  }

  private implicit class RowsOps(rows: Seq[org.apache.spark.sql.Row]) {
    def asJavaList: java.util.List[org.apache.spark.sql.Row] = {
      import scala.jdk.CollectionConverters._
      rows.asJava
    }
  }

  /** EXPIRE SNAPSHOTS — the `expire_snapshots` maintenance twin
    * (Iceberg's vacuum): snapshots whose `timestamp-ms` is older than
    * `olderThanMillis` are dropped from the table metadata — never the
    * CURRENT snapshot, and always keeping the `retainLast` most recent
    * — and every file reachable ONLY from the expired snapshots
    * (manifest lists, manifests, data and delete files) is physically
    * deleted. Reachability is a SET DIFFERENCE against everything the
    * kept snapshots still reference, so the carry-forward sharing of
    * manifests between snapshots never strands a live file. The new
    * metadata version publishes BEFORE any physical delete (a reader
    * racing the cleanup can no longer resolve an expired snapshot);
    * time travel to an expired id then refuses loudly. Returns the
    * number of files deleted.
    *
    * Scale shape: the walk is metadata-sized (manifest avro, never
    * data); deletes are driver-issued per orphaned file, the same
    * contract as [[DeltaLog.vacuum]].
    */
  def expireSnapshots(
      spark: SparkSession, tablePath: String,
      olderThanMillis: Long, retainLast: Int = 1): Long = {
    require(retainLast >= 1, "IcebergTable: expireSnapshots must retain at least 1 snapshot")
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val h = head(fs, tablePath)
    val meta = h.meta
    val currentId = meta.get("current-snapshot-id").asLong()
    val all = snapshotsOf(meta)
    def idOf(s: JsonNode) = s.get("snapshot-id").asLong()
    def tsOf(s: JsonNode) = s.get("timestamp-ms").asLong()
    val newestIds = all.sortBy(-tsOf(_)).take(retainLast).map(idOf).toSet
    // snapshots pinned by REFS (tags/branches) never expire — a tag is
    // exactly a retention promise
    val refIds = refsOf(meta).values.map(_._1).toSet
    val keepIds = all.filter(s =>
      idOf(s) == currentId || newestIds(idOf(s)) || refIds(idOf(s)) ||
        tsOf(s) >= olderThanMillis)
      .map(idOf).toSet
    val (keep, expired) = all.partition(s => keepIds(idOf(s)))
    if (expired.isEmpty) return 0L
    def q(p: String): String = fs.makeQualified(new Path(p)).toString
    // everything a snapshot reaches: its manifest list, the manifests
    // in it, and every file path those manifests carry (data + delete)
    def reach(s: JsonNode): (String, Seq[String], Seq[String]) = {
      val manifests = manifestRefs(fs, conf, s).map(m => q(m.path))
      val files = manifests.flatMap(mp => readAvro(fs, new Path(mp), conf).map(r =>
        q(r.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)))
      (q(s.get("manifest-list").asText()), manifests, files)
    }
    val keepReach = keep.map(reach)
    val keepLists = keepReach.map(_._1).toSet
    val keepManifests = keepReach.flatMap(_._2).toSet
    val keepFiles = keepReach.flatMap(_._3).toSet
    val expReach = expired.map(reach)
    val delete = (expReach.map(_._1).filterNot(keepLists) ++
      expReach.flatMap(_._2).filterNot(keepManifests) ++
      expReach.flatMap(_._3).filterNot(keepFiles)).distinct
    // publish the shrunk snapshot list FIRST, then reclaim
    val newSnaps = mapper.createArrayNode()
    keep.foreach(s => newSnaps.add(s))
    meta.set[ObjectNode]("snapshots", newSnaps)
    commitMetadata(fs, tablePath, Some(h), meta)
    delete.foreach(p => fs.delete(new Path(p), false))
    delete.size.toLong
  }
}

package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Reader/writer for Apache Iceberg's TABLE-METADATA format (v1) — the
  * other open table format beside Delta, published at iceberg.apache.org
  * (spec: Table Metadata / Manifests / Manifest Lists). The layout is
  * `metadata/vN.metadata.json` (+ `version-hint.text`) → current
  * snapshot → a manifest-list AVRO file → manifest AVRO files → data
  * file paths. No connector jar is needed: the metadata JSON parses
  * with Jackson, the manifests with the avro-core/avro-mapred jars
  * Spark already ships, and the data files are ordinary parquet.
  *
  * Scope (guarded loudly, never silently wrong):
  *  - format-version 1, parquet data files; identity-partitioned
  *    tables read AND write (partition tuples in
  *    `data_file.partition`, Hive-style `data/col=value/` layout,
  *    file-level pruning from the manifests on read);
  *  - append-only snapshots (manifest entries with status DELETED (2)
  *    are honored on read by exclusion; equality/position DELETE FILES
  *    — v2 row-level deletes — are refused via the format-version
  *    check);
  *  - schema types: the primitive set the testdata needs (long, int,
  *    double, float, boolean, string, date, timestamp).
  *
  * Scale shape: manifests are METADATA-sized (Iceberg's own design
  * point — a 100 TB table is ~10^5 manifest entries split across
  * manifest files); this reader walks them on the driver exactly as
  * Iceberg's own planner does, then hands Spark one declared-schema
  * parquet scan over the live files. The writer twin appends a new
  * snapshot per commit, CARRYING FORWARD prior manifests in the new
  * manifest list (so old snapshots stay readable = time travel) and
  * publishing via a new `vN.metadata.json` + `version-hint.text`.
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

  /** v2 DELETE-manifest entries: `data_file.content = 1` marks a
    * position-delete parquet (columns `file_path`, `pos`), and the
    * explicit entry `sequence_number` gates which data files it
    * applies to.
    */
  private def deleteManifestEntrySchema(partitionFields: Seq[(String, DataType)]): Schema = {
    val pField =
      if (partitionFields.isEmpty) ""
      else {
        val fields = partitionFields.map { case (n, dt) =>
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
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int"},
         |  {"name":"snapshot_id","type":["null","long"],"default":null},
         |  {"name":"sequence_number","type":["null","long"],"default":null},
         |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
         |    {"name":"content","type":"int"},
         |    {"name":"file_path","type":"string"},
         |    {"name":"file_format","type":"string"},
         |    {"name":"record_count","type":"long"},
         |    {"name":"file_size_in_bytes","type":"long"},
         |    {"name":"first_row_id","type":["null","long"],"default":null},
         |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
         |    {"name":"referenced_data_file","type":["null","string"],"default":null},
         |    {"name":"content_offset","type":["null","long"],"default":null},
         |    {"name":"content_size_in_bytes","type":["null","long"],"default":null},
         |    {"name":"lower_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"k126_v127","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
         |    {"name":"upper_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"k128_v129","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null}$pField
         |  ]}}
         |]}""".stripMargin)
  }

  /** Manifest-entry schema; partitioned tables add the spec's
    * `data_file.partition` struct (r102) with one nullable field per
    * identity-transformed partition column.
    */
  private def manifestEntrySchema(partitionFields: Seq[(String, DataType)]): Schema = {
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
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int"},
         |  {"name":"snapshot_id","type":["null","long"],"default":null},
         |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
         |    {"name":"file_path","type":"string"},
         |    {"name":"file_format","type":"string"},
         |    {"name":"record_count","type":"long"},
         |    {"name":"file_size_in_bytes","type":"long"},
         |    {"name":"first_row_id","type":["null","long"],"default":null},
         |    {"name":"lower_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"k126_v127","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
         |    {"name":"upper_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"k128_v129","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null}$pField
         |  ]}}
         |]}""".stripMargin)
  }

  private val ManifestEntrySchema: Schema = manifestEntrySchema(Seq.empty)

  // ------------------- column bounds (Iceberg single-value binary) --

  /** Iceberg's binary single-value serialization (spec Appendix D):
    * little-endian fixed-width numerics, UTF-8 strings. `v` is the
    * JVM-typed value [[parquetFooterInfo]] collected.
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

  /** Skipping-comparable form: numerics/temporals to Double, strings
    * verbatim (compared in UNSIGNED UTF-8 order) — the same lattice
    * the Delta reader's stats skipping uses. `raw` values come from
    * [[boundValue]] or a user argument.
    */
  private def comparableBound(dt: DataType, raw: Any): Option[Either[Double, String]] =
    (dt, raw) match {
      case (_, null) => None
      case (StringType, s0: String) => Some(Right(s0))
      case (DateType, d: java.sql.Date) => Some(Left(d.toLocalDate.toEpochDay.toDouble))
      case (DateType, d: java.time.LocalDate) => Some(Left(d.toEpochDay.toDouble))
      case (DateType, n: Int) => Some(Left(n.toDouble))
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(Left(t.getTime * 1000.0 + (t.getNanos % 1000000) / 1000.0))
      case (TimestampType, t: java.time.Instant) =>
        Some(Left(t.getEpochSecond * 1e6 + t.getNano / 1000.0))
      case (TimestampType, n: Long) => Some(Left(n.toDouble))
      case (_, n: Number) => Some(Left(n.doubleValue))
      case (BooleanType, x: Boolean) => Some(Left(if (x) 1.0 else 0.0))
      case _ => None
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
  private def parseDefault(name: String, dt: DataType,
      v: com.fasterxml.jackson.databind.JsonNode): Any = {
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
  private def defaultJsonNode(
      dt: DataType, v: Any): com.fasterxml.jackson.databind.JsonNode = {
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
  private def carriedDefaults(meta: com.fasterxml.jackson.databind.JsonNode)
      : Map[Int, Seq[(String, com.fasterxml.jackson.databind.JsonNode)]] = {
    val fn = currentSchemaNode(meta).get("fields")
    if (fn == null || !fn.isArray) Map.empty
    else (0 until fn.size()).map(fn.get).flatMap { f =>
      val keep = Seq("initial-default", "write-default")
        .filter(k => f.has(k) && !f.get(k).isNull).map(k => k -> f.get(k))
      if (keep.isEmpty) None else Some(f.get("id").asInt() -> keep)
    }.toMap
  }

  /** Decorate a rebuilt schema json with carried defaults (by field
    * id) plus any NEW defaults this operation declares (by name, both
    * spec keys — the add-column rule makes the declared literal the
    * backfill AND the omitted-write value).
    */
  private def attachDefaults(
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      carried: Map[Int, Seq[(String, com.fasterxml.jackson.databind.JsonNode)]],
      fresh: Map[String, (DataType, Any)] = Map.empty): Unit = {
    val arr = node.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("fields")
    (0 until arr.size()).map(arr.get).foreach { fn =>
      val ob = fn.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      carried.get(ob.get("id").asInt()).foreach(_.foreach { case (k, v) =>
        ob.set[com.fasterxml.jackson.databind.node.ObjectNode](k, v) })
      fresh.get(ob.get("name").asText()).foreach { case (dt, v) =>
        ob.set[com.fasterxml.jackson.databind.node.ObjectNode](
          "initial-default", defaultJsonNode(dt, v))
        ob.set[com.fasterxml.jackson.databind.node.ObjectNode](
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

  private def schemaJson(schema: StructType): com.fasterxml.jackson.databind.node.ObjectNode =
    schemaJsonOf(schema.fields.zipWithIndex.map { case (f, i) =>
      IceField(i + 1, f.name, f.dataType) }.toSeq)

  private def schemaJsonOf(
      fields: Seq[IceField]): com.fasterxml.jackson.databind.node.ObjectNode = {
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

  private def parseFields(node: com.fasterxml.jackson.databind.JsonNode): Seq[IceField] = {
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
  private def parseSchema(
      node: com.fasterxml.jackson.databind.JsonNode,
      withIds: Boolean = false): StructType =
    StructType(parseFields(node).map { f =>
      StructField(f.name, f.dataType, nullable = true,
        if (withIds)
          new MetadataBuilder().putLong("parquet.field.id", f.id.toLong).build()
        else Metadata.empty)
    })

  // ---------- metadata location ----------

  private def metadataDir(tablePath: String) = new Path(tablePath, "metadata")

  private def currentMetadataPath(fs: FileSystem, tablePath: String): Path = {
    val dir = metadataDir(tablePath)
    require(fs.exists(dir), s"not an Iceberg table: no metadata/ under $tablePath")
    val hint = new Path(dir, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
      new Path(dir, s"v$v.metadata.json")
    } else {
      val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case n if n.matches("""v\d+\.metadata\.json""") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toLong
      }
      require(versions.nonEmpty, s"IcebergTable: no vN.metadata.json under $dir")
      new Path(dir, s"v${versions.max}.metadata.json")
    }
  }

  private def readJson(fs: FileSystem, p: Path): com.fasterxml.jackson.databind.JsonNode = {
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

  private def propertiesOf(
      meta: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
    val p = meta.get("properties")
    if (p == null || !p.isObject) Map.empty
    else {
      val it = p.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
  }

  private def specColumnNames(meta: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    // modern pair first (the only shape v2 requires), legacy fallback
    val specs = meta.get("partition-specs")
    if (specs != null && specs.isArray && specs.size() > 0) {
      val wantId =
        if (meta.has("default-spec-id")) meta.get("default-spec-id").asInt() else 0
      (0 until specs.size()).map(specs.get)
        .find(s => s.get("spec-id").asInt() == wantId)
        .map { s =>
          val fields = s.get("fields")
          (0 until fields.size()).map(i => fields.get(i).get("name").asText())
        }
        .getOrElse(Seq.empty)
    } else {
      val spec = meta.get("partition-spec")
      if (spec == null || !spec.isArray) Seq.empty
      else (0 until spec.size()).map(i => spec.get(i).get("name").asText())
    }
  }

  /** The current schema NODE: v2's `schemas` + `current-schema-id`
    * pair when present, v1's inline `schema` otherwise.
    */
  private def currentSchemaNode(
      meta: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode = {
    val schemas = meta.get("schemas")
    if (schemas != null && schemas.isArray && schemas.size() > 0) {
      val wantId =
        if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt() else 0
      (0 until schemas.size()).map(schemas.get)
        .find(s => !s.has("schema-id") || s.get("schema-id").asInt() == wantId)
        .getOrElse(throw new IllegalArgumentException(
          s"IcebergTable: current-schema-id $wantId not found in schemas"))
    } else meta.get("schema")
  }

  private def currentSchema(meta: com.fasterxml.jackson.databind.JsonNode): StructType =
    parseSchema(currentSchemaNode(meta))

  /** field id -> column name, from the current schema node (equality
    * delete manifests reference columns by FIELD ID).
    */
  private def fieldIdToName(
      meta: com.fasterxml.jackson.databind.JsonNode): Map[Int, String] = {
    val fields = currentSchemaNode(meta).get("fields")
    if (fields == null || !fields.isArray) Map.empty
    else (0 until fields.size()).map(fields.get)
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
  }

  def snapshot(
      spark: SparkSession, tablePath: String, snapshotId: Option[Long] = None): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, new Path(tablePath))
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
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
    val snapshots = meta.get("snapshots")
    require(snapshots != null && snapshots.size() > 0, "IcebergTable: no snapshots")
    val wantId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snap = (0 until snapshots.size()).map(snapshots.get)
      .find(_.get("snapshot-id").asLong() == wantId)
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
        val schemas = meta.get("schemas")
        if (schemas == null || !schemas.isArray) fallback
        else (0 until schemas.size()).map(schemas.get)
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
    val defaults: Seq[(String, Int, Any)] = {
      val fieldsNode = schemaNode.get("fields")
      if (fieldsNode == null || !fieldsNode.isArray) Seq.empty
      else (0 until fieldsNode.size()).map(fieldsNode.get).flatMap { f =>
        val d = f.get("initial-default")
        if (d == null || d.isNull) None
        else {
          val name = f.get("name").asText()
          Some((name, f.get("id").asInt(),
            parseDefault(name, fromIcebergType(f.get("type").asText()), d)))
        }
      }
    }
    val listPath = new Path(snap.get("manifest-list").asText())
    def recOpt(r: GenericRecord, name: String): Option[AnyRef] =
      if (r.getSchema.getField(name) == null) None else Option(r.get(name))
    // manifest list rows: v2 adds content (0 data / 1 deletes) and the
    // manifest's sequence number (inherited by entries that carry null)
    val manifests: Seq[(String, Int, Long)] = readAvro(fs, listPath, conf).map { r =>
      (r.get("manifest_path").toString,
        recOpt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
        recOpt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L))
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
    manifests.foreach { case (mp, mContent, mSeq) =>
      readAvro(fs, new Path(mp), conf).foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val entrySeq: Long =
          recOpt(e, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(mSeq)
        // v2 file content: 0 data, 1 position deletes, 2 EQUALITY deletes
        val fContent: Int = recOpt(df, "content").map(_.asInstanceOf[Int])
          .getOrElse(if (mContent == 1) 1 else 0)
        // v3 deletion vectors live in PUFFIN files; everything else is
        // parquet (the only data format this reader implements)
        val isPuffin = fContent == 1 &&
          recOpt(df, "file_format").exists(_.toString.equalsIgnoreCase("puffin"))
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
          val ids: Seq[Int] = recOpt(df, "equality_ids") match {
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
          val recs = recOpt(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L)
          val dsz = recOpt(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
          deleteEntries += ((path, status, entrySeq, recs, cols, tuple, dsz))
        } else if (fContent == 1) {
          val recs = recOpt(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L)
          val dsz = recOpt(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
          // a v3 DELETION VECTOR declares its single referenced data
          // file and its blob location — all three fields or none
          val refFile = recOpt(df, "referenced_data_file").map(_.toString)
          val (cOff, cSize) = (
            recOpt(df, "content_offset").map(_.asInstanceOf[Long]),
            recOpt(df, "content_size_in_bytes").map(_.asInstanceOf[Long]))
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
            recOpt(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
          val recs = recOpt(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L)
          val lo = boundsOf(df, "lower_bounds")
          val hi = boundsOf(df, "upper_bounds")
          val bounds = lo.keySet.intersect(hi.keySet)
            .map(k => k -> ((lo(k), hi(k)))).toMap
          val firstRowId = recOpt(df, "first_row_id").map(_.asInstanceOf[Long])
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

  /** Read a snapshot as a DataFrame: metadata walk → declared-schema
    * parquet scan over the live files (pushdown/pruning intact).
    * `partitionFilter` prunes at the FILE level from the manifests'
    * identity partition tuples — the planning step Iceberg's own
    * reader performs — before Spark ever sees the file list (values
    * compared stringified, as recorded in the tuple).
    */
  /** Resolve a wall-clock instant to the snapshot current AT that
    * time: the latest snapshot whose `timestamp-ms` is <= the asked
    * instant (Iceberg's own AS OF TIMESTAMP rule).
    */
  def snapshotIdAtTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): Long = {
    val fs = fsOf(spark, new Path(tablePath))
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
    val snaps = meta.get("snapshots")
    require(snaps != null && snaps.size() > 0, "IcebergTable: no snapshots")
    val stamped = (0 until snaps.size()).map(snaps.get)
      .map(s => (s.get("snapshot-id").asLong(), s.get("timestamp-ms").asLong()))
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

  /** The declared-schema scan over data files, each group one scan
    * over a [[LogFileIndex]] of the manifests' paths (no listing; the
    * data files carry their partition columns, so the index has none),
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
    def one(group: Seq[String]): DataFrame = {
      val base = LogFileIndex.scan(spark, group.map(p => (p, Nil)), new StructType(),
        Some(snap.schema))
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

  def read(
      spark: SparkSession, tablePath: String, snapshotId: Option[Long] = None,
      partitionFilter: Map[String, String] = Map.empty): DataFrame = {
    val snap = snapshot(spark, tablePath, snapshotId)
    val refs =
      if (partitionFilter.isEmpty) snap.dataRefs
      else {
        require(partitionFilter.keySet.subsetOf(snap.partitionColumns.toSet),
          s"IcebergTable: partition filter on ${partitionFilter.keySet} but the " +
            s"table is partitioned by [${snap.partitionColumns.mkString(",")}]")
        snap.dataRefs.filter(r =>
          partitionFilter.forall { case (k, v) => r.partition.get(k).contains(v) })
      }
    require(refs.nonEmpty,
      s"IcebergTable: snapshot ${snap.snapshotId} of $tablePath has no data files" +
        (if (partitionFilter.nonEmpty) s" matching $partitionFilter" else ""))
    // id-capable tables resolve columns by FIELD ID (the schema carries
    // parquet.field.id metadata from parseSchema) — names in the files
    // are whatever the column was CALLED when written, which is what
    // makes rename/drop metadata-only; legacy tables read by name
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    if (snap.deleteFiles.isEmpty) scanData(spark, snap, refs.map(_.path))
    else readWithPositionDeletes(spark, snap, refs)
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
              Some(spark.read.parquet(posPaths: _*)
                .select(DeltaLog.normalizedFileId(col("file_path")).as("__dfn"),
                  col("pos").cast(LongType).as("__dpos"))
                .join(dict, "__dfn")
                .select(col("__dfid"), col("__dpos")))
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
          // deletes applying across renames); legacy tables by name
          val eqScan =
            if (snap.fieldIdsWritten)
              spark.read.schema(StructType(cols.map(c => snap.schema(c))))
                .parquet(dfiles.map(_.path): _*)
            else spark.read.parquet(dfiles.map(_.path): _*)
          val dels0 = eqScan.select(
            cols.map(c => col(c).as(s"__eq_$c")): _*).distinct()
          val dels = if (fits(dfiles)) broadcast(dels0) else dels0
          val cond = cols.map(c => acc(c) <=> dels(s"__eq_$c")).reduce(_ && _)
          acc.join(dels, cond, "left_anti")
        }
    }
    branches.reduce(_.unionByName(_))
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
    * readable — time travel), then `vN+1.metadata.json` with the
    * snapshot appended and `version-hint.text` repointed (the publish
    * step; concurrent writers need a catalog's atomic swap, exactly as
    * the Iceberg spec documents — out of scope here like the Delta
    * writer's object-store caveat). Returns the new snapshot id.
    */
  def append(
      spark: SparkSession, tablePath: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false,
      summary: Map[String, String] = Map.empty,
      rowLineage: Boolean = false): Long =
    publishDataSnapshot(spark, tablePath, df, partitionBy,
      carryForward = true, operation = "append",
      allowSchemaEvolution = allowSchemaEvolution, summary = summary,
      rowLineage = rowLineage)

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
    val fs = fsOf(spark, new Path(tablePath))
    val metaDir0 = metadataDir(tablePath)
    if (!fs.exists(metaDir0) || fs.listStatus(metaDir0).isEmpty) return None
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
    val snaps = meta.get("snapshots")
    if (snaps == null || !snaps.isArray) return None
    val stamps = (0 until snaps.size()).map(snaps.get).flatMap { sn =>
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
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
    val fv = meta.get("format-version").asInt()
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
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val metaDir = metadataDir(tablePath)
    val fieldsCur = parseFields(currentSchemaNode(meta))
    val stageFields =
      if (lineage) fieldsCur :+ IceField(RowIdFieldId.toInt, "_row_id", LongType)
      else fieldsCur
    val toStage =
      if (snap.fieldIdsWritten) withFieldIds(spark, packed, stageFields)
      else packed
    val staged = stageDataFiles(spark, fs, table, toStage, pby, pfields, stamp)
    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val newSeq: Long =
      if (fv >= 2)
        (if (meta.has("last-sequence-number")) meta.get("last-sequence-number").asLong() else 0L) + 1
      else 1L
    // ADDED manifest for the compacted outputs (v2 entry shape: the
    // explicit content/sequence fields gate carried deletes OFF them)
    val entrySchema =
      if (fv >= 2) deleteManifestEntrySchema(pfields) else manifestEntrySchema(pfields)
    // fresh first_row_id blocks for the compacted outputs (ids burn on
    // rewrite, the Delta compact shape — carried rows override through
    // the materialized column)
    val rlBase: Long = if (lineage) meta.get("next-row-id").asLong() else 0L
    val rlFirsts: Seq[Long] = staged.map(_.records).scanLeft(rlBase)(_ + _)
    val added = staged.zipWithIndex.map { case (sf, i) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      if (fv >= 2) e.put("sequence_number", newSeq)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      if (fv >= 2) d.put("content", 0)
      d.put("file_path", sf.path)
      d.put("file_format", "PARQUET")
      d.put("record_count", sf.records)
      d.put("file_size_in_bytes", sf.len)
      if (lineage) d.put("first_row_id", java.lang.Long.valueOf(rlFirsts(i)))
      putBounds(d, fieldsCur, sf.bounds)
      if (pby.nonEmpty) {
        val pr = new GenericData.Record(
          entrySchema.getField("data_file").schema().getField("partition").schema())
        sf.tuple.foreach { case (k, v) => pr.put(k, v) }
        d.put("partition", pr)
      }
      e.put("data_file", d)
      e
    }
    val addedPath = new Path(metaDir, s"manifest-$stamp.avro")
    val addedLen = writeAvro(fs, addedPath, entrySchema, added)

    // walk the current snapshot's manifest list; rewrite only the
    // manifests that named a compacted file
    val curId = meta.get("current-snapshot-id").asLong()
    val snapsNode = meta.get("snapshots")
    val curSnap = (0 until snapsNode.size()).map(snapsNode.get)
      .find(_.get("snapshot-id").asLong() == curId).get
    val livePaths = snap.dataRefs.map(_.path).toSet
    val anySurvivor = snap.dataRefs.exists(r => !selectedPaths(r.path))
    def opt(r: GenericRecord, n: String): Option[AnyRef] =
      if (r.getSchema.getField(n) == null) None else Option(r.get(n))
    var replaceIdx = 0
    val carried: Seq[(String, Long, Int, Long, Long, Long)] =
      readAvro(fs, new Path(curSnap.get("manifest-list").asText()), conf).flatMap { r =>
        val mPath = r.get("manifest_path").toString
        val mLen = r.get("manifest_length").asInstanceOf[Long]
        val mContent = opt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0)
        val mSeq = opt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L)
        val mMin = opt(r, "min_sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L)
        val mAdded = opt(r, "added_snapshot_id").map(_.asInstanceOf[Long]).getOrElse(curId)
        if (mContent == 1) {
          // delete manifest: still gates the surviving pre-rewrite
          // files; inert (and dropped) once none remain
          if (anySurvivor) Some((mPath, mLen, mContent, mSeq, mMin, mAdded)) else None
        } else {
          val entries = readAvro(fs, new Path(mPath), conf)
          def pathOf(e: GenericRecord) =
            e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
          if (!entries.exists(e => selectedPaths(pathOf(e))))
            Some((mPath, mLen, mContent, mSeq, mMin, mAdded)) // untouched: verbatim
          else {
            val keep = entries.filter { e =>
              val p = pathOf(e)
              e.get("status").asInstanceOf[Int] != 2 && !selectedPaths(p) && livePaths(p)
            }
            if (keep.isEmpty) None
            else {
              // replacement: surviving entries as EXISTING with their
              // original EXPLICIT sequence numbers (never inherited)
              val outEntries = keep.map { e =>
                val src = e.get("data_file").asInstanceOf[GenericRecord]
                val seq = opt(e, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(mSeq)
                val o = new GenericData.Record(entrySchema)
                o.put("status", 0) // EXISTING
                opt(e, "snapshot_id").foreach(o.put("snapshot_id", _))
                if (fv >= 2) o.put("sequence_number", seq)
                val d = new GenericData.Record(entrySchema.getField("data_file").schema())
                if (fv >= 2) d.put("content", 0)
                d.put("file_path", src.get("file_path").toString)
                d.put("file_format", src.get("file_format").toString)
                d.put("record_count",
                  opt(src, "record_count").map(_.asInstanceOf[Long]).getOrElse(0L))
                d.put("file_size_in_bytes",
                  opt(src, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L))
                // survivors keep their assigned first_row_id verbatim
                opt(src, "first_row_id").foreach(d.put("first_row_id", _))
                // survivors keep their column bounds (re-encoded k/v)
                Seq("lower_bounds", "upper_bounds").foreach { bf =>
                  opt(src, bf).foreach {
                    case l: java.util.List[_] =>
                      val as = d.getSchema.getField(bf).schema().getTypes.get(1)
                      val items = l.asInstanceOf[java.util.List[GenericRecord]]
                      val copy = new java.util.ArrayList[GenericRecord](items.size())
                      items.forEach { kv =>
                        val nk = new GenericData.Record(as.getElementType)
                        nk.put("key", kv.get("key"))
                        nk.put("value", kv.get("value"))
                        copy.add(nk)
                      }
                      d.put(bf, new GenericData.Array[GenericRecord](as, copy))
                    case _ =>
                  }
                }
                if (pby.nonEmpty) {
                  val pr = new GenericData.Record(
                    entrySchema.getField("data_file").schema().getField("partition").schema())
                  src.get("partition") match {
                    case p: GenericRecord => pby.foreach { c =>
                      if (p.getSchema.getField(c) != null) pr.put(c, p.get(c)) }
                    case _ =>
                  }
                  d.put("partition", pr)
                }
                o.put("data_file", d)
                o
              }
              replaceIdx += 1
              val repPath = new Path(metaDir, s"manifest-$stamp-x$replaceIdx.avro")
              val repLen = writeAvro(fs, repPath, entrySchema, outEntries)
              val seqs = keep.map(e =>
                opt(e, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(mSeq))
              Some((fs.makeQualified(repPath).toString, repLen, 0,
                seqs.max, seqs.min, snapshotId))
            }
          }
        }
      }
    val listPath = writeManifestList(fs, metaDir, fv, snapshotId, stamp,
      carried :+ (fs.makeQualified(addedPath).toString, addedLen, 0, newSeq, newSeq,
        snapshotId))
    publishMetadataJson(fs, tablePath, Some(meta), prevVersion, fv, fieldsCur,
      if (meta.has("last-column-id")) meta.get("last-column-id").asInt()
      else fieldsCur.map(_.id).max,
      pby, schemaEvolved = false, newSeq, snapshotId, listPath, "replace",
      lineage = if (lineage)
        Some((rlBase, rlBase + staged.map(_.records).sum)) else None)
    snapshotId
  }

  /** One data file staged into `data/`: qualified path, byte length,
    * typed identity partition tuple, and its REAL row count (footer
    * truth — what `record_count` must carry so readers can size
    * broadcasts and metadata tables report honestly).
    */
  private final case class StagedFile(
      path: String, len: Long, tuple: Map[String, Any], records: Long,
      bounds: Map[String, (Any, Any)] = Map.empty)

  /** Write `df`'s part files through a staging dir and move them under
    * the table's `data/` tree (Hive layout for partitioned tables) —
    * the shared data path of [[publishDataSnapshot]] and
    * [[rewriteDataFiles]]. Driver work is O(new files): one rename +
    * one footer row-count read per staged file, the same order as the
    * move itself.
    */
  private def stageDataFiles(
      spark: SparkSession, fs: FileSystem, table: Path, df: DataFrame,
      partitionBy: Seq[String], pfields: Seq[(String, DataType)],
      stamp: String): Seq[StagedFile] = {
    val stage = new Path(table, s"_ice_stage_$stamp")
    if (partitionBy.isEmpty) {
      df.write.parquet(stage.toString)
      val parts = fs.globStatus(new Path(stage, "part-*.parquet")).toSeq.map(_.getPath)
      val m = parts.zipWithIndex.map { case (p, i) =>
        val dest = new Path(table, s"data/part-$stamp-$i.parquet")
        require(fs.rename(p, dest), s"IcebergTable: move failed for $p")
        val st = fs.getFileStatus(dest)
        val (nRows, bounds) = parquetFooterInfo(fs, dest)
        StagedFile(fs.makeQualified(dest).toString, st.getLen,
          Map.empty[String, Any], nRows, bounds)
      }
      fs.delete(stage, true)
      m
    } else {
      // Iceberg data files carry COMPLETE rows — identity partition
      // source columns included — but Spark's partitionBy drops the
      // partitioning columns from the files. Duplicating each source
      // column under a __p_ alias keeps the real column in the data
      // while the alias drives the Hive-style placement; the alias
      // prefix is stripped from the directory names on the move.
      val dup = partitionBy.foldLeft(df)((d, c) =>
        d.withColumn(s"__p_$c", org.apache.spark.sql.functions.col(c)))
      dup.write.partitionBy(partitionBy.map(c => s"__p_$c"): _*).parquet(stage.toString)
      val pattern = partitionBy.map(_ => "*").mkString("/")
      val parts = fs.globStatus(new Path(stage, s"$pattern/part-*.parquet"))
        .toSeq.map(_.getPath).sortBy(_.toString)
      val stagePrefix = fs.makeQualified(stage).toString + "/"
      val ptypes = pfields.toMap
      val m = parts.zipWithIndex.map { case (p, i) =>
        val rel0 = fs.makeQualified(p).toString.stripPrefix(stagePrefix)
        require(rel0.length < fs.makeQualified(p).toString.length,
          s"IcebergTable: stage-relative path resolution failed for $p")
        val segs = rel0.split('/').dropRight(1).map(_.stripPrefix("__p_"))
        val tuple: Map[String, Any] = segs.map { s =>
          val Array(k, v) = s.split("=", 2)
          val typed: Any =
            if (v == "__HIVE_DEFAULT_PARTITION__") null
            else ptypes(k) match {
              case IntegerType => Integer.valueOf(DeltaLog.unescapePathName(v).toInt)
              case LongType => java.lang.Long.valueOf(DeltaLog.unescapePathName(v).toLong)
              case _ => DeltaLog.unescapePathName(v)
            }
          k -> typed
        }.toMap
        require(tuple.keySet == partitionBy.toSet,
          s"IcebergTable: unexpected partition layout under $p")
        val rel = "data/" + segs.mkString("/") + s"/part-$stamp-$i.parquet"
        val dest = new Path(table, rel)
        fs.mkdirs(dest.getParent)
        require(fs.rename(p, dest), s"IcebergTable: move failed for $p")
        val st = fs.getFileStatus(dest)
        val (nRows, bounds) = parquetFooterInfo(fs, dest)
        // identity partition columns have a constant value per file;
        // partitionBy dropped them from the bytes, so their bounds are
        // the tuple value itself (what real Iceberg records too)
        val pbounds = tuple.collect { case (k, v) if v != null => k -> (v, v) }
        StagedFile(fs.makeQualified(dest).toString, st.getLen, tuple, nRows,
          bounds ++ pbounds)
      }
      fs.delete(stage, true)
      m
    }
  }

  /** Emit `lower_bounds`/`upper_bounds` k/v arrays onto a data_file
    * avro record: field-id keys, Iceberg single-value binary payloads.
    * Columns without collected bounds are simply absent (readers keep
    * the file).
    */
  private def putBounds(
      d: GenericData.Record, fields: Seq[IceField],
      bounds: Map[String, (Any, Any)]): Unit = {
    if (bounds.isEmpty) return
    def arraySchema(fieldName: String): Schema =
      d.getSchema.getField(fieldName).schema().getTypes.get(1)
    def emit(fieldName: String, pick: ((Any, Any)) => Any): Unit = {
      val as = arraySchema(fieldName)
      val items = new java.util.ArrayList[GenericRecord]()
      fields.foreach { f =>
        bounds.get(f.name).foreach { mm =>
          val kv = new GenericData.Record(as.getElementType)
          kv.put("key", f.id)
          kv.put("value", java.nio.ByteBuffer.wrap(boundBytes(f.dataType, pick(mm))))
          items.add(kv)
        }
      }
      if (!items.isEmpty)
        d.put(fieldName, new GenericData.Array[GenericRecord](as, items))
    }
    emit("lower_bounds", _._1)
    emit("upper_bounds", _._2)
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

  private def publishDataSnapshot(
      spark: SparkSession, tablePath: String, df: DataFrame,
      partitionBy: Seq[String], carryForward: Boolean, operation: String,
      allowSchemaEvolution: Boolean = false,
      summary: Map[String, String] = Map.empty,
      rowLineage: Boolean = false): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val metaDir = metadataDir(tablePath)
    val exists = fs.exists(metaDir) && fs.listStatus(metaDir).nonEmpty
    val (prevMeta, prevVersion) =
      if (exists) {
        val p = currentMetadataPath(fs, tablePath)
        (Some(readJson(fs, p)),
          p.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong)
      } else (None, 0L)
    val fv = prevMeta.map(_.get("format-version").asInt())
      .getOrElse(if (rowLineage) 3 else 1)
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
    val fields: Seq[IceField] = prevMeta match {
      case Some(m) =>
        val prior = parseFields(currentSchemaNode(m))
        prior ++ df.schema.fields.drop(prior.size).zipWithIndex.map { case (f, i) =>
          IceField(prevLastCol + 1 + i, f.name, f.dataType) }
      case None =>
        df.schema.fields.zipWithIndex.map { case (f, i) =>
          IceField(i + 1, f.name, f.dataType) }.toSeq
    }
    val lastColumnId = math.max(prevLastCol, fields.map(_.id).max)
    val idCapable = prevMeta.fold(true)(m =>
      propertiesOf(m).get(FieldIdsProperty).contains("true"))
    val idDf = if (idCapable) withFieldIds(spark, df, fields) else df
    val pfields: Seq[(String, DataType)] =
      partitionBy.map(c => c -> df.schema(c).dataType)
    val entrySchema = manifestEntrySchema(pfields)
    fs.mkdirs(metaDir)
    fs.mkdirs(new Path(table, "data"))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val dataFiles = stageDataFiles(spark, fs, table, idDf, partitionBy, pfields, stamp)

    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    // per-file first_row_id blocks: contiguous above the table's
    // next-row-id, in staged-file order — a row's id is
    // first_row_id + its position, the Delta baseRowId shape
    val rlBase: Long = prevNextRowId.getOrElse(0L)
    val rlFirsts: Seq[Long] = dataFiles.map(_.records).scanLeft(rlBase)(_ + _)
    // one manifest for this append; record_count carries the footer
    // truth (readers size broadcasts and metadata tables off it)
    val entries = dataFiles.zipWithIndex.map { case (sf, i) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("file_path", sf.path)
      d.put("file_format", "PARQUET")
      d.put("record_count", sf.records)
      d.put("file_size_in_bytes", sf.len)
      if (lineageActive) d.put("first_row_id", java.lang.Long.valueOf(rlFirsts(i)))
      putBounds(d, fields, sf.bounds)
      if (partitionBy.nonEmpty) {
        val pr = new GenericData.Record(
          entrySchema.getField("data_file").schema().getField("partition").schema())
        sf.tuple.foreach { case (k, v) => pr.put(k, v) }
        d.put("partition", pr)
      }
      e.put("data_file", d)
      e
    }
    val manifestPath = new Path(metaDir, s"manifest-$stamp.avro")
    val manifestLen = writeAvro(fs, manifestPath, entrySchema, entries)

    // the new data manifest's sequence number (v2 only; v1 has none)
    val newSeq: Long =
      prevMeta.filter(_ => fv >= 2)
        .map(m => (if (m.has("last-sequence-number")) m.get("last-sequence-number").asLong() else 0L) + 1)
        .getOrElse(1L)
    // carry forward the prior snapshot's manifests WITH their v2
    // content/sequence fields (default 0 for v1-era manifests) and
    // the id of the snapshot that ORIGINALLY added each (the spec's
    // added_snapshot_id meaning — the incremental scan keys on it)
    val prevManifests: Seq[(String, Long, Int, Long, Long, Long)] =
      (if (carryForward) prevMeta.toSeq else Seq.empty).flatMap { m =>
      val curId = m.get("current-snapshot-id").asLong()
      val snaps = m.get("snapshots")
      (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() == curId).toSeq
        .flatMap { s =>
          readAvro(fs, new Path(s.get("manifest-list").asText()), conf).map { r =>
            def opt(n: String): Option[AnyRef] =
              if (r.getSchema.getField(n) == null) None else Option(r.get(n))
            (r.get("manifest_path").toString,
              r.get("manifest_length").asInstanceOf[Long],
              opt("content").map(_.asInstanceOf[Int]).getOrElse(0),
              opt("sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
              opt("min_sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
              opt("added_snapshot_id").map(_.asInstanceOf[Long]).getOrElse(curId))
          }
        }
    }
    val listPath = writeManifestList(fs, metaDir, fv, snapshotId, stamp,
      prevManifests :+
        (fs.makeQualified(manifestPath).toString, manifestLen, 0, newSeq, newSeq,
          snapshotId))
    publishMetadataJson(fs, tablePath, prevMeta, prevVersion, fv, fields, lastColumnId,
      partitionBy, schemaEvolved, newSeq, snapshotId, listPath, operation,
      newProperties =
        if (idCapable && prevMeta.isEmpty) Map(FieldIdsProperty -> "true") else Map.empty,
      summary = summary,
      lineage = if (lineageActive)
        Some((rlBase, rlBase + dataFiles.map(_.records).sum)) else None)
    snapshotId
  }

  /** Write a snapshot's manifest LIST avro. `rows` are
    * `(manifest_path, length, content, sequence, min_sequence,
    * added_snapshot_id)` — carried manifests keep the id of the
    * snapshot that ACTUALLY added them (the spec's meaning; the
    * incremental append scan keys on it); the v2 fields are dropped
    * under v1.
    */
  private def writeManifestList(
      fs: FileSystem, metaDir: Path, fv: Int, snapshotId: Long, stamp: String,
      rows: Seq[(String, Long, Int, Long, Long, Long)]): Path = {
    val listSchema = if (fv >= 2) ManifestListSchemaV2 else ManifestListSchema
    val listRecords = rows.map { case (p, len, content, seq, minSeq, addedBy) =>
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", p)
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      if (fv >= 2) {
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
      }
      r.put("added_snapshot_id", addedBy)
      r
    }
    val listPath = new Path(metaDir, s"snap-$snapshotId-$stamp.avro")
    writeAvro(fs, listPath, listSchema, listRecords)
    listPath
  }

  /** Assemble and publish `vN+1.metadata.json` for a new DATA snapshot
    * (append / replace): prior snapshots and schemas carry forward,
    * the new snapshot appends, `version-hint.text` repoints — the
    * shared publish tail of [[publishDataSnapshot]] and
    * [[rewriteDataFiles]].
    */
  private def publishMetadataJson(
      fs: FileSystem, tablePath: String,
      prevMeta: Option[com.fasterxml.jackson.databind.JsonNode], prevVersion: Long,
      fv: Int, fields: Seq[IceField], lastColumnId: Int,
      partitionBy: Seq[String], schemaEvolved: Boolean,
      newSeq: Long, snapshotId: Long, listPath: Path, operation: String,
      newProperties: Map[String, String] = Map.empty,
      summary: Map[String, String] = Map.empty,
      lineage: Option[(Long, Long)] = None): Unit = {
    val metaDir = metadataDir(tablePath)
    val meta = mapper.createObjectNode()
    meta.put("format-version", fv)
    if (fv >= 2) meta.put("last-sequence-number", newSeq)
    // v3 row lineage: `lineage` is (this snapshot's first-row-id, the
    // table's advanced next-row-id); a lineage table's next-row-id
    // also CARRIES when a caller publishes without assigning (the
    // mark must never regress or vanish)
    lineage match {
      case Some((_, next)) => meta.put("next-row-id", next)
      case None => prevMeta.filter(_.has("next-row-id"))
        .foreach(m => meta.put("next-row-id", m.get("next-row-id").asLong()))
    }
    meta.put("table-uuid",
      prevMeta.map(_.get("table-uuid").asText()).getOrElse(java.util.UUID.randomUUID().toString))
    meta.put("location", tablePath)
    meta.put("last-updated-ms", System.currentTimeMillis())
    meta.put("last-column-id", lastColumnId)
    // defaults carry by field id into every rebuilt schema json — an
    // append must not strip what addColumn declared
    val carried = prevMeta.map(carriedDefaults).getOrElse(Map.empty)
    val inlineSchema = schemaJsonOf(fields)
    attachDefaults(inlineSchema, carried)
    meta.set[com.fasterxml.jackson.databind.node.ObjectNode]("schema", inlineSchema)
    // v2's required "schemas"/"current-schema-id" pair (also legal —
    // and ignored — under v1 readers that use the legacy "schema");
    // an add-column evolution publishes under a BUMPED schema id
    val schemaId = prevMeta.map { m =>
      val prev = if (m.has("current-schema-id")) m.get("current-schema-id").asInt() else 0
      if (schemaEvolved) prev + 1 else prev
    }.getOrElse(0)
    val schemasArr = meta.putArray("schemas")
    // prior schemas CARRY FORWARD: still-listed historical snapshots
    // reference their schema-id, and the spec requires every schema a
    // live snapshot references to stay resolvable (an external reader
    // time-traveling to a pre-evolution snapshot needs it)
    prevMeta.foreach { m =>
      val prev = m.get("schemas")
      if (prev != null && prev.isArray)
        (0 until prev.size()).map(prev.get)
          .filter(s => !s.has("schema-id") || s.get("schema-id").asInt() != schemaId)
          .foreach(schemasArr.add)
    }
    val schema0 = schemaJsonOf(fields)
    schema0.put("schema-id", schemaId)
    attachDefaults(schema0, carried)
    schemasArr.add(schema0)
    meta.put("current-schema-id", schemaId)
    // v1's required legacy "partition-spec" plus the modern
    // "partition-specs"/"default-spec-id" pair; identity transforms
    // over the STABLE schema field ids
    def sourceId(c: String): Int = fields.find(_.name == c).map(_.id).getOrElse(
      throw new IllegalArgumentException(
        s"IcebergTable: partition column $c not in the schema fields"))
    val legacySpec = meta.putArray("partition-spec")
    partitionBy.zipWithIndex.foreach { case (c, i) =>
      val f = legacySpec.addObject()
      f.put("name", c)
      f.put("transform", "identity")
      f.put("source-id", sourceId(c))
      f.put("field-id", 1000 + i)
    }
    val specs = meta.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    val specFields = spec0.putArray("fields")
    partitionBy.zipWithIndex.foreach { case (c, i) =>
      val f = specFields.addObject()
      f.put("name", c)
      f.put("transform", "identity")
      f.put("source-id", sourceId(c))
      f.put("field-id", 1000 + i)
    }
    meta.put("default-spec-id", 0)
    if (fv >= 2) {
      val orders = meta.putArray("sort-orders")
      val o0 = orders.addObject()
      o0.put("order-id", 0)
      o0.putArray("fields")
      meta.put("default-sort-order-id", 0)
    }
    // table properties carry forward verbatim, new ones layered on top
    val props = meta.putObject("properties")
    prevMeta.map(_.get("properties")).filter(p => p != null && p.isObject).foreach { p =>
      val it = p.fields()
      while (it.hasNext) { val e = it.next(); props.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue) }
    }
    newProperties.foreach { case (k, v) => props.put(k, v) }
    // named refs (tags/branches) carry forward verbatim
    prevMeta.map(_.get("refs")).filter(r => r != null && r.isObject).foreach { r =>
      meta.set[com.fasterxml.jackson.databind.JsonNode]("refs", r.deepCopy())
    }
    meta.put("current-snapshot-id", snapshotId)
    val snaps = meta.putArray("snapshots")
    prevMeta.foreach { m =>
      val ps = m.get("snapshots")
      (0 until ps.size()).foreach(i => snaps.add(ps.get(i)))
    }
    val sn = snaps.addObject()
    sn.put("snapshot-id", snapshotId)
    if (fv >= 2) sn.put("sequence-number", newSeq)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.put("schema-id", schemaId) // time travel serves the snapshot's OWN shape
    lineage.foreach { case (first, _) => sn.put("first-row-id", first) }
    sn.put("manifest-list", fs.makeQualified(listPath).toString)
    val sm = sn.putObject("summary")
    sm.put("operation", operation)
    summary.foreach { case (k, v) => sm.put(k, v) }

    val newVersion = prevVersion + 1
    val metaPath = new Path(metaDir, s"v$newVersion.metadata.json")
    val out = fs.create(metaPath, false) // put-if-absent publish
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    finally out.close()
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
  }

  private def parquetRowCount(fs: FileSystem, p: Path): Long =
    parquetFooterInfo(fs, p)._1

  /** How a column chunk's footer min/max becomes the JVM value
    * [[boundBytes]] serializes, for the physical/logical types it can
    * serialize: signed 32/64-bit integers, dates, UTC-adjusted
    * micro/millisecond timestamps (as epoch micros), floats, doubles,
    * booleans and UTF-8 strings. `None` for everything else — INT96
    * timestamps (Spark's default timestamp encoding), decimals,
    * unsigned integers, raw binary — which stays unbounded, the rule
    * `DeltaLog.statsJson` applies to Delta file stats.
    */
  private def footerBound(
      t: org.apache.parquet.schema.PrimitiveType): Option[Any => Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val same: Any => Any = v => v
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64 | FLOAT | DOUBLE | BOOLEAN, null) => Some(same)
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some(same)
      case (INT32, _: DateLogicalTypeAnnotation) => Some(same)
      case (INT64, ts: TimestampLogicalTypeAnnotation) if ts.isAdjustedToUTC =>
        ts.getUnit match {
          case TimeUnit.MICROS => Some(same)
          case TimeUnit.MILLIS => Some(v => v.asInstanceOf[java.lang.Long] * 1000L)
          case TimeUnit.NANOS => None
        }
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        Some(v => v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
      case _ => None
    }
  }

  /** One footer read: record count + per-column (min, max) merged
    * across row groups — what `record_count` and the manifest's
    * `lower_bounds`/`upper_bounds` carry. A column whose stats are
    * missing in ANY row group (or all-null), or whose type
    * [[footerBound]] does not bound, gets no bounds; readers treat
    * missing bounds as "keep the file".
    */
  private def parquetFooterInfo(
      fs: FileSystem, p: Path): (Long, Map[String, (Any, Any)]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(fs.getFileStatus(p), fs.getConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val perColumn = scala.collection.mutable.Map.empty[String, (Any, Any)]
      val dropped = scala.collection.mutable.Set.empty[String]
      blocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.size == 1) { // top-level primitives only
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val conv = footerBound(c.getPrimitiveType)
            if (conv.isEmpty || st == null || st.isEmpty || !st.hasNonNullValue) dropped += name
            else {
              val (mn, mx) = (conv.get(st.genericGetMin), conv.get(st.genericGetMax))
              perColumn.get(name) match {
                case None => perColumn(name) = (mn, mx)
                case Some((pmn, pmx)) =>
                  def lt(a: Any, b2: Any): Boolean = (a, b2) match {
                    // parquet binary stats order: unsigned UTF-8 bytes
                    case (x: String, y: String) => DeltaLog.utf8Compare(x, y) < 0
                    case (x: Number, y: Number) => x.doubleValue < y.doubleValue
                    case (x: Boolean, y: Boolean) => !x && y
                    case _ => false
                  }
                  perColumn(name) = (if (lt(mn, pmn)) mn else pmn,
                    if (lt(pmx, mx)) mx else pmx)
              }
            }
          }
        }
      }
      dropped.foreach(perColumn.remove)
      (r.getRecordCount, perColumn.toMap)
    } finally r.close()
  }

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
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
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
        val dels = spark.read.parquet(posDels.map(_.path): _*)
          .select(DeltaLog.normalizedFileId(col("file_path")).as("__dfn"),
            col("pos").cast(LongType).as("__dpos"))
          .join(dict, "__dfn")
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
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(table, s"_ice_stage_del_$stamp")
    matches.write.partitionBy("__pt").parquet(stage.toString)
    // typed partition values for the manifest records (same convention
    // as append: stringified tuple -> declared partition column types)
    val ptypes: Seq[(String, DataType)] =
      snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val ptypeMap = ptypes.toMap
    def typedTuple(t: Map[String, String]): Map[String, Any] =
      t.map { case (k, v) =>
        k -> (ptypeMap.get(k) match {
          case Some(IntegerType) => Integer.valueOf(v.toInt)
          case Some(LongType) => java.lang.Long.valueOf(v.toLong)
          case _ => v
        })
      }
    val parts = fs.globStatus(new Path(stage, "__pt=*/part-*.parquet")).toSeq
      .map(_.getPath).sortBy(_.toString)
    val moved: Seq[(String, Long, Long, Map[String, Any])] =
      parts.zipWithIndex.flatMap { case (p, i) =>
        val n = parquetRowCount(fs, p)
        if (n == 0) None // an empty part is no tombstone
        else {
          val pt = p.getParent.getName.stripPrefix("__pt=").toInt
          val dest = new Path(table, s"data/delete-$stamp-$i.parquet")
          fs.mkdirs(dest.getParent)
          require(fs.rename(p, dest), s"IcebergTable: move failed for $p")
          Some((fs.makeQualified(dest).toString, fs.getFileStatus(dest).getLen, n,
            typedTuple(tuples(pt))))
        }
      }
    fs.delete(stage, true)
    if (moved.isEmpty) return -1L
    publishDeleteSnapshot(fs, conf, tablePath, meta, prevVersion, moved,
      content = 1, equalityIds = Seq.empty, partitionFields = ptypes)
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
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
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
    val nameToId = fieldIdToName(meta).map(_.swap)
    val ids = keys.map(k => nameToId.getOrElse(k, throw new IllegalArgumentException(
      s"IcebergTable: no field id for equality key '$k'")))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(table, s"_ice_stage_eqdel_$stamp")
    val distinctKeys = keysDf.distinct()
      .orderBy(keys.map(org.apache.spark.sql.functions.col): _*)
    // id-capable tables stamp the key columns with their field ids so
    // the delete file stays resolvable across later renames
    val keyedOut =
      if (snap.fieldIdsWritten)
        withFieldIds(spark, distinctKeys,
          keys.zip(ids).map { case (k, id) => IceField(id, k, snap.schema(k).dataType) })
      else distinctKeys
    keyedOut.write.parquet(stage.toString)
    val parts = fs.globStatus(new Path(stage, "part-*.parquet")).toSeq
      .map(_.getPath).sortBy(_.toString)
    // scoped deletes carry their typed tuple in the manifest entry;
    // global deletes carry none (the unpartitioned-spec shape)
    val ptypes: Seq[(String, DataType)] =
      if (partitionScope.isEmpty) Seq.empty
      else snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val scopedTuple: Map[String, Any] = partitionScope.map { case (k, v) =>
      k -> (snap.schema(k).dataType match {
        case IntegerType => Integer.valueOf(v.toInt)
        case LongType => java.lang.Long.valueOf(v.toLong)
        case _ => (v: Any)
      })
    }
    val moved: Seq[(String, Long, Long, Map[String, Any])] =
      parts.zipWithIndex.flatMap { case (p, i) =>
        val n = parquetRowCount(fs, p)
        if (n == 0) None
        else {
          val dest = new Path(table, s"data/eqdelete-$stamp-$i.parquet")
          fs.mkdirs(dest.getParent)
          require(fs.rename(p, dest), s"IcebergTable: move failed for $p")
          Some((fs.makeQualified(dest).toString, fs.getFileStatus(dest).getLen, n,
            scopedTuple))
        }
      }
    fs.delete(stage, true)
    if (moved.isEmpty) return -1L
    publishDeleteSnapshot(fs, conf, tablePath, meta, prevVersion, moved,
      content = 2, equalityIds = ids, partitionFields = ptypes)
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
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
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
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val newSeq =
      (if (meta.has("last-sequence-number")) meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val refByFid: Map[String, DataFileRef] =
      snap.dataRefs.map(r => scanFileId(r.path) -> r).toMap
    val puffinPath = new Path(table, s"data/dv-$stamp.puffin")
    fs.mkdirs(puffinPath.getParent)
    val blobs = Puffin.writeDvFilePacked(fs, puffinPath,
      frames.map { case (fid, bytes, card) => (refByFid(fid).path, bytes, card) },
      snapshotId, newSeq)
    val puffinLen = fs.getFileStatus(puffinPath).getLen
    val qPuffin = fs.makeQualified(puffinPath).toString
    val ptypes: Seq[(String, DataType)] =
      snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val ptypeMap = ptypes.toMap
    def typedTuple(t: Map[String, String]): Map[String, Any] =
      t.map { case (k, v) =>
        k -> (ptypeMap.get(k) match {
          case Some(IntegerType) => Integer.valueOf(v.toInt)
          case Some(LongType) => java.lang.Long.valueOf(v.toLong)
          case _ => v
        })
      }
    val entrySchema = deleteManifestEntrySchema(ptypes)
    def dvEntry(status: Int, seq: Long, path: String, fileLen: Long,
        refFile: String, off: Long, size: Long, card: Long,
        tuple: Map[String, Any]): GenericRecord = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", status)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", seq)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("content", 1)
      d.put("file_path", path)
      d.put("file_format", "PUFFIN")
      d.put("record_count", card)
      d.put("file_size_in_bytes", fileLen)
      d.put("referenced_data_file", refFile)
      d.put("content_offset", off)
      d.put("content_size_in_bytes", size)
      if (ptypes.nonEmpty) {
        val pr = new GenericData.Record(
          entrySchema.getField("data_file").schema().getField("partition").schema())
        tuple.foreach { case (k, v) => pr.put(k, v) }
        d.put("partition", pr)
      }
      e.put("data_file", d)
      e
    }
    val added = frames.zip(blobs).map { case ((fid, _, card), b) =>
      dvEntry(1, newSeq, qPuffin, puffinLen, refByFid(fid).path,
        b.offset, b.length, card, typedTuple(refByFid(fid).partition))
    }
    val replaced = frames.flatMap { case (fid, _, _) =>
      existingDvs.get(fid).map { case (p, off, size, oldSeq) =>
        dvEntry(2, oldSeq, p, 0L, refByFid(fid).path, off, size, 0L,
          typedTuple(refByFid(fid).partition))
      }
    }
    publishDeleteManifestSnapshot(fs, conf, tablePath, meta, prevVersion,
      entrySchema, added ++ replaced, newSeq, snapshotId, formatVersion = 3)
  }

  /** Shared publish tail of [[deleteRows]] and [[deleteRowsEquality]]:
    * the delete manifest, the v2 manifest list carrying the current
    * snapshot's manifests forward, and the upgraded metadata JSON.
    */
  /** `moved` rows: (path, length, records, partition tuple — empty
    * for unpartitioned tables and equality deletes).
    */
  private def publishDeleteSnapshot(
      fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      tablePath: String, meta: com.fasterxml.jackson.databind.JsonNode,
      prevVersion: Long, moved: Seq[(String, Long, Long, Map[String, Any])],
      content: Int, equalityIds: Seq[Int],
      partitionFields: Seq[(String, DataType)] = Seq.empty): Long = {
    val newSeq =
      (if (meta.has("last-sequence-number")) meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val entrySchema = deleteManifestEntrySchema(partitionFields)
    val entries = moved.map { case (path, len, n, tuple) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", newSeq)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("content", content)
      d.put("file_path", path)
      d.put("file_format", "PARQUET")
      d.put("record_count", n)
      d.put("file_size_in_bytes", len)
      if (partitionFields.nonEmpty) {
        val pr = new GenericData.Record(
          entrySchema.getField("data_file").schema().getField("partition").schema())
        tuple.foreach { case (k, v) => pr.put(k, v) }
        d.put("partition", pr)
      }
      if (equalityIds.nonEmpty) {
        val arr = new GenericData.Array[Integer](
          equalityIds.size,
          entrySchema.getField("data_file").schema()
            .getField("equality_ids").schema().getTypes.get(1))
        equalityIds.foreach(id => arr.add(Integer.valueOf(id)))
        d.put("equality_ids", arr)
      }
      e.put("data_file", d)
      e
    }
    publishDeleteManifestSnapshot(fs, conf, tablePath, meta, prevVersion,
      entrySchema, entries, newSeq, snapshotId,
      math.max(2, meta.get("format-version").asInt()))
  }

  /** Shared publish tail: land a DELETE manifest's entries, carry the
    * current snapshot's manifests forward, and publish the upgraded
    * metadata JSON at `formatVersion`.
    */
  private def publishDeleteManifestSnapshot(
      fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
      tablePath: String, meta: com.fasterxml.jackson.databind.JsonNode,
      prevVersion: Long, entrySchema: Schema, entries: Seq[GenericRecord],
      newSeq: Long, snapshotId: Long, formatVersion: Int): Long = {
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val metaDir0 = metadataDir(tablePath)
    val manifestPath = new Path(metaDir0, s"manifest-del-$stamp.avro")
    val manifestLen = writeAvro(fs, manifestPath, entrySchema, entries)

    // carry forward the current snapshot's manifests with their
    // content/sequence fields (0 for v1-era ones, per the upgrade rule)
    val curId = meta.get("current-snapshot-id").asLong()
    val curSnap = {
      val snaps = meta.get("snapshots")
      (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong() == curId).get
    }
    val carried = readAvro(fs, new Path(curSnap.get("manifest-list").asText()), conf).map { r =>
      def opt(n: String): Option[AnyRef] =
        if (r.getSchema.getField(n) == null) None else Option(r.get(n))
      (r.get("manifest_path").toString,
        r.get("manifest_length").asInstanceOf[Long],
        opt("content").map(_.asInstanceOf[Int]).getOrElse(0),
        opt("sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
        opt("min_sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
        opt("added_snapshot_id").map(_.asInstanceOf[Long]).getOrElse(curId))
    }
    val listRecords = (carried :+
      (fs.makeQualified(manifestPath).toString, manifestLen, 1, newSeq, newSeq,
        snapshotId))
      .map { case (p, len, content, seq, minSeq, addedBy) =>
        val r = new GenericData.Record(ManifestListSchemaV2)
        r.put("manifest_path", p)
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", addedBy)
        r
      }
    val listPath = new Path(metaDir0, s"snap-$snapshotId-$stamp.avro")
    writeAvro(fs, listPath, ManifestListSchemaV2, listRecords)

    // publish: deep-copy the prior metadata, upgrade in place (v2 for
    // parquet deletes; v3 when the snapshot carries deletion vectors —
    // never a downgrade)
    val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    newMeta.put("format-version", formatVersion)
    newMeta.put("last-sequence-number", newSeq)
    newMeta.put("last-updated-ms", System.currentTimeMillis())
    if (!newMeta.has("schemas")) {
      val arr = newMeta.putArray("schemas")
      val s0 = meta.get("schema").deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      s0.put("schema-id", 0)
      arr.add(s0)
      newMeta.put("current-schema-id", 0)
    }
    if (!newMeta.has("sort-orders")) {
      val orders = newMeta.putArray("sort-orders")
      val o0 = orders.addObject()
      o0.put("order-id", 0)
      o0.putArray("fields")
      newMeta.put("default-sort-order-id", 0)
    }
    newMeta.put("current-snapshot-id", snapshotId)
    val sn = newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      .addObject()
    sn.put("snapshot-id", snapshotId)
    sn.put("sequence-number", newSeq)
    sn.put("timestamp-ms", System.currentTimeMillis())
    if (newMeta.has("current-schema-id"))
      sn.put("schema-id", newMeta.get("current-schema-id").asInt())
    sn.put("manifest-list", fs.makeQualified(listPath).toString)
    sn.putObject("summary").put("operation", "delete")
    val newVersion = prevVersion + 1
    val outPath = new Path(metaDir0, s"v$newVersion.metadata.json")
    val out = fs.create(outPath, false) // put-if-absent publish
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(newMeta))
    finally out.close()
    val hint = fs.create(new Path(metaDir0, "version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
    snapshotId
  }

  // ----------------------------------------------- refs (tags/branches)

  /** The metadata's `refs` map: name -> (snapshot-id, type). The
    * implicit `main` branch (current-snapshot-id) is NOT listed here,
    * matching the spec's default.
    */
  private def refsOf(
      meta: com.fasterxml.jackson.databind.JsonNode): Map[String, (Long, String)] = {
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
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val target = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snaps = meta.get("snapshots")
    require((0 until snaps.size()).map(snaps.get)
        .exists(_.get("snapshot-id").asLong() == target),
      s"IcebergTable: ref target snapshot $target not found (expired?)")
    val refs =
      if (meta.has("refs") && meta.get("refs").isObject)
        meta.get("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
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
    meta.put("last-updated-ms", System.currentTimeMillis())
    val newVersion = prevVersion + 1
    val outPath = new Path(metadataDir(tablePath), s"v$newVersion.metadata.json")
    val out = fs.create(outPath, false) // put-if-absent publish
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    finally out.close()
    val hint = fs.create(new Path(metadataDir(tablePath), "version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
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
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
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
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
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
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
    val snapsArr = meta.get("snapshots")
    val all = (0 until snapsArr.size()).map(snapsArr.get)
    def idOf(s: com.fasterxml.jackson.databind.JsonNode) = s.get("snapshot-id").asLong()
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
            .filter { r =>
              val a = if (r.getSchema.getField("added_snapshot_id") == null) None
                else Option(r.get("added_snapshot_id"))
              a.exists(_.asInstanceOf[Long] == sid)
            }
            .flatMap(r => readAvro(fs, new Path(r.get("manifest_path").toString), conf))
            .filter(_.get("status").asInstanceOf[Int] == 1) // ADDED
            // per-entry snapshot_id confirms the adder (defensive for
            // lists older writers stamped with the wrong manifest-level id)
            .filter { e =>
              val es = if (e.getSchema.getField("snapshot_id") == null) None
                else Option(e.get("snapshot_id"))
              es.forall(_.asInstanceOf[Long] == sid)
            }
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

  // -------------------------------------------- stats-based skipping

  /** The data files a `column BETWEEN lower AND upper` scan must read:
    * files whose manifest bounds provably miss the range drop at PLAN
    * time (the metadata walk — no footer is opened); files without
    * bounds for the column are kept. The Iceberg twin of the Delta
    * reader's stats skipping — at 100 TB this is the difference
    * between a range probe costing its selectivity and costing the
    * table.
    */
  def rangePruneFiles(
      snap: Snapshot, column: String, lower: Any, upper: Any): Seq[DataFileRef] = {
    val dt = snap.schema(column).dataType
    val lo = comparableBound(dt, lower).getOrElse(throw new IllegalArgumentException(
      s"IcebergTable: range lower bound $lower is not comparable as ${dt.simpleString}"))
    val hi = comparableBound(dt, upper).getOrElse(throw new IllegalArgumentException(
      s"IcebergTable: range upper bound $upper is not comparable as ${dt.simpleString}"))
    snap.dataRefs.filter { r =>
      r.bounds.get(column) match {
        case Some((mn, mx)) =>
          (comparableBound(dt, mn), comparableBound(dt, mx)) match {
            case (Some(fmn), Some(fmx)) =>
              // overlap test in the comparable lattice
              def le(a: Either[Double, String], b: Either[Double, String]): Boolean =
                (a, b) match {
                  case (Left(x), Left(y)) => x <= y
                  case (Right(x), Right(y)) => DeltaLog.utf8Compare(x, y) <= 0
                  case _ => true // incomparable: keep
                }
              le(fmn, hi) && le(lo, fmx)
            case _ => true
          }
        case None => true // no bounds recorded: must read
      }
    }
  }

  /** Range read with manifest-bounds file skipping: prune, scan only
    * the kept files (position/equality deletes still applied), filter
    * exactly. Mirrors [[DeltaLog.readRange]].
    */
  def readRange(
      spark: SparkSession, tablePath: String, column: String,
      lower: Any, upper: Any, snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = snapshot(spark, tablePath, snapshotId)
    require(snap.schema.fieldNames.contains(column),
      s"IcebergTable: readRange column '$column' not in the table schema")
    if (snap.fieldIdsWritten) DeltaLog.enableFieldIdRead(spark)
    val kept = rangePruneFiles(snap, column, lower, upper)
    val pred = col(column) >= lit(lower) && col(column) <= lit(upper)
    val base =
      if (snap.deleteFiles.isEmpty || kept.isEmpty) scanData(spark, snap, kept.map(_.path))
      else readWithPositionDeletes(spark, snap, kept)
    base.filter(pred)
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
      transform: Seq[IceField] => Seq[IceField]): Unit = {
    val fs = fsOf(spark, new Path(tablePath))
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    require(propertiesOf(meta).get(FieldIdsProperty).contains("true"),
      s"IcebergTable: $op needs a field-id-capable table " +
        s"($FieldIdsProperty=true) — files without parquet field ids could not " +
        "re-resolve the evolved schema; rewrite the table first")
    val fields = parseFields(currentSchemaNode(meta))
    val newFields = transform(fields)
    newFields.foreach(f => toIcebergType(f.dataType)) // loud unsupported-type check
    require(newFields.map(_.name).distinct.size == newFields.size,
      s"IcebergTable: $op would leave duplicate column names")
    val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    newMeta.put("last-updated-ms", System.currentTimeMillis())
    val curId =
      if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt() else 0
    val newId = curId + 1
    // DEFAULT carry: existing initial-default/write-default nodes ride
    // by FIELD ID into the new current schema ([[carriedDefaults]]),
    // then `newDefaults` decorates the fields this op declares one for
    val carried = carriedDefaults(meta)
    def decorate(node: com.fasterxml.jackson.databind.node.ObjectNode): Unit =
      attachDefaults(node, carried, newDefaults)
    // legacy inline "schema" tracks the current shape; the schemas
    // array keeps every prior entry (live snapshots reference them)
    val inline = schemaJsonOf(newFields)
    inline.put("schema-id", newId)
    decorate(inline)
    newMeta.set[com.fasterxml.jackson.databind.node.ObjectNode]("schema", inline)
    val schemasArr =
      if (newMeta.has("schemas") && newMeta.get("schemas").isArray)
        newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
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
    val newVersion = prevVersion + 1
    val outPath = new Path(metadataDir(tablePath), s"v$newVersion.metadata.json")
    val out = fs.create(outPath, false) // put-if-absent publish
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(newMeta))
    finally out.close()
    val hint = fs.create(new Path(metadataDir(tablePath), "version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
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
      newDefaults = initialDefault.map(v => name -> ((dataType, v))).toMap) { fields =>
      require(!fields.exists(_.name == name),
        s"IcebergTable: addColumn '$name' already exists")
      // fresh id past EVERY id ever used, not just the live maximum —
      // a dropped column's id must never be reassigned
      val fs0 = fsOf(spark, new Path(tablePath))
      val m = readJson(fs0, currentMetadataPath(fs0, tablePath))
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
    publishSchemaEvolution(spark, tablePath, s"renameColumn($from -> $to)") { fields =>
      require(fields.exists(_.name == from),
        s"IcebergTable: renameColumn '$from' not in the table schema")
      require(!fields.exists(_.name == to),
        s"IcebergTable: renameColumn target '$to' already exists")
      val fs0 = fsOf(spark, new Path(tablePath))
      val pby = specColumnNames(readJson(fs0, currentMetadataPath(fs0, tablePath)))
      require(!pby.contains(from),
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
    publishSchemaEvolution(spark, tablePath, s"dropColumn($column)") { fields =>
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
    publishSchemaEvolution(spark, tablePath, s"widenColumnType($column)") { fields =>
      val f = fields.find(_.name == column).getOrElse(throw new IllegalArgumentException(
        s"IcebergTable: widenColumnType '$column' not in the table schema"))
      val ok = (f.dataType, to) match {
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(ok, s"IcebergTable: ${f.dataType.simpleString} -> ${to.simpleString} is " +
        "not an Iceberg type promotion (int -> long, float -> double)")
      val fs0 = fsOf(spark, new Path(tablePath))
      val pby = specColumnNames(readJson(fs0, currentMetadataPath(fs0, tablePath)))
      require(!pby.contains(column),
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
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
    val snaps = meta.get("snapshots")
    require(snaps != null && snaps.isArray, "IcebergTable: no snapshots array")
    // `lineage` is the snapshot's position in the metadata array — the
    // COMMIT order. Timestamps have millisecond granularity, so two
    // commits in the same tick would sort nondeterministically by
    // (committed_at, random id); order by lineage instead.
    val rows = (0 until snaps.size()).map { i =>
      val s = snaps.get(i)
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
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
    val snaps = meta.get("snapshots")
    val wantId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snapNode = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == wantId)
      .getOrElse(throw new IllegalArgumentException(
        s"IcebergTable: snapshot $wantId not found (expired?)"))
    def opt(r: GenericRecord, n: String): Option[AnyRef] =
      if (r.getSchema.getField(n) == null) None else Option(r.get(n))
    val rows = readAvro(fs, new Path(snapNode.get("manifest-list").asText()), conf).map { r =>
      org.apache.spark.sql.Row(
        r.get("manifest_path").toString,
        r.get("manifest_length").asInstanceOf[Long],
        opt(r, "partition_spec_id").map(_.asInstanceOf[Int]).getOrElse(0),
        opt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
        opt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
        opt(r, "min_sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
        opt(r, "added_snapshot_id").map(_.asInstanceOf[Long]).getOrElse(wantId))
    }
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
    val meta = readJson(fs, currentMetadataPath(fs, tablePath))
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
    val metaPath = currentMetadataPath(fs, tablePath)
    val prevVersion = metaPath.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val meta = readJson(fs, metaPath)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val currentId = meta.get("current-snapshot-id").asLong()
    val snapsArr = meta.get("snapshots")
    val all = (0 until snapsArr.size()).map(snapsArr.get)
    def idOf(s: com.fasterxml.jackson.databind.JsonNode) = s.get("snapshot-id").asLong()
    def tsOf(s: com.fasterxml.jackson.databind.JsonNode) = s.get("timestamp-ms").asLong()
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
    def reach(s: com.fasterxml.jackson.databind.JsonNode): (String, Seq[String], Seq[String]) = {
      val list = q(s.get("manifest-list").asText())
      val manifests = readAvro(fs, new Path(list), conf)
        .map(r => q(r.get("manifest_path").toString))
      val files = manifests.flatMap(mp => readAvro(fs, new Path(mp), conf).map(r =>
        q(r.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)))
      (list, manifests, files)
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
    meta.set[com.fasterxml.jackson.databind.node.ObjectNode]("snapshots", newSnaps)
    meta.put("last-updated-ms", System.currentTimeMillis())
    val newVersion = prevVersion + 1
    val outPath = new Path(metadataDir(tablePath), s"v$newVersion.metadata.json")
    val out = fs.create(outPath, false) // put-if-absent publish
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    finally out.close()
    val hint = fs.create(new Path(metadataDir(tablePath), "version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
    delete.foreach(p => fs.delete(new Path(p), false))
    delete.size.toLong
  }
}

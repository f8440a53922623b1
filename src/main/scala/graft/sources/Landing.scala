package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** The landing of data files for both table formats: one stage-and-move
  * loop ([[land]]), one reader of parquet footer statistics
  * ([[footerStats]]) and the put-if-absent both formats commit through
  * ([[landFile]]). Delta's `add.stats` JSON (`DeltaLog.addStats`) and
  * Iceberg's manifest bound bytes (`IcebergTable.footerBoundBytes`)
  * are two encoders of the one [[FooterStats]] this reader returns.
  */
private[sources] object Landing {

  /** The name prefix of the directory every writer stages through;
    * Delta's vacuum walks past it.
    */
  val StagePrefix = "_commit_stage_"

  /** One top-level column's footer statistics: its null count over
    * every row group and, where the rules of [[footerStats]] bound it,
    * its (type, min, max) with min and max Catalyst internal values of
    * that type.
    */
  final case class ColumnStats(nullCount: Long, bounds: Option[(DataType, Any, Any)])

  /** A parquet file's row count and the statistics of its top-level
    * primitive columns, in schema order (a column the rules give no
    * statistics is absent).
    */
  final case class FooterStats(rows: Long, columns: Seq[(String, ColumnStats)])

  /** A file [[land]] moved into the table: its path relative to the
    * table root (as Spark's writer spells its partition dirs), its
    * decoded partition and group values (null for Hive's default
    * partition), its size, modification time and footer statistics.
    */
  final case class Landed(
      rel: String, partitionValues: Map[String, String], size: Long, mtime: Long,
      stats: FooterStats)

  def newStamp(): String = java.util.UUID.randomUUID().toString.take(8)

  /** Write `df` through one `_commit_stage_<stamp>` dir under `table` and
    * move its part files, in path order, to
    * `<dir>/<partition dirs>/<prefix>-<stamp>-<i>.parquet` — the one
    * landing path of every Delta and Iceberg writer. Rows split into
    * files by `partitionBy` and `groupBy`, in one job. A `partitionBy`
    * column lands as the file's Hive-style dir; it stays in the file's
    * rows with `keepPartitionColumns` (staged under a `__p_` alias,
    * since Spark's writer drops the columns it partitions by) and is
    * dropped from them otherwise. A `groupBy` column only splits files:
    * it is neither in the rows nor in the landing path. Both columns'
    * values are returned. With `dropEmptyFiles` files of no rows are
    * not landed: a filtering rewrite that empties a scan partition
    * still makes Spark's writer emit a schema-only file, and every
    * later log replay would carry its entry. Driver work is O(new
    * files): one footer read and one rename per file.
    */
  def land(
      fs: FileSystem, table: Path, df: DataFrame, prefix: String,
      stamp: String = newStamp(), dir: String = "",
      partitionBy: Seq[String] = Nil, groupBy: Seq[String] = Nil,
      keepPartitionColumns: Boolean = false, dropEmptyFiles: Boolean = false): Seq[Landed] = {
    val stage = new Path(table, StagePrefix + stamp)
    val alias = if (keepPartitionColumns) "__p_" else ""
    val stageBy = partitionBy.map(alias + _) ++ groupBy
    val out =
      if (keepPartitionColumns) partitionBy.foldLeft(df)((d, c) => d.withColumn(alias + c, col(c)))
      else df
    (if (stageBy.isEmpty) out.write else out.write.partitionBy(stageBy: _*))
      .parquet(stage.toString)
    val pattern = (stageBy.map(_ => "*") :+ "part-*.parquet").mkString("/")
    val stagePrefix = fs.makeQualified(stage).toString + "/"
    val landed = fs.globStatus(new Path(stage, pattern)).toSeq.map(_.getPath)
      .sortBy(_.toString).map(p => (p, footerStats(fs, p)))
      .filter { case (_, stats) => !dropEmptyFiles || stats.rows > 0L }
      .zipWithIndex.map { case ((p, stats), i) =>
        val qualified = fs.makeQualified(p).toString
        require(qualified.startsWith(stagePrefix),
          s"Landing: stage-relative path resolution failed for $p")
        val segs = qualified.stripPrefix(stagePrefix).split('/').toSeq.dropRight(1)
        val kept = segs.take(partitionBy.size).map(_.stripPrefix(alias))
        // decode Spark's partition-dir escaping back to raw values
        val values = (kept ++ segs.drop(partitionBy.size)).map { s =>
          val Array(k, v) = s.split("=", 2)
          k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else DeltaLog.unescapePathName(v))
        }.toMap
        require(values.keySet == (partitionBy ++ groupBy).toSet,
          s"Landing: unexpected partition layout under $p")
        val rel = (Seq(dir).filter(_.nonEmpty) ++ kept :+ s"$prefix-$stamp-$i.parquet")
          .mkString("/")
        val dest = new Path(table, rel)
        if (rel.contains('/')) fs.mkdirs(dest.getParent)
        require(fs.rename(p, dest), s"Landing: move failed for $p")
        val st = fs.getFileStatus(dest)
        Landed(rel, values, st.getLen, st.getModificationTime, stats)
      }
    fs.delete(stage, true)
    landed
  }

  /** One open of `p`'s parquet footer: the row count and, per top-level
    * primitive column, what both formats' file statistics are derived
    * from. The rules, which Delta's and Iceberg's encoders both follow:
    *  - a row group whose statistics are missing, carry no null count,
    *    or hold values but no min/max leaves the column with no
    *    statistics at all (parquet reads a NaN-bearing chunk's stats
    *    back without min/max);
    *  - a NaN min or max leaves the column unbounded;
    *  - an all-null row group counts toward the null count and does not
    *    bound the column: the other row groups bound it;
    *  - strings compare in unsigned UTF-8 byte order, the order of
    *    parquet's string statistics and of Spark's string comparison;
    *  - decimals stored as INT32/INT64 are scaled values;
    *  - millisecond timestamps widen to micros; INT96, nanosecond
    *    timestamps, unsigned integers, fixed-length decimals and raw
    *    binary stay unbounded;
    *  - an unreadable footer fails the write: a file committed without
    *    its row count would burn or double-allocate row ids.
    */
  def footerStats(fs: FileSystem, p: Path): FooterStats = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(fs.getFileStatus(p), fs.getConf))
    try {
      val footer = r.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val columns = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
        .filter(_.isPrimitive).flatMap { f =>
          val name = f.getName
          val chunks = blocks.flatMap(_.getColumns.asScala.find(c =>
            c.getPath.size == 1 && c.getPath.toArray.head == name))
          columnStats(f.asPrimitiveType, chunks).map(name -> _)
        }
      FooterStats(blocks.map(_.getRowCount).sum, columns)
    } finally r.close()
  }

  private def columnStats(
      t: PrimitiveType, chunks: Seq[ColumnChunkMetaData]): Option[ColumnStats] = {
    def usable(c: ColumnChunkMetaData): Boolean = {
      val s = c.getStatistics
      s != null && !s.isEmpty && s.isNumNullsSet &&
        (s.hasNonNullValue || s.getNumNulls == c.getValueCount)
    }
    if (chunks.isEmpty || !chunks.forall(usable)) None
    else {
      val stats = chunks.map(_.getStatistics)
      val valued: Seq[Statistics[_]] = stats.filter(_.hasNonNullValue)
      val bounds = catalystType(t).filter(_ => valued.nonEmpty).flatMap { case (dt, decode) =>
        val mins = valued.map(s => decode(s.genericGetMin))
        val maxs = valued.map(s => decode(s.genericGetMax))
        val nan = (mins ++ maxs).exists {
          case d: Double => d.isNaN
          case f: Float => f.isNaN
          case _ => false
        }
        if (nan) None else Some((dt, mins.min(byValue), maxs.max(byValue)))
      }
      Some(ColumnStats(stats.map(_.getNumNulls).sum, bounds))
    }
  }

  /** Catalyst's order on the internal values [[catalystType]] yields:
    * unsigned bytes for strings, the boxed types' own order otherwise.
    */
  private val byValue: Ordering[Any] = (a, b) => (a, b) match {
    case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
    case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** The Catalyst type a parquet column's statistics decode to, and the
    * decoder from parquet's statistic value to a Catalyst internal value
    * of that type; None for the types the rules leave unbounded.
    */
  private def catalystType(t: PrimitiveType): Option[(DataType, Any => Any)] = {
    import LogicalTypeAnnotation._
    import PrimitiveType.PrimitiveTypeName._
    def int(v: Any): Int = v.asInstanceOf[Integer].intValue
    val same: Any => Any = v => v
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32, null) => Some(IntegerType -> same)
      case (INT32, i: IntLogicalTypeAnnotation) if i.isSigned => i.getBitWidth match {
        case 8 => Some(ByteType -> (v => int(v).toByte))
        case 16 => Some(ShortType -> (v => int(v).toShort))
        case _ => Some(IntegerType -> same)
      }
      case (INT32, _: DateLogicalTypeAnnotation) => Some(DateType -> same)
      case (INT64, null) => Some(LongType -> same)
      case (INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some(LongType -> same)
      case (INT32 | INT64, d: DecimalLogicalTypeAnnotation) =>
        Some(DecimalType(d.getPrecision, d.getScale) ->
          (v => Decimal(v.asInstanceOf[Number].longValue, d.getPrecision, d.getScale)))
      case (INT64, ts: TimestampLogicalTypeAnnotation) if ts.getUnit != TimeUnit.NANOS =>
        val dt = if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
        if (ts.getUnit == TimeUnit.MICROS) Some(dt -> same)
        else Some(dt -> (v => v.asInstanceOf[java.lang.Long] * 1000L))
      case (FLOAT, _) => Some(FloatType -> same)
      case (DOUBLE, _) => Some(DoubleType -> same)
      case (BOOLEAN, _) => Some(BooleanType -> same)
      case (BINARY, _: StringLogicalTypeAnnotation) => Some(StringType ->
        (v => UTF8String.fromBytes(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)))
      case _ => None
    }
  }

  /** Land `bytes` at `target` through a temp file: the content is
    * written fully off to the side under the hidden name
    * `.tmp-<name>-<stamp>` (no log or metadata pattern matches a crash
    * orphan), so no reader ever sees a partial file.
    *
    * With `overwrite = true` an existing `target` is replaced by a
    * rename; where rename refuses an existing destination it is deleted
    * first, so pointer readers must treat a missing pointer as "list".
    *
    * With `overwrite = false` it is a put-if-absent: false means
    * `target` was taken (a lost race) and its bytes are left as they
    * were. It is atomic on two kinds of store:
    *  - the local filesystem (`file:`), where the temp file is
    *    hard-linked to `target` (link(2) fails atomically on an
    *    existing name) and then deleted; Hadoop's own `LocalFileSystem`
    *    renames by rename(2), which would replace an existing file;
    *  - stores whose rename refuses an existing destination atomically,
    *    such as HDFS, where it is an `exists` check and a rename.
    * On a store where neither holds (object stores, whose rename is a
    * copy that may replace) the check narrows the race without closing
    * it: those need a conditional put.
    */
  def landFile(fs: FileSystem, target: Path, bytes: Array[Byte], overwrite: Boolean): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${target.getName}-${newStamp()}")
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
    } catch { case e: java.io.IOException => fs.delete(tmp, false); throw e }
    def move(): Boolean =
      try fs.rename(tmp, target)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    val landed =
      if (overwrite) move() || { fs.delete(target, false); move() }
      else if (fs.getUri.getScheme == "file") {
        def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
        try {
          java.nio.file.Files.createLink(local(target), local(tmp))
          // a checksum left beside the name by an earlier file is not this file's
          fs.delete(new Path(target.getParent, s".${target.getName}.crc"), false)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally fs.delete(tmp, false)
      } else !fs.exists(target) && move()
    if (!landed) {
      fs.delete(tmp, false)
      // a put-if-absent fails only when the destination exists (lost
      // race); anything else is a real IO failure and must surface
      if (!fs.exists(target)) throw new java.io.IOException(
        s"landing $target failed with no competing file present")
    }
    landed
  }
}

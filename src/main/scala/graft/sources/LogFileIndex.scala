package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over files a table log already lists, each with its
  * partition values: Spark plans the scan from this list and never
  * lists or globs a directory. `listFiles` prunes partitions by
  * evaluating the planner's partition filters over the log's values,
  * so a partition predicate lands as a native `PartitionFilters` on
  * one `FileSourceScanExec`.
  */
private[sources] final class LogFileIndex(
    override val partitionSchema: StructType,
    files: Seq[(FileStatus, InternalRow)]) extends FileIndex {

  private val partitions: Seq[PartitionDirectory] = {
    val byValues = files.groupMap(_._2)(_._1)
    files.map(_._2).distinct.map(v => PartitionDirectory(v, byValues(v).toArray))
  }

  override def rootPaths: Seq[Path] = files.map(_._1.getPath)

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      partitions.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] = files.map(_._1.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._1.getLen).sum
}

private[sources] object LogFileIndex {

  /** The one parquet scan over `files`: (path, the value of each
    * `partitionSchema` field, as the log spells it). Each file is
    * stat-ed once on the driver, so a file the log lists but the
    * store lost fails here, loudly. Partition values are cast to
    * their declared types under the session's time zone. Without a
    * `dataSchema` it is inferred from the files' footers, as an
    * undeclared `spark.read.parquet` would.
    */
  def scan(
      spark: SparkSession, files: Seq[(String, Seq[Option[String]])],
      partitionSchema: StructType, dataSchema: Option[StructType]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val indexed = files.map { case (p, values) =>
      val path = new Path(p)
      val row = InternalRow.fromSeq(partitionSchema.fields.toSeq.zip(values).map {
        case (f, v) => v.map(s => Cast(Literal(s), f.dataType, tz).eval()).orNull
      })
      (path.getFileSystem(conf).getFileStatus(path), row)
    }
    val format = new ParquetFileFormat
    val data = dataSchema
      .orElse(format.inferSchema(spark, Map.empty, indexed.map(_._1)))
      .fold(new StructType())(s =>
        StructType(s.filterNot(f => partitionSchema.fieldNames.contains(f.name))))
    val partitions = GraftSqlShims.asNullable(partitionSchema)
    val relation = HadoopFsRelation(new LogFileIndex(partitions, indexed), partitions,
      GraftSqlShims.asNullable(data), None, format, Map.empty)(spark)
    GraftSqlShims.ofRows(spark, LogicalRelation(relation))
  }
}

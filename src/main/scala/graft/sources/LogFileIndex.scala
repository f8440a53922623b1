package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Cast, EqualTo, EvalMode, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** One file a table log lists: its path, the value of each partition
  * field as the log spells it, and the log's lower and upper bound for
  * a data column of the given type, as Catalyst internal values (None
  * where the log records none).
  */
private[sources] final case class LogFile(
    path: String,
    partitionValues: Seq[Option[String]] = Nil,
    bounds: (String, DataType) => Option[(Any, Any)] = (_, _) => None)

/** A [[FileIndex]] over files a table log already lists, each with its
  * partition values and column bounds: Spark plans the scan from this
  * list and never lists or globs a directory. `listFiles` prunes
  * partitions by evaluating the planner's partition filters over the
  * log's values, so a partition predicate lands as a native
  * `PartitionFilters` on one `FileSourceScanExec`; it then skips every
  * file for which some data filter is provably never true within the
  * file's bounds — Delta's data skipping, for both formats.
  */
private[sources] final class LogFileIndex(
    override val partitionSchema: StructType,
    files: Seq[(FileStatus, InternalRow, (String, DataType) => Option[(Any, Any)])])
    extends FileIndex {

  private val partitions = {
    val byValues = files.groupBy(_._2)
    files.map(_._2).distinct.map(v => v -> byValues(v))
  }

  override def rootPaths: Seq[Path] = files.map(_._1.getPath)

  override def listFiles(
      partitionPredicates: Seq[Expression],
      dataPredicates: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep: InternalRow => Boolean =
      if (partitionPredicates.isEmpty) _ => true
      else Predicate.createInterpreted(partitionPredicates.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }).eval
    partitions.collect { case (values, inPartition) if keep(values) =>
      PartitionDirectory(values, inPartition.collect {
        case (status, _, bounds) if !dataPredicates.exists(LogFileIndex.refutes(_, bounds)) =>
          status
      }.toArray)
    }.filter(_.files.nonEmpty)
  }

  override def inputFiles: Array[String] = files.map(_._1.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._1.getLen).sum
}

object LogFileIndex {

  /** The one parquet scan over `files`. Each file is stat-ed once on
    * the driver, so a file the log lists but the store lost fails
    * here, loudly. Partition values are cast to their declared types
    * under the session's time zone. Without a `dataSchema` it is
    * inferred from the files' footers, as an undeclared
    * `spark.read.parquet` would. Parquet's dictionary filter is off: it
    * compares doubles by `Double.equals`/`compare`, which tell -0.0
    * from 0.0, so it drops a row group of -0.0 under `d = 0.0` or
    * `d >= 0.0`, which Spark holds true.
    */
  private[sources] def scan(
      spark: SparkSession, files: Seq[LogFile],
      partitionSchema: StructType, dataSchema: Option[StructType]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val indexed = files.map { f =>
      val path = new Path(f.path)
      val row = InternalRow.fromSeq(partitionSchema.fields.toSeq.zip(f.partitionValues).map {
        case (field, v) => v.map(s => Cast(Literal(s), field.dataType, tz).eval()).orNull
      })
      (path.getFileSystem(conf).getFileStatus(path), row, f.bounds)
    }
    val format = new ParquetFileFormat
    val data = dataSchema
      .orElse(format.inferSchema(spark, Map.empty, indexed.map(_._1)))
      .fold(new StructType())(s =>
        StructType(s.filterNot(f => partitionSchema.fieldNames.contains(f.name))))
    val partitions = GraftSqlShims.asNullable(partitionSchema)
    val relation = HadoopFsRelation(new LogFileIndex(partitions, indexed), partitions,
      GraftSqlShims.asNullable(data), None, format,
      Map("parquet.filter.dictionary.enabled" -> "false"))(spark)
    GraftSqlShims.ofRows(spark, LogicalRelation(relation))
  }

  /** The files the planned file scans of `df` select after partition
    * pruning and file skipping, i.e. the files they will read. It only
    * plans the query: no Spark job runs.
    */
  def plannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      .flatMap(_.selectedPartitions.filePartitionIterator
        .flatMap(_.files.map(_.getPath.toString)))

  /** A bound the log spells as text, as a Catalyst value of `dt`; None
    * if the text does not parse as one.
    */
  private[sources] def textBound(text: String, dt: DataType): Option[Any] =
    Option(Cast(Literal(text), dt, Some("UTC"), EvalMode.LEGACY).eval())

  /** Whether no row of a file whose columns lie within `bounds` can
    * make the conjunct `e` true. It decides `=`, `<`, `<=`, `>`, `>=`
    * and `IN` between a column (or a widening cast of one) and
    * literals, comparing in Spark's own ordering of the type (strings
    * in unsigned UTF-8 byte order, NaN above every double). Any other
    * shape, a missing bound or a null bound answers false: the file is
    * kept.
    */
  private def refutes(e: Expression, bounds: (String, DataType) => Option[(Any, Any)]): Boolean = {
    def range(c: Expression): Option[(Any, Any)] = {
      val column: Option[(AttributeReference, Any => Any)] = c match {
        case a: AttributeReference => Some((a, v => v))
        case cast @ Cast(a: AttributeReference, to, _, _) if widens(a.dataType, to) =>
          Some((a, v => cast.withNewChildren(Seq(Literal(v, a.dataType))).eval()))
        case _ => None
      }
      column.filter(a => orderable(a._1.dataType)).flatMap { case (a, widen) =>
        bounds(a.name, a.dataType).collect {
          case (lo, hi) if lo != null && hi != null => (widen(lo), widen(hi))
        }
      }
    }
    // `c` against literal `l`: true when `misses(lo, hi, order)` proves
    // that no value within the bounds compares as the predicate asks
    def never(c: Expression, l: Literal)(misses: (Any, Any, Ordering[Any]) => Boolean): Boolean =
      l.value == null || (l.dataType == c.dataType && range(c).exists { case (lo, hi) =>
        misses(lo, hi, TypeUtils.getInterpretedOrdering(c.dataType))
      })
    def notEqual(c: Expression, l: Literal): Boolean =
      never(c, l)((lo, hi, o) => o.lt(l.value, lo) || o.gt(l.value, hi))
    e match {
      case EqualTo(c, l: Literal) => notEqual(c, l)
      case EqualTo(l: Literal, c) => notEqual(c, l)
      case LessThan(c, l: Literal) => never(c, l)((lo, _, o) => o.gteq(lo, l.value))
      case GreaterThan(l: Literal, c) => never(c, l)((lo, _, o) => o.gteq(lo, l.value))
      case LessThanOrEqual(c, l: Literal) => never(c, l)((lo, _, o) => o.gt(lo, l.value))
      case GreaterThanOrEqual(l: Literal, c) => never(c, l)((lo, _, o) => o.gt(lo, l.value))
      case GreaterThan(c, l: Literal) => never(c, l)((_, hi, o) => o.lteq(hi, l.value))
      case LessThan(l: Literal, c) => never(c, l)((_, hi, o) => o.lteq(hi, l.value))
      case GreaterThanOrEqual(c, l: Literal) => never(c, l)((_, hi, o) => o.lt(hi, l.value))
      case LessThanOrEqual(l: Literal, c) => never(c, l)((_, hi, o) => o.lt(hi, l.value))
      case In(c, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.forall(l => notEqual(c, l.asInstanceOf[Literal]))
      case InSet(c, values) => values.forall(v => notEqual(c, Literal(v, c.dataType)))
      case _ => false
    }
  }

  /** Types whose Spark ordering is the order the logs' bounds follow. */
  private def orderable(dt: DataType): Boolean = dt match {
    // StringType alone: a collated string type orders by its collation
    case _: NumericType | StringType | DateType | TimestampType | TimestampNTZType |
        BooleanType => true
    case _ => false
  }

  /** Casts that never reorder values, so a column's bounds cast the
    * same way bound the cast column.
    */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (_: NumericType, _: NumericType) | (DateType, TimestampType) => Cast.canUpCast(from, to)
    case _ => false
  }
}

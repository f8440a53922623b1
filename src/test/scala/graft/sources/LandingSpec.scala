package graft.sources

import java.nio.file.Files
import java.util.concurrent.{BrokenBarrierException, CyclicBarrier, Executors, TimeUnit, TimeoutException}

import graft.SparkSpec
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Landing]]: the footer-statistics reader and its two encoders
  * (Delta's `add.stats`, Iceberg's single-value bound bytes) on
  * multi-row-group files, and the put-if-absent under racing writers.
  */
class LandingSpec extends SparkSpec {

  private lazy val fs = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Land `df` as one file of ~1 KB row groups; its footer statistics
    * and the null flags of `column`'s row groups (true: all null).
    */
  private def landOne(df: DataFrame, column: String): (Landing.FooterStats, Seq[Boolean]) = {
    val table = new Path(Files.createTempDirectory("graft-landing").toUri)
    spark.conf.set("parquet.block.size", "1024")
    val landed =
      try Landing.land(fs, table, df.coalesce(1), "part")
      finally spark.conf.unset("parquet.block.size")
    assert(landed.size == 1)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(table, landed.head.rel), spark.sparkContext.hadoopConfiguration))
    val allNull =
      try {
        import scala.jdk.CollectionConverters._
        r.getRowGroups.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala.find(_.getPath.toDotString == column).get
          c.getStatistics.getNumNulls == c.getValueCount
        }
      } finally r.close()
    assert(allNull.size > 1, "the file must hold several row groups")
    (landed.head.stats, allNull)
  }

  private def le(n: Long, width: Int): Seq[Byte] = (0 until width).map(i => (n >> (8 * i)).toByte)

  test("a NaN-bearing row group leaves the column unbounded in both formats") {
    val df = spark.range(0, 2000).select(
      when(col("id") === 0L, lit(Double.NaN)).otherwise(col("id").cast("double")).as("d"),
      col("id"))
    val (stats, _) = landOne(df, "d")
    assert(stats.rows == 2000L)
    assert(stats.columns.toMap.get("d").forall(_.bounds.isEmpty), stats)
    val json = mapper.readTree(DeltaLog.addStats(stats))
    assert(!json.get("minValues").has("d") && !json.get("maxValues").has("d"), json)
    assert(json.get("minValues").get("id").asLong == 0L && json.get("maxValues").get("id").asLong == 1999L)
    val ice = IcebergTable.footerBoundBytes(stats, Map("d" -> DoubleType, "id" -> LongType))
    assert(ice.keySet == Set("id"), ice.keySet)
  }

  test("an all-null row group counts its nulls and does not unbound the column, in both formats") {
    val df = spark.range(0, 2000).select(
      when(col("id") >= 1000L, col("id")).as("x"),
      concat(lit("padding-to-split-row-groups-"), col("id").cast("string")).as("pad"))
    val (stats, allNull) = landOne(df, "x")
    assert(allNull.contains(true) && allNull.contains(false), allNull)
    assert(stats.columns.toMap.get("x") ==
      Some(Landing.ColumnStats(1000L, Some((LongType, 1000L, 1999L)))))
    val json = mapper.readTree(DeltaLog.addStats(stats))
    assert(json.get("nullCount").get("x").asLong == 1000L, json)
    assert(json.get("minValues").get("x").asLong == 1000L, json)
    assert(json.get("maxValues").get("x").asLong == 1999L, json)
    val ice = IcebergTable.footerBoundBytes(stats, Map("x" -> LongType, "pad" -> StringType))
    assert(ice("x")._1.toSeq == le(1000L, 8) && ice("x")._2.toSeq == le(1999L, 8))
    // the same through an Iceberg append: its manifest carries the bounds
    val t = Files.createTempDirectory("graft-iceberg").toString
    spark.conf.set("parquet.block.size", "1024")
    try IcebergTable.append(spark, t, df.coalesce(1))
    finally spark.conf.unset("parquet.block.size")
    assert(IcebergTable.snapshot(spark, t).dataRefs.head.bounds.get("x") == Some((1000L, 1999L)))
    assert(IcebergTable.read(spark, t).filter(col("x") >= 1500L).count() == 500L)
    assert(IcebergTable.read(spark, t).filter(col("x").isNull).count() == 1000L)
  }

  test("decimal, date, micros timestamp and non-BMP string bounds; row and null counts") {
    // U+1F600 sorts below U+FFFD in UTF-16 but above it in UTF-8 bytes
    val (smile, replacement) = ("😀", "�")
    val df = spark.range(0, 2000).select(
      (col("id") / 100).cast(DecimalType(10, 2)).as("p"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
      timestamp_micros(col("id") * 1000001L - 5000000L).as("ts"),
      when(col("id") === 0L, lit(smile)).when(col("id") === 1999L, lit(replacement))
        .when(col("id") % 7 === 0L, lit(null))
        .otherwise(concat(lit("b"), col("id").cast("string"))).as("s"))
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val (stats, _) =
      try landOne(df, "s") finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val sNulls = (1L until 1999L).count(_ % 7 == 0).toLong
    assert(stats.rows == 2000L)
    assert(stats.columns.map { case (n, c) => n -> c.nullCount } ==
      Seq("p" -> 0L, "d" -> 0L, "ts" -> 0L, "s" -> sNulls))
    val lastTs = 1999L * 1000001L - 5000000L
    val json = mapper.readTree(DeltaLog.addStats(stats))
    val (mins, maxs) = (json.get("minValues"), json.get("maxValues"))
    assert(json.get("numRecords").asLong == 2000L)
    assert(mins.get("p").decimalValue.compareTo(new java.math.BigDecimal("0.00")) == 0, json)
    assert(maxs.get("p").decimalValue.compareTo(new java.math.BigDecimal("19.99")) == 0, json)
    assert(mins.get("d").asText == "2020-01-01" && maxs.get("d").asText == "2025-06-22", json)
    assert(mins.get("ts").asText == "1969-12-31T23:59:55Z", json)
    assert(maxs.get("ts").asText == java.time.Instant.EPOCH.plus(lastTs, java.time.temporal.ChronoUnit.MICROS).toString, json)
    assert(mins.get("s").asText == "b1" && maxs.get("s").asText == smile, json)
    assert(json.get("nullCount").get("s").asLong == sNulls)
    val ice = IcebergTable.footerBoundBytes(stats,
      Map("p" -> DecimalType(10, 2), "d" -> DateType, "ts" -> TimestampType, "s" -> StringType))
    assert(ice.keySet == Set("d", "ts", "s"), "Iceberg writes no decimal bounds")
    val epochDay = java.time.LocalDate.parse("2020-01-01").toEpochDay
    assert(ice("d")._1.toSeq == le(epochDay, 4) && ice("d")._2.toSeq == le(epochDay + 1999, 4))
    assert(ice("ts")._1.toSeq == le(-5000000L, 8) && ice("ts")._2.toSeq == le(lastTs, 8))
    assert(new String(ice("s")._1, "UTF-8") == "b1" && new String(ice("s")._2, "UTF-8") == smile)
  }

  /** Hadoop's own local filesystem (whose rename replaces an existing
    * file), holding `writers` threads at a barrier when they create
    * their temp file and again when they rename, so they are released
    * together into the landing step.
    */
  private class HoldingFs(writers: Int) extends org.apache.hadoop.fs.LocalFileSystem {
    private val created = new CyclicBarrier(writers)
    private val renaming = new CyclicBarrier(writers)
    private def hold(b: CyclicBarrier): Unit =
      try b.await(10, TimeUnit.SECONDS)
      catch { case _: TimeoutException | _: BrokenBarrierException => () }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      hold(created)
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      hold(renaming)
      super.rename(src, dst)
    }
  }

  test("landFile without overwrite lets exactly one of 8 racing writers land, with its bytes") {
    val writers = 8
    val dir = Files.createTempDirectory("graft-land-race")
    val target = new Path(dir.resolve("v1.json").toUri)
    val fs = new HoldingFs(writers)
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val pool = Executors.newFixedThreadPool(writers)
    val won =
      try {
        (0 until writers).map(i => pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            Landing.landFile(fs, target, s"writer-$i".getBytes("UTF-8"), overwrite = false)
        })).map(_.get(60, TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    assert(won.count(identity) == 1, s"winners: ${won.zipWithIndex.filter(_._1).map(_._2)}")
    assert(Files.readString(dir.resolve("v1.json")) == s"writer-${won.indexOf(true)}")
    assert(!dir.toFile.list().exists(_.startsWith(".tmp-")))
  }
}

package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Transform
import graft.pipeline.CovidPipeline
import graft.pipeline.CovidPipeline.Raw
import graft.sources.{DeltaLog, RawZone, SnapshotPublish}

/** The paper's job: one full load, then daily incrementals. Each day
  * lands five full-history OWID CSVs, diffs them against yesterday's,
  * merges the changes into curated, reconciles the warehouse, publishes
  * the three sinks as one version and MERGEs the day's upsert batch
  * into a Year/Month-partitioned Delta copy of the fact table (the lake
  * that [[LakeWorkload]] then reads).
  */
final class EtlWorkload(spark: SparkSession, work: String, seed: Long, cfg: EtlWorkload.Config,
    tracer: Tracer) {
  import EtlWorkload._

  val model = new OwidModel(seed, cfg.countries, LocalDate.parse(cfg.start))
  private def landing(day: Int) = s"$work/landing/day=$day"
  private val publishRoot = s"$work/publish"
  val deltaPath = s"$work/delta/metrics_fact"
  private def asOf(today: LocalDate) = s"$today 04:00:00"

  private def readRaw(dir: String): Raw = tracer.span("raw_zone.csv") {
    def f(name: String) = RawZone.csvAllString(spark, s"$dir/$name")
    Raw.fromCsv(f("owid-covid-data.csv"), f("vaccinations.csv"), f("covid-hospitalizations.csv"),
      f("excess_mortality.csv"), f("full_data.csv"))
  }

  private def withParts(df: DataFrame): DataFrame = Transform.withDateParts(df, "Date")

  /** Files landing for the day whose "yesterday" is `lastDay`. */
  def land(lastDay: Int): Long = model.writeDay(landing(lastDay), lastDay)

  /** Full load of days [0, lastDay] into an empty publish root and an
    * empty Delta table.
    */
  def fullLoad(lastDay: Int, root: String, delta: String): Unit = {
    val today = model.date(lastDay + 1)
    val raw = readRaw(landing(lastDay))
    val curated = tracer.span("covid_pipeline.full_load")(CovidPipeline.fullLoad(raw, asOf(today)))
    val empty = curated.withColumn("_SK_METRICS_FACT", lit(0L))
      .select(CovidPipeline.FinalColumns.map(col): _*).limit(0)
    val r = tracer.span("covid_pipeline.reconcile")(
      CovidPipeline.reconcile(curated, empty, empty.drop("_SK_METRICS_FACT", "_TF_LAST_UPDATE"),
        fullMode = true, today, asOf(today)))
    tracer.span("snapshot_publish.publish")(CovidPipeline.publishReconciled(root, r))
    // checkpointed at once, so reads of later versions replay a
    // checkpoint plus JSON commits; the change feed serves the lake reads
    tracer.span("delta_log.append")(
      DeltaLog.append(spark, delta, withParts(r.warehouse), checkpointInterval = 1,
        partitionBy = Seq("Year", "Month"), configuration = Map("delta.enableChangeDataFeed" -> "true")))
  }

  /** One incremental day: today's files vs yesterday's, against the
    * current published version; returns the day's upsert batch.
    */
  def day(lastDay: Int, root: String, delta: String): DataFrame = {
    val today = model.date(lastDay + 1)
    val todayRaw = readRaw(landing(lastDay))
    val yesterdayRaw = readRaw(landing(lastDay - 1))
    val curated = SnapshotPublish.readCurrent(spark, root, "curated")
    val warehouse = SnapshotPublish.readCurrent(spark, root, "warehouse")
    val enterprise = SnapshotPublish.readCurrent(spark, root, "enterprise")
    val cur2 = tracer.span("covid_pipeline.incremental")(
      CovidPipeline.incremental(todayRaw, yesterdayRaw, curated, today, asOf(today)))
    val r = tracer.span("covid_pipeline.reconcile")(
      CovidPipeline.reconcile(cur2, warehouse, enterprise, fullMode = false, today, asOf(today)))
    tracer.span("snapshot_publish.publish")(CovidPipeline.publishReconciled(root, r))
    val batch = withParts(r.upsertBatch)
    tracer.span("delta_log.merge")(DeltaLog.merge(spark, delta, batch, Seq("CodeISO", "Date")))
    batch
  }

  private def dropCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private val base = cfg.historyDays - 1

  /** Set-up: the full load's input files land; returns their row count. */
  def prepare(): Long = land(base)

  /** Timed part: the full load, then `cfg.days` days. Returns the
    * workload's own metrics and check results.
    */
  def run(ops: Ops, checks: mutable.ArrayBuffer[Check.Result])
      : Seq[(String, Double, String)] = {
    val (root, delta) = (publishRoot, deltaPath)
    val fullLoadRows = model.factRows(base) // before any restatement
    ops.run("full_load")(fullLoad(base, root, delta))
    dropCheckpoints()
    var lastDay = base
    val published = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    val merges = mutable.ArrayBuffer.empty[DeltaCommit]
    var changedRows = 0L
    while (lastDay - base < cfg.days) {
      lastDay += 1
      model.restate(lastDay, cfg.restatementsPerDay, lastDay, cfg.restateWindow)
      land(lastDay)
      val (pub0, delta0) = (Host.bytesUnder(root), Host.bytesUnder(delta))
      ops.run("day")(day(lastDay, root, delta)).foreach { batch =>
        val pub = (Host.bytesUnder(root) - pub0).toDouble
        published += pub
        written += (pub + Host.bytesUnder(delta) - delta0) / 1048576.0
        if (tracer.enabled) {
          changedRows += batch.count()
          merges += DeltaLogReplay.lastCommit(delta)
        }
      }
      dropCheckpoints()
      // yesterday's landing is no longer needed once today is processed
      DeltaLogReplay.deleteRecursively(landing(lastDay - 2))
    }
    val days = lastDay - base

    // correctness, read without graft: the published warehouse and the
    // Delta sink against the model's expected fact table
    def expected(rows: Seq[org.apache.spark.sql.Row]) = Check.contentHash(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), OwidModel.FactSchema))
    val want = expected(model.factRows(lastDay))
    val wh = spark.read.parquet(DeltaLogReplay.latestPublished(root) + "/warehouse")
    checks += Check.same("etl.warehouse_matches_expected", Check.contentHash(wh), want)
    checks += Check.same("etl.delta_sink_matches_expected", Check.contentHash(DeltaLogReplay.readLive(spark, delta)), want)
    checks += Check.same("etl.delta_v0_matches_full_load",
      Check.contentHash(DeltaLogReplay.readLive(spark, delta, 0L)), expected(fullLoadRows))
    checks += Check.denseKeys("etl.sk_dense_unique", wh, "_SK_METRICS_FACT")

    val dayMs = ops.okMs("day")
    val out = mutable.ArrayBuffer[(String, Double, String)](
      ("etl.days", days.toDouble, "count"),
      ("etl.fact_rows", (model.countries.size * (lastDay + 1)).toDouble, "count"),
      ("etl.day_written_mb", if (written.isEmpty) Double.NaN else Stats.median(written.toSeq), "MB"))
    if (ops.okMs("full_load").nonEmpty)
      out += (("etl_full_load_s", Stats.median(ops.okMs("full_load")) / 1000, "s"))
    if (dayMs.nonEmpty) out += (("etl_day_s", Stats.median(dayMs) / 1000, "s"))
    if (tracer.enabled) {
      val snap = DeltaLogReplay.replay(delta)
      val added = merges.map(_.added).sum
      val rewritten = merges.map(_.addedRows).sum
      out ++= Seq(
        ("delta_log.merge_files_added", added.toDouble, "count"),
        ("delta_log.merge_files_removed", merges.map(_.removed).sum.toDouble, "count"),
        ("delta_log.merge_changed_rows", changedRows.toDouble, "count"),
        ("delta_log.merge_rows_rewritten", rewritten.toDouble, "count"),
        ("delta_log.merge_rows_rewritten_per_changed_row",
          if (changedRows == 0) Double.NaN else rewritten.toDouble / changedRows, "ratio"),
        ("delta_log.live_files", snap.live.size.toDouble, "count"),
        ("delta_log.log_versions", (snap.version + 1).toDouble, "count"),
        ("snapshot_publish.bytes_written", Stats.median(published.toSeq), "bytes/day"))
    }
    out.toSeq
  }
}

object EtlWorkload {
  final case class Config(countries: Int, start: String, historyDays: Int, days: Int,
      restatementsPerDay: Int, restateWindow: Int)

  /** DeltaLog commit summary for one version. */
  final case class DeltaCommit(added: Int, removed: Int, addedRows: Long)
}

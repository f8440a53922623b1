package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DeltaLog

/** BI reads over the paper's lake: the Year/Month-partitioned Delta
  * fact table that the ETL pass wrote with the library's own writers
  * (the full load's append, checkpointed, then the day's restatement
  * MERGE). The reads only read. Every answer is compared with one
  * computed from the table's versions as the benchmark's own log replay
  * reads them (plain parquet, no `DeltaLog`); the ETL checks tie those
  * versions to the input model.
  */
final class LakeWorkload(spark: SparkSession, path: String, seed: Long, cfg: LakeWorkload.Config,
    tracer: Tracer) {
  import LakeWorkload._

  private val rnd = new scala.util.Random(seed)

  /** Per version: (CodeISO, Date) -> the row's cases and a hash of all
    * its data columns (so an update that changes any column shows).
    */
  private val versions: IndexedSeq[Map[(String, String), Rec]] =
    (0L to DeltaLogReplay.replay(path).version).map { v =>
      val df = DeltaLogReplay.readLive(spark, path, v)
      df.select(col("CodeISO"), col("Date").cast("string"), col("New_cases"), col("Total_cases"),
        xxhash64(df.columns.sorted.toSeq.map(col): _*)).collect().map { r =>
        (r.getString(0), r.getString(1)) -> Rec(r.getInt(2), r.getInt(3), r.getLong(4))
      }.toMap
    }
  require(versions.size >= 2, s"lake reads need two table versions, $path has ${versions.size}")

  private def latest: Int = versions.size - 1
  private val isos: IndexedSeq[String] = versions(latest).keys.map(_._1).toSeq.distinct.sorted.toIndexedSeq
  private def yearMonth(date: String): (Int, String) = (date.take(4).toInt, date.slice(5, 7))
  private val months: IndexedSeq[(Int, String)] =
    versions(latest).keys.map(k => yearMonth(k._2)).toSeq.distinct.sorted.toIndexedSeq

  def describe: Seq[(String, String)] = Seq(
    "lake_versions" -> versions.size.toString, "lake_rows" -> versions(latest).size.toString,
    "lake_countries" -> isos.size.toString, "lake_months" -> months.size.toString)

  /** One read: (op, expected answer). Answers are sorted string rows. */
  private def nextRead(kind: String): (() => Seq[String], Seq[String]) = {
    val now = versions(latest)
    def read(v: Option[Long] = None) = tracer.span("delta_log.read_build")(DeltaLog.read(spark, path, v))
    def rows(df: DataFrame): Seq[String] =
      tracer.span("scan.execute")(df.collect().toSeq.map(_.mkString("|")).sorted)
    kind match {
      case "point" =>
        val iso = isos(rnd.nextInt(isos.size))
        (() => rows(read().filter(col("CodeISO") === iso).select(col("Date").cast("string"), col("New_cases"))),
          now.toSeq.collect { case ((`iso`, d), r) => s"$d|${r.newCases}" }.sorted)
      case "month" =>
        val (y, m) = months(rnd.nextInt(months.size))
        (() => rows(read().filter(col("Year") === y && col("Month") === m)
            .groupBy("CodeISO").agg(count(lit(1)), sum("New_cases"))),
          now.toSeq.filter { case ((_, d), _) => yearMonth(d) == ((y, m)) }
            .groupBy(_._1._1).toSeq.map { case (c, rs) => s"$c|${rs.size}|${rs.map(_._2.newCases.toLong).sum}" }.sorted)
      case "year" =>
        (() => rows(read().groupBy("Year").agg(count(lit(1)), sum("New_cases"), sum("Total_cases"))),
          byYear(now, withTotal = true))
      case "time_travel" =>
        val v = latest - 1 - rnd.nextInt(latest)
        (() => rows(read(Some(v.toLong)).groupBy("Year").agg(count(lit(1)), sum("New_cases"))),
          byYear(versions(v), withTotal = false))
      case "diff" =>
        (() => rows(tracer.span("delta_log.diff_versions")(
            DeltaLog.diffVersions(spark, path, latest - 1, latest))
            .groupBy("_change_type").agg(count(lit(1)), sum("New_cases"))),
          changes(cdf = false))
      case "cdf" =>
        (() => rows(tracer.span("delta_log.read_cdf")(DeltaLog.readCdf(spark, path, latest - 1, latest))
            .groupBy("_change_type").agg(count(lit(1)), sum("New_cases"))),
          changes(cdf = true))
    }
  }

  private def byYear(state: Map[(String, String), Rec], withTotal: Boolean): Seq[String] =
    state.toSeq.groupBy { case ((_, d), _) => yearMonth(d)._1 }.toSeq.map { case (y, rs) =>
      val base = s"$y|${rs.size}|${rs.map(_._2.newCases.toLong).sum}"
      if (withTotal) s"$base|${rs.map(_._2.totalCases.toLong).sum}" else base
    }.sorted

  /** Expected change rows between the last two versions, as
    * (type|rows|sum New_cases): a net diff shows an update as a
    * delete+insert pair, the change feed as a pre/post image pair.
    */
  private def changes(cdf: Boolean): Seq[String] = {
    val (a, b) = (versions(latest - 1), versions(latest))
    val (upd, ins) = b.keys.toSeq.filter(k => !a.get(k).contains(b(k))).partition(a.contains)
    val groups =
      if (cdf) Seq(("update_preimage", a, upd), ("update_postimage", b, upd), ("insert", b, ins))
      else Seq(("delete", a, upd), ("insert", b, upd ++ ins))
    groups.filter(_._3.nonEmpty).map { case (t, st, ks) =>
      s"$t|${ks.size}|${ks.map(k => st(k).newCases.toLong).sum}"
    }.sorted
  }

  /** Untimed rounds of every read kind, so the timed reads run on
    * compiled code; nothing they record reaches the trace.
    */
  def warmUp(): Unit = tracer.discard(spark) {
    for (_ <- 0 until cfg.warmUpRounds; k <- Kinds) nextRead(k)._1()
  }

  def run(ops: Ops, seconds: Double, checks: mutable.ArrayBuffer[Check.Result])
      : Seq[(String, Double, String)] = {
    val t0 = System.nanoTime()
    val wrong = mutable.ArrayBuffer.empty[String]
    var i = 0
    var filesRead = 0L; var filesLive = 0L
    while (i < cfg.minReads || (System.nanoTime() - t0) / 1e9 < seconds) {
      val kind = Kinds(i % Kinds.length)
      val (op, want) = nextRead(kind)
      if (tracer.enabled) {
        val live = tracer.span("delta_log.snapshot")(DeltaLog.snapshot(spark, path)).files.size
        org.apache.spark.PerfbenchAccess.drain(spark)
        val before = tracer.get("scan.files_read")
        val got = ops.run(kind)(op())
        org.apache.spark.PerfbenchAccess.drain(spark)
        if (Set("point", "month", "year")(kind)) {
          filesRead += tracer.get("scan.files_read") - before; filesLive += live
        }
        got.filter(_ != want).foreach(g => wrong += s"$kind: got ${g.take(3)} want ${want.take(3)}")
      } else
        ops.run(kind)(op()).filter(_ != want).foreach(g => wrong += s"$kind: got ${g.take(3)} want ${want.take(3)}")
      i += 1
    }
    checks += (("lake.reads_match_replay", wrong.isEmpty,
      if (wrong.isEmpty) s"$i reads" else s"${wrong.size} wrong; first: ${wrong.head}"))
    val ms = Kinds.flatMap(ops.okMs)
    val out = mutable.ArrayBuffer[(String, Double, String)](
      ("read_p50_ms", if (ms.isEmpty) Double.NaN else Stats.quantile(ms, 0.5), "ms"),
      ("read_p90_ms", if (ms.isEmpty) Double.NaN else Stats.quantile(ms, 0.9), "ms"),
      ("lake.reads", ms.size.toDouble, "count"))
    Kinds.foreach { k =>
      val xs = ops.okMs(k)
      if (xs.nonEmpty) out += ((s"lake.${k}_p50_ms", Stats.median(xs), "ms"))
    }
    if (tracer.enabled) out ++= Seq(
      ("scan.files_read", filesRead.toDouble, "count"),
      ("scan.files_live", filesLive.toDouble, "count"),
      ("scan.files_pruned_ratio", if (filesLive == 0) Double.NaN else 1.0 - filesRead.toDouble / filesLive,
        "ratio"))
    out.toSeq
  }
}

object LakeWorkload {
  final case class Config(warmUpRounds: Int, minReads: Int)
  final case class Rec(newCases: Int, totalCases: Int, rowHash: Long)
  val Kinds: Seq[String] = Seq("point", "month", "year", "time_travel", "diff", "cdf")
}

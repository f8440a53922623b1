package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one process, one client
  * thread in a closed loop. Writes a result JSON file; the Python
  * front end (`run.py`) turns it into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --out FILE [--data DIR] [--inject-failure]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts("--trace") == "1"
    val work = opts("--work")
    val out = opts("--out")
    val injectFailure = args.contains("--inject-failure")

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    tracer.install(spark)
    val ops = new Ops(tracer)
    val checks = mutable.ArrayBuffer.empty[Check.Result]
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    val inputs = mutable.ArrayBuffer.empty[(String, String)]
    def describe(cfg: Product): Unit =
      inputs ++= cfg.productElementNames.zip(cfg.productIterator.map(_.toString))

    // ---- set-up (everything before the timed loop) ---------------------------
    val timed: () => Seq[(String, Double, String)] = workload match {
      case "etl_lake" =>
        // 45 days of history from 2020-11-20: the lake spans three
        // Year/Month partitions over two years
        val cfg = EtlWorkload.Config(countries = 150, start = "2020-11-20", historyDays = 45, days = 1,
          restatementsPerDay = 40, restateWindow = 14)
        val lakeCfg = LakeWorkload.Config(warmUpRounds = 6, minReads = 102)
        describe(cfg)
        describe(lakeCfg)
        val etl = new EtlWorkload(spark, s"$work/etl", seed, cfg, tracer)
        inputs += "full_load_csv_rows" -> etl.prepare().toString
        () => {
          // the ETL does a fixed amount of work; --seconds bounds the reads
          val out = etl.run(ops, checks)
          val t = System.nanoTime()
          val lake = tracer.discard(spark)(new LakeWorkload(spark, etl.deltaPath, seed, lakeCfg, tracer))
          inputs ++= lake.describe
          lake.warmUp()
          out ++ Seq(("lake.warm_up_s", (System.nanoTime() - t) / 1e9, "s")) ++ lake.run(ops, seconds, checks)
        }
      case "registry_mix" =>
        val data = opts("--data")
        inputs += "queries" -> RegistryWorkload.Queries.mkString(",")
        val w = new RegistryWorkload(spark, data, s"$work/registry")
        w.warmUp()
        () => w.run(ops, seconds, checks)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val setupEndEpochMs = System.currentTimeMillis()

    // ---- timed part -------------------------------------------------------------
    if (injectFailure) ops.run("injected")(throw new IllegalStateException("injected failure"))
    org.apache.spark.PerfbenchAccess.drain(spark)
    tracer.reset()
    val t0 = System.nanoTime()
    metrics ++= timed()
    val timedS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchAccess.drain(spark)

    // ---- result ---------------------------------------------------------------------
    val okOps = ops.ok.size.toDouble
    if (trace) {
      metrics ++= tracer.layerMetrics
      metrics ++= tracer.sparkMetrics.map { case (k, v, u) =>
        (k, if (okOps == 0) Double.NaN else v / okOps, s"$u/op") }
      metrics += (("harness.ops", okOps, "count"))
    }
    metrics += (("peak_rss_mb", Host.peakRssMb, "MB"))
    metrics += (("timed_s", timedS, "s"))
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "setup_end_epoch_ms" -> setupEndEpochMs.toString,
      "host" -> Json.obj(Host.facts(spark)),
      "inputs" -> Json.obj(inputs.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "ops" -> Json.arr(ops.results.toSeq.map(r => Json.obj(Seq(
        "kind" -> Json.str(r.kind), "ms" -> Json.num(r.ms),
        "error" -> r.error.fold("null")(Json.str))))),
      "metrics" -> Json.arr(metrics.toSeq.map { case (k, v, u) =>
        Json.obj(Seq("name" -> Json.str(k), "value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "checks" -> Json.arr(checks.toSeq.map { case (k, ok, d) =>
        Json.obj(Seq("name" -> Json.str(k), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "self_time_ms" -> Json.arr(tracer.selfTimes.map { case (k, n, v) =>
        Json.obj(Seq("op" -> Json.str(k), "span" -> Json.str(n), "ms" -> Json.num(v))) }),
      "trace_events" -> Json.arr(tracer.events.toSeq)))
    Json.write(Paths.get(out), json)
    spark.stop()
  }
}

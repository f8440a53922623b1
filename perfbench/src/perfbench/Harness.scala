package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation's outcome. A failed op keeps its message and is
  * never part of any timing statistic.
  */
final case class OpResult(kind: String, ms: Double, error: Option[String])

/** Closed-loop op recorder: one client, each op starts after the
  * previous one returned.
  */
final class Ops(tracer: Tracer) {
  val results = mutable.ArrayBuffer.empty[OpResult]

  /** Run `f` as one op of `kind`; its wall time is recorded only when it
    * returns normally. When tracing, the op is the scope of the layer
    * spans inside it.
    */
  def run[T](kind: String)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val out = tracer.op(kind)(f)
      val ms = (System.nanoTime() - t0) / 1e6
      results += OpResult(kind, ms, None)
      System.err.println(f"[perfbench] op $kind $ms%.1f ms")
      Some(out)
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[perfbench] op $kind failed: $msg")
        results += OpResult(kind, Double.NaN, Some(msg.take(500)))
        None
    }
  }

  def ok: Seq[OpResult] = results.filter(_.error.isEmpty).toSeq
  def okMs(kind: String): Seq[Double] = ok.filter(_.kind == kind).map(_.ms)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Spark-side counters and layer spans for the traced run. Listeners
  * are the benchmark's own (a `SparkListener` plus a
  * `QueryExecutionListener`); nothing inside `graft` is instrumented.
  * With tracing off, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(v)
  def get(name: String): Long = Option(counters.get(name)).map(_.get()).getOrElse(0L)

  /** One layer span within one op kind: total ms, ms covered by nested
    * spans, calls, Spark jobs started inside.
    */
  final class Span {
    var totalMs = 0.0; var childMs = 0.0; var calls = 0L; var jobs = 0L
  }
  /** (op kind, span name) -> span; spans outside any op have kind "". */
  private val spans = mutable.LinkedHashMap.empty[(String, String), Span]
  private var scope = ""
  private val stack = mutable.Stack.empty[(Span, Long, Long)]
  /** Flat trace events written out when the run ends. */
  val events = mutable.ArrayBuffer.empty[String]
  private val origin = System.nanoTime()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = spans.getOrElseUpdate((scope, name), new Span)
      val t0 = System.nanoTime()
      stack.push((s, t0, get("spark.jobs")))
      try f
      finally {
        val (_, _, jobs0) = stack.pop()
        val dt = (System.nanoTime() - t0) / 1e6
        s.totalMs += dt; s.calls += 1; s.jobs += get("spark.jobs") - jobs0
        stack.headOption.foreach(_._1.childMs += dt)
        events += f"""{"span":"$name","start_ms":${(t0 - origin) / 1e6}%.3f,"dur_ms":$dt%.3f,"depth":${stack.size}}"""
      }
    }

  /** Run one op of `kind`: a span named `op` whose self time is the
    * op's time outside every layer span, scoping the spans inside it.
    */
  def op[T](kind: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = scope
      scope = kind
      try span("op")(f) finally scope = outer
    }

  /** Forget everything recorded so far (set-up work). */
  def reset(): Unit = { counters.clear(); spans.clear(); events.clear() }

  /** Run `f` (untimed work inside the timed part) and forget what it
    * recorded: counters, spans and events return to their values before.
    */
  def discard[T](spark: SparkSession)(f: => T): T =
    if (!enabled) f
    else {
      org.apache.spark.PerfbenchAccess.drain(spark)
      val savedCounters = counters.asScala.map { case (k, v) => k -> v.get() }.toMap
      val savedSpans = spans.map { case (k, s) => k -> ((s.totalMs, s.childMs, s.calls, s.jobs)) }.toMap
      val savedEvents = events.size
      try f
      finally {
        org.apache.spark.PerfbenchAccess.drain(spark)
        counters.clear()
        savedCounters.foreach { case (k, v) => add(k, v) }
        spans.filterInPlace { case (k, _) => savedSpans.contains(k) }
        savedSpans.foreach { case (k, (t, c, n, j)) =>
          val s = spans(k); s.totalMs = t; s.childMs = c; s.calls = n; s.jobs = j }
        events.remove(savedEvents, events.size - savedEvents)
      }
    }

  /** Per layer span over all op kinds: mean wall ms and mean Spark jobs
    * per call, and the call count.
    */
  def layerMetrics: Seq[(String, Double, String)] =
    spans.toSeq.filter(_._1._2 != "op").groupBy(_._1._2).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val calls = ss.map(_._2.calls).sum.toDouble
      Seq((s"${name}_ms", ss.map(_._2.totalMs).sum / calls, "ms/call"),
        (s"${name}_jobs", ss.map(_._2.jobs).sum / calls, "jobs/call"),
        (s"${name}_calls", calls, "count"))
    }

  /** Self time per (op kind, span): wall time minus the time of spans
    * nested in it; spans outside any op have the kind "".
    */
  def selfTimes: Seq[(String, String, Double)] =
    spans.toSeq.map { case ((k, n), s) => (k, n, s.totalMs - s.childMs) }.sortBy(-_._3)

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("spark.executor_run_ms", m.executorRunTime)
          add("spark.executor_cpu_ns", m.executorCpuTime)
          add("spark.gc_ms", m.jvmGCTime)
          add("spark.shuffle_read_bytes",
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("spark.input_bytes", m.inputMetrics.bytesRead)
          add("spark.output_bytes", m.outputMetrics.bytesWritten)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLAdaptiveExecutionUpdate => add("spark.aqe_replans", 1)
        case _ => ()
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).fold(0L)(_.durationMs)
        add("catalyst.analysis_ms", ms("analysis"))
        add("catalyst.optimization_ms", ms("optimization"))
        add("catalyst.planning_ms", ms("planning"))
        add("catalyst.queries", 1)
        ScanFiles.of(qe.executedPlan).foreach { n => add("scan.files_read", n); add("scan.scans", 1) }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** The Spark-counter half of the per-layer metrics. */
  def sparkMetrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", get("spark.jobs").toDouble, "count"),
    ("spark.stages", get("spark.stages").toDouble, "count"),
    ("spark.tasks", get("spark.tasks").toDouble, "count"),
    ("spark.executor_run_ms", get("spark.executor_run_ms").toDouble, "ms"),
    ("spark.executor_cpu_ms", get("spark.executor_cpu_ns") / 1e6, "ms"),
    ("spark.gc_ms", get("spark.gc_ms").toDouble, "ms"),
    ("spark.shuffle_read_bytes", get("spark.shuffle_read_bytes").toDouble, "bytes"),
    ("spark.shuffle_write_bytes", get("spark.shuffle_write_bytes").toDouble, "bytes"),
    ("spark.spill_bytes", get("spark.spill_bytes").toDouble, "bytes"),
    ("spark.input_bytes", get("spark.input_bytes").toDouble, "bytes"),
    ("spark.output_bytes", get("spark.output_bytes").toDouble, "bytes"),
    ("spark.aqe_replans", get("spark.aqe_replans").toDouble, "count"),
    ("catalyst.analysis_ms", get("catalyst.analysis_ms").toDouble, "ms"),
    ("catalyst.optimization_ms", get("catalyst.optimization_ms").toDouble, "ms"),
    ("catalyst.planning_ms", get("catalyst.planning_ms").toDouble, "ms"))
}

/** Files read by the file-source scans of an executed plan, seen
  * through adaptive query stages.
  */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Seq[Long] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles").map(_.value))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

object Host {
  /** `VmHWM` of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def memTotalMb: Double = {
    val line = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).getOrElse("MemTotal: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def facts(spark: SparkSession): Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "mem_total_mb" -> Json.num(memTotalMb),
    "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576.0),
    "spark_master" -> Json.str(spark.sparkContext.master),
    "spark_version" -> Json.str(spark.version),
    "jdk_version" -> Json.str(System.getProperty("java.version")),
    "scala_version" -> Json.str(scala.util.Properties.versionNumberString))

  /** Total bytes of the regular files under `root` (0 if absent). */
  def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

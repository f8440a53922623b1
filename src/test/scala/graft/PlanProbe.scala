package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What a query plans and runs, for specs that pin it. */
object PlanProbe {

  /** Every file scan in a physical plan, through adaptive stages: AQE
    * wraps finished stages in leaf `QueryStageExec` nodes, so a plain
    * `collect` never reaches their scans.
    */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
    }.flatten

  /** `body`'s value and the Spark jobs it starts from this thread. */
  def withJobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val out =
      try body
      finally {
        sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get)
  }
}

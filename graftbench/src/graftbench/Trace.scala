package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of a traced op: the op itself (layer `op`), a call the
  * benchmark made into a layer, a Spark job, or a Catalyst phase. Times are
  * epoch milliseconds on one clock ([[Clock]]). */
final case class Span(op: Int, layer: String, name: String, start: Double, end: Double)

object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Tracing state. Listener events are charged to the op in [[op]]; the op
  * runner drains Spark's listener bus before setting it and again before
  * clearing it, so every event an op caused — and no other — lands on it.
  * With tracing off no listener is registered and [[op]] stays -1. */
object Trace {
  val names: Array[String] = Array(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_ns", "spark.task_run_ms",
    "spark.gc_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "catalog.planning_jobs", "catalog.queries", "catalog.scan_nodes",
    "catalog.analysis_ms", "catalog.optimization_ms", "catalog.planning_ms")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskCpuNs = 3; val TaskRunMs = 4
  val GcMs = 5; val ShuffleWrite = 6; val ShuffleRead = 7; val Spill = 8
  val PlanningJobs = 9; val Queries = 10; val ScanNodes = 11
  val AnalysisMs = 12; val OptimizationMs = 13; val PlanningMs = 14

  /** Local property set while the benchmark is inside a `spark.sql` call;
    * jobs inherit it, so the listener can tell SQL-op jobs apart. */
  val SqlProp = "graftbench.sql"

  @volatile var op: Int = -1
  private val c = Array.fill(names.length)(new LongAdder)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Wall ms of each named call the current op made (traced ops only). */
  val calls: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(i: Int, n: Long): Unit = c(i).add(n)
  def snapshot(): Array[Long] = c.map(_.sum())
  def span(op: Int, layer: String, name: String, start: Double, end: Double): Unit =
    spans.add(Span(op, layer, name, start, end))

  /** Runs one call of the benchmark into a layer, timing it on traced ops. */
  def call[A](layer: String, name: String)(body: => A): A = {
    val cur = op
    if (cur < 0) body
    else {
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        span(cur, layer, name, t0, t1)
        calls(name) = calls.getOrElse(name, 0.0) + (t1 - t0)
      }
    }
  }

  private def inSql[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SqlProp, "1")
    try body finally sc.setLocalProperty(SqlProp, null)
  }

  /** A SQL statement run for its effect (DML). */
  def sqlExec(spark: SparkSession, text: String): Unit =
    call("catalog", "spark.sql")(inSql(spark)(spark.sql(text)))

  /** A SQL query, collected. */
  def sqlRows(spark: SparkSession, text: String): Array[Row] =
    call("catalog", "spark.sql+collect")(inSql(spark)(spark.sql(text).collect()))

  /** Waits until Spark's listener bus has delivered every posted event.
    * `waitUntilEmpty` is Spark-internal, hence the reflective call. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new JobProbe)
    spark.listenerManager.register(new QueryProbe)
  }
}

/** Jobs, stages and task metrics of the traced op. */
private final class JobProbe extends SparkListener {
  import Trace._
  private val stageOp = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val cur = op
    if (cur >= 0) {
      add(Jobs, 1)
      e.stageIds.foreach(s => stageOp.put(s, cur))
      val props = e.properties
      if (props != null && props.getProperty(SqlProp) != null &&
          props.getProperty("spark.sql.execution.id") == null) add(PlanningJobs, 1)
      jobStart.put(e.jobId, (cur, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) span(s._1, "spark", s"job ${e.jobId}", s._2.toDouble, e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageOp.containsKey(e.stageInfo.stageId)) add(Stages, 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.containsKey(e.stageId)) {
      add(Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(TaskCpuNs, m.executorCpuTime)
        add(TaskRunMs, m.executorRunTime)
        add(GcMs, m.jvmGCTime)
        add(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        add(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

/** Catalyst phase times and scan leaves of each query the traced op ran. */
private final class QueryProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Trace._

  private def record(qe: QueryExecution): Unit = {
    val cur = op
    if (cur >= 0) {
      add(Queries, 1)
      val phases = qe.tracker.phases
      Seq("analysis" -> AnalysisMs, "optimization" -> OptimizationMs,
          "planning" -> PlanningMs).foreach { case (name, i) =>
        phases.get(name).foreach { p =>
          add(i, p.durationMs)
          span(cur, "catalog", name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
      add(ScanNodes, scans(qe.executedPlan))
    }
  }

  private def scans(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: DataSourceScanExec => s
      case s: BatchScanExec => s
    }.size.toLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

package mrbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success => TaskSucceeded}
import org.apache.spark.mrbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.GroupTopKExec

final case class TaskRec(stage: Int, attempt: Int, durationMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, spillBytes: Long, failed: Boolean)

final case class StageRec(stage: Int, attempt: Int, group: String,
    name: String, submitMs: Long, endMs: Long)

/** One SQL execution: planning phase times and counts read off its
  * executed plan, plus the rows that entered the engine's bounded
  * operators (`graft_*_cap_in`) and the rows they dropped
  * (`graft_*_cap_in` − `graft_*_cap_out`). */
final case class ExecRec(analysisS: Double, optimizationS: Double,
    planningS: Double, broadcastJoins: Int, shuffleJoins: Int,
    rddScans: Int, groupTopK: Int, capsIn: Long, capsDropped: Long)

/** Everything the listeners delivered between two harvests. Job
  * entries are the job-group ids the harness set, one per Spark job. */
final case class Batch(tasks: Seq[TaskRec], stages: Seq[StageRec],
    jobs: Seq[String], execs: Seq[ExecRec])

/** The traced run's listeners: a SparkListener for jobs, stages and
  * tasks and a QueryExecutionListener for SQL executions. Events are
  * queued in memory and taken by [[harvest]] after each query. */
class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val submitted = new ConcurrentHashMap[(Int, Int), String]
  private val jobs = new ConcurrentLinkedQueue[String]
  private val execs = new ConcurrentLinkedQueue[ExecRec]

  /** Drains first: events still queued from an untraced pass would
    * otherwise be delivered to the newly attached listeners. */
  def attach(): Unit = {
    BusDrain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def harvest(): Batch = {
    BusDrain(sc)
    Batch(take(tasks), take(stages), take(jobs), take(execs))
  }

  private def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(group(e.properties))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      group(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val g = Option(submitted.remove((i.stageId, i.attemptNumber())))
      .getOrElse("")
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    stages.add(StageRec(i.stageId, i.attemptNumber(), g, i.name,
      i.submissionTime.getOrElse(end), end))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != TaskSucceeded
    tasks.add(if (m == null)
      TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.duration,
        0, 0, 0, 0, 0, 0, 0, 0, failed)
    else TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten,
      m.diskBytesSpilled, failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phaseS(name: String): Double =
      phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    val plan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Int]): Int =
      collectWithSubqueries(plan)(pf).sum
    val metrics = graft.GraftMetrics.observed(qe)
    val caps = metrics.keys.toSeq
      .filter(k => k.startsWith("graft_") && k.endsWith("_cap_in"))
      .flatMap { in =>
        metrics.get(in.stripSuffix("_in") + "_out").map(out =>
          (metrics(in).getLong(0), metrics(in).getLong(0) - out.getLong(0)))
      }
    execs.add(ExecRec(
      phaseS(QueryPlanningTracker.ANALYSIS),
      phaseS(QueryPlanningTracker.OPTIMIZATION),
      phaseS(QueryPlanningTracker.PLANNING),
      count { case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => 1 },
      count { case _: SortMergeJoinExec | _: ShuffledHashJoinExec
                | _: CartesianProductExec => 1 },
      count { case _: RDDScanExec => 1 },
      count { case _: GroupTopKExec => 1 },
      caps.map(_._1).sum, caps.map(_._2).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

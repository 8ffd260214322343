package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work of one job group. */
final case class ExecStats(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                           taskRunS: Double = 0, taskCpuS: Double = 0, gcS: Double = 0,
                           shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0,
                           spillMb: Double = 0) {
  def +(o: ExecStats): ExecStats = ExecStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunS + o.taskRunS, taskCpuS + o.taskCpuS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb, spillMb + o.spillMb)
}

/** A stage's wall-clock interval, epoch milliseconds. */
final case class StageSpan(group: String, stageId: Int, startMs: Long, endMs: Long)

/** One SQL execution: the engine-side call site that started it and its
  * wall-clock interval, epoch milliseconds. */
final case class SqlExec(callSite: String, startMs: Long, endMs: Long)

/** The tracing recorder: a Spark listener that attributes jobs, stages and
  * task metrics to the job group of the operation that caused them, plus a
  * query-execution listener that keeps the executed write plans. Every
  * read first drains the listener bus, so a finished operation's events
  * are all counted. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val MB = 1024.0 * 1024.0
  private val byGroup = mutable.Map.empty[String, ExecStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSpans = mutable.ArrayBuffer.empty[StageSpan]
  private val sqlStarts = mutable.Map.empty[Long, (String, Long)]
  private val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]
  private val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)

  private def update(group: String)(f: ExecStats => ExecStats): Unit =
    byGroup(group) = f(byGroup.getOrElse(group, ExecStats()))

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    update(g)(s => s.copy(jobs = s.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "")
    update(g)(s => s.copy(stages = s.stages + 1))
    for (start <- info.submissionTime; end <- info.completionTime)
      stageSpans += StageSpan(g, info.stageId, start, end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = Option(e.taskMetrics)
    update(g)(s => s + ExecStats(tasks = 1,
      taskRunS = m.map(_.executorRunTime / 1e3).getOrElse(0.0),
      taskCpuS = m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
      gcS = m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
      shuffleWriteMb = m.map(_.shuffleWriteMetrics.bytesWritten / MB).getOrElse(0.0),
      shuffleReadMb = m.map(_.shuffleReadMetrics.totalBytesRead / MB).getOrElse(0.0),
      spillMb = m.map(t => (t.memoryBytesSpilled + t.diskBytesSpilled) / MB).getOrElse(0.0)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts(s.executionId) = (s.details, s.time)
      case end: SparkListenerSQLExecutionEnd =>
        sqlStarts.remove(end.executionId).foreach { case (site, t0) =>
          sqlExecs += SqlExec(site, t0, end.time)
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.add(funcName -> qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Executor work of every group whose name starts with `prefix`. */
  def exec(prefix: String): ExecStats = { drain(); synchronized {
    byGroup.collect { case (g, s) if g.startsWith(prefix) => s }.foldLeft(ExecStats())(_ + _)
  } }

  def stages(prefix: String): Seq[StageSpan] = { drain(); synchronized {
    stageSpans.filter(_.group.startsWith(prefix)).toList
  } }

  def sqlBetween(startMs: Long, endMs: Long): Seq[SqlExec] = { drain(); synchronized {
    sqlExecs.filter(x => x.startMs >= startMs && x.startMs <= endMs).toList
  } }

  /** The executions seen since the last call, oldest first. */
  def takeExecutions(): Seq[(String, QueryExecution)] = {
    drain()
    val out = executions.asScala.toList
    executions.clear()
    out
  }
}

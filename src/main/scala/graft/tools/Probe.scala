package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran for a stretch of driver code: its jobs, their
  * stages' task metrics, and the executed plan of every Dataset action
  * (`collect`, `localCheckpoint`, a write's command, ...). The
  * program's one SparkListener and query-execution listener;
  * `Explain`, `tools.JobProfile`, `Scale10x` and the specs that count
  * jobs read their figures from it.
  *
  * [[Probe.attach]] registers one SparkListener and one
  * QueryExecutionListener; [[close]] removes both. Events reach them
  * asynchronously, so [[reset]] and every read first drain the
  * listener bus: no event from before a reset lands after it, and
  * every job that ended before a read is in it.
  *
  * `GraftSession.local` attaches no Probe, so the engine that is
  * benched and tested carries no listener of its own. Times are
  * nanoseconds on the JVM's monotonic clock (`System.nanoTime`);
  * Spark's epoch-millisecond event times are mapped onto it.
  */
final class Probe private (spark: SparkSession) {
  import Probe._

  private val sc = spark.sparkContext
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def nanos(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  // written on the listener thread, read after a drain; guarded by `lock`
  private val lock = new Object
  private val jobLog = mutable.LinkedHashMap[Int, Job]()
  private val stageLog = mutable.ArrayBuffer[Stage]()
  private val actionLog = mutable.ArrayBuffer[(String, QueryExecution)]()
  private val executionIds = new java.util.IdentityHashMap[QueryExecution, Long]()
  private val executionSites = mutable.Map[Long, String]()
  private val stageSites = mutable.Map[Int, String]()

  private val events = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      // a job of a SQL execution is named by the execution's site: AQE
      // submits such jobs from a pool thread, whose own call site is
      // the pool's, not the line that ran the query
      def property(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = property("spark.sql.execution.id")
        .flatMap(id => executionSites.get(id.toLong))
        .orElse(property("callSite.short").filter(_.nonEmpty))
        .orElse(e.stageInfos.lastOption.map(si => firstLine(si.name)))
        .getOrElse("?")
      e.stageInfos.foreach(si => stageSites(si.stageId) = site)
      jobLog(e.jobId) = Job(e.jobId, site, nanos(e.time), None,
        e.stageInfos.map(_.numTasks).sum,
        e.stageInfos.map(si => (firstLine(si.name), si.numTasks)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobLog.get(e.jobId).foreach(j => jobLog(e.jobId) = j.copy(end = Some(nanos(e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val wallMs = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
        .getOrElse(0L)
      lock.synchronized {
        val site = stageSites.getOrElse(si.stageId, firstLine(si.name))
        stageLog +=
          (if (m == null) Stage(si.stageId, firstLine(si.name), site, si.numTasks,
            wallMs, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          else Stage(si.stageId, firstLine(si.name), site, si.numTasks, wallMs,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    // the action listener gets no execution id; this event carries both
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: SparkListenerSQLExecutionStart =>
        Option(start.description).map(firstLine).filter(_.nonEmpty).foreach { d =>
          lock.synchronized { executionSites(start.executionId) = d }
        }
      case end: SparkListenerSQLExecutionEnd =>
        GraftSqlShims.executionOf(end).foreach { qe =>
          lock.synchronized { executionIds.put(qe, end.executionId) }
        }
      case _ => ()
    }
  }

  private val actions = new QueryExecutionListener {
    override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized { actionLog += ((action, qe)) }
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
      lock.synchronized { actionLog += ((s"$action (failed)", qe)) }
  }

  /** Forget everything recorded so far. */
  def reset(): Unit = {
    GraftSqlShims.drainListeners(sc)
    lock.synchronized {
      jobLog.clear(); stageLog.clear(); actionLog.clear(); executionIds.clear()
      executionSites.clear(); stageSites.clear()
    }
  }

  /** Jobs started since the last reset, in start order. */
  def jobs: Seq[Job] = read(jobLog.values.toSeq.sortBy(j => (j.start, j.id)))

  /** Stages completed since the last reset, in completion order. */
  def stages: Seq[Stage] = read(stageLog.toSeq)

  /** Dataset actions run since the last reset, in execution-id order. */
  def plans: Seq[Plan] = read(actionLog.toSeq.map { case (action, qe) =>
    Plan(Option(executionIds.get(qe)).getOrElse(Long.MaxValue), action, qe)
  }.sortBy(_.executionId))

  /** Drain, then remove both listeners. */
  def close(): Unit = {
    GraftSqlShims.drainListeners(sc)
    sc.removeSparkListener(events)
    spark.listenerManager.unregister(actions)
  }

  private def read[A](body: => A): A = {
    GraftSqlShims.drainListeners(sc)
    lock.synchronized(body)
  }
}

object Probe {

  /** A Spark job: its call site, start and end (None while running),
    * the task count over its stages (skipped stages included) and each
    * stage's name and task count. */
  final case class Job(
      id: Int,
      site: String,
      start: Long,
      end: Option[Long],
      tasks: Int,
      stages: Seq[(String, Int)]
  ) {
    def nanos: Long = end.fold(0L)(_ - start)
  }

  /** A completed stage's wall time (submission to completion) and its
    * tasks' summed metrics; bytes are bytes, times milliseconds. `site`
    * is the site of the job that submitted the stage (see [[Job]]), or
    * the stage's own name when no job of it started under this Probe. */
  final case class Stage(
      id: Int,
      name: String,
      site: String,
      tasks: Int,
      wallMs: Long,
      runMs: Long,
      cpuMs: Long,
      outputBytes: Long,
      outputRecords: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long
  )

  /** One Dataset action: its SQL execution id, the action's name as
    * Spark reports it, and its query execution (`qe.executedPlan` is the
    * plan that ran, final AQE stages included). */
  final case class Plan(executionId: Long, action: String, qe: QueryExecution)

  /** A Probe listening on `spark` from now until [[Probe.close]]. */
  def attach(spark: SparkSession): Probe = {
    val probe = new Probe(spark)
    // events still queued from before now would reach the new listener
    GraftSqlShims.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe.events)
    spark.listenerManager.register(probe.actions)
    probe
  }

  /** Run `body` under a fresh Probe and return its result with the
    * closed Probe, whose records still read. */
  def around[A](spark: SparkSession)(body: => A): (A, Probe) = {
    val probe = attach(spark)
    try (body, probe)
    finally probe.close()
  }

  private def firstLine(s: String): String = s.takeWhile(_ != '\n')
}

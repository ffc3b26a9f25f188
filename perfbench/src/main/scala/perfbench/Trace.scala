package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer, plus the
  * listener records the traced run attributes to them.
  *
  * With `on = false` nothing is recorded and no listener is attached:
  * [[span]] only runs its body. With `on = true`:
  *   - every [[span]] gets an id and sets it as the Spark local
  *     property [[SpanKey]], so each job the body launches names its
  *     enclosing span;
  *   - a SparkListener records jobs and per-stage task metrics, a
  *     QueryExecutionListener the analysis / optimization / planning
  *     phases of every executed plan, and a StreamingQueryListener
  *     each micro-batch's progress.
  * Everything stays in memory until [[export]] at the end of the run.
  * Times are nanoseconds on the JVM's monotonic clock; Spark's
  * epoch-millisecond event times are mapped onto it.
  */
final class Trace(val on: Boolean) {
  import Trace._

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Run `body` as a span of `layer` under `parent` (0 = none). */
  def span[A](spark: SparkSession, parent: Long, layer: String, name: String)(
      body: Long => A
  ): A = {
    if (!on) return body(0L)
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      add(id, parent, layer, name, t0, System.nanoTime())
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Record a span whose bounds were measured elsewhere. */
  def add(id: Long, parent: Long, layer: String, name: String, start: Long, end: Long): Unit =
    if (on) spans.add(Map("id" -> id, "parent" -> parent, "layer" -> layer,
      "name" -> name, "start" -> start, "end" -> end,
      "thread" -> Thread.currentThread().getName))

  def newId(): Long = if (on) nextId.getAndIncrement() else 0L

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (on) {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobStart.put(e.jobId, Map(
        "job" -> e.jobId,
        "span" -> prop(SpanKey).map(_.toLong).getOrElse(0L),
        "start" -> msToNs(e.time),
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { j =>
        jobs.add(j + ("end" -> msToNs(e.time)) +
          ("ok" -> (e.jobResult == JobSucceeded)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val base = Map[String, Any]("stage" -> si.stageId, "tasks" -> si.numTasks,
        "end" -> msToNs(si.completionTime.getOrElse(anchorMs)))
      stages.add(if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "output" -> m.outputMetrics.bytesWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.add(Map("phase" -> phase, "start" -> msToNs(s.startTimeMs),
          "end" -> msToNs(s.endTimeMs)))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(Map(
        "query" -> Option(p.name).getOrElse(p.id.toString),
        "batch" -> p.batchId,
        "start" -> msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli),
        "rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L)))
    }
  }

  def export: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "phases" -> phases.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}

object Trace {

  /** Spark local property naming the span a job was launched under. */
  val SpanKey = "perfbench.span"
}

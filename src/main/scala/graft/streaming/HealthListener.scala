package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Readiness/liveness surface for streaming queries, mirroring the
  * reference's startup/health probes (SURVEY.md §2.9: probe cadence
  * terraform/cloud_run.tf:64-73; health/DatabaseHealthIndicator):
  * ready once the first batch commits, live while progress events
  * keep arriving.
  */
final class HealthListener extends StreamingQueryListener {

  private val batches = new AtomicLong(0L)
  private val rows = new AtomicLong(0L)
  private val lastProgressMs = new AtomicLong(-1L)
  private val lastError = new AtomicReference[String](null)

  /** A (re)started query clears the last terminal error: the listener
    * is session-wide, so one failed query must not read as dead for
    * the session's lifetime. */
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent
  ): Unit = lastError.set(null)

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent
  ): Unit = {
    batches.incrementAndGet()
    rows.addAndGet(e.progress.numInputRows)
    lastProgressMs.set(System.currentTimeMillis())
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent
  ): Unit =
    e.exception.foreach(lastError.set)

  /** Ready = at least one batch committed (the reference's startup
    * probe gate). */
  def isReady: Boolean = batches.get() > 0

  /** Live = no terminal error and progress has been observed within
    * `staleMs`. */
  def isLive(staleMs: Long): Boolean =
    lastError.get() == null &&
      lastProgressMs.get() >= 0 &&
      System.currentTimeMillis() - lastProgressMs.get() <= staleMs

  def totalBatches: Long = batches.get()
  def totalRows: Long = rows.get()
  def error: Option[String] = Option(lastError.get())
}

object HealthListener {

  /** The session's listener, added on the first call and returned by
    * every later one. [[graft.GraftSession.local]] calls it for each
    * session it hands out, so a `getOrCreate` that returns an existing
    * session still leaves exactly one listener counting its batches.
    */
  def install(spark: SparkSession): HealthListener = synchronized {
    spark.streams.listListeners().collectFirst { case l: HealthListener => l }
      .getOrElse {
        val l = new HealthListener
        spark.streams.addListener(l)
        l
      }
  }
}

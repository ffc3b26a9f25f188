package graft.info

import graft.Tables
import graft.streaming.HealthListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** Diagnostics surface mirroring the reference's `/db-info`,
  * `/db-info/test` and health endpoints (SURVEY.md §3.3: reference
  * DatabaseInfoResource.java:23-92, health/DatabaseHealthIndicator):
  * engine metadata, per-table counts + sample row, and a
  * SUCCESS/FAILED self-test wrapped in Try.
  */
object EngineInfo {

  final case class EngineMeta(
      engine: String,
      version: String,
      master: String,
      shufflePartitions: String,
      timezone: String
  )

  def meta(spark: SparkSession): EngineMeta =
    EngineMeta(
      "graft-spark",
      spark.version,
      spark.sparkContext.master,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.session.timeZone")
    )

  /** The reference's liveness probe: can the engine run a trivial
    * query (`connection.isValid` analogue). */
  def healthy(spark: SparkSession): Boolean =
    Try(spark.range(1).count()).isSuccess

  /** Streaming readiness and liveness — the `/health` analogue beside
    * [[healthy]], read from the session's [[HealthListener]] (the
    * reference's startup and liveness probes, SURVEY.md §2.9).
    */
  final case class StreamingHealth(
      ready: Boolean,
      live: Boolean,
      batches: Long,
      rows: Long,
      lastError: Option[String]
  )

  /** Live means progress within the reference's probe budget:
    * `period_seconds=10` × `failure_threshold=10`
    * (terraform/cloud_run.tf:64-73). A running query that sees no data
    * still reports progress every 10 s. */
  private val LIVE_WINDOW_MS = 100L * 1000

  def streamingHealth(spark: SparkSession): StreamingHealth = {
    val l = HealthListener.install(spark)
    StreamingHealth(l.isReady, l.isLive(LIVE_WINDOW_MS), l.totalBatches, l.totalRows, l.error)
  }

  /** `/db-info/test` analogue: per-table count + first row, wrapped in
    * Try, reported as status SUCCESS/FAILED with the error message.
    */
  final case class TableCheck(
      table: String,
      status: String,
      n_rows: Long,
      error: Option[String]
  )

  def selfTest(spark: SparkSession, dir: String, tables: Seq[String]): Seq[TableCheck] =
    tables.map { t =>
      Try {
        val df = Tables(spark, dir).t(t)
        val n = df.count()
        df.limit(1).collect()
        n
      } match {
        case Success(n) => TableCheck(t, "SUCCESS", n, None)
        case Failure(e) => TableCheck(t, "FAILED", -1L, Option(e.getMessage))
      }
    }

  /** Oracle-checkable `/db-info` recordCounts document. */
  def tableCounts(spark: SparkSession, dir: String, tables: Seq[String]): DataFrame =
    tables
      .map { t =>
        Tables(spark, dir)
          .t(t)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("table_name"), col("n_rows"))
      }
      .reduce(_ unionAll _)
      .orderBy("table_name")
}

package graft.metrics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's derived-metrics formatters (SURVEY.md §2.8 F2-F4,
  * F6: reference MetricsController.java:34-87 /
  * MetricsResource.java:32-62) as reusable column expressions.
  */
object MetricsDoc {

  /** F2: milliseconds → `"%.3f"`-formatted seconds. */
  def msToSeconds(ms: Column): Column =
    format_string("%.3f", ms.cast("double") / 1000.0)

  /** F3: bytes → `"%.2f"`-formatted MB. */
  def bytesToMb(bytes: Column): Column =
    format_string("%.2f", bytes.cast("double") / (1024.0 * 1024.0))

  /** F4: used/max → `"%.1f%%"` percentage string. */
  def usagePercent(used: Column, max: Column): Column =
    concat(
      format_string("%.1f", used.cast("double") * 100.0 / max.cast("double")),
      lit("%")
    )

  /** F6/P5: native-image flag → human label. */
  def imageType(isNative: Column): Column =
    when(isNative, lit("Native (GraalVM)")).otherwise(lit("JVM"))
}

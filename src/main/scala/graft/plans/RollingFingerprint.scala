package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused Karp-Rabin document fingerprint: normalized text → 31-base
  * rolling polynomial hash mod 1e9+7 over codepoints, in one JVM loop.
  *
  * Value-identical to the composed form
  * `TextFunctions.fingerprintRolling` (split-per-character →
  * ascii-cast → interpreted `aggregate` fold) and to the DuckDB
  * mirror (`list_reduce` over `string_split(norm, '')` codepoints) —
  * same normalization (trim spaces, collapse \s+, lowercase ROOT),
  * same left-to-right fold `(acc*31 + cp) % 1000000007`, empty text
  * hashing to 0. The fused form skips materializing a per-character
  * string array per document (for a 1 KB doc: one ~1000-element
  * array + ~2000 boxed lambda applications per row) — on the 100 TB
  * text path that is the difference between a memory-bandwidth scan
  * and an allocation storm. Verified against the composed form in
  * RollingFingerprintSpec and by the oracle gate (text04).
  */
case class RollingFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_fingerprint expects string, got ${child.dataType.simpleString}"
      )

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    RollingFingerprint.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.RollingFingerprint.compute($c.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingFingerprint {

  val FUNC_NAME = "graft_rolling_fingerprint"

  private val MOD = 1000000007L

  /** Mirrors TextFunctions.normalized: trim SPACES only (Spark `trim`
    * removes 0x20), collapse \s+ to one space, locale-independent
    * lowercase. Shared semantics with ShingleHashes.normalize. */
  private def normalize(text: String): String = {
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) == ' ') from += 1
    while (to > from && text.charAt(to - 1) == ' ') to -= 1
    text
      .substring(from, to)
      .replaceAll("\\s+", " ")
      .toLowerCase(java.util.Locale.ROOT)
  }

  /** Left-to-right codepoint fold; `acc*31 + cp` stays well under
    * 2^63 (acc < 1e9+7, cp ≤ 0x10FFFF) so plain long math is exact. */
  def compute(text: String): Long = {
    val norm = normalize(text)
    var h = 0L
    var i = 0
    while (i < norm.length) {
      val cp = norm.codePointAt(i)
      h = (h * 31L + cp) % MOD
      i += Character.charCount(cp)
    }
    h
  }

  def register(spark: SparkSession): Unit =
    FunctionCatalog.register(spark, FUNC_NAME)

  def apply(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(FUNC_NAME, text)
  }
}

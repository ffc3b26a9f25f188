package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd 64-bit ordinal dHash of a string — the mm05/mm06/mm07
  * media sketch ([[graft.multimodal.Multimodal.dHash64]]).
  *
  * Bit-identical to the composed built-in form used through r13's
  * first half — 64 terms of `when(at(i) < at(i+1), 1L << i)` where
  * `at(i) = ascii(substr(text, 1 + ⌊i·(L−1)/64⌋, 1))` and `L` is the
  * codepoint length: sample index `⌊i·(L−1)/64⌋` is a codepoint
  * index, `ascii` of a one-char string is its codepoint (0 for the
  * empty string, i.e. L = 0 where the composed form's floor lands at
  * position 0 and substr yields ''). The DuckDB oracle mirrors the
  * same form (`mmSketchSql`), so any divergence fails the mm05/06/07
  * gates.
  *
  * The win (guide §1.2: per-task work AND the driver): the composed
  * form is a ~1,000-node expression tree whose 130 `substr` calls
  * each re-scan the string from the front to find the codepoint —
  * O(65·L) per row plus seconds of analyzer/codegen time per query;
  * this node walks the UTF-8 bytes ONCE, collecting all 65 sampled
  * codepoints in order (sample positions are nondecreasing), inside
  * whole-stage codegen.
  */
case class StringDHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"string_dhash expects string, got ${child.dataType.simpleString}"
      )

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    StringDHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      s => s"graft.plans.StringDHash64.compute($s)"
    )

  override protected def withNewChildInternal(
      newChild: Expression
  ): Expression = copy(child = newChild)
}

object StringDHash64 {

  val FUNC_NAME = "graft_string_dhash"

  /** One forward pass over the UTF-8 bytes: decode the sampled
    * codepoints at `⌊i·(n−1)/64⌋` for i = 0..64 (nondecreasing, so a
    * single cursor suffices), then compare neighbours. Static and
    * JVM-typed so generated code calls it directly (no boxing, no
    * codegen fallback).
    */
  def compute(s: UTF8String): Long = {
    val n = s.numChars()
    if (n == 0) return 0L
    val vals = new Array[Int](65)
    var byteOff = 0
    var cpIdx = 0
    var t = 0
    val nb = s.numBytes()
    while (t <= 64 && byteOff < nb) {
      // cpIdx counts exactly what numChars() counted
      val len = Utf8Cursor.width(s, byteOff)
      // target codepoint index for sample t: ⌊t·(n−1)/64⌋
      if ((t.toLong * (n - 1).toLong) / 64L == cpIdx.toLong) {
        val cp = Utf8Cursor.codePoint(s, byteOff, len)
        while (t <= 64 && (t.toLong * (n - 1).toLong) / 64L == cpIdx.toLong) {
          vals(t) = cp
          t += 1
        }
      }
      byteOff += len
      cpIdx += 1
    }
    var acc = 0L
    var j = 0
    while (j < 64) {
      if (vals(j) < vals(j + 1)) acc |= (1L << j)
      j += 1
    }
    acc
  }

  /** Idempotent: registers this kernel's [[FunctionCatalog]] entry. */
  def register(spark: SparkSession): Unit =
    FunctionCatalog.register(spark, FUNC_NAME)

  def apply(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(FUNC_NAME, text)
  }
}

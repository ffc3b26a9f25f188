package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd per-frame feature extraction for the mm08 decode stub:
  * split a text payload into `chunk`-char frames and emit each frame's
  * `(flen, fsum)` — sample count and codepoint sum — in ONE pass.
  *
  * Bit-identical to the composed built-in form it replaces:
  *
  * {{{
  * transform(frameOffsets(encode(text), chunk), off => struct(
  *   least(chunk, length(text) - off)                 as flen,
  *   aggregate(sequence(1, least(chunk, length(text) - off)), 0L,
  *     (acc, i) => acc + ascii(substr(text, off + i, 1))) as fsum))
  * }}}
  *
  * where frame count comes from the UTF-8 BYTE length
  * (⌈octet_length/chunk⌉, `frameOffsets`' contract) and samples are
  * codepoint-indexed (`substr`/`ascii`). The composed form is kept
  * verbatim in `FrameFeaturesSpec` as the equivalence reference, and
  * the DuckDB oracle mirrors the same shape.
  *
  * The win (guide §1.2/§4): the composed form nests two higher-order
  * functions (CodegenFallback — interpreted per element, boxing every
  * accumulator) and each `substr(text, pos, 1)` re-walks the string
  * from the front, an O(L²/chunk) character scan per row; this node
  * walks the codepoints once, builds prefix sums, and answers every
  * frame in O(1).
  *
  * Domain note: for ASCII payloads (the multimodal contract — byte
  * length = char length) every frame has flen ≥ 1. The degenerate
  * flen < 1 frames that multi-byte text would produce (byte-derived
  * frame count overshooting the char length) are emulated per the
  * composed form's own semantics — `sequence(1, flen)` counts DOWN,
  * and `substr`'s 0/negative positions resolve per Spark — and the
  * spec pins a multibyte arm against the composed form too.
  */
case class FrameFeatures(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"frame_features expects (string, int), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}"
      )

  override def dataType: DataType = FrameFeatures.OUT_TYPE

  override def nullSafeEval(t: Any, c: Any): Any =
    FrameFeatures.compute(
      t.asInstanceOf[UTF8String],
      c.asInstanceOf[Int]
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (t, c) => s"graft.plans.FrameFeatures.compute($t, $c)"
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

object FrameFeatures {

  val FUNC_NAME = "graft_frame_features"

  val OUT_TYPE: DataType = ArrayType(
    StructType(
      Seq(
        StructField("flen", LongType, nullable = true),
        StructField("fsum", LongType, nullable = true)
      )
    ),
    containsNull = false
  )

  /** One pass: decode the codepoints ([[Utf8Cursor]] keeps char
    * counting identical to numChars), accumulate prefix sums, then
    * answer every frame's (flen, fsum) in O(1).
    */
  def compute(s: UTF8String, chunk: Int): ArrayData = {
    val lb = s.numBytes()
    val nFrames = (lb + chunk - 1) / chunk
    if (nFrames <= 0) return new GenericArrayData(Array.empty[Any])
    val lc = s.numChars()
    val cps = new Array[Int](lc)
    val pre = new Array[Long](lc + 1)
    var byteOff = 0
    var ci = 0
    while (ci < lc && byteOff < lb) {
      val len = Utf8Cursor.width(s, byteOff)
      val cp = Utf8Cursor.codePoint(s, byteOff, len)
      cps(ci) = cp
      pre(ci + 1) = pre(ci) + cp
      byteOff += len
      ci += 1
    }
    // `ascii(substr(text, pos, 1))` for any pos, per Spark substr
    // semantics: pos ≥ 1 is 1-based from the front, 0 behaves as 1,
    // negative counts from the end; out of range yields '' → 0
    def asciiAt(pos: Long): Long = {
      val start =
        if (pos > 0) pos - 1
        else if (pos == 0) 0L
        else lc + pos
      if (start >= 0 && start < lc) cps(start.toInt).toLong else 0L
    }
    val out = new Array[Any](nFrames)
    var k = 0
    while (k < nFrames) {
      val off = k.toLong * chunk
      val flen = math.min(chunk.toLong, lc - off)
      val fsum =
        if (flen >= 1) pre((off + flen).toInt) - pre(off.toInt)
        else {
          // composed form's degenerate branch: sequence(1, flen) with
          // flen < 1 counts DOWN from 1 to flen
          var acc = 0L
          var i = 1L
          while (i >= flen) { acc += asciiAt(off + i); i -= 1 }
          acc
        }
      out(k) = new GenericInternalRow(
        Array[Any](flen, fsum)
      ): InternalRow
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Idempotent: registers this kernel's [[FunctionCatalog]] entry. */
  def register(spark: SparkSession): Unit =
    FunctionCatalog.register(spark, FUNC_NAME)

  def apply(spark: SparkSession, text: Column, chunk: Column): Column = {
    register(spark)
    call_function(FUNC_NAME, text, chunk)
  }
}

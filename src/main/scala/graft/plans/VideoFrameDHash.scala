package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Codegen'd 64-bit ordinal dHash of one GVID frame, read straight
  * from the container payload bytes.
  *
  * Bit-identical to the composed built-in form mm17 used through r12 —
  * 64 terms of `when(at(j) < at(j+1), 1L << j)` where `at(j)` is
  * `conv(substr(hex(payload), 15 + (f*npix + (j*(npix-1)) DIV 64)*2,
  * 2), 16, 10)`, i.e. the unsigned byte at offset
  * `7 + f*npix + ⌊j·(npix−1)/64⌋` (7 = GVID header bytes). Each
  * sampled byte is an exact hex-pair decode, so reading the byte
  * directly changes no bit; bit j is set iff byte(j) < byte(j+1),
  * both strictly in range.
  *
  * The win is twofold (guide §1.2 order: per-task work AND the
  * driver): the composed form is a ~1,500-node expression tree — 130
  * `conv(substr(…))` string decodes per row at execution, and ~1.9 s
  * of analyzer/codegen time per query run before any task starts
  * (JobProfile measured the zero-job gap). This node is one O(1)
  * loop over 65 byte loads inside whole-stage codegen.
  *
  * Contract (same domain the composed form was built for): `payload`
  * is a decoded GVID container — 7 header bytes plus `nf·npix` pixel
  * bytes — and `(f, npix)` address a frame inside it, so every
  * sampled offset lands in range; out-of-range samples yield an unset
  * bit (the composed form's NULL-comparison semantics). The DuckDB
  * oracle re-derives the whole frame-hash pipeline from first
  * principles, so any divergence fails the mm17 gate.
  */
case class VideoFrameDHash(
    first: Expression,
    second: Expression,
    third: Expression
) extends TernaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (
      first.dataType == BinaryType &&
      second.dataType == LongType &&
      third.dataType == LongType
    )
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"video_dhash expects (binary, bigint, bigint), got " +
          s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString}"
      )

  override def dataType: DataType = LongType

  override def nullSafeEval(p: Any, fAny: Any, npixAny: Any): Any = {
    val payload = p.asInstanceOf[Array[Byte]]
    val f = fAny.asInstanceOf[Long]
    val npix = npixAny.asInstanceOf[Long]
    val len = payload.length.toLong
    val base = 7L + f * npix
    var acc = 0L
    var j = 0
    while (j < 64) {
      val ia = base + (j.toLong * (npix - 1L)) / 64L
      val ib = base + ((j.toLong + 1L) * (npix - 1L)) / 64L
      if (
        ia >= 0L && ib >= 0L && ia < len && ib < len &&
        (payload(ia.toInt) & 0xff) < (payload(ib.toInt) & 0xff)
      ) acc |= (1L << j)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, f, npix) => {
      val len = ctx.freshName("len")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val ia = ctx.freshName("ia")
      val ib = ctx.freshName("ib")
      s"""
         |long $len = (long) $p.length;
         |long $base = 7L + $f * $npix;
         |long $acc = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  long $ia = $base + (((long) $j) * ($npix - 1L)) / 64L;
         |  long $ib = $base + (((long) $j + 1L) * ($npix - 1L)) / 64L;
         |  if ($ia >= 0L && $ib >= 0L && $ia < $len && $ib < $len &&
         |      ($p[(int) $ia] & 0xFF) < ($p[(int) $ib] & 0xFF)) {
         |    $acc |= (1L << $j);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression
  ): Expression = copy(first = newFirst, second = newSecond, third = newThird)
}

object VideoFrameDHash {

  val FUNC_NAME = "graft_video_dhash"

  /** Idempotent: registers this kernel's [[FunctionCatalog]] entry. */
  def register(spark: SparkSession): Unit =
    FunctionCatalog.register(spark, FUNC_NAME)

  def apply(
      spark: SparkSession,
      payload: Column,
      f: Column,
      npix: Column
  ): Column = {
    register(spark)
    call_function(FUNC_NAME, payload, f, npix)
  }
}

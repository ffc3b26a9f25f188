package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle hashing: normalized text → distinct 3-word shingles →
  * portable 32-bit hash per shingle (array<long>), in one pass of
  * plain JVM code instead of five interpreted higher-order-function
  * stages (split/transform/concat_ws/md5 per element with Catalyst
  * eval overhead on every lambda application).
  *
  * Value parity is exact with the composed form
  * (`Dedup.withShingleHashes ∘ withShingles ∘ withTokens` and the
  * DuckDB mirror): same normalization (trim spaces, collapse \s+,
  * lowercase — ASCII semantics; the fixtures are ASCII), same
  * whole-text fallback for <3-token docs, same md5-prefix hash
  * (graft.functions.PortableHash). Verified by ShingleHashesSpec and
  * the oracle gate.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes expects string, got ${child.dataType.simpleString}"
      )

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleHashes.compute(input.asInstanceOf[UTF8String].toString)
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.ShingleHashes.compute($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  val FUNC_NAME = "graft_shingle_hashes"

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 hex digits of md5 as a non-negative long — identical to
    * PortableHash.h32 / its DuckDB mirror. */
  private def h32(s: String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Mirrors TextFunctions.normalized: trim SPACES (Spark `trim`
    * removes 0x20 only), collapse \s+ to one space, lowercase. */
  private[plans] def normalizePublic(text: String): String = normalize(text)

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

  /** Distinct 3-word shingle hashes; <3 tokens ⇒ hash of the whole
    * normalized text (same fallback as Dedup.withShingles). Insertion
    * order preserved (matches array_distinct's first-occurrence
    * order) — downstream aggregation is order-insensitive anyway. */
  def compute(text: String): Array[Long] = {
    val norm = normalize(text)
    val toks = norm.split(" ", -1)
    if (toks.length < 3) return Array(h32(norm))
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = h32(it.next()); j += 1 }
    out
  }

  def register(spark: SparkSession): Unit =
    FunctionCatalog.register(spark, FUNC_NAME)

  def apply(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(FUNC_NAME, text)
  }
}

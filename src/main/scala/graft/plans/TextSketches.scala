package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row text sketches: MinHash band signatures and SimHash.
  *
  * Both sketches are pure functions of one document, so computing
  * them per row in generated code removes the explode → groupBy
  * SHUFFLE that the staged forms (`Dedup.minHashSignatureAgg`,
  * `Dedup.simHashAgg`) pay to get codegen'd aggregation. At 100 TB
  * the staged form shuffles ~|tokens| rows per document twice; the
  * fused form is map-side only — the sketch join (on band signature
  * or id bucket) becomes the sole shuffle of the dedup pipeline.
  *
  * Value parity with the staged forms and the DuckDB oracle mirrors
  * (DedupQueries sigSql/bandsSql/simhashSql) is exact: same portable
  * md5-prefix base hash, same universal-hash permutation family
  * h_s(x) = (a_s·x + b_s) mod P over the same shingle/token hashes,
  * same comma-joined band hashing, same ≥0 vote rule per SimHash bit.
  * Verified by TextSketchesSpec and the oracle gate (dedup04/05).
  */
object TextSketches {

  /** h < 2^32 and a < 2^31 keep h·a + b below 2^63 (no overflow). */
  private def coeffs(k: Int): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var s = 0
    while (s < k) {
      a(s) = 2L * (graft.functions.PortableHash.h32Local(s"a:$s") % 500000000L) + 1L
      b(s) = graft.functions.PortableHash.h32Local(s"b:$s")
      s += 1
    }
    (a, b)
  }

  private val P = 4294967311L

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  /** MinHash k-signature → `bands` md5-prefix band hashes, one pass. */
  def minHashBands(text: String, k: Int, bands: Int): Array[Long] = {
    val shh = ShingleHashes.compute(text)
    val (ca, cb) = coeffCache.computeIfAbsent(k, coeffs)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < shh.length) {
      val h = shh(i)
      var s = 0
      while (s < k) {
        val v = (h * ca(s) + cb(s)) % P
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    val rows = k / bands
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(rows * 12)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(',')
        sb.append(sig(b * rows + r))
        r += 1
      }
      out(b) = graft.functions.PortableHash.h32Local(sb.toString)
      b += 1
    }
    out
  }

  /** Per-thread token→hash memo: token distributions are Zipfian, so
    * most md5 calls in the SimHash hot loop are repeats. Bounded by
    * clear-on-overflow (crude, correct — memoization only). */
  private val tokenHashCache =
    new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
      override def initialValue() = new java.util.HashMap[String, java.lang.Long]()
    }

  private def h32Cached(s: String): Long = {
    val cache = tokenHashCache.get()
    val hit = cache.get(s)
    if (hit != null) return hit.longValue()
    if (cache.size() >= (1 << 16)) cache.clear()
    val v = graft.functions.PortableHash.h32Local(s)
    cache.put(s, v)
    v
  }

  /** 64-bit SimHash — the scale form dedup07's in-code note promises
    * (32 bits over ~10⁹ docs saturates: random pairs land ~16±4 bits
    * apart and the Hamming separation collapses). Bit j<32 votes with
    * the portable 32-bit token hash, bit 32+j with the seed-1 variant
    * — both reproducible in DuckDB from the same formulas, so the
    * 64-bit operator stays oracle-checked rather than rows-only.
    */
  def simHash64(text: String): Long = {
    val norm = ShingleHashes.normalizePublic(text)
    val toks = norm.split(" ", -1)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val lo = h32Cached(toks(i))
      val hi = h32Cached("1:" + toks(i))
      var j = 0
      while (j < 32) {
        if (((lo >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        if (((hi >> j) & 1L) == 1L) votes(32 + j) += 1 else votes(32 + j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** 32-bit SimHash over whitespace tokens of the normalized text
    * (token multiplicity preserved, same as the staged vote form). */
  def simHash32(text: String): Long = {
    val norm = ShingleHashes.normalizePublic(text)
    val toks = norm.split(" ", -1)
    val votes = new Array[Int](32)
    var i = 0
    while (i < toks.length) {
      val h = h32Cached(toks(i))
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** text → array<long> of LSH band signatures (k minhash perms / bands). */
case class MinHashBands(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && k % bands == 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_bands expects (string) with bands | k; got " +
          s"${child.dataType.simpleString}, k=$k, bands=$bands"
      )

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextSketches.minHashBands(input.asInstanceOf[UTF8String].toString, k, bands)
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.TextSketches.minHashBands($c.toString(), $k, $bands));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  val FUNC_NAME = "graft_minhash_bands"

  def apply(spark: SparkSession, text: Column, k: Int, bands: Int): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FUNC_NAME + s"_${k}_$bands",
      exprs => MinHashBands(exprs.head, k, bands),
      "internal"
    )
    call_function(FUNC_NAME + s"_${k}_$bands", text)
  }
}

/** text → 32-bit SimHash (long). */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash32 expects string, got ${child.dataType.simpleString}"
      )

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextSketches.simHash32(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.TextSketches.simHash32($c.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32 {
  val FUNC_NAME = "graft_simhash32"

  def apply(spark: SparkSession, text: Column): Column = {
    FunctionCatalog.register(spark, FUNC_NAME)
    call_function(FUNC_NAME, text)
  }
}

/** text → 64-bit SimHash (long) — see [[TextSketches.simHash64]]. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects string, got ${child.dataType.simpleString}"
      )

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextSketches.simHash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.TextSketches.simHash64($c.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  val FUNC_NAME = "graft_simhash64"

  def apply(spark: SparkSession, text: Column): Column = {
    FunctionCatalog.register(spark, FUNC_NAME)
    call_function(FUNC_NAME, text)
  }
}

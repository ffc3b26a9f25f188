package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's UDTF surface (SURVEY.md §2.10): a native Catalyst
  * `Generator` — the Spark-idiomatic "table function" — that emits one
  * row per distinct 3-token shingle hash of a text column, usable from
  * SQL as `LATERAL VIEW graft_shingle_explode(text) t AS h` (or in a
  * generator select). Semantically identical to
  * `explode(graft_shingle_hashes(text))` but it never materializes the
  * intermediate array: hashes stream straight from the tokenizer into
  * the `Generate` operator's row output — constant memory per row at
  * any document length, where the array form allocates O(shingles)
  * per document before exploding.
  *
  * Same normalization/fallback/hash contract as [[ShingleHashes]]
  * (ShingleExplodeSpec pins row-level equality between the two forms),
  * so every shingle-consuming oracle mirror applies unchanged.
  *
  * `Generate` runs generators via `eval` (codegen covers only the
  * built-in explode family), hence [[CodegenFallback]]: the child
  * STRING still arrives through whole-stage codegen; only the
  * row-emission loop is interpreted — the same execution profile as
  * the built-in `inline`/`json_tuple` generators.
  */
case class ShingleExplode(child: Expression)
    extends UnaryExpression
    with Generator
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"${ShingleExplode.FUNC_NAME} expects string, got ${child.dataType.simpleString}"
      )

  override def elementSchema: StructType =
    StructType(StructField("h", LongType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else
      ShingleHashes
        .compute(v.asInstanceOf[UTF8String].toString)
        .iterator
        .map(h => InternalRow(h))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleExplode =
    copy(child = newChild)
}

object ShingleExplode {

  val FUNC_NAME = "graft_shingle_explode"

  def register(spark: SparkSession): Unit =
    FunctionCatalog.register(spark, FUNC_NAME)

  def apply(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(FUNC_NAME, text)
  }
}

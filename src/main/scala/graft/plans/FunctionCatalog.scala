package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The fixed-arity `graft_*` SQL functions, one entry each.
  *
  * Both install paths read this one list: `graft.GraftExtensions`
  * injects every entry when a session is built, and each kernel's
  * Scala entry point registers its own entry through [[register]] on
  * sessions built without the extensions. Either way the function
  * carries the same usage text and the same argument-count check, so
  * a call with the wrong number of arguments fails at analysis naming
  * the function.
  *
  * `MinHashBands` and `HyperplaneBands` are not here: their sketch
  * shape (k, bands, tables, planes, dims) is baked into the
  * expression, so they register one function per shape from their
  * parameterized Scala constructors.
  */
object FunctionCatalog {

  final case class Entry(
      name: String,
      arity: Int,
      info: ExpressionInfo,
      build: Seq[Expression] => Expression
  ) {
    def builder(args: Seq[Expression]): Expression = {
      require(
        args.length == arity,
        s"$name takes $arity argument(s), got ${args.length}"
      )
      build(args)
    }
  }

  private def entry[E <: Expression](name: String, arity: Int, usage: String)(
      build: Seq[Expression] => E
  )(implicit ct: ClassTag[E]): Entry =
    Entry(
      name,
      arity,
      new ExpressionInfo(
        ct.runtimeClass.getName, null, name, usage,
        "", "", "", "", "", "", "internal"
      ),
      build
    )

  val entries: Seq[Entry] = Seq(
    entry(CosineSimilarity.FUNC_NAME, 2,
      "cosine similarity of two float vectors (codegen, sequential-order sums)")(
      a => CosineSimilarity(a(0), a(1))),
    entry(ShingleHashes.FUNC_NAME, 1,
      "per-shingle portable 32-bit hashes of normalized text")(
      a => ShingleHashes(a(0))),
    entry(ShingleExplode.FUNC_NAME, 1,
      "table function: one row per distinct shingle hash of normalized text")(
      a => ShingleExplode(a(0))),
    entry(SimHash32.FUNC_NAME, 1, "32-bit SimHash sketch of normalized text")(
      a => SimHash32(a(0))),
    entry(SimHash64.FUNC_NAME, 1, "64-bit SimHash sketch of normalized text")(
      a => SimHash64(a(0))),
    entry(RollingFingerprint.FUNC_NAME, 1,
      "rolling polynomial fingerprint of normalized text")(
      a => RollingFingerprint(a(0))),
    entry(StringDHash64.FUNC_NAME, 1,
      "64-bit ordinal dHash of 65 codepoints sampled across a string")(
      a => StringDHash64(a(0))),
    entry(VideoFrameDHash.FUNC_NAME, 3,
      "64-bit ordinal dHash of frame f (npix pixels) of a GVID payload")(
      a => VideoFrameDHash(a(0), a(1), a(2))),
    entry(FrameFeatures.FUNC_NAME, 2,
      "per-frame (flen, fsum) of a text split into chunk-codepoint frames")(
      a => FrameFeatures(a(0), a(1)))
  )

  private val byName: Map[String, Entry] = entries.map(e => e.name -> e).toMap

  /** Idempotent: (re)register catalog function `name` in `spark`. */
  def register(spark: SparkSession, name: String): Unit = {
    val e = byName(name)
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), e.info, e.builder _)
  }
}

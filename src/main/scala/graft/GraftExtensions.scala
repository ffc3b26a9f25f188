package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Cluster-install entry point: the idiomatic way to ship this
  * library's Catalyst extensions to every session on a cluster is the
  * static conf
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `withExtensions(new GraftExtensions)` on a session builder,
  * which is how [[GraftSession.local]] builds every session this repo
  * runs). At session build time it installs the as-of join planner
  * strategy, the `EditDistancePrefilter` optimizer rule, and every
  * fixed-arity function of [[plans.FunctionCatalog]], so SQL-only
  * users (thriftserver, notebooks) get the `graft_*` functions
  * without touching the Scala API.
  *
  * The Scala entry points (`plans.AsOfJoin.joinAsOf`,
  * `plans.CosineSimilarity(spark, ...)`) stay self-registering for
  * sessions built without the extensions; both paths register the
  * same catalog entry and are idempotent. The sketch UDAFs register
  * through the udf registry instead
  * ([[GraftSession.registerSketchUdafs]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => plans.EditDistancePrefilter)
    plans.FunctionCatalog.entries.foreach { e =>
      ext.injectFunction((FunctionIdentifier(e.name), e.info, e.builder _))
    }
  }
}

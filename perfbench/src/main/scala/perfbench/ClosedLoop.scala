package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The closed-loop workloads: one client runs a fixed query list, each
  * query's next pass only after the previous query returns.
  *
  * A query is `SparkEntry.queries(name)(spark, data)` (the builder,
  * layer `ops`) followed by a write of the returned plan into the noop
  * sink (layer `exec`), exactly as `graft.Bench` times it. Pass 0 is
  * the cold pass; `warmPasses` warm passes follow, each in a fresh
  * seeded order. The count is fixed rather than timed, so every run
  * stops at the same point of the JIT warm-up curve.
  * With `check`, each cold-pass result is also written to
  * `resultsDir/<name>` after its timing ends, for the oracle compare.
  */
object ClosedLoop {

  def run(
      spark: SparkSession,
      trace: Trace,
      data: String,
      names: Seq[String],
      seed: Long,
      resultsDir: String,
      warmPasses: Int,
      check: Boolean = true
  ): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    val samples = ArrayBuffer[Map[String, Any]]()

    def one(pass: Int, name: String): Unit = {
      var df: DataFrame = null
      var qid = 0L
      var err = ""
      val t0 = System.nanoTime()
      var t1 = t0
      trace.span(spark, 0L, "bench", s"query:$name") { id =>
        qid = id
        try {
          df = trace.span(spark, id, "ops", s"build:$name") { _ =>
            graft.SparkEntry.queries(name)(spark, data)
          }
          t1 = System.nanoTime()
          trace.span(spark, id, "exec", s"noop:$name") { _ =>
            df.write.format("noop").mode("overwrite").save()
          }
        } catch { case NonFatal(e) => err = message(e) }
      }
      val t2 = System.nanoTime()
      if (check && pass == 0 && err.isEmpty)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
        catch { case NonFatal(e) => err = "result write: " + message(e) }
      samples += Map("pass" -> pass, "name" -> name, "span" -> qid,
        "start" -> t0, "end" -> t2,
        "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
        "wall_s" -> (t2 - t0) / 1e9, "ok" -> err.isEmpty, "error" -> err)
    }

    rng.shuffle(names).foreach(one(0, _))
    val w0 = System.nanoTime()
    (1 to warmPasses).foreach(pass => rng.shuffle(names).foreach(one(pass, _)))
    Map("samples" -> samples.toSeq, "window" -> Seq(w0, System.nanoTime()))
  }

  def message(e: Throwable): String =
    String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ").take(400)
}

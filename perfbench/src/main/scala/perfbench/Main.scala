package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** JVM side of the benchmark: sets up the engine, runs one workload and
  * writes its raw samples (and, when traced, its spans) as one JSON
  * file. `perfbench/run.py` builds this, generates the inputs, checks
  * the outputs and turns the samples into metrics.
  *
  * {{{
  *   perfbench.Main --workload lifecycle|analytic|cdc_ingest|survey
  *     --seed N --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *     [--queries a,b,c] [--warm-passes N] [--base-rows N] [--rates r1,r2,..]
  *     [--read-rate R] [--compact-every K] [--trigger-s T] --setup-reps N
  * }}}
  */
object Main {

  val FixtureTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1" || workload == "survey"
    val data = arg("data")
    val work = arg("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val reps = arg("setup-reps").toInt
    val cdc = workload == "cdc_ingest"

    // Setup, `reps` times: the engine's own session, then fixture views
    // and warm-up reads of every table (closed loops) or the base store
    // written and read back (cdc_ingest). The first rep counts from JVM
    // start; all but the last session are stopped.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var store = ""
    val setupS = (0 until reps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus)
      spark.sparkContext.setLogLevel("ERROR")
      if (cdc) {
        store = CdcIngest.writeBase(spark, s"$work/store$rep",
          arg("base-rows").toLong, seed)
        graft.sources.ManifestStore.read(spark, store).count()
      } else {
        val t = Tables(spark, data)
        FixtureTables.foreach { n =>
          val df = if (n == "events") t.events else t.t(n)
          df.createOrReplaceTempView(n)
          df.count()
        }
      }
      val ns = System.nanoTime() - t0
      if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else ns / 1e9
    }

    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def mark(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3
    mark("setup_done")
    val trace = new Trace(traced)
    trace.attach(spark)
    val queries = args.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val result: Map[String, Any] = workload match {
      case "lifecycle" | "analytic" =>
        ClosedLoop.run(spark, trace, data, queries, seed, s"$work/results",
          warmPasses = arg("warm-passes").toInt)
      case "survey" =>
        val names =
          if (queries.nonEmpty) queries else graft.SparkEntry.queries.keys.toSeq.sorted
        ClosedLoop.run(spark, trace, data, names, seed, s"$work/results",
          warmPasses = 1, check = false)
      case "cdc_ingest" =>
        CdcIngest.run(spark, trace, store, seed, seconds,
          arg("rates").split(",").map(_.toDouble).toSeq,
          arg("read-rate").toDouble, arg("compact-every").toInt, arg("trigger-s").toDouble)
      case other => sys.error(s"unknown workload '$other'")
    }
    mark("workload_done")
    trace.detach(spark)
    // live memory of the engine after its workload, outside every timed
    // region: heap in use after a full collection, plus non-heap
    // (metaspace, code cache); unlike VmHWM it does not follow how far
    // GC heuristics let the heap grow
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val liveMb = (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
    val oracle = queries.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS, "result" -> result, "oracle_sql" -> oracle,
      "peak_rss_kb" -> peakRssKb(), "live_mb" -> liveMb, "trace" -> trace.export, "jvm_timeline_s" -> phases)
    spark.stop()
    Files.writeString(Paths.get(arg("out")), Json.write(out))
  }

  /** `VmHWM` of this process, in kB (0 where /proc is absent). */
  def peakRssKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}

package graft

/** Benchmark main (driver contract): one JSON line with per-query
  * wall-clock seconds on SPARK_GRAFT_SF_DIR.
  *
  * Methodology follows the reference's scripts (SURVEY.md §6): a
  * warm-up pass absorbs session/codegen/file-listing cold cost
  * (reference test_warm_performance.sh skips request 1), then each
  * query is timed executing its FULL plan into a no-op sink — count()
  * would let the optimizer drop sorts/projections and under-report.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the tested engine (GraftSession.local), so the benched engine ≡
    // the verified engine; the TIMING methodology below (warm-up, 3
    // warm passes, median, noop sink, one JSON line) is unchanged from r2.
    val spark = GraftSession.local(GraftSession.envCores())
    // ERROR, not WARN: r4's driver tail was flooded by repeated
    // WindowExec/JoinReorder WARN lines on stderr, which can push the
    // one JSON stdout line out of the bounded capture window.
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry
          .queries(name)(spark, sfDir)
          .write
          .format("noop")
          .mode("overwrite")
          .save()
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: session, parquet footers
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(SparkEntry.selected)
    val t = Tables(spark, sfDir)
    Seq(t.lineitem, t.orders, t.customer, t.events, t.documents, t.embeddings)
      .foreach(_.count())

    // Reference methodology (BASELINE.md): warm = skip request 1
    // (test_warm_performance.sh). Run 1 pays Janino/JIT compilation
    // of the generated code. Three warm passes, report the MEDIAN of
    // the three per query: round-3 bench_detail showed warm pass 2
    // still carries multi-second C2/GC spikes for individual queries
    // (q08 19.3 s in w2 vs 1.1 s in w3) — a mean amplifies one
    // spike into a 9× misreport, the median discards it whichever
    // pass it lands in.
    val cold = names.map(n => n -> runOnce(n))
    val warm1 = names.map(n => n -> runOnce(n)).toMap
    val warm2 = names.map(n => n -> runOnce(n)).toMap
    val warm3 = names.map(n => n -> runOnce(n)).toMap
    val warm = names.map { n =>
      val vs = Seq(warm1(n), warm2(n), warm3(n))
      n -> (if (vs.exists(_ < 0)) -1.0 else vs.sorted.apply(1))
    }
    def fmt(v: Double) =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def js(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val failures = warm.count(_._2 < 0)
    val total = warm.map(_._2).filter(_ >= 0).sum
    def jsFull(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    try {
      val detail =
        s"""{"warm":${jsFull(warm)},"warm1":${jsFull(names.map(n => n -> warm1(n)))},"warm2":${jsFull(names.map(n => n -> warm2(n)))},"warm3":${jsFull(names.map(n => n -> warm3(n)))},"cold":${jsFull(cold)},"sf":"$sfDir"}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_detail.json"),
        detail.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      )
    } catch { case _: Throwable => () }
    // The driver captures a bounded output tail and a long line falls
    // outside it and parses as null (BENCH_r02/r03 both lost this
    // way): print ONLY the headline — total, failures, and the 10
    // slowest queries (~0.5 KB, hard-capped far below the ~2.9 KB
    // budget even with sbt's epilogue after it). The full per-query
    // map for all passes is in bench_detail.json.
    val slowest = warm.filter(_._2 >= 0).sortBy(-_._2).take(10)
    val out =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${names.size},"failures":$failures,"queries":${js(slowest)},"sf":"$sfDir"}"""
    // stop() BEFORE the println: session shutdown logs its own lines,
    // and anything printed after the JSON line eats tail budget. The
    // headline must be the last thing this process writes.
    spark.stop()
    println(out)
    System.out.flush()
  }
}

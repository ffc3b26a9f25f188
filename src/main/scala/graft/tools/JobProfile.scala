package graft.tools

/** Diagnostic main (NOT part of the driver contract): run one or more
  * declared queries under a [[Probe]] that attributes wall-clock to
  * individual Spark jobs by call site, so lifecycle queries' time can
  * be split into their phases (stage writes, counts, readbacks). A job
  * of a SQL execution is listed under the execution's call site, also
  * when AQE submitted it from a pool thread. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProfile q109_compaction_execute"
  *
  * Prints per-job (duration, callsite) for the WARM run plus the gaps
  * between jobs (driver-side work: planning, manifest IO, commit
  * footer reads).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCores())
    spark.sparkContext.setLogLevel("ERROR")

    val probe = Probe.attach(spark)
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val names = args.toSeq
    names.foreach { n => run(n) } // warm-up pass
    names.foreach { n =>
      probe.reset()
      val t0 = System.nanoTime()
      val total = run(n)
      val done = probe.jobs.filter(_.end.isDefined)
      println(f"== $n%s total=$total%.3f s, ${done.size}%d jobs ==")
      // merge jobs into a timeline; report per-callsite totals and gaps
      var covered = 0L
      var cursor = t0
      var gapTotal = 0L
      val gaps = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      done.foreach { j =>
        val end = j.end.get
        if (j.start > cursor) {
          gapTotal += (j.start - cursor)
          gaps += (((cursor - t0) / 1e9, (j.start - cursor) / 1e9))
        }
        covered += math.max(0L, end - math.max(j.start, cursor))
        cursor = math.max(cursor, end)
      }
      println(f"   jobs-covered=${covered / 1e9}%.3f s  driver-gaps=${gapTotal / 1e9}%.3f s")
      val bySite = done.groupBy(_.site).map { case (s, js) =>
        (s, js.map(_.nanos).sum / 1e9, js.size,
          js.map(_.tasks).sum)
      }.toSeq.sortBy(-_._2)
      bySite.foreach { case (site, secs, n, tasks) =>
        println(f"   $secs%8.3f s  n=$n%3d tasks=$tasks%5d  $site%s")
      }
      done.filter(_.nanos > 0.3e9)
        .sortBy(-_.nanos)
        .take(15)
        .foreach { j =>
          val stages = j.stages.map { case (name, tasks) => s"$name[$tasks]" }
          println(f"   job ${j.nanos / 1e9}%7.3f s at t+${(j.start - t0) / 1e9}%.2f: ${stages.mkString(" <- ")}%s")
        }
      val bigGaps = gaps.filter(_._2 > 0.05).sortBy(-_._2).take(12)
      bigGaps.foreach { case (at, len) =>
        println(f"   gap $len%7.3f s at t+$at%.3f s")
      }
      // a job's time often hides one slow stage (e.g. a many-small-files
      // write) behind cheap ones
      probe.stages.sortBy(-_.wallMs).take(15).foreach { s =>
        println(f"   stage ${s.id}%4d wall=${s.wallMs / 1e3}%7.3f run=${s.runMs / 1e3}%8.3f cpu=${s.cpuMs / 1e3}%8.3f tasks=${s.tasks}%4d out=${s.outputBytes / 1024}%8dKiB recs=${s.outputRecords}%8d  ${s.site}%s")
      }
    }
    spark.stop()
  }
}

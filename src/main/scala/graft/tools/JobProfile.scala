package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic main (NOT part of the driver contract): run one or more
  * declared queries with a listener that attributes wall-clock to
  * individual Spark jobs by call site, so lifecycle queries' time can
  * be split into their phases (stage writes, footer jobs, counts,
  * readbacks). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProfile q109_compaction_execute"
  *
  * Prints per-job (duration, callsite) for the WARM run plus the gaps
  * between jobs (driver-side work: planning, manifest IO, footer
  * reads that don't run as jobs).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCores())
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, start: Long, var end: Long, site: String,
        var tasks: Int, stages: Seq[String] = Seq.empty)
    val jobs = new scala.collection.mutable.ArrayBuffer[J]()
    val byId = new scala.collection.mutable.HashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val nt = e.stageInfos.map(_.numTasks).sum
        val stages = e.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n')}[${si.numTasks}]").toSeq
        val j = J(e.jobId, System.nanoTime(), 0L, site, nt, stages)
        jobs += j
        byId(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.end = System.nanoTime())
      }
    })
    // per-stage wall + task-metric breakdown: a job's time often hides
    // one slow stage (e.g. a many-small-files write) behind cheap ones
    final case class S(id: Int, name: String, tasks: Int, wallMs: Long,
        runMs: Long, cpuMs: Long, writeBytes: Long, recordsWritten: Long)
    val stages = new scala.collection.mutable.ArrayBuffer[S]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          stages += S(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
            (for {s <- si.submissionTime; c <- si.completionTime}
              yield c - s).getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
        }
    })

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val names = args.toSeq
    names.foreach { n => run(n) } // warm-up pass
    names.foreach { n =>
      jobs.clear(); byId.clear(); stages.clear()
      val t0 = System.nanoTime()
      val total = run(n)
      val done = jobs.filter(_.end > 0).sortBy(_.start)
      println(f"== $n%s total=$total%.3f s, ${done.size}%d jobs ==")
      // merge jobs into a timeline; report per-callsite totals and gaps
      var covered = 0L
      var cursor = t0
      var gapTotal = 0L
      val gaps = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      done.foreach { j =>
        if (j.start > cursor) {
          gapTotal += (j.start - cursor)
          gaps += (((cursor - t0) / 1e9, (j.start - cursor) / 1e9))
        }
        covered += math.max(0L, j.end - math.max(j.start, cursor))
        cursor = math.max(cursor, j.end)
      }
      println(f"   jobs-covered=${covered / 1e9}%.3f s  driver-gaps=${gapTotal / 1e9}%.3f s")
      val bySite = done.groupBy(_.site).map { case (s, js) =>
        (s, js.map(j => j.end - j.start).sum / 1e9, js.size,
          js.map(_.tasks).sum)
      }.toSeq.sortBy(-_._2)
      bySite.foreach { case (site, secs, n, tasks) =>
        println(f"   $secs%8.3f s  n=$n%3d tasks=$tasks%5d  $site%s")
      }
      done.filter(j => j.end - j.start > 0.3e9)
        .sortBy(j => -(j.end - j.start))
        .take(15)
        .foreach { j =>
          println(f"   job ${(j.end - j.start) / 1e9}%7.3f s at t+${(j.start - t0) / 1e9}%.2f: ${j.stages.mkString(" <- ")}%s")
        }
      val bigGaps = gaps.filter(_._2 > 0.05).sortBy(-_._2).take(12)
      bigGaps.foreach { case (at, len) =>
        println(f"   gap $len%7.3f s at t+$at%.3f s")
      }
      stages.sortBy(-_.wallMs).take(15).foreach { s =>
        println(f"   stage ${s.id}%4d wall=${s.wallMs / 1e3}%7.3f run=${s.runMs / 1e3}%8.3f cpu=${s.cpuMs / 1e3}%8.3f tasks=${s.tasks}%4d out=${s.writeBytes / 1024}%8dKiB recs=${s.recordsWritten}%8d  ${s.name}%s")
      }
    }
    spark.stop()
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, max}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{DeletionVectors, ManifestStore, MergeInto}

/** The open-loop workload: a seeded keyed change stream merged into a
  * manifest store while one reader serves findById and findAll reads.
  *
  * The store is `graft-docs` rows partitioned by `source`. One writer
  * thread (this one) creates events on a fixed schedule per rate step
  * and adds them to a `MemoryStream`; every `triggerS` seconds the
  * stream's `foreachBatch` calls `MergeInto.merge`, and
  * `DeletionVectors.compactDv` every `compactEvery` batches. A fixed
  * trigger keeps the commit cadence set by the schedule rather than by
  * the previous batch's duration, so one slow merge delays its own
  * events instead of growing every later batch. One reader thread runs on its own fixed
  * schedule, alternating the reference service's two reads:
  * `ManifestStore.snapshot` then `DeletionVectors.readForIds` (findById,
  * a point read) or `DeletionVectors.read(..).collect()` (findAll).
  *
  * Every time is taken against the op's due time. Outputs are checked
  * after the run against [[Model]], the generator's own fold of the
  * events, at the batch id each read's snapshot carries in its ledger.
  */
object CdcIngest {

  final case class Ev(op: String, doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long, ts: java.sql.Timestamp, seq: Long)

  final case class Doc(text: String, lang: String, source: String, nChars: Long)

  val Sink = "perfbench"
  private val Vocab = ("the a data table row column scan filter join agg window " +
    "sort hash merge batch stream key value query part order customer line " +
    "spark fast slow big small vector").split(" ")
  private val Langs = Array("en", "fr", "de", "es", "zh")

  def writeBase(spark: SparkSession, root: String, rows: Long, seed: Long): String = {
    val df = spark.read.format("graft-docs").option("rows", rows)
      .option("partitions", spark.sparkContext.defaultParallelism)
      .option("seed", (seed % Int.MaxValue).toInt).load()
    ManifestStore.write(df, root, Seq("source"))
    root
  }

  /** Key-by-key history of the generated stream: the expected store
    * state after any event sequence number. Seq 0 is the base store.
    */
  final class Model(base: Iterable[(Long, Doc)]) {
    private val hist = mutable.HashMap[Long, ArrayBuffer[(Long, Option[Doc])]]()
    base.foreach { case (k, d) => hist(k) = ArrayBuffer((0L, Some(d))) }

    def apply(seq: Long, id: Long, v: Option[Doc]): Unit = {
      hist.getOrElseUpdate(id, ArrayBuffer()) += ((seq, v))
    }

    def at(id: Long, seq: Long): Option[Doc] =
      hist.get(id).flatMap(_.reverseIterator.find(_._1 <= seq)).flatMap(_._2)

    def all(seq: Long): Map[Long, Doc] =
      hist.keys.flatMap(k => at(k, seq).map(k -> _)).toMap
  }

  /** Seeded event source: updates and deletes favour recently written
    * keys, and some deleted keys come back as inserts.
    */
  final class Generator(seed: Long, baseIds: Seq[Long], model: Model) {
    private val rng = new scala.util.Random(seed)
    private val live = ArrayBuffer[Long]() ++ baseIds
    private val pos = mutable.HashMap[Long, Int]() ++ baseIds.zipWithIndex
    private val dead = ArrayBuffer[Long]()
    private val recent = new Array[Long](512)
    private var nRecent = 0
    private var seq = 0L
    private var maxId = if (baseIds.isEmpty) -1L else baseIds.max

    private def remove(buf: ArrayBuffer[Long], i: Int, index: Option[mutable.HashMap[Long, Int]]): Long = {
      val v = buf(i)
      val last = buf.remove(buf.size - 1)
      if (i < buf.size) { buf(i) = last; index.foreach(_(last) = i) }
      index.foreach(_ -= v)
      v
    }

    private def pick(): Long = {
      var k = -1L
      var tries = 0
      while (k < 0 && tries < 4 && nRecent > 0 && rng.nextDouble() < 0.8) {
        val c = recent(rng.nextInt(math.min(nRecent, recent.length)))
        if (pos.contains(c)) k = c
        tries += 1
      }
      if (k < 0) live(rng.nextInt(live.size)) else k
    }

    private def doc(): Doc = {
      val text = Seq.fill(20 + rng.nextInt(21))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      Doc(text, Langs(rng.nextInt(Langs.length)), "src" + rng.nextInt(4), text.length.toLong)
    }

    def next(wallMs: Long): Ev = {
      seq += 1
      val r = rng.nextDouble()
      val (op, id) =
        if (live.size < 16 || r < 0.30) { maxId += 1; ("I", maxId) }
        else if (r < 0.35 && dead.nonEmpty) ("I", remove(dead, rng.nextInt(dead.size), None))
        else if (r < 0.85) ("U", pick())
        else ("D", pick())
      val ts = new java.sql.Timestamp(wallMs)
      if (op == "D") {
        remove(live, pos(id), Some(pos))
        dead += id
        model(seq, id, None)
        Ev("D", id, null, null, null, 0L, ts, seq)
      } else {
        if (!pos.contains(id)) { pos(id) = live.size; live += id }
        recent(nRecent % recent.length) = id
        nRecent += 1
        val d = doc()
        model(seq, id, Some(d))
        Ev(op, id, d.text, d.lang, d.source, d.nChars, ts, seq)
      }
    }
  }

  private def storeBytes(root: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()

  private def docOf(r: Row): Doc =
    Doc(r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source"),
      r.getAs[Long]("n_chars"))

  def run(
      spark: SparkSession,
      trace: Trace,
      root: String,
      seed: Long,
      seconds: Double,
      rates: Seq[Double],
      readRate: Double,
      compactEvery: Int,
      triggerS: Double
  ): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val baseBytes = storeBytes(root)
    val base = DeletionVectors.read(ManifestStore.snapshot(spark, root)).collect()
      .map(r => r.getAs[Long]("doc_id") -> docOf(r)).toSeq
    val model = new Model(base)
    val gen = new Generator(seed, base.map(_._1).sorted, model)
    val dueNs = ArrayBuffer[Long](0L) // index = seq
    val genLagNs = ArrayBuffer[Long](0L)
    val batches = ArrayBuffer[Map[String, Any]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val input = MemoryStream[Ev]
    val q = input.toDF().writeStream
      .queryName("perfbench_cdc")
      .option("checkpointLocation", root + "_checkpoint")
      .trigger(Trigger.ProcessingTime((triggerS * 1000).toLong))
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        val sid = trace.newId()
        val (version, applied) = trace.span(spark, sid, "sources", "merge") { _ =>
          MergeInto.merge(spark, root, df, Sink, batchId)
        }
        val tCommit = System.nanoTime()
        val stats = trace.span(spark, sid, "bench", "batch_seqs") { _ =>
          df.agg(max("seq"), count("*")).collect()(0)
        }
        var compactS = 0.0
        if ((batchId + 1) % compactEvery == 0 &&
            ManifestStore.snapshot(spark, root).hasTable(DeletionVectors.dvTable(ManifestStore.MAIN))) {
          val c0 = System.nanoTime()
          trace.span(spark, sid, "sources", "compact_dv") { _ =>
            DeletionVectors.compactDv(spark, root)
          }
          compactS = (System.nanoTime() - c0) / 1e9
        }
        trace.add(sid, 0L, "streaming", s"batch:$batchId", t0, System.nanoTime())
        batches.synchronized {
          batches += Map("batch" -> batchId, "max_seq" -> stats.getLong(0),
            "rows" -> stats.getLong(1), "start" -> t0, "commit" -> tCommit,
            "version" -> version, "applied" -> applied,
            "merge_s" -> (tCommit - t0) / 1e9, "compact_s" -> compactS)
        }
        ()
      }
      .start()

    // reader: findById and findAll, alternating, at a fixed rate; the seed picks the
    // ids, among keys the writer's schedule has inserted by the read's
    // due time (30% of events are inserts), so they do not depend on
    // how far the writer has actually got
    val reads = ArrayBuffer[Map[String, Any]]()
    val baseMax = if (base.isEmpty) -1L else base.map(_._1).max
    val stepS = seconds / rates.size
    def insertsDueBy(s: Double): Long = (0.3 * rates.zipWithIndex.map { case (r, k) =>
      r * math.min(stepS, math.max(0.0, s - k * stepS))
    }.sum).toLong
    val stop = new AtomicBoolean(false)
    val readRng = new scala.util.Random(seed * 31 + 7)
    // processing-time triggers fire on epoch multiples of the interval:
    // start both schedules just after one, so the first event's wait for
    // a trigger is the same on every run
    val periodMs = (triggerS * 1000).toLong
    Thread.sleep(periodMs - System.currentTimeMillis() % periodMs + 100)
    val t0 = System.nanoTime()
    val reader = new Thread(() => {
      var i = 0L
      var prevEnd = t0
      val period = (1e9 / readRate).toLong
      // a fixed offset from the trigger boundary: the share of reads
      // that meet a running merge then depends on the merge time, not
      // on the seed
      val phase = period / 2
      while (!stop.get()) {
        val due = t0 + phase + i * period
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val start = System.nanoTime()
        val isAll = i % 2 == 1
        val top = baseMax + insertsDueBy((due - t0) / 1e9)
        val ids = Seq.fill(2)(readRng.nextLong(top + 1)) ++
          Seq.fill(2)(math.max(0L, top - readRng.nextLong(500)))
        var rec = Map[String, Any]("due" -> due, "start" -> start,
          "lag" -> (start - math.max(due, prevEnd)), "kind" -> (if (isAll) "all" else "point"))
        try {
          val rid = trace.newId()
          val snap = trace.span(spark, rid, "sources", "snapshot") { _ =>
            ManifestStore.snapshot(spark, root)
          }
          val t1 = System.nanoTime()
          val out: Any = trace.span(spark, rid, "sources", "lookup") { _ =>
            val rows =
              if (isAll) DeletionVectors.read(snap).collect()
              else DeletionVectors.readForIds(snap, ManifestStore.MAIN, "doc_id", ids).collect()
            rows.map(r => r.getAs[Long]("doc_id") -> docOf(r)).toMap
          }
          val end = System.nanoTime()
          trace.add(rid, 0L, "bench", if (isAll) "find_all" else "point_read", start, end)
          rec ++= Map("end" -> end, "snapshot_s" -> (t1 - start) / 1e9,
            "lookup_s" -> (end - t1) / 1e9, "ids" -> ids, "out" -> out,
            "batch" -> snap.batches.getOrElse(Sink, -1L))
          prevEnd = end
        } catch {
          case NonFatal(e) =>
            prevEnd = System.nanoTime()
            rec ++= Map("end" -> prevEnd, "error" -> ClosedLoop.message(e))
        }
        reads.synchronized(reads += rec)
        i += 1
      }
    }, "perfbench-reader")
    reader.start()

    // writer: each rate step creates events on its fixed schedule
    val steps = ArrayBuffer[Map[String, Any]]()
    val stepNs = (seconds / rates.size * 1e9).toLong
    try {
      rates.foreach { rate =>
        val s0 = System.nanoTime()
        val firstSeq = dueNs.size
        var i = 0L
        val period = 1e9 / rate
        while (System.nanoTime() - s0 < stepNs) {
          val now = System.nanoTime()
          val wall = System.currentTimeMillis()
          val evs = ArrayBuffer[Ev]()
          while (s0 + (i * period).toLong <= now && (i * period).toLong < stepNs) {
            dueNs += s0 + (i * period).toLong
            genLagNs += now - dueNs.last
            evs += gen.next(wall)
            i += 1
          }
          if (evs.nonEmpty) input.addData(evs.toSeq)
          val next = s0 + (i * period).toLong - System.nanoTime()
          if (next > 0) Thread.sleep(math.min(next / 1000000, 50L), (next % 1000000).toInt)
        }
        steps += Map("rate" -> rate, "start" -> s0, "end" -> System.nanoTime(),
          "first_seq" -> firstSeq, "last_seq" -> (dueNs.size - 1))
      }
      q.processAllAvailable()
    } catch { case NonFatal(e) => errors.add("stream: " + ClosedLoop.message(e)) }
    stop.set(true)
    reader.join()
    val window = Seq(t0, System.nanoTime())
    q.stop()
    q.exception.foreach(e => errors.add("stream: " + ClosedLoop.message(e)))

    // checks, outside every timed region
    val bs = batches.sortBy(_("batch").asInstanceOf[Long])
    val maxSeqOf = bs.map(b => b("batch").asInstanceOf[Long] -> b("max_seq").asInstanceOf[Long]).toMap
    val seqAt = (b: Long) => if (b < 0) 0L else maxSeqOf.getOrElse(b, -1L)
    val checkedReads = reads.toSeq.map { r =>
      val ok = !r.contains("error") && {
        val s = seqAt(r("batch").asInstanceOf[Long])
        s >= 0 && {
          val want =
            if (r("kind") == "all") model.all(s)
            else r("ids").asInstanceOf[Seq[Long]].distinct.flatMap(id => model.at(id, s).map(id -> _)).toMap
          r("out") == want
        }
      }
      (r - "out" - "ids") + ("ok" -> ok)
    }
    val finalOk = try {
      val snap = ManifestStore.snapshot(spark, root)
      val got = DeletionVectors.read(snap).collect().map(r => r.getAs[Long]("doc_id") -> docOf(r)).toMap
      got == model.all(dueNs.size - 1L) && snap.batches.get(Sink).map(seqAt).contains(dueNs.size - 1L)
    } catch { case NonFatal(e) => errors.add("final read: " + ClosedLoop.message(e)); false }

    Map("steps" -> steps.toSeq, "batches" -> bs.toSeq, "reads" -> checkedReads,
      "due_ns" -> dueNs.toSeq, "gen_lag_ns" -> genLagNs.toSeq, "window" -> window,
      "final_ok" -> finalOk, "errors" -> errors.asScala.toSeq,
      "base_rows" -> base.size, "final_rows" -> model.all(dueNs.size - 1L).size,
      "base_bytes" -> baseBytes, "store_bytes" -> storeBytes(root),
      "events" -> (dueNs.size - 1))
  }
}

package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming.{ExactlyOnceSink, RateLimit, WordCountTopology}

/** The paper's word-count topology (spout → count bolt → top-N →
  * exactly-once sink) over a seeded Zipf word stream, in two phases:
  *
  *  - drain: a fixed backlog of chunk files through
  *    `WordCountTopology.apply` (Complete mode, `ExactlyOnceSink`),
  *    one file per micro-batch — per-record cost, reported as lines
  *    per second of the median drain batch;
  *  - live: an open-loop generator writes one chunk every
  *    `LiveEveryMs` into the spout directory of
  *    `WordCountTopology.updateMode` (`TopNUpdateSink`) for half the
  *    run — per-batch fixed cost. A chunk's latency runs from when it
  *    was due to the end of the micro-batch that committed it.
  */
object WordcountStream {
  val Vocab = 200000
  val Skew = 1.0
  val WordsPerLine = (6, 14)
  val DrainChunks = 8
  val DrainLines = 6000
  val LiveEveryMs = 100
  val LiveLines = 200
  val WarmLines = 500
  val TopN = 20
  val SetupReps = 3
  val StreamThread = "stream execution thread"

  private def writeChunk(dir: String, i: Int, lines: Array[String]): Unit = {
    val tmp = Paths.get(dir, f".chunk-$i%06d.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, f"chunk-$i%06d.txt"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def chunkOf(path: String): Option[Int] =
    """chunk-(\d+)\.txt""".r.findFirstMatchIn(path).map(_.group(1).toInt)

  /** (chunk id, file-source log batch) pairs from the query's
    * checkpoint; a compacted log file repeats earlier entries, so the
    * pairs are a set.
    */
  private def fileLog(ckpt: String): Set[(Int, Long)] = {
    val dir = Paths.get(ckpt, "sources", "0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?""")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).flatMap(m =>
        chunkOf(m.group(1)).map(_ -> m.group(2).toLong)))
    }.toSet
  }

  /** Every chunk was read by exactly one micro-batch. Each chunk is
    * an attempted operation; one not read, or read twice, failed.
    */
  private def readOnce(run: Run, name: String, ckpt: String, chunks: Int): Unit = {
    val byChunk = fileLog(ckpt).groupBy(_._1)
    run.attempted.addAndGet(chunks)
    run.failed.addAndGet(chunks - byChunk.count(_._2.size == 1))
    run.check(name, byChunk.size == chunks && byChunk.values.forall(_.size == 1),
      s"${byChunk.size} of $chunks chunks read; read twice: " +
        byChunk.filter(_._2.size > 1).keys.toSeq.sorted.mkString(","))
  }

  private def logOffset(json: String): Long =
    if (json == null) -1L
    else """"logOffset"\s*:\s*(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  /** For each progress that read input: (first, last] file-log batch
    * range and the batch's end on the epoch-ms clock.
    */
  private def batchEnds(q: StreamingQuery): Seq[(Long, Long, Long, StreamingQueryProgress)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val end = Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue
      (logOffset(p.sources(0).startOffset), logOffset(p.sources(0).endOffset), end, p)
    }

  /** Epoch-ms commit time of each chunk's micro-batch. */
  private def commitTimes(q: StreamingQuery, ckpt: String): Map[Int, Long] = {
    val ends = batchEnds(q)
    fileLog(ckpt).flatMap { case (chunk, b) =>
      ends.collectFirst { case (lo, hi, end, _) if b > lo && b <= hi => chunk -> end }
    }.toMap
  }

  private def recordPhases(run: Run, phase: String, q: StreamingQuery): Unit =
    batchEnds(q).foreach { case (_, _, _, p) =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      run.sample(s"streaming.$phase.latest_offset_ms", d("latestOffset"))
      run.sample(s"streaming.$phase.query_planning_ms", d("queryPlanning"))
      run.sample(s"streaming.$phase.wal_commit_ms", d("walCommit"))
      run.sample(s"streaming.$phase.add_batch_ms", d("addBatch"))
      run.sample(s"streaming.$phase.commit_offsets_ms", d("commitOffsets"))
      run.sample(s"streaming.$phase.batch_ms", d("triggerExecution"))
      p.stateOperators.headOption.foreach { s =>
        run.sample(s"streaming.$phase.state_update_ms", s.allUpdatesTimeMs.toDouble)
        run.sample(s"streaming.$phase.state_commit_ms", s.commitTimeMs.toDouble)
        run.put(s"streaming.$phase.state_rows", s.numRowsTotal.toDouble)
        run.put(s"streaming.$phase.state_mem_bytes", s.memoryUsedBytes.toDouble)
      }
    }

  private def recount(lines: Iterable[String]): Seq[(String, Long)] = {
    val m = mutable.HashMap.empty[String, Long]
    lines.foreach(_.toLowerCase.split("\\W+").foreach(w => if (w.nonEmpty) m(w) = m.getOrElse(w, 0L) + 1))
    m.toSeq.sortBy { case (w, c) => (-c, w) }.take(TopN)
  }

  private def committedTop(spark: SparkSession, out: String): Seq[(String, Long)] = {
    val ids = ExactlyOnceSink.committed(out)
    if (ids.isEmpty) Seq.empty
    else spark.read.parquet(ExactlyOnceSink.batchDir(out, ids.max)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy { case (w, c) => (-c, w) }
  }

  /** No batch id is credited twice: one committed data dir per
    * committed id, and (for a sink that keeps every batch) the ids
    * are exactly 0..last.
    */
  private def exactlyOnce(run: Run, name: String, out: String, keepsAll: Boolean): Unit = {
    val ids = ExactlyOnceSink.committed(out)
    val dirs = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch=")).toSeq
    val perId = dirs.groupBy(_.stripPrefix("batch=").takeWhile(_ != '~').toLong)
    val dup = ids.filter(id => perId.getOrElse(id, Nil).size != 1)
    val contiguous = !keepsAll || ids == (0L to ids.max).toSet
    run.check(name, ids.nonEmpty && dup.isEmpty && contiguous,
      s"committed=${ids.toSeq.sorted.mkString(",")} dirs=${dirs.sorted.mkString(",")}")
  }

  def run(spark: SparkSession, run: Run, a: Main.Args): Unit = {
    val zipf = new Gen.Zipf(Vocab, Skew, a.seed)
    val r = Gen.rng(a.seed, "wordcount-lines")
    val backlog = Array.fill(DrainChunks)(
      Gen.lines(zipf, r, DrainLines, WordsPerLine._1, WordsPerLine._2))
    val warm = Array.fill(1)(Gen.lines(zipf, r, WarmLines, WordsPerLine._1, WordsPerLine._2))
    val liveR = Gen.rng(a.seed, "wordcount-live")

    // set-up: write the backlog and warm both topologies on a small
    // stream; repeated, each time into fresh directories
    var backlogDir = ""
    for (rep <- 0 until SetupReps) run.setup {
      backlogDir = a.dir(s"setup$rep/backlog")
      backlog.zipWithIndex.foreach { case (ls, i) => writeChunk(backlogDir, i, ls) }
      val wIn = a.dir(s"setup$rep/warm-in")
      warm.zipWithIndex.foreach { case (ls, i) => writeChunk(wIn, i, ls) }
      for (update <- Seq(false, true)) {
        val base = s"setup$rep/warm-${if (update) "update" else "complete"}"
        val spout = WordCountTopology.fileSpout(wIn, RateLimit.files(1))
        val topo =
          if (update) WordCountTopology.updateMode(spout, a.dir(s"$base/out"), a.dir(s"$base/ckpt"), TopN)
          else WordCountTopology.apply(spout, a.dir(s"$base/out"), a.dir(s"$base/ckpt"), TopN)
        val q = topo.run(spark)
        try q.processAllAvailable() finally q.stop()
      }
    }

    val drainOut = a.dir("drain/out"); val drainCkpt = a.dir("drain/ckpt")
    val liveIn = a.dir("live/in"); val liveOut = a.dir("live/out"); val liveCkpt = a.dir("live/ckpt")
    val due = mutable.ArrayBuffer.empty[Long]      // epoch ms each live chunk was due
    val written = mutable.ArrayBuffer.empty[Long]  // epoch ms it landed
    val liveLines = mutable.ArrayBuffer.empty[Array[String]]
    var drainQ: StreamingQuery = null
    var liveQ: StreamingQuery = null

    run.measure {
      // ---- drain
      drainQ = run.span("streaming.drain") {
        val q = WordCountTopology.apply(
          WordCountTopology.fileSpout(backlogDir, RateLimit.files(1)), drainOut, drainCkpt, TopN).run(spark)
        try { q.processAllAvailable(); run.addDriverCpu(run.threadCpuNs(StreamThread)) }
        finally q.stop()
        q
      }

      // ---- live: open-loop generator on its own thread
      val liveMs = (a.seconds * 500).toLong
      liveQ = run.span("streaming.live") {
        val q = WordCountTopology.updateMode(
          WordCountTopology.fileSpout(liveIn), liveOut, liveCkpt, TopN).run(spark)
        val start = System.currentTimeMillis() + LiveEveryMs
        val gen = new Thread(() => {
          var i = 0
          while (i.toLong * LiveEveryMs < liveMs) {
            val d = start + i.toLong * LiveEveryMs
            val wait = d - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            val ls = Gen.lines(zipf, liveR, LiveLines, WordsPerLine._1, WordsPerLine._2)
            writeChunk(liveIn, i, ls)
            due += d; written += System.currentTimeMillis(); liveLines += ls
            i += 1
          }
        }, "perfbench-generator")
        gen.start(); gen.join()
        try { q.processAllAvailable(); run.addDriverCpu(run.threadCpuNs(StreamThread)) }
        finally q.stop()
        q
      }
    }

    // ---- latency, backlog and phases (outside the window)
    val commits = commitTimes(liveQ, liveCkpt)
    due.indices.foreach { i =>
      commits.get(i) match {
        case Some(c) => run.sample("streaming.live_latency_ms", (c - due(i)).toDouble)
        case None => ()
      }
      run.sample("streaming.generator_late_ms", (written(i) - due(i)).toDouble)
    }
    batchEnds(liveQ).foreach { case (_, _, end, _) =>
      val landed = written.count(_ <= end)
      val done = commits.values.count(_ <= end)
      run.sample("streaming.backlog_chunks", (landed - done).toDouble)
    }
    recordPhases(run, "drain", drainQ)
    // sustained drain rate: a chunk per micro-batch, at the median
    // batch's duration (robust to one slow batch)
    val drainBatch = run.samples("streaming.drain.batch_ms").sorted
    run.put("streaming.drain_records_per_s",
      DrainLines * 1000.0 / drainBatch(drainBatch.size / 2))
    recordPhases(run, "live", liveQ)

    // ---- output checks
    run.put("window.ops", (DrainChunks + due.size).toDouble)
    run.put("window.items", DrainChunks.toDouble * DrainLines + due.size.toDouble * LiveLines)
    readOnce(run, "drain.read_once", drainCkpt, DrainChunks)
    readOnce(run, "live.read_once", liveCkpt, due.size)
    run.check("drain.top_n_equals_recount",
      committedTop(spark, drainOut) == recount(backlog.toSeq.flatMap(_.toSeq)),
      s"sink=${committedTop(spark, drainOut)} recount=${recount(backlog.toSeq.flatMap(_.toSeq))}")
    exactlyOnce(run, "drain.exactly_once", drainOut, keepsAll = true)
    run.check("live.top_n_equals_recount",
      committedTop(spark, liveOut) == recount(liveLines.toSeq.flatMap(_.toSeq)),
      s"sink=${committedTop(spark, liveOut)} recount=${recount(liveLines.toSeq.flatMap(_.toSeq))}")
    exactlyOnce(run, "live.exactly_once", liveOut, keepsAll = false)
  }
}

package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run's record: raw samples, values, set-up times,
  * attempted/failed counts, output-check verdicts and (traced runs)
  * spans. Aggregation into percentiles and self times happens in
  * `lib.py`; this side only measures.
  *
  * Times on the span timeline are milliseconds since the run's
  * anchor, so bench spans (System.nanoTime) and listener job spans
  * (epoch ms) share one axis.
  */
final class Run(val traced: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - anchorNs) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - anchorEpochMs).toDouble

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val attempted = new AtomicLong
  val failed = new AtomicLong

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def put(name: String, v: Double): Unit = synchronized { values(name) = v }
  def add(name: String, v: Double): Unit = synchronized {
    values(name) = values.getOrElse(name, 0.0) + v
  }

  // ---- spans ------------------------------------------------------
  // (id, parent, name, start ms, end ms); id 0 is the run's root
  val spans = mutable.ArrayBuffer.empty[(Int, Int, String, Double, Double)]
  private val nextId = new AtomicInteger(1)
  private val current = new ThreadLocal[Integer] { override def initialValue: Integer = 0 }
  @volatile var sc: SparkContext = _
  val SpanProp = "perfbench.span"

  /** Time `body` as a span named `layer.call` when traced; jobs it
    * submits from this thread become its children via a local
    * property the listener reads back.
    */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId.getAndIncrement()
      val parent: Int = current.get()
      val start = nowMs
      current.set(id)
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        current.set(parent)
        if (sc != null) sc.setLocalProperty(SpanProp, parent.toString)
        val end = nowMs
        spans.synchronized { spans += ((id, parent, name, start, end)) }
      }
    }

  /** Whether operations count: off while set-up warms the paths. */
  @volatile var recording = true

  /** One attempted operation: timed (ms sample under `sampleName`),
    * spanned, and counted as failed if it throws. Outside recording
    * it just runs.
    */
  def op[T](sampleName: String, spanName: String)(body: => T): Option[T] =
    if (!recording) Some(body)
    else {
      attempted.incrementAndGet()
      val t = System.nanoTime()
      try {
        val r = span(spanName)(body)
        sample(sampleName, (System.nanoTime() - t) / 1e6)
        Some(r)
      } catch {
        case NonFatal(e) =>
          failed.incrementAndGet()
          if (e.isInstanceOf[java.util.ConcurrentModificationException])
            add("operators.cas_conflicts", 1)
          System.err.println(s"[perfbench] $spanName failed: $e")
          e.printStackTrace()
          None
      }
    }

  /** An output check: counted as an attempted operation, and as a
    * failed one when it does not hold.
    */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] check $name FAILED: $detail")
    }
    checks.synchronized { checks += ((name, ok, if (ok) "" else detail)) }
  }

  /** A failed check inside an operation already counted as attempted. */
  def fail(name: String, detail: String): Unit = {
    failed.incrementAndGet()
    System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks.synchronized { checks += ((name, false, detail)) }
  }

  /** Time one set-up repetition (seconds). */
  def setup[T](body: => T): T = {
    val t = System.nanoTime()
    val r = span("bench.setup")(body)
    setupS += (System.nanoTime() - t) / 1e9
    log(f"set-up ${setupS.size} took ${setupS.last}%.2f s")
    r
  }

  /** Progress line on stderr (the JVM log), stamped with run time. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${nowMs / 1000}%7.2f s  $msg")

  // ---- Spark listener ----------------------------------------------
  /** Counters summed over tasks, collected only while the measured
    * window is open; job spans too when the run is traced.
    */
  final class Listener extends SparkListener with QueryExecutionListener {
    // the window as epoch ms; an event counts if it happened inside
    // it, however late the listener bus delivers it
    @volatile var openAt = Long.MaxValue
    @volatile var closeAt = Long.MaxValue
    private def in(t: Long): Boolean = t >= openAt && t <= closeAt
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Int)]()
    val pendingEnds = new AtomicInteger(0)
    val counters = mutable.LinkedHashMap(
      "jobs" -> 0.0, "stages" -> 0.0, "tasks" -> 0.0, "executor_cpu_ms" -> 0.0,
      "shuffle_read_bytes" -> 0.0, "shuffle_write_bytes" -> 0.0,
      "spill_bytes" -> 0.0, "input_bytes" -> 0.0, "gc_ms" -> 0.0,
      "sql_actions" -> 0.0)
    private def bump(k: String, v: Double): Unit =
      counters.synchronized { counters(k) = counters(k) + v }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (in(e.time)) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(_.toIntOption).getOrElse(0)
      jobStart.put(e.jobId, (epochToMs(e.time), parent))
      pendingEnds.incrementAndGet()
      bump("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) {
        pendingEnds.decrementAndGet()
        if (traced) spans.synchronized {
          spans += ((nextId.getAndIncrement(), s._2, "spark.job", s._1, epochToMs(e.time)))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.completionTime.exists(in)) bump("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && in(e.taskInfo.finishTime)) {
        val m = e.taskMetrics
        counters.synchronized {
          counters("tasks") += 1
          counters("executor_cpu_ms") += m.executorCpuTime / 1e6
          counters("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          counters("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counters("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          counters("input_bytes") += m.inputMetrics.bytesRead
          counters("gc_ms") += m.jvmGCTime
        }
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (in(System.currentTimeMillis())) bump("sql_actions", 1)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (in(System.currentTimeMillis())) bump("sql_actions", 1)

    /** Wait (bounded) until the bus has delivered the end of every
      * job the window started.
      */
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (pendingEnds.get() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      Thread.sleep(200) // trailing task/stage events
    }
  }

  val listener = new Listener

  /** Open the measured window: from here on counters accumulate and
    * the window's own span (the root's only child) is timed.
    */
  def measure[T](body: => T): T = {
    log("window opens")
    listener.openAt = System.currentTimeMillis()
    val cpu0 = threads.getCurrentThreadCpuTime
    try span("bench.window")(body)
    finally {
      addDriverCpu(threads.getCurrentThreadCpuTime - cpu0)
      listener.closeAt = System.currentTimeMillis()
      log("window closed")
      listener.drain()
      put("window.driver_cpu_ms", driverCpuNs.get() / 1e6)
      put("window.executor_cpu_ms", listener.counters("executor_cpu_ms"))
    }
  }

  // Work CPU: the threads that drive the operations (this thread, or
  // a streaming query's execution thread) plus Spark's own per-task
  // executor CPU. JIT, GC and idle background threads stay out.
  val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val driverCpuNs = new AtomicLong
  def addDriverCpu(ns: Long): Unit = driverCpuNs.addAndGet(ns)

  /** CPU so far of the live threads whose name starts with `prefix`. */
  def threadCpuNs(prefix: String): Long =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith(prefix)).map(t => math.max(0L, threads.getThreadCpuTime(t.getId))).sum

  /** Peak resident set of this JVM in MB (Linux /proc), 0 elsewhere. */
  def peakRssMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  } catch { case NonFatal(_) => 0.0 }

  /** Oracle queries for `run.py` to run in DuckDB: name, SQL, the
    * parquet files its table names stand for, and the Spark output it
    * must equal.
    */
  val oracles = mutable.ArrayBuffer.empty[Map[String, Any]]

  def toJson: String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValueAsString(Map(
      "traced" -> traced,
      "attempted" -> attempted.get(),
      "failed" -> failed.get(),
      "setup_s" -> setupS.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap,
      "spark" -> listener.counters.toMap,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "oracles" -> oracles.toSeq,
      "spans" -> spans.map { case (i, p, n, s, e) => Seq(i, p, n, s, e) }.toSeq))
  }
}

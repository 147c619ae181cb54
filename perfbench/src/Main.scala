package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <tmp dir> <record file>`. Runs one workload in this process on a
  * local Spark session and writes the run's record as JSON; `run.py`
  * launches it and turns the record into metrics.
  */
object Main {
  val workloads: Map[String, (SparkSession, Run, Args) => Unit] = Map(
    "wordcount_stream" -> WordcountStream.run,
    "table_churn" -> TableChurn.run,
    "curate_build" -> CurateBuild.run)

  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, tmp: String) {
    def dir(name: String): String = {
      val p = Paths.get(tmp, name)
      Files.createDirectories(p)
      p.toString
    }
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: Main <workload> <seed> <seconds> <trace> <tmp> <record>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4))
    // "all" runs every workload in one session: the build's training
    // run for the class-data archive
    val bodies =
      if (a.workload == "all") workloads.toSeq.sortBy(_._1)
      else Seq(a.workload -> workloads.getOrElse(a.workload,
        sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.mkString(", ")}")))
    // two task slots leave the driver-side threads (planning, commit,
    // stream execution, generator, JIT, GC) a core of their own
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.dir("spark-local"))
      .config("spark.sql.warehouse.dir", a.dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(a.traced)
    run.log(s"session up; ${a.workload} seed ${a.seed}")
    spark.sparkContext.addSparkListener(run.listener)
    if (a.traced) {
      run.sc = spark.sparkContext
      spark.listenerManager.register(run.listener)
    }
    try {
      bodies.foreach { case (name, body) =>
        body(spark, run, if (bodies.size == 1) a else a.copy(tmp = a.dir(name)))
      }
      run.put("jvm.peak_rss_mb", run.peakRssMb)
      Files.write(Paths.get(argv(5)), run.toJson.getBytes("UTF-8"))
      run.log("record written")
    } finally spark.stop()
    // the record is written and the session stopped: skip the JVM's
    // shutdown hooks, which only delete temp trees that run.py removes
    // anyway and take seconds
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }
}

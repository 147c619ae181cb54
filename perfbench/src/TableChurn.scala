package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.operators.MergeTable

/** A single-client closed loop on a seeded keyed MergeTable. Each
  * step is one write — band `merge` (upsert), `append` or
  * `deleteWhere`, in cycles of [[Cycle]] shuffled by the seed, with
  * a `compact` closing each cycle — then three reads: two `scanRange` point
  * lookups (one on a recently appended key) and one `readIndexed`
  * band aggregate. An in-memory model of the op sequence checks every
  * read and the final table.
  */
object TableChurn {
  val BaseRows = 100000
  val BaseFiles = 8
  val KeyStride = 4L          // base keys 0, 4, 8, …: merges insert between them
  val MergeBand = 2000L       // key span of one band upsert
  val AppendRows = 1000
  val DeleteBand = 800L
  val AggBand = 20000L
  /** Writes of one cycle, in a seeded order; a compact ends each cycle. */
  val Cycle = Seq("merge", "merge", "append", "delete")
  val CycleSeconds = 3.3      // nominal length of one cycle on 2 cores
  val SetupReps = 3
  val Key = "k"

  /** The model: key → value, the table's whole content. */
  private final class Model {
    val rows = mutable.HashMap.empty[Long, Long]
    var maxKey = 0L
    def digest: (Long, Long) =
      (rows.size.toLong, rows.iterator.map { case (k, v) => mix(k, v) }.sum)
  }
  def mix(k: Long, v: Long): Long = {
    var h = k * 0x9E3779B97F4A7C15L ^ v
    h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  private def frame(spark: SparkSession, rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (k, v) => (k, v, (k % 97).toInt) }.toDF("k", "v", "g")
  }

  /** A merge change batch: `U` overlays a resident key, `I` inserts a
    * new one — together an upsert.
    */
  private def changes(spark: SparkSession, rows: Seq[(Long, Long)],
                      resident: Long => Boolean): DataFrame = {
    import spark.implicits._
    rows.map { case (k, v) => (k, if (resident(k)) "U" else "I", v, (k % 97).toInt) }
      .toDF("k", "op", "v", "g")
  }

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }

  private def liveFiles(spark: SparkSession, dir: String): Seq[String] =
    MergeTable.manifest(spark, dir).select("path").collect().map(_.getString(0)).toSeq

  private def fileBytes(paths: Seq[String]): Long =
    paths.map(p => new File(java.net.URI.create(p)).length()).sum

  /** The closed loop over one table, with the model it is checked
    * against. Outside the measured window (`run.recording` off) the
    * same cycles warm the op paths up.
    */
  private final class Loop(spark: SparkSession, run: Run, dir: String,
                           base: Seq[(Long, Long)], r: java.util.SplittableRandom) {
    val model = new Model
    base.foreach { case (k, v) => model.rows(k) = v }
    model.maxKey = base.map(_._1).max
    val recent = mutable.ArrayBuffer.empty[Long]
    val lookedUp = mutable.ArrayBuffer.empty[Long]
    var userRows = 0L
    var ops = 0L

    private def lookupCheck(k: Long, got: Array[org.apache.spark.sql.Row]): Unit = {
      val want = model.rows.get(k).toSeq
      if (got.map(_.getAs[Long]("v")).toSeq != want)
        run.fail(s"lookup.$k", s"got ${got.mkString} want $want")
    }

    private def write(kind: String): Unit = kind match {
      case "merge" =>
        // even band starts: every band holds resident keys (multiples
        // of KeyStride) to update and new keys between them to insert
        val lo = r.nextLong((model.maxKey - MergeBand) / 2) * 2
        val rows = (lo until lo + MergeBand by 2).map(k => (k, r.nextLong(1000000L)))
        run.op("operators.merge_ms", "operators.merge") {
          MergeTable.merge(spark, dir, changes(spark, rows, model.rows.contains), Key)
        }.foreach { st =>
          rows.foreach { case (k, v) => model.rows(k) = v }
          userRows += rows.size
          if (run.recording) {
            run.sample("operators.merge_files_touched", st.touched.size)
            run.sample("operators.merge_files_carried", st.untouched.size)
          }
        }
      case "append" =>
        val rows = (1 to AppendRows).map(i => (model.maxKey + i, r.nextLong(1000000L)))
        run.op("operators.append_ms", "operators.append") {
          MergeTable.append(spark, dir, frame(spark, rows), Key)
        }.foreach { _ =>
          rows.foreach { case (k, v) => model.rows(k) = v }
          model.maxKey += AppendRows
          userRows += rows.size
          recent ++= rows.map(_._1)
        }
      case _ =>
        val lo = r.nextLong(model.maxKey - DeleteBand)
        run.op("operators.delete_ms", "operators.deleteWhere") {
          MergeTable.deleteWhere(spark, dir, Key, Key, Some(lo), Some(lo + DeleteBand))
        }.foreach { _ =>
          model.rows.keys.filter(k => k >= lo && k <= lo + DeleteBand).toSeq
            .foreach(model.rows.remove)
        }
    }

    private def reads(): Unit = {
      val keys = Seq(
        if (recent.nonEmpty) recent(r.nextInt(recent.size)) else r.nextLong(model.maxKey),
        r.nextLong(model.maxKey))
      keys.foreach { k =>
        run.op("operators.lookup_ms", "operators.scanRange") {
          MergeTable.scanRange(spark, dir, Key, k, k).select("v").collect()
        }.foreach(lookupCheck(k, _))
        if (run.recording) lookedUp += k
        ops += 1
      }
      val lo = r.nextLong(model.maxKey - AggBand)
      run.op("operators.band_agg_ms", "operators.readIndexed") {
        MergeTable.readIndexed(spark, dir).filter(col(Key).between(lo, lo + AggBand))
          .agg(count(lit(1)), sum("v")).collect()
      }.foreach { got =>
        val in = model.rows.iterator.filter { case (k, _) => k >= lo && k <= lo + AggBand }.toSeq
        val (n, s) = (got(0).getLong(0), if (got(0).isNullAt(1)) 0L else got(0).getLong(1))
        if (n != in.size || s != in.map(_._2).sum)
          run.fail(s"band_agg.$lo", s"got ($n, $s) want (${in.size}, ${in.map(_._2).sum})")
      }
      ops += 1
    }

    /** One cycle: each write of [[Cycle]] in a seeded order followed
      * by three reads, then a compact. A `short` cycle, which set-up
      * runs to warm the paths, writes each kind once and reads once.
      */
    def cycle(short: Boolean = false): Unit = {
      if (short) {
        Cycle.distinct.foreach { kind => write(kind); ops += 1 }
        reads()
      } else shuffled(Cycle, r).foreach { kind =>
        write(kind)
        ops += 1
        reads()
      }
      run.op("operators.compact_ms", "operators.compact") {
        MergeTable.compact(spark, dir, Key, BaseRows / BaseFiles)
      }.foreach { st =>
        if (run.recording)
          run.add("operators.compact_bytes_rewritten", fileBytes(st.touched).toDouble)
      }
      ops += 1
    }
  }

  def run(spark: SparkSession, run: Run, a: Main.Args): Unit = {
    val base: Seq[(Long, Long)] = {
      val r = Gen.rng(a.seed, "table-base")
      (0 until BaseRows).map(i => (i * KeyStride, r.nextLong(1000000L)))
    }

    // set-up: write the base table and run one short cycle on it;
    // repeated, each time into a fresh directory
    var dir = ""
    var loop: Loop = null
    run.recording = false
    for (rep <- 0 until SetupReps) run.setup {
      dir = a.dir(s"table$rep")
      MergeTable.write(spark, frame(spark, base), Key, dir, BaseFiles)
      loop = new Loop(spark, run, dir, base, Gen.rng(a.seed, "table-ops"))
      loop.cycle(short = true)
    }
    run.recording = true
    loop.ops = 0
    loop.userRows = 0
    val bytesAtStart = dirBytes(dir)

    // a fixed number of whole cycles, sized to --seconds, so every run
    // measures the same work whatever the machine's speed
    val cycles = math.max(1, math.round(a.seconds / CycleSeconds).toInt)
    val t0 = System.nanoTime()
    var windowS = 0.0
    run.measure {
      (1 to cycles).foreach(_ => loop.cycle())
      windowS = (System.nanoTime() - t0) / 1e9
    }
    val ops = loop.ops
    val model = loop.model
    val userRows = loop.userRows
    run.put("window.items", ops.toDouble)
    run.put("operators.ops_per_s", ops / windowS)

    // ---- table-level counters and the final-state check
    val live = liveFiles(spark, dir)
    run.put("operators.live_files.end", live.size)
    if (run.traced) {
      // pruning of the window's lookup keys, probed on the final table
      // so the probe stays out of the timed lookups
      val scanned = loop.lookedUp.map(k => MergeTable.scanRange(spark, dir, Key, k, k).inputFiles.length.toDouble)
      scanned.foreach(run.sample("operators.lookup_files_scanned", _))
      run.put("operators.lookup_pruned_share", 1.0 - scanned.sum / scanned.size / live.size)
    }
    val liveBytes = fileBytes(live)
    val userBytes = userRows * 20L // k, v: 8 bytes each; g: 4
    run.put("operators.bytes_written_per_user_byte",
      math.max(0L, dirBytes(dir) - bytesAtStart).toDouble / math.max(1L, userBytes))
    run.put("operators.space_per_live_byte", dirBytes(dir).toDouble / math.max(1L, liveBytes))
    val got = MergeTable.readTable(spark, dir).select("k", "v").collect()
    val gotDigest = (got.length.toLong, got.iterator.map(x => mix(x.getLong(0), x.getLong(1))).sum)
    run.check("final_rows_match_model", gotDigest == model.digest,
      s"table (rows, digest)=$gotDigest model=${model.digest}")
  }
}

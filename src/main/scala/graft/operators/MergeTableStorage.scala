package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The write/read plane: range and z-order writes, recluster (full +
  * partial), manifest stats, time-travel reads, the GraftFileIndex
  * pushdown read and stats-pruned band scans. Implementation
  * partition of [[MergeTable]] — see [[MergeTableLog]]'s header note.
  */
trait MergeTableStorage { this: MergeTable.type =>
  // ---- write / read ----

  /** Materialize `df` as generation 0 of a keyed table: range-written
    * on the key into ≤ `nFiles` files (range, not hash — contiguous
    * per-file key spans are what make min/max pruning selective),
    * stats manifest, marker commit.
    */
  /** Inline null-key guard for the gen-0 write paths: a keyed
    * table's key is row identity — a null key can never be matched
    * by merge/deleteKeys (equality joins skip nulls) and surfaces as
    * a spurious D+I pair in every CDC diff of a rewritten file. The
    * guard rides INSIDE the write scan as an assert_true filter
    * (passes keep every row, a violation throws mid-scan) — a
    * separate validation count would re-scan a 100 TB load.
    */
  private[operators] def requireKeysNotNull(df: DataFrame, keyCol: String): DataFrame =
    df.filter(assert_true(col(keyCol).isNotNull,
      lit(s"keyed-table write: null value in key column '$keyCol' — " +
        "a null key has no row identity (merge/CDC equality never matches it)")).isNull)

  /** Stage `df` into `staging` as ≤ `nFiles` range-partitioned parquet
    * files on `partCols`, evaluating the input subtree ONCE where the
    * range bounds are already known (r22). `repartitionByRange(n > 1,
    * …)` costs TWO evaluations of its input — RangePartitioner
    * samples the child RDD to place the bounds, then the write's
    * shuffle evaluates it again — so every data commit (gen-0 write,
    * merge staging, compaction, DML rewrite) paid its scan/join
    * subtree twice.
    *
    * Three paths:
    *  - `splits` provided (manifest-stats-derived — see
    *    [[statsSplitPoints]]): rows route to their bucket by a plain
    *    comparison chain against the LITERAL split points and shuffle
    *    once through [[SessionBridge.repartitionByBucket]] — NO
    *    sampling pass, one evaluation, one shuffle. Capped at
    *    `spark.graft.explicitRangeBounds.max` (default 128) splits:
    *    the chain is a linear scan per row, so very wide rewrites
    *    keep the sampled plan.
    *  - `nFiles == 1`: RangePartitioner computes no bounds for a
    *    single partition — never evaluated twice to begin with.
    *  - otherwise: the classic sampled `repartitionByRange`. Pinning
    *    the input with a lazy localCheckpoint so the sample reads
    *    blocks was MEASURED SLOWER than the re-evaluation for both
    *    generated and parquet-backed inputs (write 2.59 vs 2.14 s,
    *    merge 3.75 vs 3.14 s at 20M rows), so the input is not pinned.
    */
  private[operators] def stageRangeWrite(df: DataFrame, nFiles: Int,
      partCols: Seq[Column], staging: String,
      dropCols: Seq[String] = Nil,
      splits: Option[IndexedSeq[Any]] = None): Unit = {
    val n = math.max(1, nFiles)
    val cap = df.sparkSession.conf
      .get("spark.graft.explicitRangeBounds.max", "128").toInt
    val spOpt = if (n > 1) splits.filter(sp => sp.nonEmpty && sp.size < cap)
                else None
    spOpt match {
      case Some(sp) =>
        val key = partCols.head
        val bucket = sp.zipWithIndex.foldRight(lit(sp.size)) {
          case ((v, i), acc) => when(key <= lit(v), lit(i)).otherwise(acc)
        }.cast("int")
        val parted = org.apache.spark.sql.graftbridge.SessionBridge
          .repartitionByBucket(df.withColumn("__rb", bucket), "__rb", sp.size + 1)
        (dropCols :+ "__rb").foldLeft(parted)(_ drop _).write.parquet(staging)
      case None =>
        dropCols.foldLeft(df.repartitionByRange(n, partCols: _*))(_ drop _)
          .write.parquet(staging)
    }
  }

  /** Sampling-free range split points for a SUBSET rewrite, derived
    * from the rewritten files' manifest stats (r22): when the file
    * set forms a clean ascending band chain on the key (every file's
    * min/max/n_rows present, files pairwise non-overlapping once
    * sorted by min — the layout every range write here produces), the
    * per-file maxes ARE valid range bounds, so the staged write needs
    * no RangePartitioner sample of its input. `nOut` buckets get
    * approximately equi-depth splits off the per-file row counts
    * (exact file-per-band when nOut == files). Returns None — and the
    * caller keeps the sampled plan — for overlapping layouts
    * (z-ordered rewrites), missing/null stats, or unknown paths;
    * bounds quality only ever affects file SIZES, never results (the
    * new manifest's stats are computed from the written bytes as
    * always).
    *
    * ROW-COUNT GATED (`spark.graft.explicitRangeBounds.maxRows`,
    * default 4M): the bucket shuffle pays an interpreted per-row hop
    * the native codegen'd exchange doesn't, so past a few million
    * rewritten rows the avoided sampling evaluation stops paying for
    * it (measured: merge 1.03 vs 1.26 s at 2M rows — bounds win 18%
    * — but 4.3 vs 3.46 s at 20M — sampled wins).
    * Small frequent band rewrites (the streaming upsert sink's
    * micro-batches, DML against a day's band) are scheduling-bound
    * and skip the sampling job; bulk maintenance rewrites stay on the
    * sampled plan. Σ n_rows is already driver-local, so the gate is
    * free.
    */
  private[operators] def statsSplitPoints(
      s: SparkSession,
      manSchema: org.apache.spark.sql.types.StructType,
      manRows: Seq[org.apache.spark.sql.Row],
      paths: Seq[String], keyCol: String, nOut: Int): Option[IndexedSeq[Any]] = try {
    if (nOut <= 1 || paths.size <= 1) return None // single bucket: no bounds needed
    val pathIdx = manSchema.fieldIndex("path")
    val minIdx = manSchema.fieldNames.indexOf(s"min_$keyCol")
    val maxIdx = manSchema.fieldNames.indexOf(s"max_$keyCol")
    val nIdx = manSchema.fieldNames.indexOf("n_rows")
    if (minIdx < 0 || maxIdx < 0 || nIdx < 0) return None
    val want = paths.toSet
    val rows = manRows.filter(r => want(r.getString(pathIdx)))
    if (rows.size != want.size) return None
    if (rows.exists(r => r.isNullAt(minIdx) || r.isNullAt(maxIdx) || r.isNullAt(nIdx)))
      return None
    def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
    val chain = rows.sortWith((x, y) => cmp(x.get(minIdx), y.get(minIdx)) < 0)
    val banded = chain.zip(chain.tail).forall {
      case (a, b) => cmp(a.get(maxIdx), b.get(minIdx)) < 0 }
    if (!banded) return None
    val total = chain.map(_.getLong(nIdx)).sum
    if (total <= 0L) return None
    val maxRows = s.conf
      .get("spark.graft.explicitRangeBounds.maxRows", "4000000").toLong
    if (total > maxRows) return None
    val n = math.min(nOut, chain.size)
    val splits = IndexedSeq.newBuilder[Any]
    var cum = 0L
    var j = 1
    chain.init.foreach { r =>
      cum += r.getLong(nIdx)
      if (j < n && cum >= (j * total + n - 1) / n) { // ceil(j·total/n)
        splits += r.get(maxIdx)
        j += 1
      }
    }
    val sp = splits.result()
    if (sp.isEmpty) None else Some(sp)
  } catch { case _: ClassCastException => None } // non-Comparable stat type

  def write(s: SparkSession, df: DataFrame, keyCol: String, dir: String,
            nFiles: Int = 16, meta: Map[String, String] = Map.empty): Unit = {
    graft.IndexLifecycle.deleteRecursively(dir)
    val token = newToken()
    stageRangeWrite(requireKeysNotNull(df, keyCol), nFiles, Seq(col(keyCol)),
      dataDirOf(dir, 0, token))
    val (ss, sr) = statsRowsOf(s, dataDirOf(dir, 0, token), keyCol)
    writeManifestParquet(s, manifestDirOf(dir, 0, token), ss, sr)
    commitGen(dir, 0, token,
      Map("op" -> "write") ++ meta + ("schema" -> df.schema.json))
  }

  /** Z-ORDER clustered write: generation 0 laid out on the Morton
    * (bit-interleaved) order of `clusterCols`, so EVERY clustered
    * column gets contiguous-ish per-file spans and [[scanWhere]]
    * prunes on any of them — the reason Delta/Iceberg OPTIMIZE
    * ZORDER exists. A key-range write makes one column perfectly
    * selective and the rest useless; z-order makes d columns each
    * ~file^(1/d) selective, which is the right trade for a 100 TB
    * fact table filtered by (date, customer) or (tenant, time).
    *
    * Each cluster column is normalized to a 16-bit lattice by global
    * min/max (one tiny agg), then bits are spread and interleaved
    * with the classic mask-shift cascade — pure Column arithmetic,
    * codegen'd, no UDF. Ties/skew degrade gracefully: the z-value
    * only DRIVES the range partitioner, correctness never depends on
    * it (stats are computed from the written files as always).
    * Subsequent [[merge]]s stay correct on any layout (pruning reads
    * the key stats), but rewrite files key-ordered — re-cluster with
    * a fresh writeClustered (OPTIMIZE ZORDER's exact lifecycle).
    */
  def writeClustered(s: SparkSession, df: DataFrame, keyCol: String,
                     clusterCols: Seq[String], dir: String,
                     nFiles: Int = 16): Unit = {
    zValueOf(df, clusterCols) match {
      case None => // empty input (or all-null cluster col): nothing to interleave
        write(s, df, keyCol, dir, nFiles)
      case Some(zv) =>
        graft.IndexLifecycle.deleteRecursively(dir)
        val token = newToken()
        stageRangeWrite(requireKeysNotNull(df, keyCol).withColumn("__zv", zv),
          nFiles, Seq(col("__zv")), dataDirOf(dir, 0, token),
          dropCols = Seq("__zv"))
        val (ss, sr) = statsRowsOf(s, dataDirOf(dir, 0, token), keyCol)
        writeManifestParquet(s, manifestDirOf(dir, 0, token), ss, sr)
        commitGen(dir, 0, token, Map("op" -> "cluster",
          "cluster_cols" -> clusterCols.mkString(","),
          "schema" -> df.schema.json))
    }
  }

  /** The Morton (bit-interleaved) order key over `clusterCols`, or
    * None when there is nothing to interleave (empty input / all-null
    * cluster column). One tiny bounds agg; the z-value itself is pure
    * Column arithmetic (codegen'd, zero UDF). Shared by
    * [[writeClustered]] (gen-0 creation) and [[recluster]] (in-place
    * maintenance).
    */
  private def zValueOf(df: DataFrame, clusterCols: Seq[String]): Option[Column] = {
    require(clusterCols.nonEmpty && clusterCols.size <= 3,
      s"z-order wants 1-3 cluster columns, got ${clusterCols.size}")
    clusterCols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order cluster column '$c' must be numeric " +
          "(lattice normalization is min/max arithmetic)")
    }
    val boundExprs = clusterCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(boundExprs.head, boundExprs.tail: _*).head()
    if (bounds.anyNull) None
    else Some(zValueWithBounds(clusterCols,
      clusterCols.indices.map(i =>
        (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1)))))
  }

  /** The Morton interleave against EXPLICIT lattice bounds —
    * [[zValueOf]]'s core, also driven by [[reclusterPartial]] with
    * GLOBAL bounds off the manifest: a partial rewrite must fold its
    * rows into the TABLE's z space (so its output files tile the same
    * lattice the carried files do), not a lattice renormalized to the
    * degraded subset, which would coarsen per-dimension selectivity
    * exactly where the layout was being repaired.
    */
  private def zValueWithBounds(clusterCols: Seq[String],
                               bounds: Seq[(Double, Double)]): Column = {
    // d ≤ 3: 16 lattice bits × d + (d-1) lane offset must stay below
    // bit 63 — a sign-bit z-value would break the range order
    require(clusterCols.nonEmpty && clusterCols.size <= 3,
      s"z-order wants 1-3 cluster columns, got ${clusterCols.size}")
    // 16-bit lattice coordinate per column, then spread bits so each
    // occupies every d-th position (d-way Morton interleave)
    def lattice(c: String, i: Int): Column = {
      val (lo, hi) = bounds(i)
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(((col(c).cast("double") - lit(lo)) / lit(span) * 65535.0)
        .cast("long"), lit(0L)), lit(65535L))
    }
    val d = clusterCols.size
    def spread(x0: Column): Column =
      if (d == 1) x0
      else {
        // mask-shift cascade generalized to stride d: after step for
        // shift s (8,4,2,1), bit b sits at position b*d (for d<=3,
        // 16 source bits + lane offset stay below the sign bit)
        Seq(8, 4, 2, 1).foldLeft(x0) { (x, sft) =>
          val spreadX = x.bitwiseOR(shiftleft(x, sft * (d - 1)))
          // keep a bit only where a source bit belongs after this pass
          val mask = (0 until 16).map { b =>
            val pos = (b / sft) * sft * d + (b % sft)
            1L << pos
          }.foldLeft(0L)(_ | _)
          spreadX.bitwiseAND(lit(mask))
        }
      }
    clusterCols.zipWithIndex.map { case (c, i) =>
      shiftleft(spread(lattice(c, i)), i)
    }.reduce(_ bitwiseOR _)
  }

  /** OPTIMIZE ZORDER in place (Delta's maintenance shape): rewrite
    * every live file laid out on the Morton order of `clusterCols`,
    * committed as a NEW generation under the same OCC link.
    * [[writeClustered]] is the gen-0 creation path; this is what runs
    * in the maintenance window after merges/updates have strewn
    * key-ordered band files across the z layout. Rows are logically
    * identical, so the CDC feed across a recluster nets to ZERO
    * changes even though every physical file is replaced — layout, like
    * compaction, must be invisible to readers and tailers. Cost ∝ the
    * table (it IS a full rewrite); the payoff is every subsequent
    * scanWhere/readIndexed band on any clustered dimension. Time
    * travel to pre-recluster generations keeps working until vacuum.
    */
  def recluster(s: SparkSession, dir: String, keyCol: String,
                clusterCols: Seq[String], nFiles: Int = 16): MergeStats = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val next = prevGen + 1
    val token = newToken()
    val df = readTable(s, dir, asOf = Some(prevGen))
    val prevPaths = livePathsAt(s, dir, prevGen) // memoized (r21)
    val staging = dataDirOf(dir, next, token)
    zValueOf(df, clusterCols) match {
      case Some(zv) =>
        stageRangeWrite(df.withColumn("__zv", zv), nFiles, Seq(col("__zv")),
          staging, dropCols = Seq("__zv"))
      case None => // degenerate input: fall back to key order
        stageRangeWrite(df, nFiles, Seq(col(keyCol)), staging)
    }
    val newStats =
      if (hasParquetFiles(staging)) statsRowsOf(s, staging, keyCol)
      else (manifestRowsAt(s, dir, prevGen)._1,
        IndexedSeq.empty[org.apache.spark.sql.Row])
    writeManifestParquet(s, manifestDirOf(dir, next, token),
      newStats._1, newStats._2)
    try commitGen(dir, next, token, Map("op" -> "cluster",
      "cluster_cols" -> clusterCols.mkString(",")) ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token))
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    MergeStats(next, prevPaths, Nil) // everything rewrote, nothing carried
  }

  /** Partial OPTIMIZE ZORDER — the real maintenance cadence at
    * 100 TB: rewrite ONLY the files that DEGRADED the z layout since
    * the last clustering commit (merge/update/compact outputs land
    * key-ordered, not z-ordered), folding them back into the Morton
    * order while every still-clustered file carries to the new
    * manifest BY REFERENCE, bytes untouched. Cost ∝ the degradation,
    * never the table — a day's merge against a year's fact table
    * re-optimizes the day. [[recluster]] stays the full-rewrite path
    * (first-ever clustering, or a deliberate global re-sort).
    *
    * The baseline is the newest commit tagged `op=cluster` (write-
    * clustered gen 0, a full recluster, or a previous partial):
    * degraded = live files NOT in that commit's manifest. With no
    * cluster commit in the history (or its manifest vacuumed) every
    * live file is degraded and this degenerates to [[recluster]]'s
    * full rewrite — correct, just not partial. The rewrite's z-values
    * normalize over the GLOBAL manifest min/max bounds (a driver-side
    * file-count-sized agg — see `globalBounds` below), so the folded
    * files tile the TABLE's z space, not a lattice renormalized to
    * the degraded subset; only when a cluster column's manifest stats
    * are missing or non-castable does it fall back to the subset's
    * own bounds, which costs selectivity, never correctness (per-file
    * stats are computed from the written bytes as always, so
    * admission never depends on the lattice). The commit is tagged
    * `op=cluster`, so the NEXT partial recluster treats this
    * generation as its baseline. Content is logically identical —
    * CDC across the commit nets to zero — and a no-op (nothing
    * degraded) does not advance the generation.
    */
  def reclusterPartial(s: SparkSession, dir: String, keyCol: String,
                       clusterCols: Seq[String], nFiles: Int = 0): MergeStats = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    // same validation as the full paths (zValueOf) — the manifest-
    // bounds shortcut below must not silently accept a string column
    // whose stats happen to cast (null z-values, degenerate layout)
    require(clusterCols.nonEmpty && clusterCols.size <= 3,
      s"z-order wants 1-3 cluster columns, got ${clusterCols.size}")
    schemaAt(dir, prevGen).foreach(sch => clusterCols.foreach { c =>
      require(sch.fields.find(_.name.equalsIgnoreCase(c))
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]),
        s"z-order cluster column '$c' must be numeric " +
          "(lattice normalization is min/max arithmetic)")
    })
    // one driver-side manifest collect (r21): the path list, the
    // global lattice bounds and the carried-rows manifest write below
    // all run off the local rows instead of three parquet jobs
    val (manSchema, manRows) = manifestRowsAt(s, dir, prevGen)
    val man0 = s.createDataFrame(manRows.asJava, manSchema)
    val pathIdx = manSchema.fieldIndex("path")
    val livePaths = manRows.map(_.getString(pathIdx))
    // the baseline must be a cluster commit on the SAME columns:
    // carrying files tiled in a DIFFERENT z-space as "still
    // clustered" would report the layout repaired while the carried
    // majority prunes nothing on the requested dimensions — a
    // mismatched history instead degrades to the full rewrite. A
    // legacy cluster commit with NO cluster_cols tag is treated the
    // same way (non-matching): its columns are unknown, and assuming
    // they match ANY request is exactly the silent-selectivity-loss
    // this check exists to prevent.
    val wanted = clusterCols.mkString(",")
    // baseline resolution is FLAT in generation count (r20): walk only
    // the short tail above the last commit-log checkpoint, then read
    // the checkpoint's newest-cluster rollup — the unbounded walk paid
    // O(total commits) of marker reads on the streaming-sink tables
    // the checkpoint layer exists for. A matching baseline hidden
    // BELOW a newer non-matching cluster commit that itself predates
    // the checkpoint is missed → degenerates to the full rewrite
    // (correct, just not partial — the documented no-baseline posture).
    val ckptFloor = lastCheckpointGen(dir)
    val floor = ckptFloor.map(_ + 1).getOrElse(0)
    val baselineGen: Option[Int] =
      (prevGen to math.max(0, floor) by -1).find { g =>
        val m = metaAt(dir, g)
        m.get("op").contains("cluster") &&
          m.get("cluster_cols").contains(wanted)
      }.orElse(ckptFloor.flatMap(g => checkpointClusterOf(dir, g)
        .collect { case (cg, cols) if cols == wanted => cg }))
    val baseline: Set[String] =
      baselineGen.flatMap { g =>
        // vacuumed baseline: full rewrite (memoized driver-side read)
        scala.util.Try(livePathsAt(s, dir, g).toSet).toOption
      }.getOrElse(Set.empty)
    val degraded = livePaths.filterNot(baseline.contains)
    val carried = livePaths.filter(baseline.contains)
    if (degraded.isEmpty)
      return MergeStats(prevGen, Nil, carried) // layout already optimal
    val next = prevGen + 1
    val token = newToken()
    val staging = dataDirOf(dir, next, token)
    val df = readVisible(s, dir, prevGen, degraded)
    val outFiles = if (nFiles > 0) nFiles else math.max(1, degraded.size)
    // GLOBAL lattice bounds off the manifest stats (driver-side,
    // file-count-sized, zero data scan): the rewrite must tile the
    // TABLE's z space, not a lattice renormalized to the degraded
    // subset — see zValueWithBounds. Missing/null stats (or a
    // non-double-castable stat type) fall back to subset bounds,
    // which only costs selectivity, never correctness.
    val globalBounds: Option[Seq[(Double, Double)]] =
      if (!clusterCols.forall(c => man0.columns.contains(s"min_$c"))) None
      else {
        val aggs = clusterCols.flatMap(c => Seq(
          min(col(s"min_$c").cast("double")), max(col(s"max_$c").cast("double"))))
        val r = man0.agg(aggs.head, aggs.tail: _*).head()
        if (r.anyNull) None
        else Some(clusterCols.indices.map(i =>
          (r.getDouble(2 * i), r.getDouble(2 * i + 1))))
      }
    val zv = globalBounds
      .map(b => zValueWithBounds(clusterCols, b))
      .orElse(zValueOf(df, clusterCols))
    zv match {
      case Some(z) =>
        stageRangeWrite(df.withColumn("__zv", z), outFiles, Seq(col("__zv")),
          staging, dropCols = Seq("__zv"))
      case None => // degenerate fold set: key order
        stageRangeWrite(df, outFiles, Seq(col(keyCol)), staging)
    }
    val newStats =
      if (hasParquetFiles(staging)) statsRowsOf(s, staging, keyCol)
      else (manSchema, IndexedSeq.empty[org.apache.spark.sql.Row])
    val carriedSet = carried.toSet
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      (manSchema, manRows.filter(r => carriedSet(r.getString(pathIdx)))),
      newStats)
    val dvMeta = dvMetaForCommit(s, dir, prevGen, next, token, degraded)
    try commitGen(dir, next, token, Map("op" -> "cluster",
      "cluster_cols" -> wanted,
      "partial" -> degraded.size.toString) ++ dvMeta ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token), s"$dir/${dvNameOf(next, token)}")
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    MergeStats(next, degraded, carried)
  }

  def manifest(s: SparkSession, dir: String): DataFrame = {
    val g = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    manifestAt(s, dir, g)
  }

  /** A specific generation's manifest. Valid for any `gen` ≤ the
    * committed one whose manifest a vacuum hasn't dropped — an
    * UNcommitted `manifest-g<next>` left by a crashed merge is never
    * readable through here, readers can't see past the marker.
    */
  def manifestAt(s: SparkSession, dir: String, gen: Int): DataFrame = {
    s.read.parquet(manifestDirChecked(s, dir, gen))
  }

  /** manifestAt's resolution + canonical diagnostics, factored so the
    * driver-side row reader (r21) raises the exact same errors.
    */
  private def manifestDirChecked(s: SparkSession, dir: String, gen: Int): String = {
    val committed = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    require(gen <= committed,
      s"generation $gen not committed yet (table is at $committed)")
    val token = metaAt(dir, gen).getOrElse("token",
      sys.error(s"commit-log entry for generation $gen lacks a token"))
    val mdir = manifestDirOf(dir, gen, token)
    require(java.nio.file.Files.exists(java.nio.file.Path.of(mdir)),
      s"generation $gen unavailable: its manifest was vacuumed")
    mdir
  }

  /** The manifest's collected rows — DRIVER-SIDE parquet read when
    * provable (zero Spark jobs; see [[ManifestReader]]), the Spark
    * read otherwise. The manifest is file-count-sized by design, the
    * same driver bound every `.collect()` call site here already
    * assumed; this just stops paying a scheduled job per resolution.
    */
  private[operators] def manifestRowsAt(s: SparkSession, dir: String, gen: Int)
      : (org.apache.spark.sql.types.StructType,
         IndexedSeq[org.apache.spark.sql.Row]) = {
    val mdir = manifestDirChecked(s, dir, gen)
    ManifestReader.readRows(s, mdir).getOrElse {
      val df = s.read.parquet(mdir)
      (df.schema, df.collect().toIndexedSeq)
    }
  }

  /** [[manifestRowsAt]] re-entered as a LOCAL relation — the shape the
    * commit paths filter/union into the next generation's manifest
    * without ever re-reading manifest parquet inside a write job.
    */
  private[operators] def manifestLocalAt(s: SparkSession, dir: String, gen: Int): DataFrame = {
    val (schema, rows) = manifestRowsAt(s, dir, gen)
    s.createDataFrame(rows.asJava, schema)
  }

  /** Manifest PATH memo for [[readTable]]'s hot resolution: the
    * (dir, gen, token) triple names an IMMUTABLE artifact — a
    * manifest dir is written once before its commit wins the CAS and
    * never mutated after — so the collected path list can be reused
    * across reads without a staleness protocol. Every read still
    * resolves the LIVE generation (committedGen + metaAt, driver-side
    * stat/read calls, no Spark job), so a new commit misses the memo
    * by key and a re-created table (write() → fresh gen-0 TOKEN)
    * can't alias a stale entry; what a warm read skips is the
    * manifest's parquet JOB — the fixed ~0.1–0.3 s per probe the r19
    * bench priced on the governed LSH path (dd14/dd11p). A memo hit
    * re-checks the manifest dir still exists so a vacuumed
    * time-travel read fails as loudly warm as cold. Bounded: cleared
    * wholesale past 512 entries (each is a file-count-sized path
    * list; tables churn generations, correctness never depends on
    * retention).
    */
  private val manifestPathMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String), IndexedSeq[String]]()

  private[operators] def livePathsAt(s: SparkSession, dir: String,
                                     gen: Int): IndexedSeq[String] = {
    if (manifestPathMemo.size > 512) manifestPathMemo.clear()
    // manifestRowsAt raises the canonical uncommitted/vacuumed
    // diagnostics; a memo miss is a driver-side footer+row read, not
    // a Spark job (r21)
    def fresh(): IndexedSeq[String] = {
      val (schema, rows) = manifestRowsAt(s, dir, gen)
      val i = schema.fieldIndex("path")
      rows.map(_.getString(i))
    }
    metaAt(dir, gen).get("token") match {
      case Some(token) =>
        val key = (dir, gen, token)
        val hit = manifestPathMemo.get(key)
        if (hit != null && java.nio.file.Files.exists(
            java.nio.file.Path.of(manifestDirOf(dir, gen, token)))) hit
        else {
          val paths = fresh()
          manifestPathMemo.put(key, paths)
          paths
        }
      case None =>
        // no commit-log entry: NOT a committed generation (an asOf
        // past the head, or a crashed writer's orphan dirs) — never
        // memoized, so the canonical error stays loud on every call
        fresh()
    }
  }

  /** The table's rows: exactly the files the committed manifest
    * references (which may span generations). `asOf` time-travels to
    * an earlier committed generation — available until a vacuum drops
    * the non-current manifests (Delta/Iceberg's exact trade).
    */
  def readTable(s: SparkSession, dir: String, asOf: Option[Int] = None): DataFrame = {
    val gen = asOf.getOrElse(committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)")))
    val paths = livePathsAt(s, dir, gen)
    if (paths.isEmpty) { // fully-deleted table: empty frame, log schema
      val sch = schemaAt(dir, gen).getOrElse(sys.error(
        s"$dir generation $gen is empty and its commit-log entry has no schema"))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
    // log-recorded schema (no footer pass); a manifest may span
    // generations with evolved schemas — pre-evolution files surface
    // the newer columns as null under the explicit read schema.
    // Deletion-vector rows hide here; only vectored files pay the
    // anti-join (see readVisible), none on a vector-free table.
    readVisible(s, dir, gen, paths.toIndexedSeq)
  }

  /** The table through [[GraftFileIndex]]: Catalyst pushes the
    * query's own filters into the file listing, so ANY predicate over
    * statted columns prunes files at plan time — no explicit
    * scanWhere call, `.filter` just works, and `.explain` shows the
    * scan's file count shrink. This is the integration Delta/Iceberg
    * ride (FileSourceScanExec hands dataFilters to
    * FileIndex.listFiles); [[readTable]] stays the dependency-free
    * multi-path read, [[scanWhere]] the explicit manifest consult.
    * Index construction is driver-side and file-count-sized: one
    * getFileStatus per live file plus the already-collected manifest.
    */
  def readIndexed(s: SparkSession, dir: String, asOf: Option[Int] = None): DataFrame = {
    // ONE generation for the whole read: the manifest, the log schema
    // and the deletion-vector state below must come from the same
    // commit — resolving the head more than once could straddle a
    // concurrent commit and pair G's file list with G+1's vector
    // state (resurrecting dv-hidden rows) or schema
    val gen = asOf.getOrElse(committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)")))
    val (manSchema, rows) = manifestRowsAt(s, dir, gen)
    if (rows.isEmpty) return readTable(s, dir, Some(gen))
    val manCols = manSchema.fieldNames
    val statCols = manCols.filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
    // non-null counts feed the index's IsNull/IsNotNull proofs; a
    // manifest row predating them (pre-nn writer, or unioned across an
    // evolution with allowMissingColumns) surfaces nulls — dropped
    // here, so those files admit null checks rather than mis-prove
    val nnCols = manCols.filter(_.startsWith("nn_")).map(_.stripPrefix("nn_")).toSeq
    val hasNRows = manCols.contains("n_rows")
    val hconf = s.sparkContext.hadoopConfiguration
    val entries = rows.map { r =>
      val p = new org.apache.hadoop.fs.Path(java.net.URI.create(r.getAs[String]("path")))
      val bounds = statCols.map(c =>
        c -> ((r.getAs[Any](s"min_$c"), r.getAs[Any](s"max_$c")))).toMap
      val nRows =
        if (hasNRows) Option(r.getAs[Any]("n_rows")).map(_.asInstanceOf[Long])
        else None
      val nn = nnCols.flatMap(c => Option(r.getAs[Any](s"nn_$c"))
        .map(v => c -> v.asInstanceOf[Long])).toMap
      GraftFileIndex.Entry(p.getFileSystem(hconf).getFileStatus(p),
        GraftFileIndex.FileStats(bounds, nRows, nn))
    }
    val dataSchema = schemaAt(dir, gen).getOrElse { // pre-schema-log fallback
      val paths = rows.map(_.getAs[String]("path")).toIndexedSeq
      s.read.option("mergeSchema", "true").parquet(paths: _*).schema
    }
    def planOf(es: IndexedSeq[GraftFileIndex.Entry]): DataFrame = {
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new GraftFileIndex(es),
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(s)
      org.apache.spark.sql.graftbridge.SessionBridge.ofPlan(s,
        org.apache.spark.sql.execution.datasources.LogicalRelation(relation))
    }
    // deletion-vector rows hide here too, with readVisible's split:
    // clean files keep the raw stat-pruned relation (zero tax), only
    // vectored files ride the anti-join (`_metadata` resolves through
    // HadoopFsRelation like any file source); both halves stay behind
    // GraftFileIndex, so Catalyst still prunes each by the query's
    // own filters
    dvFrameAt(s, dir, gen) match {
      case None => planOf(entries)
      case Some(dv) =>
        val dirtyNorm = dv.select("path").distinct().collect()
          .map(r => normPath(r.getString(0))).toSet
        val (dirty, clean) = entries.partition(e =>
          dirtyNorm.contains(normPath(e.status.getPath.toString)))
        if (dirty.isEmpty) planOf(entries)
        else if (clean.isEmpty) dvAntiJoin(planOf(dirty), dv)
        else planOf(clean).unionByName(dvAntiJoin(planOf(dirty), dv))
    }
  }

  /** Data-skipping scan: a range read over ANY statted column that
    * consults the manifest FIRST and opens only files whose
    * [min_c, max_c] intersects [lo, hi] — the table-layer half of
    * predicate pushdown. Parquet row-group stats prune WITHIN a file
    * the engine already opened; this prunes at the FILE list, so a
    * 100 TB table's footer reads and scheduling cost scale with the
    * band, not the table. The residual filter still applies (manifest
    * ranges admit whole files), so results are exact.
    *
    * Pruning is sound under missing stats: a manifest entry whose
    * stats for `colName` are null (a pre-evolution file carried
    * across the evolution that introduced the column, or a column the
    * writer doesn't stat) is INCLUDED, never skipped. Selectivity on
    * a non-key column depends on the physical clustering —
    * range-written tables cluster only the key; [[writeClustered]]'s
    * z-order makes multiple columns selective at once.
    */
  def scanWhere(s: SparkSession, dir: String, colName: String,
                lo: Any, hi: Any): DataFrame = {
    // one generation for manifest + read (see readIndexed's note);
    // the manifest consult is a driver-side read + local filter (r21)
    val gen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val man = manifestLocalAt(s, dir, gen)
    val (minC, maxC) = (s"min_$colName", s"max_$colName")
    val admit =
      if (!man.columns.contains(minC)) lit(true) // unstatted: no pruning
      else (col(maxC).isNull || col(maxC) >= lit(lo)) &&
        (col(minC).isNull || col(minC) <= lit(hi))
    val paths = man.filter(admit)
      .select("path").collect().map(_.getString(0)).toIndexedSeq
    if (paths.nonEmpty)
      readVisible(s, dir, gen, paths)
        .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
    else emptyBandResult(s, dir, gen, man)
  }

  /** A band that misses every file (or a fully-deleted table): an
    * EMPTY result typed by a live file's schema, or by the log schema
    * when no file is live — readTable's posture; a retention job that
    * banded-deletes a table to empty must not crash its downstream
    * band scans.
    */
  private def emptyBandResult(s: SparkSession, dir: String, gen: Int,
                              man: DataFrame): DataFrame = {
    val any = man.select("path").limit(1).collect()
    if (any.nonEmpty)
      readerFor(s, dir, gen).parquet(any.head.getString(0)).limit(0)
    else {
      val sch = schemaAt(dir, gen).getOrElse(sys.error(
        s"$dir generation $gen is empty and its commit-log entry has no schema"))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
  }

  /** Key-band scan — [[scanWhere]] on the table's merge key. */
  def scanRange(s: SparkSession, dir: String, keyCol: String,
                lo: Any, hi: Any): DataFrame =
    scanWhere(s, dir, keyCol, lo, hi)

  /** Null-check scan: `WHERE c IS NULL` (`wantNull = true`) or
    * `WHERE c IS NOT NULL` — the quarantine-sweep / pre-evolution-
    * backfill audit shapes — pruned at the FILE list by the
    * manifest's non-null counts: `nn_c == n_rows` proves a file
    * null-free (IS NULL skips it), `nn_c == 0` proves it value-free
    * (IS NOT NULL skips it) — the same proofs [[readIndexed]] pushes
    * through GraftFileIndex, exposed as the explicit manifest
    * consult. Missing counts admit, the residual filter stays.
    */
  def scanWhereNull(s: SparkSession, dir: String, colName: String,
                    wantNull: Boolean): DataFrame = {
    // one generation for manifest + read (see readIndexed's note)
    val gen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val man = manifestLocalAt(s, dir, gen)
    val nnC = s"nn_$colName"
    val admit =
      if (!man.columns.contains(nnC) || !man.columns.contains("n_rows")) lit(true)
      else if (wantNull)
        col(nnC).isNull || col("n_rows").isNull || col(nnC) < col("n_rows")
      else col(nnC).isNull || col(nnC) > 0
    val paths = man.filter(admit)
      .select("path").collect().map(_.getString(0)).toIndexedSeq
    val residual = if (wantNull) col(colName).isNull else col(colName).isNotNull
    if (paths.nonEmpty) readVisible(s, dir, gen, paths).filter(residual)
    else emptyBandResult(s, dir, gen, man)
  }

  /** Incremental-consumer cursor over the commit log: everything that
    * changed since the consumer's `lastSeenGen`, or None when up to
    * date. The consumer loop a downstream index / feature store /
    * replica runs is three lines:
    * {{{
    *   var cur = 0
    *   MergeTable.pollChanges(s, dir, cur, "k").foreach { case (g, delta) =>
    *     applyDelta(delta); cur = g }
    * }}}
    * The delta is [[changesBetween]]'s NET logical diff (time ∝ files
    * rewritten in the span, never the table), and the generation
    * number is the exactly-once watermark: persist `cur` beside the
    * applied state and replay is idempotent. Polling the log is one
    * pointer read plus a short tail probe (see the checkpointing
    * section) — no Spark job, no listing, when nothing changed.
    */
  /** The change feed as a Structured Streaming source (see
    * [[graft.sources.CdcSourceProvider]]): each committed generation
    * becomes a checkpointed micro-batch of net logical changes.
    * `startGen = -1` requests snapshot-then-follow (first batch =
    * whole table as inserts). [[pollChanges]] is the pull API for
    * driver loops; this is the push API for `readStream` topologies.
    */
}

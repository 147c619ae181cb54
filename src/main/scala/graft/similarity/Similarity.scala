package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.3 approximate-nearest-neighbor search over the `embeddings`
  * table (`Array[Float]`, 64-dim).
  *
  * ann01 is the exact brute-force baseline (oracle-checkable).
  *
  * ann02 is the IVF scale path, structured build-once/probe-many the
  * way a production ANN index is:
  *
  *  - [[buildIvfIndex]] trains k-means centroids on a deterministic
  *    hash SAMPLE of the corpus, assigns every vector to its nearest
  *    cell with the codegen'd [[graft.functions.NearestCells]]
  *    expression — a narrow map over the scan (no join, no window, no
  *    shuffle; the centroid matrix rides into generated code as a
  *    reference object, exactly how Spark MLlib ships centers) — and
  *    persists the index as a cell-segmented parquet layout published
  *    through a CAS-committed generation manifest (r18;
  *    [[graft.operators.IndexManifest]]) plus a tiny centroid table.
  *  - [[probeIvf]] routes each query to its nProbe nearest cells with
  *    the same expression and reads ONLY those cells' live files
  *    (pruned at the MANIFEST, before Spark lists anything), so
  *    probe IO is ~nProbe/nCells of the corpus. Build once, probe
  *    many — the probe never retrains or reassigns anything.
  *
  * Per-iteration training cost: one partial-aggregated mean reduction
  * over the SAMPLE plus a k×dim driver collect (centroids are
  * driver-sized by definition). Assignment cost: one codegen'd pass.
  * Nothing here is an n×k shuffle, a window over crossed rows, or a
  * per-call rebuild — the three scale failures of the r2 design.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private def r4(c: Column) = round(c * 10000) / 10000
  private def r6(c: Column) = round(c * 1000000) / 1000000

  /** Cosine = graft_dot(va, vb) / (na * nb): a codegen'd sequential
    * double loop with norms precomputed per vector — bit-identical to
    * the DuckDB oracle's list_inner_product over DOUBLE[].
    */
  private def cosine = graft.functions.GraftFunctions.dot("va", "vb") /
    (col("na") * col("nb"))

  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("nrm", graft.functions.GraftFunctions.l2norm("v"))

  /** The benchmark query set: vec_id < 10, shaped (q_id, va, na). */
  private def queriesOf(s: SparkSession, d: String): DataFrame =
    vecs(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("va"), col("nrm").as("na"))

  // --- ann01: exact brute-force cosine top-k (k=5, queries = vec_id < 10) ---
  val ann01_brute_topk: Q = (s, d) => {
    val e = vecs(s, d)
    val q = queriesOf(s, d)
    val c = e.select(col("vec_id").as("n_id"), col("v").as("vb"), col("nrm").as("nb"))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), r4(col("cos")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  // --- ann03: the same exact top-k, with the per-query selection as
  // the bounded-heap aggregate (q43's graft_topk monoid — the
  // reference topNBolt, WordCountSample.hs:118-216 — applied to ANN).
  // ann01's window formulation shuffles and sorts ALL n×q scored rows
  // to rank them; here each map task reduces its slice to ≤ k pairs
  // per query BEFORE the exchange (ObjectHashAggregate partial agg),
  // so the shuffle carries O(queries × k × tasks) rows regardless of
  // corpus size — at 100 TB the window plan moves the whole scored
  // cross-product, this one moves kilobytes. Same total order
  // (cos desc, n_id asc), same oracle as ann01.
  val ann03_topk_agg: Q = (s, d) => {
    val e = vecs(s, d)
    val q = queriesOf(s, d)
    val c = e.select(col("vec_id").as("n_id"), col("v").as("vb"), col("nrm").as("nb"))
    q.join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("cos", "n_id", 5).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("n_id"), r4(col("p.score")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  // --- ann07: exact cosine RANGE search — every neighbor with
  // cosine ≥ τ, the retrieval dual of ann01's top-k (threshold
  // semantics instead of rank semantics: RAG recall sets, "everything
  // this similar" policy pulls, radius joins). Physically SIMPLER
  // than top-k at scale: the scored stream needs no selection state
  // at all — one broadcast-query join, one codegen'd cosine, one
  // pushed filter; output volume ∝ matches, shuffle only for the
  // final presentation sort. The threshold compares the same
  // r6-rounded value the oracle rounds to, so the cut is
  // engine-stable at the boundary; NaN cosines (a zero-norm vector)
  // are excluded explicitly — this family's documented posture —
  // rather than riding Spark's NaN-sorts-greatest comparison rule.
  val ann07_range_search: Q = (s, d) => rangeSearchExact(s, d, 0.30)

  private[graft] def rangeSearchExact(s: SparkSession, d: String,
                                      tau: Double): DataFrame = {
    val q = queriesOf(s, d)
    val c = vecs(s, d).select(col("vec_id").as("n_id"), col("v").as("vb"),
      col("nrm").as("nb"))
    q.join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= tau)
      .select(col("q_id"), col("n_id"), r4(col("cos")).as("cos_r"))
      .orderBy("q_id", "n_id")
  }

  /** Lloyd's k-means centroids, trained on a deterministic hash
    * sample (`pmod(xxhash64(vec_id), sampleMod) = 0` — reproducible,
    * no RNG) and returned NORMALIZED, so nearest-by-dot ≡
    * nearest-by-cosine. Init seeds the k centroids from k ACTUAL
    * sample points (lowest vec_id hash — deterministic pseudo-random
    * picks); partition-mean init collapses toward the global mean and
    * degenerates on small samples. Each iteration is one codegen'd
    * reassignment pass + one map-side-combinable mean reduction over
    * the sample + one k×dim collect. A cell that loses all members
    * keeps its previous centroid.
    */
  def trainCentroids(e: DataFrame, k: Int, iters: Int, sampleMod: Int): Array[Array[Double]] = {
    val sample = if (sampleMod > 1)
      e.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    else e
    val init = sample.select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id"))).limit(k)
      .collect().map(r => normalized(r.getSeq[Double](1).toArray))
    require(init.nonEmpty,
      s"k-means training sample is empty (sampleMod=$sampleMod too coarse for this corpus)")
    var cents = Array.tabulate(k)(i =>
      if (i < init.length) init(i) else new Array[Double](init.head.length))
    for (_ <- 1 to iters)
      cents = collectCentroids(assignCells(sample, cents), k, cents)
    cents
  }

  private def collectCentroids(assigned: DataFrame, k: Int,
                               prev: Array[Array[Double]]): Array[Array[Double]] = {
    val rows = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg("x").as("m"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("i"), col("m")))).as("ps"))
      .select(col("cell"), expr("transform(ps, p -> p.m)").as("vb"))
      .collect()
    val out = new Array[Array[Double]](k)
    rows.foreach(r => out(r.getInt(0)) = normalized(r.getSeq[Double](1).toArray))
    val dim = rows.headOption.map(_.getSeq[Double](1).size).getOrElse(0)
    for (c <- 0 until k if out(c) == null)
      out(c) = if (prev != null) prev(c) else new Array[Double](dim)
    out
  }

  private def normalized(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  // --- the vector layout and its generation manifest -----------------
  //
  // Data files live under `indexDir/vectors/` in writer-private
  // tokened SEGMENT dirs (`seg-<token>/pcell=<cell>/part-*.parquet`),
  // and the set of LIVE files is published atomically through
  // [[graft.operators.IndexManifest]] (`indexDir/_gens/g<N>`,
  // CAS-committed via the CommitStore) — the same write-once +
  // pointer-flip publication MergeTable, the sinks and the shard
  // writer ride. What this buys over the pre-r18 "append straight
  // into cell dirs + quiesced maintenance" layout:
  //
  //  - concurrent appends never share a Spark output dir (each writes
  //    its own seg), so two ingest writers can't cross-commit each
  //    other's `_temporary` task attempts;
  //  - a crashed append or maintenance pass is INVISIBLE — staged
  //    bytes are never referenced until the manifest CAS lands;
  //  - compaction/vacuum swap their inputs for their outputs in ONE
  //    CAS, and a pass whose inputs were already rewritten by a
  //    concurrent pass ABORTS and restages instead of resurrecting
  //    superseded rows;
  //  - readers resolve a manifest and read exactly its files — no
  //    directory listing on the probe path at all (the object-store
  //    posture). Readers of a SUPERSEDED head race only the physical
  //    delete of its files; note the frozen file list lives in the
  //    returned DataFrame's plan, so the window spans the LIFE of
  //    that frame (consume probe results promptly; re-executing one
  //    after a maintenance commit may read retired files). File
  //    retention beyond that is [[graft.operators.MergeTable]]'s
  //    layer, deliberately not duplicated here.
  //
  // Cell pruning moves from Hive-style partition discovery to the
  // MANIFEST: each file's cell is in its path (`pcell=K`, or `cell=K`
  // for adopted pre-manifest files), so a probe selects the files of
  // its probed cells before Spark ever lists anything. Inside the
  // file bytes the cell rides as a REAL column (duplicated into the
  // `pcell` partition dir at write time), so manifest-selected files
  // read plainly, with no basePath/partition-inference coupling.
  // Pre-manifest indexes (flat `cell=K/` dirs) keep reading through
  // the legacy dir scan until their first mutation ADOPTS them: the
  // mutator's first commit lists the legacy files as generation 0.

  private def vectorsRoot(indexDir: String) = s"$indexDir/vectors"

  /** The trained-artifact root (centroids + pqbooks) a generation
    * points at: the tokened `trained-<t>` dir named by the head's
    * manifest metadata — versioned INTO the manifest CAS (r18) so a
    * probe can never pair one generation's codebooks with another's
    * vectors — or the index root for legacy indexes whose artifacts
    * live unversioned beside the layout.
    */
  def trainedDir(indexDir: String): String =
    trainedDirOf(indexDir, graft.operators.IndexManifest.head(indexDir))

  private def trainedDirOf(indexDir: String,
                           head: Option[graft.operators.IndexManifest.Head]): String =
    trainedNameOf(head).map(t => s"$indexDir/$t").getOrElse(indexDir)

  private def trainedNameOf(
      head: Option[graft.operators.IndexManifest.Head]): Option[String] =
    head.flatMap(_.meta.get("trained"))

  private val vectorCols = Seq("vec_id", "v", "nrm", "cell", "code")

  private def vectorSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType)), StructField("nrm", DoubleType),
      StructField("cell", IntegerType), StructField("code", LongType)))
  }

  /** The cell a manifest entry's file holds, parsed from its path
    * (`seg-<t>/pcell=K/…` for manifest-era files, `cell=K/…` for
    * adopted pre-manifest files).
    */
  private[graft] def cellOfPath(rel: String): Int =
    rel.split('/').collectFirst {
      case seg if seg.startsWith("pcell=") => seg.substring(6).toInt
      case seg if seg.startsWith("cell=") => seg.substring(5).toInt
    }.getOrElse(sys.error(s"manifest entry without a cell segment: $rel"))

  /** Write `rows` (vectorCols-shaped) as a fresh writer-private
    * segment and return its file paths relative to the vectors root.
    * Nothing is published: the caller commits the returned paths (or
    * abandons them — an unreferenced seg is invisible and swept by
    * [[sweepUncommittedVectorFiles]]).
    */
  private def writeVectorSeg(rows: DataFrame, indexDir: String): Seq[String] = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val seg = "seg-" + graft.operators.WriterToken.next()
    val root = Path.of(vectorsRoot(indexDir))
    try rows.select(vectorCols.map(col): _*)
      .withColumn("pcell", col("cell"))
      .write.partitionBy("pcell").parquet(root.resolve(seg).toString)
    catch { case t: Throwable =>
      // a failed stage leaves no debris for the grace sweep to carry
      scala.util.Try(
        graft.IndexLifecycle.deleteRecursively(root.resolve(seg).toString))
      throw t
    }
    val walk = Files.walk(root.resolve(seg))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toIndexedSeq
    finally walk.close()
  }

  /** True when a job failure bottoms out in a missing input file —
    * the signature of scanning a generation whose files a concurrent
    * maintenance pass retired mid-read. Spark surfaces task failures
    * both as cause chains and as message text, so check both.
    */
  private def vanishedFiles(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          (c.getMessage != null &&
            (c.getMessage.contains("FileNotFoundException") ||
             c.getMessage.contains("does not exist")))) return true
      c = c.getCause
    }
    false
  }

  /** The pre-manifest layout's live files (parquet parts under the
    * flat `cell=K` dirs), relative to the vectors root — the adoption
    * base for the first manifest commit on an old index, and the
    * legacy read set.
    */
  private def legacyVectorFiles(indexDir: String): Seq[String] = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = Path.of(vectorsRoot(indexDir))
    if (!Files.isDirectory(root)) return Nil
    val ls = Files.list(root)
    val cells = try ls.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("cell="))
      .toIndexedSeq
    finally ls.close()
    cells.flatMap { c =>
      val fl = Files.list(c)
      try fl.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).toIndexedSeq
      finally fl.close()
    }
  }

  private def readVectorFiles(s: SparkSession, indexDir: String,
                              files: Seq[String]): DataFrame = {
    val root = vectorsRoot(indexDir)
    // adopted pre-manifest files carry cell only in their dir name →
    // read them with basePath so the partition column materializes;
    // manifest-era files carry cell in their bytes → read plainly
    val (legacy, seg) = files.partition(_.startsWith("cell="))
    val parts = Seq(
      Option.when(legacy.nonEmpty)(
        s.read.option("basePath", root).parquet(legacy.map(f => s"$root/$f"): _*)
          .select(vectorCols.map(col): _*)),
      Option.when(seg.nonEmpty)(
        s.read.parquet(seg.map(f => s"$root/$f"): _*)
          .select(vectorCols.map(col): _*))).flatten
    parts.reduceOption(_.unionByName(_)).getOrElse(
      s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), vectorSchema))
  }

  /** THE read path for the vector layout: the committed manifest's
    * files, pruned to `cells` at the manifest (no listing, no
    * partition discovery); pre-manifest indexes fall back to the
    * legacy dir scan with an in-plan cell filter.
    */
  def indexVectors(s: SparkSession, indexDir: String,
                   cells: Option[Seq[Int]] = None): DataFrame =
    indexVectorsPinned(s, indexDir,
      graft.operators.IndexManifest.head(indexDir), cells)

  /** [[indexVectors]] against an ALREADY-RESOLVED head — for callers
    * that read the layout more than once per logical operation
    * (probeIvfPq's ADC scan + exact-re-rank fetch) and must see ONE
    * generation across both reads, not whichever head each resolve
    * happens to land on while maintenance commits in between.
    */
  private def indexVectorsPinned(s: SparkSession, indexDir: String,
                                 head: Option[graft.operators.IndexManifest.Head],
                                 cells: Option[Seq[Int]]): DataFrame =
    head match {
      case Some(h) =>
        val picked = cells match {
          case Some(cs) =>
            val want = cs.toSet
            h.files.filter(f => want.contains(cellOfPath(f)))
          case None => h.files
        }
        readVectorFiles(s, indexDir, picked)
      case None =>
        // pre-manifest fallback: read the LEGACY FILE SET, not the
        // raw root — a staged seg-* dir beside the flat cell= layout
        // (an in-flight or crashed first mutation) would otherwise
        // break partition discovery for every probe, or worse leak
        // the crashed writer's uncommitted rows into a live read
        val files = legacyVectorFiles(indexDir)
        val picked = cells match {
          case Some(cs) =>
            val want = cs.toSet
            files.filter(f => want.contains(cellOfPath(f)))
          case None => files
        }
        readVectorFiles(s, indexDir, picked)
    }

  /** Retire previously-REFERENCED data files after a successful
    * manifest swap: leave the bytes on disk for
    * [[sweepUncommittedVectorFiles]] and restart their grace clock
    * (mtime = now). Rationale: a reader that resolved the PRE-swap
    * manifest still holds these paths in its planned scan — deleting
    * them at commit time fails that reader mid-stage with
    * FILE_NOT_EXIST (the transient wrong-failure the concurrent
    * ingest property surfaced); retirement lets it finish, and the
    * next maintenance pass's opening sweep reclaims the bytes once
    * they outlive the grace. Only for files an EARLIER manifest
    * referenced (compact inputs, a rebuild's previous layout) — a
    * CAS loser's own staging was never visible to any reader and
    * still deletes immediately; the takedown vacuum also still
    * DELETES its rewritten files at commit, because prompt physical
    * erasure is that operator's entire purpose (its probes are
    * governed either way; a racing reader retries).
    */
  private def retireVectorFiles(indexDir: String, rels: Seq[String]): Unit = {
    import java.nio.file.{Files, Path}
    val root = Path.of(vectorsRoot(indexDir))
    val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    rels.foreach { rel =>
      scala.util.Try(Files.setLastModifiedTime(root.resolve(rel), now))
      ()
    }
  }

  private def deleteVectorFiles(indexDir: String, rels: Seq[String]): Unit = {
    import java.nio.file.{Files, Path}
    val root = Path.of(vectorsRoot(indexDir))
    rels.foreach { rel =>
      val p = root.resolve(rel)
      Files.deleteIfExists(p)
      // best-effort empty-dir pruning up to (not including) the root
      var d = p.getParent
      while (d != null && d != root &&
        scala.util.Try(Files.deleteIfExists(d)).getOrElse(false)) d = d.getParent
    }
  }

  /** Reclaim data files no manifest references — crashed appends,
    * maintenance losers, and retire-window leftovers — older than
    * `graceMs` (which must exceed the longest in-flight write: a
    * younger unreferenced file may be a commit in progress). A
    * pre-manifest index has no referenced-set to judge against and
    * sweeps nothing. Returns the number of parquet files reclaimed.
    */
  def sweepUncommittedVectorFiles(indexDir: String,
                                  graceMs: Long = 3600000L): Int = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = Path.of(vectorsRoot(indexDir))
    if (!Files.isDirectory(root)) return 0
    val live = graft.operators.IndexManifest.head(indexDir) match {
      case Some(h) => h.files.toSet
      case None => return 0
    }
    // INCLUSIVE cutoff: graceMs = 0 must mean "no grace — reclaim
    // every unreferenced file now", including one retired in this
    // same millisecond (the strict form made a 0-grace sweep racing
    // its own retirement timing-flaky)
    val cutoff = System.currentTimeMillis() - graceMs
    val walk = Files.walk(root)
    val doomed = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !live.contains(root.relativize(p).toString) &&
        scala.util.Try(Files.getLastModifiedTime(p).toMillis <= cutoff)
          .getOrElse(false))
      .toIndexedSeq
    finally walk.close()
    val n = doomed.count(_.getFileName.toString.endsWith(".parquet"))
    deleteVectorFiles(indexDir, doomed.map(p => root.relativize(p).toString))
    // crashed rebuilds also strand tokened trained-* dirs at the
    // index root — reclaim any the head doesn't reference, under the
    // same grace (an in-flight rebuild's artifacts are younger)
    val trainedLive = trainedNameOf(graft.operators.IndexManifest.head(indexDir))
    val top = Files.list(Path.of(indexDir))
    val deadTrained = try top.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("trained-") &&
        !trainedLive.contains(p.getFileName.toString) &&
        scala.util.Try(Files.getLastModifiedTime(p).toMillis <= cutoff)
          .getOrElse(false))
      .toIndexedSeq
    finally top.close()
    deadTrained.foreach(p => graft.IndexLifecycle.deleteRecursively(p.toString))
    n
  }

  /** Build the persisted IVF index for a corpus dir: the trained
    * artifacts (centroids `(cell, vb, nb)` + PQ codebooks) in a
    * tokened `trained-<t>` dir and the vector layout
    * (vec_id, v, nrm, cell, code) segmented by cell — BOTH published
    * by ONE manifest CAS, the trained dir referenced from the
    * generation's metadata. One training run on the hash sample,
    * then ONE narrow assignment pass over the full corpus — the only
    * full-corpus work in the build. A REBUILD over a live index
    * therefore swaps vectors AND routing/codebooks atomically
    * (probes, which pin one head, see the old index or the new one —
    * never new centroids over old cells, the r18 review's mixed-read
    * hole), FENCED on the generation the rebuild started from: any
    * concurrent mutation aborts the swap loudly (see the fence note
    * in the body). Concurrent BUILDS of one dir were never supported
    * and still aren't.
    */
  def buildIvfIndex(s: SparkSession, d: String, indexDir: String,
                    nCells: Int = 10, iters: Int = 3, sampleMod: Int = 4): Unit = {
    val startHead = graft.operators.IndexManifest.head(indexDir)
    buildIvfIndexFrom(s, vecs(s, d).select("vec_id", "v", "nrm"),
      indexDir, nCells, iters, sampleMod, startHead)
  }

  /** Retrain + swap IN PLACE from the index's OWN stored vectors —
    * the remedy `index stats`' REBUILD-RECOMMENDED flag names, as a
    * single operation needing no corpus dir (the layout stores the
    * raw vectors precisely so full-fidelity rebuilds stay local to
    * the index). `nCells = 0` keeps the current cell count. Same
    * fence as [[buildIvfIndex]]: any commit landing during the
    * retrain aborts the swap loudly. Tombstones are ORTHOGONAL and
    * survive the rebuild: the doomed vectors relocate with everything
    * else, probes stay governed by the same anti-join, and vacuum
    * remains the physical purge (rebuild is layout maintenance, not
    * governance).
    */
  def rebuildIvfIndex(s: SparkSession, indexDir: String, nCells: Int = 0,
                      iters: Int = 3, sampleMod: Int = 4): Unit = {
    val startHead = graft.operators.IndexManifest.head(indexDir)
    val k = if (nCells > 0) nCells else loadCentroids(s, indexDir, startHead).length
    buildIvfIndexFrom(s,
      indexVectorsPinned(s, indexDir, startHead, None).select("vec_id", "v", "nrm"),
      indexDir, k, iters, sampleMod, startHead)
  }

  private def buildIvfIndexFrom(s: SparkSession, e: DataFrame, indexDir: String,
                                nCells: Int, iters: Int, sampleMod: Int,
                                startHead: Option[graft.operators.IndexManifest.Head]): Unit = {
    // rebuilds FENCE on their entry generation: a batch appended
    // while new centroids/codebooks are being trained carries
    // assignments from the OLD ones — under the new routing its
    // vectors sit in cells the probe never scans (a silent recall
    // hole). That staleness cannot be absorbed, so any commit landing
    // during the rebuild aborts it loudly rather than publishing a
    // mixed index. (The reverse race — a rebuild landing mid-append —
    // is closed on the append side: it re-encodes when the trained
    // pointer moved.)
    val cents = trainCentroids(e, nCells, iters, sampleMod)
    val books = trainPqBooksOf(e)
    import s.implicits._
    val trainedName = "trained-" + graft.operators.WriterToken.next()
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "vb")
      .withColumn("nb", graft.functions.GraftFunctions.l2norm("vb"))
      .coalesce(1).write.parquet(s"$indexDir/$trainedName/centroids")
    // PQ codebooks ride beside the centroids (tiny: m × ksub rows) so
    // one persisted index serves both probe modes
    books.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (c, b) => (j, b, c.toSeq) }
      }.toSeq.toDF("j", "b", "vals")
      .coalesce(1).write.parquet(s"$indexDir/$trainedName/pqbooks")
    // the vector layout carries BOTH fidelities per row: the raw
    // vector (for exact re-rank / full-fidelity fetch) and the
    // 8-byte PQ code — parquet's columnar layout means an ADC probe
    // that selects only (vec_id, code) never reads the vector bytes
    // repartition by cell before the segment write: without it a
    // partitioned write emits tasks × cells files (the ivfcompact
    // probe measured 5k+ fragments from 8 appends), and "live files
    // ∝ cells" is the manifest's own scaling denominator. One shuffle
    // of the written rows buys one file per cell; a deployment whose
    // cells outgrow single files dials maxRecordsPerFile.
    val mine = writeVectorSeg(
      assignCells(e, cents).withColumn("code",
        graft.functions.GraftFunctions.pqEncode("v", books, pqBits))
        .repartition(col("cell")),
      indexDir)
    // ONE commit publishes vectors + trained pointer, fenced on the
    // entry generation: the swap lands only if NOTHING committed
    // during the rebuild
    val prev = startHead.map(_.files)
      .getOrElse(legacyVectorFiles(indexDir).toIndexedSeq)
    graft.operators.IndexManifest.commitWithMeta(indexDir) { cur =>
      if (cur.map(_.gen) != startHead.map(_.gen)) None
      else Some((mine, Map("trained" -> trainedName)))
    } match {
      case Some(_) =>
        // retire, don't delete: a probe that resolved the pre-rebuild
        // manifest finishes its scan; the sweep reclaims after grace
        retireVectorFiles(indexDir, prev)
        retireTrained(indexDir, startHead)
      case None =>
        deleteVectorFiles(indexDir, mine)
        graft.IndexLifecycle.deleteRecursively(s"$indexDir/$trainedName")
        throw new IllegalStateException(
          s"a concurrent index mutation raced the rebuild of $indexDir — " +
            "rebuilds require quiesced mutators (stale-centroid assignments " +
            "cannot be absorbed); quiesce and rebuild again")
    }
  }

  /** Retire a superseded generation's trained artifacts: its tokened
    * dir, or the legacy root-level `centroids`/`pqbooks` when the
    * superseded head predated versioned artifacts. Runs AFTER the
    * swap — a reader pinned to the old head races only this physical
    * delete (the documented window).
    */
  private def retireTrained(indexDir: String,
                            prevHead: Option[graft.operators.IndexManifest.Head]): Unit =
    trainedNameOf(prevHead) match {
      case Some(t) =>
        // retire like the vector layout: a probe that pinned the
        // pre-rebuild head still loads these centroids/codebooks —
        // restart the dir's grace clock and let the sweep (which
        // already reclaims unreferenced trained-* dirs) collect it
        scala.util.Try(java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Path.of(s"$indexDir/$t"),
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())))
        ()
      case None =>
        // pre-manifest legacy artifacts: no sweep knows these names,
        // and the legacy contract is quiesced — delete immediately
        graft.IndexLifecycle.deleteRecursively(s"$indexDir/centroids")
        graft.IndexLifecycle.deleteRecursively(s"$indexDir/pqbooks")
    }

  private def loadPqBooks(s: SparkSession, indexDir: String,
                          head: Option[graft.operators.IndexManifest.Head])
      : Array[Array[Array[Double]]] = {
    val rows = s.read.parquet(s"${trainedDirOf(indexDir, head)}/pqbooks").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val out = Array.ofDim[Array[Array[Double]]](m)
    rows.groupBy(_.getInt(0)).foreach { case (j, rs) =>
      val byB = rs.sortBy(_.getInt(1))
      require(byB.zipWithIndex.forall { case (r, i) => r.getInt(1) == i },
        s"pq codebook $j is not dense")
      out(j) = byB.map(_.getSeq[Double](2).toArray)
    }
    // subspace density too — a gap in j would otherwise surface as a
    // bare NPE deep inside pqLutFor (loadCentroids' discipline)
    for (j <- 0 until m)
      require(out(j) != null,
        s"pq codebook table is not dense in [0, $m): codebook $j missing")
    out
  }

  /** THE assignment subplan — used by training, the index build, and
    * the plan-posture spec (which asserts it stays a narrow codegen'd
    * map: no Exchange, no Window, no join), so the asserted subplan
    * and the shipped subplan are the same code.
    */
  def assignCells(e: DataFrame, cents: Array[Array[Double]]): DataFrame =
    e.withColumn("cell",
      element_at(graft.functions.GraftFunctions.nearestCells("v", cents, 1), 1))

  /** Probe a persisted index: route each query to its nProbe nearest
    * cells (codegen'd, against the collected tiny centroid table),
    * then read ONLY those cells' live files — the probed-cell set is
    * collected up front (≤ |queries|·nProbe ints) precisely so the
    * file set prunes at the MANIFEST before Spark lists or plans
    * anything. Candidates shrink to
    * ~n·nProbe/nCells; the final top-k is the graft_topk bounded-heap
    * aggregate (map-side partial heaps, shuffle O(queries·k·tasks)) —
    * a row_number window here would route every candidate row for a
    * query to ONE reducer and sort, the exact bottleneck ann03/ann05/
    * ann06 already avoid. No pair dedup is needed (unlike ann04's
    * band join): every vector lives in exactly one cell partition, so
    * a (query, neighbor) pair survives the cell equi-join at most once.
    * Like the whole heap-selected ANN family, NaN-scored pairs (a
    * zero-norm vector's cosine) are EXCLUDED by graft_topk rather than
    * ranked first as the old window's NaN-sorts-highest did — a
    * degenerate embedding can't shadow k real neighbors.
    */
  def probeIvf(s: SparkSession, indexDir: String, queries: DataFrame,
               nProbe: Int = 3, k: Int = 5): DataFrame = {
    // ONE head for the whole probe: routing centroids and the
    // candidate scan must come from the same generation
    val pinned = graft.operators.IndexManifest.head(indexDir)
    val cents = loadCentroids(s, indexDir, pinned)
    val qcells = queries.withColumn("cell",
      explode(graft.functions.GraftFunctions.nearestCells("va", cents, nProbe)))
    val probed = qcells.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val cands = governed(s, indexDir,
      indexVectorsPinned(s, indexDir, pinned, Some(probed))
        .select(col("vec_id").as("n_id"), col("v").as("vb"),
          col("nrm").as("nb"), col("cell")), "n_id")
    qcells.join(cands, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("cos", "n_id", k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("n_id"), r4(col("p.score")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  /** IVF-pruned RANGE search — ann07's threshold semantics on
    * ann02's probe path: route each query to its nProbe nearest
    * cells, scan ONLY those cells' live files (manifest-pruned, same
    * pinned generation for routing and scan), keep exact-cosine ≥ τ.
    * Approximation is IVF's alone — a qualifying neighbor outside
    * the probed cells is missed (recall dial = nProbe) — but every
    * RETURNED pair carries its true cosine: results are a strict
    * subset of the exact sweep, never a superset (spec'd). At 100 TB
    * this is the shape that makes range retrieval affordable: probe
    * IO ~nProbe/nCells of the corpus and no per-query selection
    * state, since the threshold needs no heap at all.
    */
  def rangeSearchIvf(s: SparkSession, indexDir: String, queries: DataFrame,
                     tau: Double, nProbe: Int = 3): DataFrame = {
    val pinned = graft.operators.IndexManifest.head(indexDir)
    val cents = loadCentroids(s, indexDir, pinned)
    val qcells = queries.withColumn("cell",
      explode(graft.functions.GraftFunctions.nearestCells("va", cents, nProbe)))
    val probed = qcells.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val cands = governed(s, indexDir,
      indexVectorsPinned(s, indexDir, pinned, Some(probed))
        .select(col("vec_id").as("n_id"), col("v").as("vb"),
          col("nrm").as("nb"), col("cell")), "n_id")
    // each corpus vector lives in exactly one cell, so the cell join
    // yields every (q, n) pair at most once — no post-join dedup
    qcells.join(cands, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= tau)
      .select(col("q_id"), col("n_id"), r4(col("cos")).as("cos_r"))
      .orderBy("q_id", "n_id")
  }

  // --- ann08: the range search a production index actually runs —
  // ann07 is its exact-sweep oracle in the specs (subset containment
  // + recall floor), rows-only at the driver gate like every
  // IVF-routed family member.
  val ann08_range_ivf: Q = (s, d) =>
    rangeSearchIvf(s, ivfIndexFor(s, d), queriesOf(s, d), 0.30)

  /** IVF-blocked k-NN SELF-JOIN — every corpus vector finds its own
    * top-k neighbors, the batch companion to [[probeIvf]]'s
    * driver-sized query set (semantic-dedup candidate generation,
    * cluster seeding, retrieval-eval ground truth all start here).
    * The query side is the CORPUS, so nothing about the probe path's
    * collect-the-queries shape survives: routing must stay in-plan.
    *
    * Shape: one codegen'd [[graft.functions.GraftFunctions.nearestCells]]
    * pass routes every vector to its nProbe nearest cells (narrow —
    * the centroid matrix rides into generated code exactly as the
    * build's assignment pass); candidates come from the SAME pinned
    * generation's cell layout; one cell equi-join (shuffle ∝ corpus ×
    * nProbe, never all-pairs) scores exact cosine; per-query selection
    * is the graft_topk bounded heap, partial-aggregated map-side so
    * the exchange carries O(rows × k × tasks), not the candidate
    * volume. dd08 : dd03 :: ann09 : brute — same blocking, rank
    * semantics instead of threshold.
    *
    * Approximation is IVF's alone (a true neighbor outside the probed
    * cells is missed; nProbe dials recall); returned scores are exact.
    * NaN cosines (zero-norm vectors) are excluded by the heap — the
    * family posture. A vector whose probed cells hold no OTHER vector
    * (alone in its cell, other probed cells empty — possible under
    * dead/tiny k-means cells) has no candidates after the self-pair
    * filter and returns no rows: absent means "no neighbor found in
    * the probed region", the standard ANN answer, not top-k of the
    * full corpus.
    *
    * The real cost axis is CANDIDATE volume: n × nProbe × cell
    * occupancy. Bounded occupancy — nCells ∝ corpus, the faiss sizing
    * rule — keeps it linear in n where brute is n². Measured
    * (occupancy 500, nProbe 3): 250k → 1M vectors moved candidates
    * 403M → 2.06G (≈ linear; n² would be 1e12, 486× more) and wall
    * 38 s → 134 s on 32 local threads.
    *
    * Tombstone governance is SYMMETRIC: the index's live tombstone
    * set filters the candidate side (a deleted vector never appears
    * as a neighbor) AND the caller-supplied corpus side by `vec_id`
    * (a deleted vector never emits result rows as a query either) —
    * the self-join posture dd14's takedown contract implies. A
    * caller whose corpus ids are outside the index's id space is
    * unaffected: the anti-join only removes ids actually tombstoned.
    */
  def knnJoinIvf(s: SparkSession, indexDir: String, corpus: DataFrame,
                 k: Int = 5, nProbe: Int = 2): DataFrame = {
    val pinned = graft.operators.IndexManifest.head(indexDir)
    val cents = loadCentroids(s, indexDir, pinned)
    val q = governed(s, indexDir,
        corpus.select(col("vec_id").as("q_id"), col("v").as("va"),
          col("nrm").as("na")), "q_id")
      .withColumn("cell",
        explode(graft.functions.GraftFunctions.nearestCells("va", cents, nProbe)))
    val cands = governed(s, indexDir,
      indexVectorsPinned(s, indexDir, pinned, None)
        .select(col("vec_id").as("n_id"), col("v").as("vb"),
          col("nrm").as("nb"), col("cell")), "n_id")
    q.join(cands, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("cos", "n_id", k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("n_id"), r4(col("p.score")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  // --- ann09: the k-NN join over the whole embeddings table (k=5,
  // nProbe=3 — the probe family's setting; this corpus's clusters are
  // weak, so the extra cell buys recall 0.44 → ~0.6 for ~nProbe/nCells
  // more candidate volume) — rows-only at the gate (IVF recall),
  // spec'd against a per-row exact driver recompute at sf0.001.
  val ann09_knn_join: Q = (s, d) =>
    knnJoinIvf(s, ivfIndexFor(s, d), vecs(s, d), nProbe = 3)

  // --- ann06: IVF-PQ — the faiss-classic composition of the two
  // orthogonal savings: IVF's cell pruning picks WHICH rows to score
  // (manifest file pruning: ~nProbe/nCells of the corpus) and
  // PQ's ADC picks WHAT to read for them (the 8-byte code column —
  // parquet column pruning means the probe scan never touches the
  // vector bytes). Shortlists are heap-selected per query and
  // re-ranked by EXACT cosine from the same layout's full-fidelity
  // vector column (read only for the ≤ q·ck shortlist rows via a
  // broadcast semi-fetch). One persisted index serves ann02 (exact
  // cosine over pruned cells) and ann06 (compressed scan over pruned
  // cells): the probe picks its fidelity/IO point at query time.
  val ann06_ivfpq_topk: Q = (s, d) =>
    probeIvfPq(s, ivfIndexFor(s, d), queriesOf(s, d))

  def probeIvfPq(s: SparkSession, indexDir: String, queries: DataFrame,
                 nProbe: Int = 3, k: Int = 5, rerankFactor: Int = 8): DataFrame = {
    // ONE head for the whole probe: the codebooks/centroids, the ADC
    // shortlist and the exact re-rank fetch must all read the same
    // generation, or a rebuild/maintenance commit between resolves
    // hands one query a mixed index
    val pinned = graft.operators.IndexManifest.head(indexDir)
    val books = loadPqBooks(s, indexDir, pinned)
    val cents = loadCentroids(s, indexDir, pinned)
    // the query set is driver-sized by definition: routing, LUTs and
    // the (q_id, qi) mapping all come from one collect
    val qRows = queries.collect()
    val luts: Array[Array[Double]] = qRows.map { r =>
      val va = r.getSeq[Double](1).toArray
      val na = r.getDouble(2)
      pqLutFor(books, if (na > 0.0) va.map(_ / na) else va)
    }
    val qCellRows = qRows.zipWithIndex.flatMap { case (r, qi) =>
      val va = r.getSeq[Double](1).toArray
      nearestCellsOf(va, cents, nProbe).map(c => (r.getLong(0), qi, c))
    }
    import s.implicits._
    val qcells = qCellRows.toSeq.toDF("q_id", "qi", "cell")
    val probed = qCellRows.map(_._3).distinct.toSeq
    // ADC scan: only (vec_id, code) leave the parquet reader; each
    // row is scored against just the queries probing its cell
    val shortlist = governed(s, indexDir,
      indexVectorsPinned(s, indexDir, pinned, Some(probed))
        .select(col("vec_id").as("n_id"), col("code"), col("cell")), "n_id")
      .join(broadcast(qcells), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.GraftFunctions
          .pqAdcScoreAt("code", "qi", luts, pqM, pqKsub, pqBits).as("adc"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("adc", "n_id", k * rerankFactor).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("p"))
      .select(col("q_id"), col("p.id").as("n_id"))
    // exact re-rank: full-fidelity vectors only for the shortlist
    val fetch = indexVectorsPinned(s, indexDir, pinned, Some(probed))
      .select(col("vec_id").as("n_id"), col("v").as("vb"), col("nrm").as("nb"))
    val q = queries
    fetch.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("cos", "n_id", k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("n_id"), r4(col("p.score")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  /** Index the collected rows BY CELL ID — reading them positionally
    * after a sort would silently misroute probes if the centroid
    * table ever became sparse (today trainCentroids tabulates all k
    * cells, but that's an invariant worth enforcing, not assuming).
    */
  private def loadCentroids(s: SparkSession, indexDir: String,
                            head: Option[graft.operators.IndexManifest.Head])
      : Array[Array[Double]] = {
    val centRows = s.read.parquet(s"${trainedDirOf(indexDir, head)}/centroids")
      .select("cell", "vb").collect()
    val cents = new Array[Array[Double]](centRows.length)
    centRows.foreach { r =>
      val c = r.getInt(0)
      require(c >= 0 && c < cents.length && cents(c) == null,
        s"centroid table is not dense in [0, ${cents.length}): duplicate or out-of-range cell $c")
      cents(c) = r.getSeq[Double](1).toArray
    }
    cents
  }

  /** Introspection hook (spec'd): the probe's routing decision for
    * one query vector against a persisted index's centroid table.
    */
  def probedCellsOf(s: SparkSession, indexDir: String, v: Array[Double],
                    nProbe: Int): Seq[Int] =
    nearestCellsOf(v,
      loadCentroids(s, indexDir, graft.operators.IndexManifest.head(indexDir)),
      nProbe)

  /** Driver-side mirror of the NearestCells routing (top-n cells by
    * dot, ties to the lower id) for the collected query set.
    */
  private def nearestCellsOf(v: Array[Double], cents: Array[Array[Double]],
                             n: Int): Seq[Int] =
    cents.indices.map(c => {
      var sdot = 0.0
      val d = math.min(v.length, cents(c).length)
      var i = 0
      while (i < d) { sdot += v(i) * cents(c)(i); i += 1 }
      (c, sdot)
    }).sortBy { case (c, sdot) => (-sdot, c) }.take(n).map(_._1)

  // Build-once/probe-many within a session: the index for a corpus
  // dir is built on first use and reused by every later probe. A memo
  // hit is only trusted while the layout still exists on disk
  // (fpIndexFor's catalog-revalidation discipline, file-flavored),
  // and a half-built dir from a failed build is cleaned up rather
  // than leaked — both behaviors the shared lifecycle standardizes.
  private val ivfLife = new graft.IndexLifecycle[String]("ann02-ivf-index",
    // the trained artifacts live where the committed head says (the
    // tokened trained-<t> dir since r18; the index root pre-manifest)
    validate = (_, dir) => java.nio.file.Files.exists(
      java.nio.file.Path.of(trainedDir(dir), "centroids")) &&
      java.nio.file.Files.exists(java.nio.file.Path.of(dir, "vectors")),
    release = (_, dir) => graft.IndexLifecycle.deleteRecursively(dir))

  def ivfIndexFor(s: SparkSession, d: String, nCells: Int = 10,
                  iters: Int = 3, sampleMod: Int = 4): String =
    ivfLife.getOrBuild(s, d) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
      try buildIvfIndex(s, d, dir, nCells, iters, sampleMod)
      catch { case e: Throwable =>
        scala.util.Try(graft.IndexLifecycle.deleteRecursively(dir))
        throw e
      }
      dir
    }

  /** Drop a session's index for a corpus dir and delete its files —
    * the hygiene hook for long-lived sessions iterating many dirs.
    */
  def evictIndex(s: SparkSession, d: String): Unit = ivfLife.evict(s, d)

  /** Incremental index append — add-without-train for the persisted
    * IVF/PQ layout (the same trade faiss's `add` makes on a trained
    * index), closing the ingest-family asymmetry: dd10/dd11 commit
    * dedup deltas back to their indexes; this commits new VECTORS
    * back to the ANN index without a rebuild. Each batch vector is
    * assigned to its nearest EXISTING cell by the same codegen'd
    * NearestCells routing the probe uses and PQ-encoded against the
    * EXISTING codebooks — one narrow map over the batch, then an
    * append into the cell-segmented layout. Cost ∝ batch, never
    * corpus (measured); resident vectors
    * are never reassigned or rewritten. Probes pick the rows up on
    * their next scan with no cache to invalidate: the session memo
    * holds only the index DIR, and both probe modes re-list the cell
    * partitions per call.
    *
    * Durability is the manifest commit: the batch stages into a
    * writer-private segment (invisible to every reader), then ONE
    * CAS publishes it — an all-or-nothing batch, so a crashed append
    * never leaves a partial batch visible (the pre-r18 layout's
    * job-commit window) and concurrent appends never share a Spark
    * output dir. A replayed batch that committed before the crash
    * appears twice until compaction's full-row dedup folds it — an
    * ingest loop wanting exactly-once should key batches through
    * NearDupIngestSink's two-phase log as before.
    *
    * DRIFT dial: centroids and codebooks stay fixed, so cell balance
    * and quantization fidelity degrade as the appended distribution
    * drifts from the build-time sample — the standard
    * add-without-train trade. [[ivfCellStats]] surfaces the balance;
    * rebuild via [[buildIvfIndex]] when skew (or measured recall)
    * crosses the workload's floor.
    */
  def appendToIvfIndex(s: SparkSession, indexDir: String, batch: DataFrame): Unit = {
    val e = batch
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.GraftFunctions.l2norm("v"))
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      // pin the head the batch is ENCODED against; the commit below
      // refuses if a rebuild moved the trained pointer meanwhile —
      // vectors assigned/encoded against retired centroids/codebooks
      // must never join a retrained index (the silent recall hole),
      // so the batch re-encodes against the new artifacts instead
      val pinned = graft.operators.IndexManifest.head(indexDir)
      val cents = loadCentroids(s, indexDir, pinned)
      val books = loadPqBooks(s, indexDir, pinned)
      val mine = writeVectorSeg(
        assignCells(e, cents).withColumn("code",
          graft.functions.GraftFunctions.pqEncode("v", books, pqBits))
          .repartition(col("cell")), // batch-sized shuffle → 1 file/cell
        indexDir)
      if (mine.isEmpty) return
      val committed = graft.operators.IndexManifest.commit(indexDir) { cur =>
        if (trainedNameOf(cur) != trainedNameOf(pinned)) None
        else Some(cur.map(_.files)
          .getOrElse(legacyVectorFiles(indexDir).toIndexedSeq) ++ mine)
      }
      if (committed.isDefined) return
      deleteVectorFiles(indexDir, mine) // retrained under us: re-encode
    }
    sys.error(s"append lost to concurrent retrains 5 times: $indexDir")
  }

  /** Rebuild threshold on [[ivfCellStats]]'s max/mean cell skew — the
    * measured leading indicator of append-without-train drift: the
    * drift probe (PLANS.md r18) measured 6.6× skew on an index whose
    * appended distribution had drifted vs 1.1× after retraining on
    * the same corpus, so 4.0 sits comfortably between "healthy build
    * noise" and "probes are scanning one bloated cell". The `index
    * stats` console flags REBUILD-RECOMMENDED at or past this floor.
    */
  val IvfRebuildSkewFloor: Double = 4.0

  /** The max/mean cell-occupancy skew over [[ivfCellStats]]'s
    * (cell, count) rows — the ONE formula both `index stats` (the
    * REBUILD-RECOMMENDED verdict) and `index rebuild` (the post-swap
    * report) render, kept beside the floor it is compared against so
    * the two console renderings can't drift. Empty index → 0.
    */
  def cellSkewOf(cells: Seq[(Int, Long)]): Double =
    if (cells.isEmpty) 0.0
    else cells.map(_._2).max * cells.size /
      math.max(1.0, cells.map(_._2).sum.toDouble)

  /** Cell-occupancy diagnostic backing the drift dial: one row per
    * cell with its resident count — max/avg over this frame is the
    * skew number the rebuild decision reads. Scans only the vec_id
    * column (the cell column rides in the file bytes).
    */
  def ivfCellStats(s: SparkSession, indexDir: String): DataFrame =
    indexVectors(s, indexDir)
      .groupBy("cell").agg(count(lit(1)).as("n"))

  /** Per-cell file triage of one compaction pass. */
  final case class CellFold(cell: String, filesBefore: Int, filesAfter: Int)

  /** Fold the per-cell file fragments repeated [[appendToIvfIndex]]
    * batches strew across the layout — the maintenance half of the
    * ANN ingest loop, mirroring MergeTable.compact for the table
    * family. Each cell holding ≥ `minFiles` live files is read (those
    * FILES only — cost ∝ fragmented cells, never the corpus), folded
    * to one fresh segment file per cell, and swapped in by ONE
    * manifest CAS; cells already compact are never opened. Probes
    * pick the new layout up on their next manifest resolve.
    *
    * CONCURRENCY (the r18 graduation from the quiesced contract):
    * the fold stages into a writer-private segment and commits by
    * [[graft.operators.IndexManifest.commitReplace]] — a concurrent
    * APPEND rebases in transparently (its files only add), while a
    * concurrent compact/vacuum that already rewrote any of this
    * pass's input fragments ABORTS the commit; the pass deletes its
    * staged seg and re-runs against the new head (bounded retries).
    * A crashed pass is invisible (staged bytes unreferenced) and its
    * debris is reclaimed here via [[sweepUncommittedVectorFiles]];
    * the fold still dedups FULL rows, so a batch replayed around a
    * crash collapses — the set semantics every other graft index
    * (dd10's fp index, dd11's LSH postings) already has.
    *
    * The fold is ONE Spark job over every fragmented cell at once —
    * a 100k-cell index with broad fragmentation pays one scheduler
    * round-trip, not one per cell. `repartition` on `cell` lands
    * each cell in a single task, so the segment write emits exactly
    * one fresh file per cell; wall-time stays ∝ fragmented bytes.
    */
  def compactIvfCells(s: SparkSession, indexDir: String,
                      minFiles: Int = 2,
                      sweepGraceMs: Long = 3600000L): Seq[CellFold] = {
    // reclaim old crash debris first. The grace MUST exceed the
    // longest in-flight write on this index (an unreferenced file
    // younger than it may be a commit in progress) — tunable here
    // because the deployment, not this code, knows its batch sizes.
    sweepUncommittedVectorFiles(indexDir, sweepGraceMs)
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val live = graft.operators.IndexManifest.head(indexDir).map(_.files)
        .getOrElse(legacyVectorFiles(indexDir).toIndexedSeq)
      val frag = live.groupBy(cellOfPath).filter(_._2.size >= minFiles)
      if (frag.isEmpty) return Seq.empty
      val inputs = frag.valuesIterator.flatten.toIndexedSeq
      // a concurrent maintenance pass can retire our inputs MID-READ
      // (before the CAS would catch it) — a vanished-file failure is
      // the same conflict, answered the same way: restage from the
      // new head instead of crashing out of the retry loop
      val staged =
        try Some(writeVectorSeg(
          readVectorFiles(s, indexDir, inputs)
            .dropDuplicates() // full-row: idempotence across replayed appends
            .repartition(frag.size, col("cell")),
          indexDir))
        catch { case t: Throwable if vanishedFiles(t) => None }
      staged match {
        case None => // inputs retired under us: loop re-resolves
        case Some(mine) =>
          graft.operators.IndexManifest.commitReplace(indexDir,
            inputs.toSet, mine)(legacyVectorFiles(indexDir)) match {
            case Some(_) =>
              // retire the fragments AFTER the swap landed — bytes
              // stay on disk under a fresh grace clock so a reader
              // that planned against the pre-fold manifest finishes
              // its scan; the next pass's opening sweep reclaims them
              retireVectorFiles(indexDir, inputs)
              // measured, not assumed: with maxRecordsPerFile set a
              // fold legitimately emits >1 file per cell (and such a
              // cell needs minFiles dialed above that count to reach
              // the no-op state)
              val after = mine.groupBy(cellOfPath)
              return frag.toSeq.sortBy(_._1).map { case (c, fs) =>
                CellFold(s"cell=$c", fs.size,
                  after.get(c).map(_.size).getOrElse(0)) }
            case None =>
              deleteVectorFiles(indexDir, mine) // lost to maintenance: restage
          }
      }
    }
    sys.error(s"compaction lost to concurrent maintenance 5 times: $indexDir")
  }

  // --- takedown governance for the vector index — dd14's
  // right-to-erasure pattern (Dedup.tombstoneDocs family) on the
  // embedding family: tombstoned vec_ids stop surfacing from probes
  // IMMEDIATELY (broadcast anti-join on the candidate scan — a
  // takedown batch is human-scale), and [[vacuumVectorTombstones]]
  // makes removal physical by rewriting ONLY the cells that contain
  // them (cost ∝ affected cells, single Spark job, the same staged
  // seg + manifest-CAS publication as compaction). A vec_id
  // re-appended while still tombstoned stays suppressed until a
  // vacuum pass proves it physically gone and clears the set.

  // the registry itself (layout, staged-publish registration,
  // racing-clear-tolerant reads, file-precise clears) is the shared
  // graft.operators.TombstoneStore — extracted in r20 after this
  // hand-copy missed the Dedup twin's hardenings (the debris sweep
  // sparing an in-flight registration's staging file; reads under
  // ignoreMissingFiles)
  private def hasVectorTombstones(indexDir: String): Boolean =
    graft.operators.TombstoneStore.has(indexDir)

  /** Record removed vec_ids — [[graft.operators.TombstoneStore]]'s
    * staged-publish registration (empty batch writes nothing).
    */
  def tombstoneVectors(s: SparkSession, indexDir: String, vecIds: DataFrame): Unit =
    graft.operators.TombstoneStore.register(s, indexDir, vecIds, "vec_id")

  /** The current tombstone set (empty frame when none recorded). */
  def vectorTombstones(s: SparkSession, indexDir: String): DataFrame =
    graft.operators.TombstoneStore.read(s, indexDir, "vec_id")

  /** Governance filter for a probe's candidate scan: anti-join the
    * broadcast tombstone set on the index side's id column. No-op
    * (and no plan node) when nothing is tombstoned.
    */
  private def governed(s: SparkSession, indexDir: String, df: DataFrame,
                       idCol: String): DataFrame =
    if (!hasVectorTombstones(indexDir)) df
    else df.join(broadcast(
      vectorTombstones(s, indexDir).select(col("vec_id").as(idCol))),
      Seq(idCol), "left_anti")

  /** Physically rewrite only the CELLS containing tombstoned
    * vec_ids, then clear the tombstone set. One narrow column-pruned
    * scan finds the affected cells; one Spark job rewrites their
    * files into a fresh segment (anti-joined against the broadcast
    * tombstone set); ONE manifest CAS swaps old for new —
    * [[compactIvfCells]]'s publication discipline. Returns the
    * tombstone count processed.
    *
    * The loop structure is the correctness point under concurrency:
    * the tombstone set is cleared ONLY after (a) a discovery scan of
    * a resolved head finds no tombstoned rows AND (b) a no-op
    * manifest commit FENCED on that same generation wins — so an
    * append that commits a still-tombstoned vec_id between discovery
    * and clear bumps the generation, fails the fence, and is caught
    * by the next iteration's discovery instead of being resurrected
    * (probes stay governed until the set is provably physically
    * empty AT the fenced generation). An append committing after the
    * fence is, by definition, after the takedown cleared — the
    * legitimate re-add dd14's contract allows; a pipeline that must
    * never re-add stops feeding an id before registering its
    * takedown. A crashed vacuum leaves tombstones active and its
    * staged seg unreferenced: probes stay governed, the re-run
    * starts clean.
    *
    * The CLEAR is file-precise for the same reason: the pass
    * snapshots the tombstone PART FILES it read and deletes exactly
    * those — a takedown registered while the vacuum ran lands in a
    * fresh part file that survives the clear, stays governing
    * probes, and is processed by the next vacuum, instead of being
    * silently dropped by a whole-dir delete.
    */
  def vacuumVectorTombstones(s: SparkSession, indexDir: String): Long = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    if (!hasVectorTombstones(indexDir)) return 0L
    // snapshot the tombstone files THIS pass owns (and will clear)
    val tombFiles = graft.operators.TombstoneStore.snapshot(indexDir)
    if (tombFiles.isEmpty) return 0L // raced another vacuum's clear
    def clearSnapshot(): Unit =
      graft.operators.TombstoneStore.clearSnapshot(indexDir, tombFiles)
    val tomb = graft.operators.TombstoneStore.readSnapshot(s, tombFiles)
      .localCheckpoint()
    val n = tomb.count()
    if (n == 0) {
      // a snapshot of only zero-row part files (e.g. written by a
      // pre-guard tombstoneVectors) suppresses nothing — clear it so
      // probes drop the governed anti-join, and skip the rewrite
      // (whose min/max bounds would NPE on an empty set)
      clearSnapshot()
      return 0L
    }
    val bounds = tomb.agg(min("vec_id"), max("vec_id")).head()
    var attempt = 0
    while (attempt < 8) {
      attempt += 1
      val pinned = graft.operators.IndexManifest.head(indexDir)
      val live = pinned.map(_.files)
        .getOrElse(legacyVectorFiles(indexDir).toIndexedSeq)
      // discovery: ONE narrow (vec_id, cell) scan — at production
      // dims the full-width rewrite dwarfs this by the row-width
      // ratio. The id-range pre-filter is free and lets parquet
      // row-group stats prune the scan when a takedown's ids are
      // contiguous (the one-crawl-slice shape). A vanished-file
      // failure = a concurrent pass retired this generation mid-read:
      // loop and re-resolve, same answer as a CAS loss.
      val affectedOpt =
        try Some(readVectorFiles(s, indexDir, live)
          .filter(col("vec_id").between(bounds.getLong(0), bounds.getLong(1)))
          .join(broadcast(tomb), Seq("vec_id"), "left_semi")
          .select("cell").distinct().collect().map(_.getInt(0)).toSet)
        catch { case t: Throwable if vanishedFiles(t) => None }
      affectedOpt match {
        case None => // generation retired under the scan: re-resolve
        case Some(affected) if affected.isEmpty =>
          // nothing of THIS snapshot lives at the discovered head —
          // but "discovered head" and "now" must be the SAME
          // generation or an append committing in between could carry
          // a still-tombstoned id past the clear. The fence is a
          // no-op manifest commit CAS'd on the discovered generation:
          // if it wins, every later append is BY DEFINITION after the
          // clear (a legitimate re-add, the dd14 contract); if it
          // loses, something committed since discovery — re-discover.
          val fenced = pinned match {
            case Some(h) =>
              graft.operators.IndexManifest.commit(indexDir) { cur =>
                if (cur.map(_.gen) == Some(h.gen)) Some(h.files) else None
              }.isDefined
            case None => true // pre-manifest: the quiesced legacy contract
          }
          if (fenced) {
            clearSnapshot()
            return n
          }
        case Some(affected) =>
          val old = live.filter(f => affected.contains(cellOfPath(f)))
          val staged =
            try Some(writeVectorSeg(
              readVectorFiles(s, indexDir, old)
                .join(broadcast(tomb), Seq("vec_id"), "left_anti")
                .dropDuplicates()
                .repartition(affected.size, col("cell")),
              indexDir))
            catch { case t: Throwable if vanishedFiles(t) => None }
          staged.foreach { mine =>
            graft.operators.IndexManifest.commitReplace(indexDir,
              old.toSet, mine)(legacyVectorFiles(indexDir)) match {
              case Some(_) =>
                // retire AFTER the swap; a cell whose every row was
                // tombstoned simply leaves the manifest
                deleteVectorFiles(indexDir, old)
              case None =>
                deleteVectorFiles(indexDir, mine) // lost to maintenance: restage
            }
          }
        // loop: re-discover against the new head (normally empty → fence+clear)
      }
    }
    sys.error(s"vacuum could not quiesce tombstoned rows after 8 passes: $indexDir")
  }

  // --- ann04: random-hyperplane LSH top-k — the LSH-bucketed ANN
  // scale path, complementing ann02's IVF (the two standard
  // sublinear ANN index families; a user picks by corpus shape —
  // IVF when clusters exist, hyperplane LSH when they don't or the
  // index must be build-free/streamable). Each vector maps to
  // `lshAnnBands` packed band keys (band id ‖ sign bits of
  // `lshAnnRows` seeded random hyperplane dots) in ONE narrow
  // codegen'd pass (HyperplaneBands — plane matrix rides into
  // generated code like NearestCells' centroids). Candidates come
  // from an equi-join on the band key with the QUERY side broadcast,
  // so at corpus scale the plan is: narrow scan + explode → broadcast
  // hash join (collisions only survive) → partial-aggregated pair
  // dedup → graft_topk heap selection. No corpus shuffle, no window,
  // no all-pairs anything: per-query candidate volume is
  // ~nBands · n / 2^rowsPerBand for random pairs, concentrated on
  // high-cosine neighbors (sign-agreement prob = 1 − θ/π per plane).
  //
  // Dial (measured, sf0.001/0.01/0.1): 16x4 → recall@5 .90-.92 at
  // ~65% of corpus as candidates; 16x5 → .68/.80/.82 at ~40%;
  // 16x6 → .52-.64 at ~24%; 16x8 → .22-.34 at ~7.5%. This corpus's
  // embeddings cluster weakly (the same measurement that set ann02's
  // nProbe), so every ANN family needs a wide probe here; a corpus
  // with real neighborhoods runs the same operator at 16x8.
  val lshAnnBands = 16
  val lshAnnRows = 5
  private val lshAnnDim = 64 // embeddings table vector width (TESTDATA.md)

  /** Deterministic Gaussian hyperplanes (fixed-seed, no session RNG —
    * reproducible across runs and engines like every other graft
    * sampling decision).
    */
  private[graft] lazy val annPlanes: Array[Array[Double]] = {
    val rng = new java.util.Random(0x9E3779B97F4A7C15L)
    // sized for the widest dial the recall/volume trade might want
    // (16 bands x 8 rows), not just the default
    Array.fill(16 * 8)(Array.fill(lshAnnDim)(rng.nextGaussian()))
  }

  val ann04_lsh_topk: Q = (s, d) => lshTopk(s, d, lshAnnBands, lshAnnRows)

  /** Parameterized body (bands × rows is the recall/candidate-volume
    * dial; the defaults are measured in OperatorsSpec).
    */
  def lshTopk(s: SparkSession, d: String, nBands: Int, nRows: Int,
              k: Int = 5): DataFrame = {
    require(nBands * nRows <= annPlanes.length,
      s"ann04 dial exceeds the generated plane matrix: $nBands x $nRows")
    val cb = vecs(s, d).select(col("vec_id").as("n_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      .select(col("n_id"), col("vb"), col("nb"),
        explode(graft.functions.GraftFunctions.hyperplaneBands(
          "vb", annPlanes, nBands, nRows)).as("bkey"))
    val qb = queriesOf(s, d)
      .select(col("q_id"), col("va"), col("na"),
        explode(graft.functions.GraftFunctions.hyperplaneBands(
          "va", annPlanes, nBands, nRows)).as("bkey"))
    cb.join(broadcast(qb), Seq("bkey"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      // a pair colliding in several bands appears once per collision;
      // the scores are identical, so max() is pure dedup (and gets
      // map-side partial aggregation, unlike distinct-then-join)
      .groupBy("q_id", "n_id").agg(max("cos").as("cos"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("cos", "n_id", k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("n_id"), r4(col("p.score")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  // --- ann05: product-quantization ANN (ADC scan + exact re-rank) —
  // the memory/IO-compression ANN family, complementing ann02 (IVF =
  // trained cell pruning) and ann04 (LSH = build-free bucketing). PQ
  // attacks a different axis: every vector is normalized, split into
  // pqM contiguous subspaces, each snapped to its nearest codeword
  // from a per-subspace codebook, and the codeword ids packed into
  // ONE long — 8 bytes/vector vs 512 (64 × double), a 64× scan-IO
  // reduction. The probe is EXHAUSTIVE over codes (every row scored
  // via ADC lookup tables — no candidate misses from bucketing) but
  // reads only the 8-byte code column; the ADC shortlist
  // (rerankFactor × k per query) is then re-ranked by EXACT cosine,
  // so the final ordering is exact over the shortlist and the only
  // approximation is quantization error in shortlist membership.
  //
  // Plan shape at scale: narrow codegen'd encode pass (codebooks ride
  // into generated code) → narrow ADC scoring + posexplode →
  // graft_topk heap selection (shuffle O(queries · ck · tasks),
  // corpus-independent) → broadcast shortlist-fetch join + exact
  // re-rank. No window over scored rows, no corpus shuffle, nothing
  // all-pairs. At 100 TB the code column is ~1.5 TB; combining with
  // IVF cell pruning multiplies the two savings — that composition IS
  // ann06 (probeIvfPq: ADC over manifest-pruned cells); this row keeps
  // the standalone exhaustive-scan point of the trade-off curve.
  //
  // Training is per-subspace Lloyd's on a DETERMINISTIC hash-ordered
  // sample capped at `pqSampleCap` collected to the driver — codebook
  // training is sample-sized by definition (16 books × 16 codewords ×
  // 4 dims = 1 KiB of parameters; faiss trains PQ the same way).
  val pqM = 16
  val pqKsub = 16
  val pqBits = 4
  private val pqSampleCap = 2048

  private val pqLife =
    new graft.IndexLifecycle[Array[Array[Array[Double]]]]("ann05-pq-books")

  def pqBooksFor(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    pqLife.getOrBuild(s, d)(trainPqCodebooks(s, d))

  /** Drop a session's memoized codebooks for a corpus dir (no files —
    * codebooks are ~1 KiB of driver memory, so `release` is a no-op).
    */
  def evictPqBooks(s: SparkSession, d: String): Unit = pqLife.evict(s, d)

  /** Per-subspace k-means codebooks over the normalized sample.
    * Deterministic end-to-end: hash-ordered sample, first-k-distinct
    * init, fixed iteration count.
    */
  def trainPqCodebooks(s: SparkSession, d: String, m: Int = pqM,
                       ksub: Int = pqKsub, iters: Int = 10): Array[Array[Array[Double]]] =
    trainPqBooksOf(vecs(s, d), m, ksub, iters)

  /** Training body over any (vec_id, v, nrm) frame. */
  def trainPqBooksOf(vdf: DataFrame, m: Int = pqM, ksub: Int = pqKsub,
                     iters: Int = 10): Array[Array[Array[Double]]] = {
    val sample = vdf.select(col("vec_id"), col("v"), col("nrm"))
      .orderBy(xxhash64(col("vec_id"))).limit(pqSampleCap).collect()
    require(sample.nonEmpty, "PQ training sample is empty")
    val pts = sample.map { r =>
      val a = r.getSeq[Double](1).toArray
      val n = r.getDouble(2)
      if (n > 0.0) a.map(_ / n) else a
    }
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      lloydL2(pts.map(p => java.util.Arrays.copyOfRange(p, j * dsub, (j + 1) * dsub)),
        ksub, iters)
    }
  }

  /** Plain Lloyd's over driver-resident points: first-k-distinct
    * init (the sample is already hash-shuffled), nearest-by-L2
    * assignment with ties to the lower id, empty cells keep their
    * previous centroid. Returns ≤ k centroids if the sample has
    * fewer distinct points.
    */
  private def lloydL2(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val init = collection.mutable.ArrayBuffer[Array[Double]]()
    var i = 0
    while (init.length < k && i < pts.length) {
      if (!init.exists(c => java.util.Arrays.equals(c, pts(i)))) init += pts(i).clone()
      i += 1
    }
    var cents = init.toArray
    for (_ <- 1 to iters) {
      val dims = pts.head.length
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val counts = new Array[Long](cents.length)
      pts.foreach { p =>
        val c = nearestL2(p, cents)
        counts(c) += 1
        var t = 0
        while (t < dims) { sums(c)(t) += p(t); t += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
    }
    cents
  }

  /** ADC lookup table of a NORMALIZED query against the codebooks:
    * entry (j·ksub + b) = dot(query subvector j, codeword b).
    */
  def pqLutFor(books: Array[Array[Array[Double]]], qn: Array[Double],
               ksub: Int = pqKsub): Array[Double] = {
    val lut = new Array[Double](books.length * ksub)
    var off = 0
    for (j <- books.indices) {
      val dsub = books(j)(0).length
      for (b <- books(j).indices) {
        var sdot = 0.0
        var t = 0
        while (t < dsub) { sdot += qn(off + t) * books(j)(b)(t); t += 1 }
        lut(j * ksub + b) = sdot
      }
      off += dsub
    }
    lut
  }

  private def nearestL2(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dd = 0.0
      var t = 0
      while (t < p.length) { val x = p(t) - cents(c)(t); dd += x * x; t += 1 }
      if (dd < bestD) { bestD = dd; best = c }
      c += 1
    }
    best
  }

  val ann05_pq_topk: Q = (s, d) => pqTopk(s, d)

  /** rerankFactor is the recall dial (measured, sf0.001/sf0.01):
    * 2× → .44/.68, 4× → .64/.78, 8× → .82/.90, 16× → .98/.96 — the
    * shortlist costs rerankFactor·k rows per query, so turning it up
    * is nearly free next to the ADC scan; 8× is the default
    * operating point on this weakly-clustered corpus.
    */
  def pqTopk(s: SparkSession, d: String, k: Int = 5, rerankFactor: Int = 8): DataFrame = {
    val books = pqBooksFor(s, d)
    // the query set is driver-sized by definition (like the centroid
    // matrix): its ADC tables ride into generated code
    val qRows = queriesOf(s, d).collect()
    val qIds: Array[Long] = qRows.map(_.getLong(0))
    val luts: Array[Array[Double]] = qRows.map { r =>
      val va = r.getSeq[Double](1).toArray
      val na = r.getDouble(2)
      pqLutFor(books, if (na > 0.0) va.map(_ / na) else va)
    }
    val codes = vecs(s, d).select(col("vec_id").as("n_id"),
      graft.functions.GraftFunctions.pqEncode("v", books, pqBits).as("code"))
    val shortlist = codes
      .select(col("n_id"), posexplode(graft.functions.GraftFunctions
        .pqAdcScores("code", luts, pqM, pqKsub, pqBits)).as(Seq("qi", "adc")))
      .withColumn("q_id", element_at(typedlit(qIds), col("qi") + 1))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("adc", "n_id", k * rerankFactor).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("p"))
      .select(col("q_id"), col("p.id").as("n_id"))
    // exact re-rank of the ADC shortlist: broadcast the shortlist
    // into the vector fetch (the corpus side streams), cosine from
    // the same codegen'd dot as ann01, then the final heap selection
    val c = vecs(s, d).select(col("vec_id").as("n_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val q = queriesOf(s, d)
    c.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"), r6(cosine).as("cos"))
      .groupBy("q_id")
      .agg(graft.functions.GraftFunctions.topK("cos", "n_id", k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("n_id"), r4(col("p.score")).as("cos_r"))
      .orderBy("q_id", "rank")
  }

  /** Diagnostic: distinct candidate pairs the band join yields at a
    * given dial (the probed-fraction measurement quoted in specs/docs).
    */
  def lshCandCount(s: SparkSession, d: String, nBands: Int, nRows: Int): Long = {
    val cb = vecs(s, d).select(col("vec_id").as("n_id"), col("v").as("vb"))
      .select(col("n_id"), explode(graft.functions.GraftFunctions.hyperplaneBands(
        "vb", annPlanes, nBands, nRows)).as("bkey"))
    val qb = queriesOf(s, d).select(col("q_id"),
      explode(graft.functions.GraftFunctions.hyperplaneBands(
        "va", annPlanes, nBands, nRows)).as("bkey"))
    cb.join(broadcast(qb), Seq("bkey")).filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct().count()
  }

  // --- ann02: IVF top-k — probe of the (memoized) persisted index.
  // Rows-only: approximate by design (recall < 1 vs ann01; the
  // quantified recall@5 floor is spec-asserted in OperatorsSpec).
  // nCells/nProbe trade recall against probed fraction. The defaults
  // probe ~30% of this corpus, whose clusters are weak (measured:
  // most high-cosine pairs cross label boundaries); a production
  // corpus with real cluster structure supports much larger nCells at
  // the same recall.
  val ann02_ivf_topk: Q = (s, d) =>
    probeIvf(s, ivfIndexFor(s, d), queriesOf(s, d))

  val registry: Map[String, Q] = Map(
    "ann01_brute_topk" -> ann01_brute_topk,
    "ann03_topk_agg" -> ann03_topk_agg,
    "ann02_ivf_topk" -> ann02_ivf_topk,
    "ann04_lsh_topk" -> ann04_lsh_topk,
    "ann05_pq_topk" -> ann05_pq_topk,
    "ann06_ivfpq_topk" -> ann06_ivfpq_topk,
    "ann07_range_search" -> ann07_range_search,
    "ann08_range_ivf" -> ann08_range_ivf,
    "ann09_knn_join" -> ann09_knn_join)

  private val bruteTopkSql =
    """SELECT q_id, rank, n_id, round(cos * 10000) / 10000 AS cos_r FROM (
      |  SELECT q_id, n_id, cos,
      |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
      |  FROM (
      |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |      round((list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |        (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |         sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 1000000) / 1000000 AS cos
      |    FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) s) r
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // ann03 computes the same exact result by a different physical
    // strategy — one oracle text, two plans under test
    "ann03_topk_agg" -> bruteTopkSql,
    "ann01_brute_topk" -> bruteTopkSql,
    // ann07: same scored universe as ann01, threshold cut on the same
    // r6-rounded cosine (boundary-stable across engines), r4 output.
    // NOT isnan mirrors the Spark side's explicit NaN exclusion — in
    // BOTH engines NaN compares greater than any value, so a zero-norm
    // vector's 0/0 would otherwise pass the >= cut here while the
    // Spark side drops it
    "ann07_range_search" ->
      """SELECT q_id, n_id, round(cos * 10000) / 10000 AS cos_r FROM (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    round((list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |      (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |       sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 1000000) / 1000000 AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) s
        |WHERE NOT isnan(cos) AND cos >= 0.30 ORDER BY q_id, n_id""".stripMargin)
}

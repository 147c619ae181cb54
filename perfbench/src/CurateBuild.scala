package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.cli.GraftCLI
import graft.dedup.Dedup
import graft.graph.PageRank
import graft.pipeline.Pipeline
import graft.similarity.Similarity

/** The batch data plane on one seeded corpus, repeated in a closed
  * loop of passes. A pass runs, in order:
  *
  *  - `GraftCLI.build`: quality gate → exact dedup → eval-set
  *    decontamination → shard files (`pipeline`, `text`);
  *  - `Dedup.jaccardPairs`: 3-gram Jaccard near-duplicate pairs
  *    (`dedup`);
  *  - `PageRank.pageRank` over the documents' link graph (`graph`);
  *  - `Similarity.buildIvfIndex` then `probeIvf` over the documents'
  *    embeddings (`similarity`).
  *
  * The corpus carries stated shares of quality-gate rejects, exact
  * duplicates and eval 5-gram overlap. DuckDB running the program's
  * own oracle SQL over the same files checks the build's manifest and
  * the pair set; an in-memory power iteration checks the ranks, and a
  * brute-force search checks the probe's recall.
  */
object CurateBuild {
  val Docs = 1000
  val Vocab = 20000
  val Skew = 0.9
  val Tokens = (25, 85)
  val StopShare = 0.1
  val RejectShare = 0.10    // half too short, half repetitive tokens
  val DuplicateShare = 0.08 // exact copy of an earlier doc, case/space varied
  val OverlapShare = 0.05   // train doc quoting 6 tokens of an eval doc (doc_id % 10 == 0)
  val ShardSize = 128
  val Links = (0, 8)        // out-links per document; 0 makes it dangling
  val Dim = 32
  val Clusters = 16
  val Queries = 20          // vec_id < Queries probe the index
  val Cells = 10
  val NProbe = 3
  val K = 5
  val RecallFloor = 0.8
  val PassSeconds = 12.0    // nominal length of one pass on 2 cores
  val RankIters = 3
  val SetupReps = 1         // a second warm-up pass would double the run's length
  private val Stop = Array("the", "a", "an", "of", "and", "to", "in", "is")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  def corpus(seed: Long): Seq[Doc] = {
    val z = new Gen.Zipf(Vocab, Skew, seed)
    val r = Gen.rng(seed, "curate-corpus")
    def words(n: Int, rr: SplittableRandom): Array[String] =
      Array.fill(n)(if (rr.nextDouble() < StopShare) Stop(rr.nextInt(Stop.length)) else z.next(rr))
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    (0 until Docs).map { i =>
      val u = r.nextDouble()
      val dup = u >= RejectShare && u < RejectShare + DuplicateShare && i > 0
      val toks: Array[String] =
        if (u < RejectShare / 2) words(5 + r.nextInt(10), r)
        else if (u < RejectShare) {
          val few = words(5, r)
          Array.fill(30 + r.nextInt(30))(few(r.nextInt(few.length)))
        } else if (dup) texts(r.nextInt(i))
        else {
          val t = words(Tokens._1 + r.nextInt(Tokens._2 - Tokens._1 + 1), r)
          if (u < RejectShare + DuplicateShare + OverlapShare && i % 10 != 0 && i >= 10) {
            val src = texts(r.nextInt(i / 10) * 10)
            if (src.length >= 6)
              System.arraycopy(src, r.nextInt(src.length - 5), t, r.nextInt(t.length - 5), 6)
          }
          t
        }
      texts += toks
      // duplicates differ only in case and spacing: the build's
      // normalised fingerprint folds both
      val text = if (dup) toks.map(_.capitalize).mkString("  ") else toks.mkString(" ")
      Doc(i.toLong, text, if (i % 7 == 0) "de" else "en", s"src${i % 5}", text.length.toLong)
    }
  }

  /** Directed links between documents, skewed towards low ids. */
  def links(seed: Long): Seq[(Long, Long)] = {
    val r = Gen.rng(seed, "curate-links")
    (0 until Docs).flatMap { i =>
      Seq.fill(Links._1 + r.nextInt(Links._2 - Links._1 + 1)) {
        val u = r.nextDouble()
        (i.toLong, (u * u * Docs).toLong)
      }
    }
  }

  /** One embedding per document: a seeded cluster centre plus noise. */
  def vectors(seed: Long): Seq[Vec] = {
    val r = Gen.rng(seed, "curate-vectors")
    def gauss(): Double = { // Box-Muller
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres = Array.fill(Clusters, Dim)(gauss())
    (0 until Docs).map { i =>
      val c = r.nextInt(Clusters)
      Vec(i.toLong, Array.tabulate(Dim)(j => (centres(c)(j) + 0.6 * gauss()).toFloat), c)
    }
  }

  /** The ranks `PageRank.pageRank` must return (damping 0.85,
    * dangling mass spread evenly), by plain iteration.
    */
  def pageRankModel(edges: Seq[(Long, Long)], iters: Int, damping: Double = 0.85): Map[Long, Double] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.size
    val outDeg = es.groupBy(_._1).map { case (k, v) => k -> v.size }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      es.foreach { case (s, d) => contrib(d) += rank(s) / outDeg(s) }
      val dm = nodes.filterNot(outDeg.contains).map(rank).sum
      rank = nodes.map(v => v -> ((1 - damping) / n + damping * (contrib(v) + dm / n))).toMap
    }
    rank
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-K neighbour ids of each query, self excluded. */
  def bruteTopK(vs: Seq[Vec]): Map[Long, Set[Long]] = {
    val dv = vs.map(v => v.vec_id -> v.embedding.map(_.toDouble))
    dv.filter(_._1 < Queries).map { case (q, a) =>
      q -> dv.filter(_._1 != q).map { case (id, b) => (id, cosine(a, b)) }
        .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet
    }.toMap
  }

  private def manifestOf(spark: SparkSession, out: String): Seq[String] = {
    val root = Pipeline.shardDataRoot(out).getOrElse(sys.error(s"$out is not committed"))
    spark.read.parquet(s"$root/manifest").collect().map(_.toString).toSeq.sorted
  }

  private def rowsOf(spark: SparkSession, path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  /** One pass over the inputs in `in`, its outputs under `out`. */
  private final class Pass(spark: SparkSession, run: Run, in: String, out: String,
                           queries: DataFrame) {
    var ranks = Map.empty[Long, Double]
    var probed = Seq.empty[(Long, Long, Double)] // (query, neighbour, rounded cosine)

    def apply(): Unit = {
      run.op("pipeline.build_ms", "pipeline.build") {
        GraftCLI.build(spark, in, s"$out/shards", ShardSize)
      }
      run.op("dedup.jaccard_pairs_ms", "dedup.jaccardPairs") {
        try Dedup.jaccardPairs(spark, in).write.parquet(s"$out/pairs")
        finally Dedup.evictPairs(spark, in) // the pair set is memoised per (session, dir)
      }
      run.op("graph.pagerank_ms", "graph.pageRank") {
        PageRank.pageRank(spark.read.parquet(s"$in/links.parquet"), iters = RankIters).collect()
      }.foreach(rs => ranks = rs.map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      run.op("similarity.ivf_build_ms", "similarity.buildIvfIndex") {
        Similarity.buildIvfIndex(spark, in, s"$out/ivf", Cells)
      }
      run.op("similarity.ivf_probe_ms", "similarity.probeIvf") {
        Similarity.probeIvf(spark, s"$out/ivf", queries, NProbe, K).collect()
      }.foreach(rs => probed = rs.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq)
    }
  }

  def run(spark: SparkSession, run: Run, a: Main.Args): Unit = {
    val docs = corpus(a.seed)
    val edges = links(a.seed)
    val vecs = vectors(a.seed)
    val queries = {
      import spark.implicits._
      vecs.filter(_.vec_id < Queries).map { v =>
        val d = v.embedding.map(_.toDouble)
        (v.vec_id, d, math.sqrt(d.map(x => x * x).sum))
      }.toDF("q_id", "va", "na")
    }

    // set-up: write the inputs and run one warm-up pass over them;
    // repeated, each time into fresh directories
    var in = ""
    run.recording = false
    for (rep <- 0 until SetupReps) run.setup {
      in = a.dir(s"corpus$rep")
      import spark.implicits._
      docs.toDF().coalesce(1).write.parquet(s"$in/documents.parquet")
      vecs.toDF().coalesce(1).write.parquet(s"$in/embeddings.parquet")
      edges.toDF("src", "dst").coalesce(1).write.parquet(s"$in/links.parquet")
      new Pass(spark, run, in, a.dir(s"warm$rep"), queries)()
    }
    run.recording = true

    // a fixed number of passes, sized to --seconds
    val passes = (1 to math.max(1, math.round(a.seconds / PassSeconds).toInt)).map { i =>
      new Pass(spark, run, in, a.dir(s"pass$i"), queries)
    }
    run.measure(passes.foreach(_()))
    run.put("window.ops", passes.size * 5.0)
    run.put("window.items", passes.size.toDouble * Docs)

    // ---- output checks, outside the window
    val firstOut = a.dir("pass1")
    val manifest = manifestOf(spark, s"$firstOut/shards")
    val pairs = rowsOf(spark, s"$firstOut/pairs")
    passes.zipWithIndex.tail.foreach { case (p, i) =>
      val out = a.dir(s"pass${i + 1}")
      run.check(s"pass${i + 1}.manifest_repeats", manifestOf(spark, s"$out/shards") == manifest,
        s"manifest of $out differs from $firstOut")
      run.check(s"pass${i + 1}.pairs_repeat", rowsOf(spark, s"$out/pairs") == pairs,
        s"pairs of $out differ from $firstOut")
    }
    val root = Pipeline.shardDataRoot(s"$firstOut/shards").get
    run.put("pipeline.docs_in", Docs.toDouble)
    run.put("pipeline.keep_share", spark.read.parquet(s"$root/manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()(0).getLong(0).toDouble / Docs)
    val tables = Map("documents" -> s"$in/documents.parquet")
    run.oracles += Map("name" -> "pp11_full_build", "sql" -> graft.SparkEntry.oracleSql("pp11_full_build"),
      "tables" -> tables, "output" -> s"$root/manifest")
    run.oracles += Map("name" -> "dd02_ngram_jaccard", "sql" -> graft.SparkEntry.oracleSql("dd02_ngram_jaccard"),
      "tables" -> tables, "output" -> s"$firstOut/pairs")

    val wantRanks = pageRankModel(edges, RankIters)
    passes.zipWithIndex.foreach { case (p, i) =>
      val worst = (wantRanks.keySet ++ p.ranks.keySet).iterator
        .map(k => math.abs(wantRanks.getOrElse(k, -1.0) - p.ranks.getOrElse(k, 1.0))).max
      run.check(s"pass${i + 1}.pagerank_matches_model", worst <= 1e-12, s"max |rank - model| = $worst")
    }

    val truth = bruteTopK(vecs)
    val byId = vecs.map(v => v.vec_id -> v.embedding.map(_.toDouble)).toMap
    val recall = passes.map { p =>
      p.probed.count { case (q, n, _) => truth.getOrElse(q, Set.empty[Long]).contains(n) }.toDouble /
        (Queries * K)
    }
    run.put("similarity.ann_recall_at_k", recall.min)
    passes.zipWithIndex.foreach { case (p, i) =>
      run.check(s"pass${i + 1}.ann_recall_at_$K", recall(i) >= RecallFloor,
        s"recall ${recall(i)} below $RecallFloor")
      val off = p.probed.filter { case (q, n, c) =>
        math.abs(math.round(cosine(byId(q), byId(n)) * 10000) / 10000.0 - c) > 1.5e-4
      }
      run.check(s"pass${i + 1}.ann_scores_exact", off.isEmpty && p.probed.size == Queries * K,
        s"${p.probed.size} neighbours; wrong cosine: ${off.take(3).mkString(", ")}")
    }

    // traced runs: the build's stages one by one, outside the window
    if (run.traced) {
      def stage(sampleName: String, spanName: String)(body: => Unit): Unit = {
        val t = System.nanoTime()
        run.span(spanName)(body)
        run.sample(sampleName, (System.nanoTime() - t) / 1e6)
      }
      stage("text.quality_gate_ms", "text.tx16_quality_gate") {
        graft.text.TextAnalysis.tx16_quality_gate(spark, in).filter(col("keep")).count()
      }
      stage("pipeline.decontaminate_ms", "pipeline.pp05_decontaminate") {
        Pipeline.pp05_decontaminate(spark, in).count()
      }
      stage("pipeline.write_shards_ms", "pipeline.writeShardsOf") {
        Pipeline.writeShardsOf(spark, graft.Tables.documents(spark, in)
          .select("doc_id", "text", "n_chars"), a.dir("stage-shards") + "/out", ShardSize).collect()
      }
    }
  }
}

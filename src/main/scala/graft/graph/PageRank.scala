package graft.graph

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2 graph analytics beside dedup's connected components: PageRank
  * with damping and dangling-mass redistribution — the standard
  * iterative-on-Spark shape (the reference has no graph surface;
  * this is part of the beyond-reference pipeline set, like the ANN
  * and sketch families).
  *
  * Scale posture mirrors dedup/ConnectedComponents.scala: every
  * iteration is ONE keyed join (edges ⋈ ranks on src — both sides
  * hash-partitioned on the same key, so a cluster reuses the
  * exchange) plus ONE keyed aggregation (contributions by dst);
  * `localCheckpoint` every few rounds truncates the growing lineage
  * so round N's plan doesn't replay rounds 1..N-1. The dangling mass
  * (rank parked on sink nodes) stays IN-PLAN as a one-row broadcast
  * (scalar expansion — iterations never block on a driver collect)
  * folded back uniformly, which keeps sum(rank) = 1 an exact
  * invariant (spec-asserted) instead of letting sink nodes leak
  * mass. Nothing here is an unbounded crossJoin, a window over the
  * node set, or a per-node driver loop.
  */
object PageRank {
  type Q = (SparkSession, String) => DataFrame

  /** Ranks after at most `iters` damped iterations over
    * `edges(src, dst)` (directed, duplicates collapse to one edge).
    * Returns (node, rank) for every node appearing as src or dst.
    *
    * `tol > 0` enables convergence termination: at each checkpoint
    * round the L1 delta against the PREVIOUS checkpoint's
    * (materialized) ranks is read off one extra keyed join + one-row
    * aggregate — since per-iteration deltas shrink geometrically (by
    * the damping factor), a small delta across `checkpointEvery`
    * iterations certifies the fixpoint. The default `tol = 0` keeps
    * the historical fixed-iteration behavior bit-for-bit (pr01's
    * registered output is unchanged).
    */
  def pageRank(edges0: DataFrame, damping: Double = 0.85,
               iters: Int = 10, checkpointEvery: Int = 3,
               tol: Double = 0.0): DataFrame =
    pageRankConverged(edges0, damping, iters, checkpointEvery, tol)._1

  /** [[pageRank]] plus the number of iterations actually run — the
    * observable the early-stop spec asserts on.
    */
  def pageRankConverged(edges0: DataFrame, damping: Double = 0.85,
                        iters: Int = 10, checkpointEvery: Int = 3,
                        tol: Double = 0.0): (DataFrame, Int) = {
    val edges = edges0.toDF("src", "dst").distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    require(n > 0, "pageRank on an empty edge set")
    // SCALE-ADAPTIVE broadcast of the node-sized frames (r22, §3.1):
    // every iteration's contribution join shuffled the EDGE table
    // (both sides of a sort-merge join, every round — the checkpointed
    // frames are LogicalRDDs whose size the planner can't estimate,
    // so it never broadcast anything). Ranks/degrees are node-sized;
    // when the node count — already computed for the teleport
    // constant — fits comfortably in a broadcast, hinting them turns
    // each iteration into scan-the-checkpointed-edges → BroadcastHash
    // → partial agg, with only a node-sized exchange left. Past the
    // threshold (a graph whose node set is itself huge) the plan
    // stays the sort-merge one — the hint is per-graph, not a config
    // constant. Results are unchanged: the same damped sums, modulo
    // float reassociation both engines already exhibit (the output
    // rounds at 1e-9 for exactly that reason).
    val bcastNodes = edges.sparkSession.conf
      .get("spark.graft.pagerank.broadcastMaxNodes", "2000000").toLong
    def maybeBcast(df: DataFrame): DataFrame =
      if (n <= bcastNodes) broadcast(df) else df
    // outDeg is ITERATION-INVARIANT but was re-derived from the edge
    // table inside every iteration's dangling-mass join — 10 extra
    // edge-sized aggregations per run (r22). One eager checkpoint
    // pins the node-sized result; every later use reads blocks.
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val withDeg = edges.join(maybeBcast(outDeg), "src").localCheckpoint()
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var lastCheckpoint: DataFrame = null
    var itersRun = 0
    var converged = false
    for (i <- 1 to iters if !converged) {
      val contribs = withDeg
        .join(maybeBcast(ranks), col("src") === col("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("contrib"))
      // rank parked on dangling nodes (no out-edges) this round —
      // kept IN-PLAN as a one-row broadcast (scalar expansion, the
      // q40/q41 pattern) rather than a driver collect, so an
      // iteration never blocks: only the periodic checkpoint runs a
      // job, materializing `checkpointEvery` iterations at once
      val dangling = ranks
        .join(maybeBcast(outDeg), col("node") === col("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      ranks = nodes.join(maybeBcast(contribs), Seq("node"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
              col("dm") / n)).as("rank"))
      itersRun = i
      if (i % checkpointEvery == 0 || i == iters) {
        ranks = ranks.localCheckpoint()
        if (tol > 0.0 && lastCheckpoint != null) {
          // both sides are materialized checkpoints, so the delta is
          // one keyed join + a one-row aggregate — no lineage replay
          val delta = ranks.join(
              lastCheckpoint.withColumnRenamed("rank", "prev"), "node")
            .agg(sum(abs(col("rank") - col("prev"))).as("d"))
            .first().getDouble(0)
          converged = delta < tol
        }
        lastCheckpoint = ranks
      }
    }
    (ranks, itersRun)
  }

  /** The customer→supplier fulfillment graph: an edge per distinct
    * (o_custkey, l_suppkey) pair reachable through an order. Ranks
    * concentrate on suppliers serving many well-connected customers
    * — "supplier centrality" telemetry over the same facts as the
    * relational suite.
    */
  def fulfillmentEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      // customers and suppliers share a key space only by accident —
      // offset suppliers into a disjoint id range
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000000L).as("dst"))

  /** Top-25 nodes by rank. Oracle-checked: a recursive CTE can't
    * aggregate in its recursive member, but pr01's iteration count is
    * a FIXED parameter — the oracle simply UNROLLS the 10 damped
    * stages as chained CTEs (join + group-by + dangling-mass scalar
    * subquery per stage, each MATERIALIZED so DuckDB doesn't inline
    * the 3-reference stages exponentially), rounded at 1e-9 like
    * every float oracle. The spec additionally asserts mass
    * conservation, a closed-form tiny-graph fixpoint, and
    * driver-recompute equality.
    */
  val pr01_pagerank: Q = (s, d) =>
    pageRank(fulfillmentEdges(s, d))
      .select(col("node"), round(col("rank") * 1000000000) / 1000000000 as "rank_r")
      .orderBy(col("rank_r").desc, col("node")).limit(25)

  /** One unrolled PageRank stage r<i> from r<i-1> (see
    * [[pr01_pagerank]]). `0.15000000000000002` is literally the
    * Scala-side `1.0 - 0.85` double, so both engines feed the same
    * teleport constant into the rounding boundary.
    */
  private def prStage(i: Int): String =
    s"""r$i AS MATERIALIZED (
       |  SELECT nd.node,
       |    (SELECT inv_n FROM params) * 0.15000000000000002
       |    + 0.85 * (COALESCE(c.contrib, 0.0)
       |      + (SELECT COALESCE(sum(r.rank), 0.0) FROM r${i - 1} r
       |         ANTI JOIN deg d ON r.node = d.src)
       |        * (SELECT inv_n FROM params)) AS rank
       |  FROM nodes nd
       |  LEFT JOIN (
       |    SELECT e.dst AS node, sum(r.rank / d.deg) AS contrib
       |    FROM e JOIN r${i - 1} r ON e.src = r.node
       |    JOIN deg d ON e.src = d.src
       |    GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin

  private[graph] def pr01OracleSql(iters: Int = 10): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000000 AS dst
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
       |params AS (SELECT 1.0 / count(*) AS inv_n FROM nodes),
       |r0 AS (SELECT node, (SELECT inv_n FROM params) AS rank FROM nodes),
       |${(1 to iters).map(prStage).mkString(",\n")}
       |SELECT node, round(rank * 1000000000) / 1000000000 AS rank_r
       |FROM r$iters ORDER BY rank_r DESC, node LIMIT 25""".stripMargin

  /** The part co-purchase graph: an undirected edge (a < b by
    * construction) between parts appearing in the same order —
    * duplicates left in, since [[triangleCounts]] canonicalizes and
    * dedups anyway (a second distinct here would just add a shuffle).
    * Unlike the bipartite fulfillment graph this one closes triangles.
    */
  def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    li.as("x").join(li.as("y"), col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
  }

  /** pr02: triangle counting with DEGREE-ORDERED orientation — the
    * standard trick that makes the wedge join feasible at scale:
    * orienting every edge from its lower-degree endpoint (ties by
    * id) bounds per-node out-degree by O(√m), so the wedge
    * self-join generates O(m^1.5) candidates total instead of
    * Σ deg² (a single celebrity node would otherwise explode the
    * join). Wedges close against the canonical edge set by one more
    * equi-join; each closed triangle credits all three corners.
    * Everything is keyed joins + aggregations — no windows, nothing
    * all-pairs beyond the bounded wedge set.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonicalize INSIDE the operator rather than assuming a < b of
    // the caller: a mirrored duplicate edge (b, a) would survive a
    // plain distinct(), inflate both degrees, and silently miscount —
    // least/greatest folds mirrors together and drops self-loops.
    // The edge set then feeds four subplans (two degree scans, the
    // orientation join, the closing join) — materialize it once
    // instead of re-deriving the upstream edge build each time
    val und = edges.toDF("a", "b")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    // SCALE-ADAPTIVE broadcasts (r22, §3.1): the wedge set is
    // O(m^1.5) rows — by far the largest frame in the plan — and the
    // closing sort-merge join SHUFFLED all of it to match against the
    // m-row canonical edge set (the checkpointed frames are
    // LogicalRDDs with no size estimates, so the planner never
    // broadcast anything). When the edge set fits a broadcast (the
    // count is one cheap job over the already-materialized checkpoint
    // blocks), hinting the edge/degree sides makes wedges stream
    // through BroadcastHashJoins and die in the partial aggregation —
    // ZERO wedge-sized exchanges. Past the threshold the sort-merge
    // plan stays (the wedge set of a 100 TB graph must spill through
    // a shuffle; its edge side wouldn't fit an executor). Triangle
    // counts are exact integers — join strategy cannot change them.
    val bcastMax = edges.sparkSession.conf
      .get("spark.graft.triangles.broadcastMaxEdges", "2000000").toLong
    val mEdges = und.count()
    def maybeBcast(df: DataFrame): DataFrame =
      if (mEdges <= bcastMax) broadcast(df) else df
    // deg is one row per NODE (tiny next to the edge set) and the plan
    // consumes it FOUR times — da/db for e1's orientation and again
    // inside e2's broadcast subtree — with no ReusedExchange across
    // those consumers, so the 2m-row union + aggregation runs four
    // times. Pinning it with an eager checkpoint was measured and
    // loses (co-purchase graph at sf0.1: 11.76 s pinned vs 9.82
    // unpinned medians): AQE materializes the four redundant subtrees
    // as CONCURRENT broadcast-build stages, so their wall cost mostly
    // overlaps, while the eager pin serializes a blocking job in front
    // of every downstream stage.
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // The wedge self-join reads `oriented` on both sides and
    // ReusedExchange does NOT fire across the e1/e2 subtrees, so the
    // two degree joins execute twice — but that recompute was measured
    // CHEAPER than a localCheckpoint pin on `oriented` (co-purchase
    // graph at sf0.1: 4.58 s unpinned vs 5.10 s pinned; 5M-edge
    // ring+hub: 6.3 s vs 14.7 s; 20M: 27.8 s vs 39.7 s): the
    // checkpoint's write-everything barrier plus the lost pipelining
    // outweighs re-running two co-partitioned joins whose input
    // (`und`) is already pinned.
    val oriented = und
      .join(maybeBcast(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da")), "a")
      .join(maybeBcast(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    // FAN OUT the generator stage (r22 follow-up): on the broadcast
    // path the wedge enumeration + closing probe + partial aggregation
    // fuse into ONE stage whose partitioning is inherited from the
    // `und` checkpoint — which AQE coalesced from its INPUT bytes
    // (~20 MB at sf0.1 → 10 partitions), leaving most cores idle
    // while each task enumerates its share of the O(m^1.5) wedge set.
    // Generator-heavy stages need parallelism ∝ OUTPUT, which AQE
    // cannot see; one cheap round-robin exchange of the m-row e1 side
    // spreads the enumeration across every core.
    // Only on the broadcast path: past the gate the wedge join is a
    // sort-merge whose exchange already repartitions e1.
    val e1 = if (mEdges <= bcastMax)
      oriented.repartition(edges.sparkSession.sparkContext.defaultParallelism)
    else oriented
    val wedges = e1.as("e1")
      .join(maybeBcast(oriented.as("e2")),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val closed = wedges.join(maybeBcast(und),
      col("v") === col("a") && col("w") === col("b"))
      .select(col("u"), col("v"), col("w"))
    closed.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }

  /** Per-part triangle participation over the co-purchase graph. */
  val pr02_triangles: Q = (s, d) => triangleCounts(copurchaseEdges(s, d))

  val registry: Map[String, Q] = Map(
    "pr01_pagerank" -> pr01_pagerank,
    "pr02_triangles" -> pr02_triangles)

  val oracles: Map[String, String] = Map(
    "pr01_pagerank" -> pr01OracleSql(),
    // canonical a<b<c triangle enumeration; each triangle credits
    // its three corners (the orientation is a physical-plan choice,
    // not a semantic one, so the oracle doesn't need it)
    "pr02_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri) z
        |GROUP BY node ORDER BY node""".stripMargin)
}

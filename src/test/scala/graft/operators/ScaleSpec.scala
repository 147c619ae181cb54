package graft.operators

import graft.{SparkSpecBase, Tables}
import graft.functions.GraftExtensions
import org.apache.spark.sql.functions._

/** Scale-path specs: salting equivalence, bucketed co-located joins,
  * SQL function registration.
  */
class ScaleSpec extends SparkSpecBase {

  test("salted aggregation equals the direct aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val direct = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_value"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(li, Seq("l_returnflag"), "l_quantity")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salted join equals the direct join") {
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val direct = orders.join(li, "o_orderkey").count()
    val salted = Skew.saltedJoin(li, orders, "o_orderkey").count()
    assert(salted == direct)
  }

  test("key histogram surfaces the heavy hitters") {
    val h = Skew.keyHistogram(Tables.lineitem(spark, sfDir), col("l_returnflag"), 3)
      .collect()
    assert(h.length == 3)
    // shares are a NORMALIZED distribution: each in (0, 1], and with
    // all 3 of l_returnflag's values in the top-3 they sum to ~1 —
    // a regression to raw counts (or a wrong denominator) fails here,
    // where a bare `sum > 0.9` would not
    val shares = h.map(_.getAs[Double]("share"))
    assert(shares.forall(s => s > 0.0 && s <= 1.0), s"share out of (0,1]: ${shares.toSeq}")
    assert(math.abs(shares.sum - 1.0) < 1e-9, s"shares sum to ${shares.sum}, not 1")
  }

  test("bucketed tables join without an exchange") {
    val wh = tmpDir("graft-warehouse")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.sql("DROP TABLE IF EXISTS orders_b")
    s2.sql("DROP TABLE IF EXISTS lineitem_b")
    Tables.orders(s2, sfDir).write
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(s2, sfDir).select("l_orderkey", "l_quantity").write
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")
    val joined = s2.table("orders_b")
      .join(s2.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located buckets: the join must not reshuffle either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == Tables.lineitem(s2, sfDir).count())
  }

  test("plan posture guards: pushdown reaches the scan, dims broadcast") {
    // q05: every predicate must reach the parquet scan — a regression
    // here silently re-reads full row groups at 100 TB
    val q05 = graft.SparkEntry.queries("q05_filter_project")(spark, sfDir)
    val p05 = q05.queryExecution.executedPlan.toString
    assert(p05.contains("PushedFilters: [") && p05.contains("l_quantity"),
      s"q05 filters not pushed:\n$p05")
    // q06: dimension joins must stay broadcast (no shuffle of customer
    // per dim join)
    val q06 = graft.SparkEntry.queries("q06_join_broadcast")(spark, sfDir)
    val p06 = q06.queryExecution.executedPlan.toString
    assert(p06.contains("BroadcastHashJoin"), s"q06 lost its broadcast:\n$p06")
  }

  test("q23: high-cardinality quantile has no per-group percentile buffer") {
    val q23 = graft.SparkEntry.queries("q23_percentiles")(spark, sfDir)
    // the price percentile must come from the sort+rank path, not a
    // value-buffering percentile aggregate over the unbounded double
    val analyzed = q23.queryExecution.analyzed.toString
    assert(!analyzed.contains("percentile(l_extendedprice"),
      s"q23 still buffers l_extendedprice:\n$analyzed")
    // value equivalence with the buffering implementation
    val direct = Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg((round(expr("percentile(l_extendedprice, 0.95)") * 100) / 100).as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    q23.collect().foreach { r =>
      val flag = r.getString(0)
      val got = r.getAs[Double]("price_p95")
      assert(math.abs(got - direct(flag)) < 1e-6, s"$flag: $got vs ${direct(flag)}")
    }
  }

  test("q24: per-group argmax aggregates, never windows over a 3-value key") {
    val q24 = graft.SparkEntry.queries("q24_first_last")(spark, sfDir)
    // a row_number window partitioned by l_returnflag puts the whole
    // table on 3 tasks; the max_by aggregate must keep it out of the plan
    val plan = q24.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q24 regressed to a window plan:\n$plan")
    assert(plan.contains("partial_max_by") || plan.contains("partial max_by"),
      s"q24 lost map-side partial aggregation:\n$plan")
    // tie-break-exact equivalence with the window formulation
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val viaWindow = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_orderkey").as("top_orderkey"),
        (round(col("l_extendedprice") * 100) / 100).as("top_price"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val viaAgg = q24.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("q46: sketch rollup merges losslessly and bounds the exact count") {
    val q46 = graft.SparkEntry.queries("q46_sketch_rollup")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // merging the monthly sketches must equal sketching the year
    // directly — the rollup is not a second approximation
    val direct = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("apx"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(q46.toSet == direct.toSet,
      s"merged rollup diverges from direct sketch:\n${q46.toSeq} vs ${direct.toSeq}")
    // estimates stay within HLL's error envelope of the exact answer
    val exact = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(countDistinct("o_custkey").as("d"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    q46.foreach { case (y, apx, _) =>
      val d = exact(y).toDouble
      assert(math.abs(apx - d) / d < 0.05, s"year $y: est $apx vs exact $d")
    }
  }

  test("q51: bitmap rollup is exact, lossless under merge, and guards its domain") {
    val q51 = graft.SparkEntry.queries("q51_bitmap_rollup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the whole point vs q46: merged monthly sketches give the EXACT
    // year distinct count (bitwise OR is lossless)
    val exact = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"))
      .agg(countDistinct("o_custkey").as("d"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(q51.toSet == exact.toSet,
      s"bitmap rollup diverges from exact distinct:\n${q51.toSeq} vs ${exact.toSeq}")
    // an out-of-range key must fail loudly, not corrupt the count
    val err = intercept[Exception] {
      Tables.orders(spark, sfDir)
        .agg(graft.functions.GraftFunctions.bitmapAgg("o_custkey", maxKey = 2).as("sk"))
        .collect()
    }
    // pin the DOMAIN guard's actionable message (key + bound + remedy),
    // not just "something threw" — an argument-plumbing crash must not
    // green the fail-loudly contract
    assert(String.valueOf(err.getMessage).contains("outside [0, 2)"),
      s"expected the graft_bitmap domain guard, got: ${err.getMessage}")
  }

  test("q58: sparse bitmap rollup is exact and lossless on a 64-bit key domain") {
    val q58 = graft.SparkEntry.queries("q58_bitmap64_rollup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // q51's contract on a domain the dense bitmap cannot hold: keys
    // are custkey spread across the 64-bit space (injective), so the
    // sparse rollup must still equal the exact distinct count
    val exact = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"))
      .agg(countDistinct("o_custkey").as("d"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(q58.toSet == exact.toSet,
      s"sparse rollup diverges from exact distinct:\n${q58.toSeq} vs ${exact.toSeq}")
    // LOSSLESS merge, sketch-domain strong form: the canonical
    // serialization means the year rollup of monthly sketches is
    // BIT-EQUAL to sketching the year directly — merge shape leaves
    // no trace in the artifact
    val k64 = col("o_custkey").cast("long") * lit(4294967311L)
    val viaMonths = Tables.orders(spark, sfDir)
      .withColumn("k64", k64)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(graft.functions.GraftFunctions.bitmap64Agg("k64").as("sk"))
      .groupBy("y").agg(graft.functions.GraftFunctions.bitmap64Union("sk").as("usk"))
      .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toMap
    val direct = Tables.orders(spark, sfDir)
      .withColumn("k64", k64)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(graft.functions.GraftFunctions.bitmap64Agg("k64").as("usk"))
      .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toMap
    assert(viaMonths.keySet == direct.keySet)
    viaMonths.foreach { case (y, bytes) =>
      assert(java.util.Arrays.equals(bytes, direct(y)),
        s"year $y: merged monthly sketch bytes differ from the direct sketch")
    }
    // scale contract: the sketch build is map-side combined (partial
    // aggregation BEFORE the exchange — same mergeable-state shape as
    // graft_topk / graft_bitmap), so the shuffle carries one partial
    // sketch per (task, group), never raw keys
    val plan = graft.SparkEntry.queries("q58_bitmap64_rollup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_bitmap64"),
      s"sparse sketch build is not map-side combined:\n$plan")
  }

  test("plan sweep: no registered query nested-loops or cross-joins unjustified") {
    // Intentional exceptions, each with the reason the sweep must not
    // erode. The "single-row broadcast" cases are scalar expansion —
    // attaching a grand aggregate to every row is an n×1 nested loop,
    // i.e. a map, the same shape Spark plans for scalar subqueries.
    val allowed = Map(
      "ann01_brute_topk" -> "all-pairs compare IS the brute-force semantics",
      "ann03_topk_agg" -> "same all-pairs compare; the selection is the bounded-heap agg",
      "ann07_range_search" -> "same all-pairs compare; threshold cut instead of rank (IVF path is ann08)",
      "q39_dense_grid" -> "cross of two bounded dims (regions × order statuses)",
      "q40_resample_ffill" -> "single-row broadcast of the global time bounds",
      "q55_resample_interp" -> "single-row broadcast of the global time bounds (q40's grid)",
      "pr01_pagerank" -> "single-row broadcast of the per-iteration dangling mass",
      "q41_histogram" -> "single-row broadcast of the global value bounds",
      "tx06_tfidf" -> "single-row broadcast of the corpus doc count",
      "tx14_unigram_lp" -> "single-row broadcast of the corpus token total",
      "tx17_bigram_lp" -> "single-row broadcast of the corpus bigram total",
      "tx09_corpus_stats" -> "1×1 cross of two grand aggregates")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => allowed.contains(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val bad = Seq("BroadcastNestedLoopJoin", "CartesianProduct")
          .filter(plan.contains)
        if (bad.nonEmpty) Some(s"$name (${bad.mkString(",")})") else None
      }
    assert(offenders.isEmpty,
      s"scale-hostile join shape in: ${offenders.mkString("; ")}")
  }

  test("q40: the resample pin's size gate reads a file: URI corpus path") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    val q40 = graft.SparkEntry.queries("q40_resample_ffill")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // any non-empty events file clears a 1-byte gate, so the plan must
    // read events once, through the pinned RDD, never a file scan
    val pinned = spark.newSession()
    pinned.conf.set("spark.graft.resample.pinMinBytes", "1")
    val df = q40(pinned, "file:" + sfDir)
    val plan = df.queryExecution.sparkPlan
    val eventScans = plan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName == "events.parquet") => f
    }
    assert(eventScans.isEmpty, s"events re-scanned past the pin:\n$plan")
    val rdds = plan.collect { case r: RDDScanExec => r.rdd.id }.distinct
    assert(rdds.size == 1, s"expected one pinned events RDD, got $rdds:\n$plan")
    // the pin is a physical choice: same rows as the unpinned plan
    val unpinned = spark.newSession()
    unpinned.conf.set("spark.graft.resample.pinMinBytes", Long.MaxValue.toString)
    assert(rows(df) == rows(q40(unpinned, sfDir)))
  }

  test("SQL registration: graft_* functions callable from spark.sql") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_l2norm(array(3.0D, 4.0D)) AS n,
        |       graft_simhash64(array('a', 'b')) AS s,
        |       size(graft_rolling_hashes(array('a','b','c','d','e','f'), 5)) AS w,
        |       graft_char_stats('aab') AS cs,
        |       graft_token_stats(array('a', 'b', 'a', 'b', 'a')) AS ts
        |""".stripMargin).collect()(0)
    assert(row.getAs[Double]("d") == 11.0)
    assert(row.getAs[Double]("n") == 5.0)
    assert(row.getAs[Long]("s") != 0L)
    assert(row.getAs[Int]("w") == 2)
    val cs = row.getStruct(row.fieldIndex("cs"))
    assert(cs.getLong(0) == 3L && cs.getLong(1) == 2L)
    assert(math.abs(cs.getDouble(2) - 0.9183) < 1e-4)
    // (a b a b a): 5 tokens, 2 distinct, bigrams {a b, b a}, top count 3
    val ts = row.getStruct(row.fieldIndex("ts"))
    assert(ts.getLong(0) == 5L && ts.getLong(1) == 2L &&
      ts.getLong(2) == 2L && ts.getLong(3) == 3L)
  }
}

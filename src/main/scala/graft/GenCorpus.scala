package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a LARGER corpus by key-offset replication of an existing
  * one, so the heaviest rows can be scaling-sampled on a corpus many
  * times the bench SF without a TPC-H generator. Copy `i` adds
  * `i × stride` to every key column, so referential integrity holds
  * per copy (order/part/supplier/customer keys offset consistently);
  * document texts are vowel-rotated and embeddings perturbed per copy
  * so the near-dup operators don't face a cross-copy duplicate
  * explosion that no real corpus of that size would have. `region`
  * and `nation` are copied once.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<srcDir> tools/run.sh graft.GenCorpus <outDir> [copies]`
  * (copies defaults to 10).
  */
object GenCorpus {
  // key strides per copy; each must exceed the source's max key
  private val custStride = 1000000L         // c_custkey, o_custkey, events.user_id
  private val suppStride = 1000000L         // s_suppkey, l_suppkey
  private val partStride = 1000000L         // p_partkey, l_partkey
  private val orderStride = 10000000L       // o_orderkey, l_orderkey
  private val docStride = 1000000L          // doc_id
  private val vecStride = 1000000L          // vec_id
  private val eventStride = 10000000L       // event_id

  def main(args: Array[String]): Unit = {
    val src = sys.env.get("SPARK_GRAFT_SF_DIR")
    if (args.isEmpty || src.isEmpty) {
      System.err.println(
        "usage: SPARK_GRAFT_SF_DIR=<srcDir> graft.GenCorpus <outDir> [copies]")
      sys.exit(2)
    }
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, src.get, args(0), copies)
    spark.stop()
  }

  /** Write `copies` key-offset copies of every table under `src` to `out`. */
  def write(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    require(copies >= 1, s"copies must be >= 1, got $copies")
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def rep(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      val all = (0 until copies).map(i => f(base, i)).reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"gencorpus $t written x$copies")
    }
    Seq("region", "nation").foreach(t =>
      rd(t).write.mode("overwrite").parquet(s"$out/$t.parquet"))
    rep("customer")((df, i) => df.select(
      (col("c_custkey") + i * custStride).as("c_custkey"),
      concat(col("c_name"), lit(s"#$i")).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    rep("supplier")((df, i) => df.select(
      (col("s_suppkey") + i * suppStride).as("s_suppkey"),
      concat(col("s_name"), lit(s"#$i")).as("s_name"),
      col("s_nationkey"), col("s_acctbal")))
    rep("part")((df, i) => df.select(
      (col("p_partkey") + i * partStride).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")))
    rep("orders")((df, i) => df.select(
      (col("o_orderkey") + i * orderStride).as("o_orderkey"),
      (col("o_custkey") + i * custStride).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    rep("lineitem")((df, i) => df.select(
      (col("l_orderkey") + i * orderStride).as("l_orderkey"),
      (col("l_partkey") + i * partStride).as("l_partkey"),
      (col("l_suppkey") + i * suppStride).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))
    rep("documents")((df, i) => df.select(
      (col("doc_id") + i * docStride).as("doc_id"),
      translate(col("text"), "aeiou",
        "aeiou".drop(i % 5) + "aeiou".take(i % 5)).as("text"),
      col("lang"), col("source"), col("n_chars")))
    rep("embeddings")((df, i) => df.select(
      (col("vec_id") + i * vecStride).as("vec_id"),
      expr(s"transform(embedding, (x, k) -> " +
        s"cast(x + ((($i * 31 + k) % 7) - 3) * 0.001 as float))").as("embedding"),
      col("label")))
    rep("events")((df, i) => df.select(
      (col("event_id") + i * eventStride).as("event_id"), col("ts"),
      (col("user_id") + i * custStride).as("user_id"),
      col("event_type"), col("value"), col("props")))
  }
}

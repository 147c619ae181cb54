package graft

import org.apache.spark.sql.functions._

/** [[GenCorpus]]: two key-offset copies of the spec corpus keep row
  * counts, stride offsets and the order/lineitem/customer joins.
  */
class GenCorpusSpec extends SparkSpecBase {
  private lazy val out = {
    val d = tmpDir("graft-gencorpus")
    GenCorpus.write(spark, sfDir, d, copies = 2)
    d
  }
  private def src(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
  private def gen(t: String) = spark.read.parquet(s"$out/$t.parquet")

  // table -> (key column, documented per-copy stride)
  private val keys = Seq(
    "customer" -> ("c_custkey", 1000000L), "supplier" -> ("s_suppkey", 1000000L),
    "part" -> ("p_partkey", 1000000L), "orders" -> ("o_orderkey", 10000000L),
    "documents" -> ("doc_id", 1000000L), "embeddings" -> ("vec_id", 1000000L),
    "events" -> ("event_id", 10000000L))

  test("replicated tables hold exactly 2x the source rows; region and nation 1x") {
    for (t <- keys.map(_._1) :+ "lineitem")
      assert(gen(t).count() == 2 * src(t).count(), s"$t row count")
    for (t <- Seq("region", "nation"))
      assert(gen(t).count() == src(t).count(), s"$t row count")
  }

  test("copy 1's keys are copy 0's keys offset by the documented stride") {
    for ((t, (k, stride)) <- keys) {
      val base = src(t).select(col(k)).collect().map(_.getLong(0)).toSet
      val got = gen(t).select(col(k)).collect().map(_.getLong(0)).toSet
      assert(got == base ++ base.map(_ + stride), s"$t.$k")
    }
    // foreign keys ride their referenced table's stride
    val custs = src("orders").select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(gen("orders").select("o_custkey").collect().map(_.getLong(0)).toSet ==
      custs ++ custs.map(_ + 1000000L))
  }

  test("every l_orderkey joins an order and every o_custkey joins a customer") {
    val orphanLines = gen("lineitem")
      .join(gen("orders"), col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    assert(orphanLines == 0L)
    val orphanOrders = gen("orders")
      .join(gen("customer"), col("o_custkey") === col("c_custkey"), "left_anti").count()
    assert(orphanOrders == 0L)
  }
}

package graft.dedup

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins [[Dedup.allPairs]] — the shared posting-pair generator behind
  * dd02 and dd09 — against a nested-loop reference, across the
  * small/big chunk boundary and its edge shapes (the two-level index
  * explode must never see a descending `sequence`).
  */
class PairGenSpec extends SparkSpecBase {
  import spark.implicits._

  private def reference(postings: Seq[Seq[Long]]): Seq[(Long, Long)] =
    postings.flatMap(ds =>
      for (i <- ds.indices; j <- i + 1 until ds.length) yield (ds(i), ds(j)))

  private def run(postings: Seq[Seq[Long]], chunk: Int,
                  mayExceedChunk: Boolean = true): Seq[(Long, Long)] =
    Dedup.allPairs(postings.toDF("ds"), chunk, mayExceedChunk)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("allPairs ≡ nested-loop reference across the chunk boundary") {
    // chunk 4 exercises every shape with small fixtures: empty and
    // single-doc postings (no pairs), exactly-chunk, chunk+1 (a
    // trailing SINGLE-element same-chunk — the branch that would
    // descend as sequence(0, -1) if unguarded), multi-chunk with a
    // partial tail, and a repeated pair across postings (multiplicity
    // must be preserved — the scorer counts intersections from it)
    val postings = Seq(
      Seq.empty[Long],
      Seq(7L),
      Seq(1L, 2L),
      Seq(1L, 2L, 3L, 4L),             // == chunk
      Seq(10L, 11L, 12L, 13L, 14L),    // chunk+1: tail chunk of size 1
      Seq(20L, 21L, 22L, 23L, 24L, 25L, 26L, 27L, 28L), // 3 chunks, tail 1
      Seq(1L, 2L, 30L))                // repeats the (1,2) pair
    val chunk = 4
    val got = run(postings, chunk)
    val want = reference(postings)
    assert(got.sorted == want.sorted,
      s"pair multisets diverge: got ${got.sorted}, want ${want.sorted}")
    // orientation invariant the downstream join keys rely on: sorted
    // postings ⇒ id1 < id2 on every emitted pair
    assert(got.forall { case (a, b) => a < b })
    // the df-capped caller shape (dd09): postings bounded at the chunk
    // size with the oversized branch statically absent — same pairs
    val capped = postings.filter(_.size <= 9)
    assert(run(capped, chunk = 9, mayExceedChunk = false).sorted ==
      reference(capped).sorted)
  }

  test("allPairs emits each cross- and same-chunk pair exactly once at scale shapes") {
    // one posting spanning many chunks: n(n-1)/2 distinct pairs, none
    // duplicated or dropped by the chunk-pair enumeration
    val n = 37
    val postings = Seq((1L to n.toLong).toSeq)
    val got = run(postings, chunk = 8)
    assert(got.size == n * (n - 1) / 2)
    assert(got.distinct.size == got.size, "a chunk pair emitted a duplicate")
    assert(got.toSet == reference(postings).toSet)
  }

  test("dd02 and dd09 registered outputs are unchanged by the generator") {
    // the operator-level pin: same rows as a recompute through the
    // reference pair generator (lambda form), end to end at spec SF
    val sizes = Dedup.shingles(spark, sfDir).groupBy("doc_id").agg(count(lit(1)).as("n"))
    val postings = Dedup.cappedIndex(spark, sfDir).groupBy("s")
      .agg(sort_array(collect_set("doc_id")).as("ds"))
    val refPairs = postings
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y -> struct(x AS id1, y AS id2))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("d1", "n1"), col("id1") === col("d1"))
      .join(sizes.toDF("d2", "n2"), col("id2") === col("d2"))
      .select(col("id1"), col("id2"),
        (round((col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter"))) * 10000) / 10000).as("jacc"))
      .filter(col("jacc") >= 0.2)
      .collect().map(_.toSeq).toSet
    val got = Dedup.buildJaccardPairs(spark, sfDir).collect().map(_.toSeq).toSet
    assert(got == refPairs, s"dd02 pair set changed: ${got.size} vs ${refPairs.size}")
  }
}

package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties of the sampling-free range write: the manifest-stats
  * split points ([[MergeTable.statsSplitPoints]]) and the one-shuffle
  * bucket exchange ([[SessionBridge.repartitionByBucket]]) that
  * `stageRangeWrite` composes from them.
  */
class RangeSplitSpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val manSchema = StructType(Seq(
    StructField("path", StringType), StructField("min_k", LongType),
    StructField("max_k", LongType), StructField("n_rows", LongType)))

  private case class FileStat(path: String, min: Long, max: Long, n: Long) {
    def row: Row = Row(path, min, max, n)
  }

  // a clean ascending band chain: disjoint [min, max] per file, gaps ≥ 1
  private val chain: Gen[Seq[FileStat]] = for {
    nFiles <- Gen.chooseNum(2, 9)
    widths <- Gen.listOfN(nFiles, Gen.chooseNum(0L, 50L))
    gaps <- Gen.listOfN(nFiles, Gen.chooseNum(1L, 20L))
    counts <- Gen.listOfN(nFiles, Gen.chooseNum(1L, 1000L))
  } yield {
    var lo = -100L
    widths.indices.map { i =>
      val f = FileStat(s"f$i", lo, lo + widths(i), counts(i))
      lo = f.max + gaps(i)
      f
    }
  }

  private def splits(files: Seq[FileStat], nOut: Int,
                     schema: StructType = manSchema): Option[IndexedSeq[Any]] =
    MergeTable.statsSplitPoints(spark, schema, files.map(_.row),
      files.map(_.path), "k", nOut)

  test("statsSplitPoints: ascending file maxes, order-insensitive, on any clean chain") {
    for ((files, i) <- samples(chain, 200).zipWithIndex) {
      val nOut = 2 + i % 9
      val got = splits(files, nOut)
      // manifest row order is storage order, never a semantic input
      val shuffled = new scala.util.Random(i).shuffle(files)
      assert(MergeTable.statsSplitPoints(spark, manSchema, shuffled.map(_.row),
        shuffled.map(_.path), "k", nOut) == got, s"files=$files")
      got.foreach { sp =>
        val ks = sp.map(_.asInstanceOf[Long])
        assert(ks.nonEmpty && ks.size < math.min(nOut, files.size), s"sp=$ks files=$files")
        assert(ks.zip(ks.tail).forall { case (a, b) => a < b }, s"not ascending: $ks")
        // a split is a band's upper edge: every row of a band routes
        // to one bucket, and the last band's max is never a split
        assert(ks.toSet.subsetOf(files.init.map(_.max).toSet), s"sp=$ks files=$files")
      }
    }
  }

  test("statsSplitPoints: one bucket per file when nOut == files") {
    // equal row counts make the equi-depth cut land on every band edge
    val files = (0 until 5).map(i => FileStat(s"f$i", i * 10L, i * 10L + 5, 100L))
    assert(splits(files, files.size).contains(files.init.map(_.max)))
  }

  test("statsSplitPoints: overlapping bands, null or missing stats give None") {
    for (files <- samples(chain, 100)) {
      // overlap: a band reaching into (or touching) its successor
      val j = files.size / 2
      val overlapped = files.updated(j - 1, files(j - 1).copy(max = files(j).min))
      assert(splits(overlapped, files.size).isEmpty, s"overlap accepted: $overlapped")
      // null stats on any one file
      for (field <- Seq(1, 2, 3)) {
        val rows = files.map(_.row).updated(j, Row.fromSeq(
          files(j).row.toSeq.updated(field, null)))
        assert(MergeTable.statsSplitPoints(spark, manSchema, rows,
          files.map(_.path), "k", files.size).isEmpty, s"null field $field accepted")
      }
      // a rewritten path the manifest has no row for
      assert(MergeTable.statsSplitPoints(spark, manSchema, files.tail.map(_.row),
        files.map(_.path), "k", files.size).isEmpty)
      // no stats columns for the key, or no row counts
      val noKey = StructType(manSchema.map(f =>
        if (f.name.endsWith("_k")) f.copy(name = f.name.replace("_k", "_other")) else f))
      assert(splits(files, files.size, noKey).isEmpty)
      val noCounts = StructType(manSchema.map(f =>
        if (f.name == "n_rows") f.copy(name = "rows") else f))
      assert(splits(files, files.size, noCounts).isEmpty)
      // one output bucket, or one input file: nothing to split
      assert(splits(files, 1).isEmpty)
      assert(splits(files.take(1), files.size).isEmpty)
    }
  }

  test("repartitionByBucket: preserves the row multiset and lands each row in [0, n)") {
    // n past 200 crosses from the bypass-merge to the serialized
    // shuffle writer; out-of-range buckets clamp to the edges
    for (n <- Seq(1, 3, 17, 201, 257)) {
      val rows = (0 until 1500).map { i =>
        val b = (i * 7919) % (n + 6) - 3 // includes -3..-1 and n..n+2
        (i.toLong % 97, if (i % 11 == 0) null else s"s$i", b)
      }
      val df = rows.toDF("k", "s", "b")
      val parted = SessionBridge.repartitionByBucket(df, "b", n)
      assert(parted.rdd.getNumPartitions == n)
      val got = parted.select(col("k"), col("s"), col("b"),
          spark_partition_id().as("p"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)).orNull,
          r.getInt(2), r.getInt(3))).toSeq
      assert(got.map(t => (t._1, t._2, t._3)).sortBy(_.toString) ==
        rows.sortBy(_.toString), s"row multiset changed at n=$n")
      got.foreach { case (_, _, b, p) =>
        assert(p >= 0 && p < n, s"row in partition $p outside [0, $n)")
        assert(p == math.min(math.max(b, 0), n - 1), s"bucket $b landed in $p at n=$n")
      }
    }
  }

  test("stageRangeWrite with stats splits writes disjoint ascending files, no rows lost") {
    val files = (0 until 4).map(i => FileStat(s"f$i", i * 250L, i * 250L + 249, 250L))
    val sp = splits(files, files.size)
    assert(sp.isDefined)
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
    val staging = tmpDir("graft-rangesplit") + "/staged"
    MergeTable.stageRangeWrite(df, files.size, Seq(col("k")), staging, splits = sp)
    val back = spark.read.parquet(staging)
    assert(back.as[(Long, Long)].collect().sorted.toSeq ==
      df.as[(Long, Long)].collect().sorted.toSeq)
    val bands = back.groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .orderBy("lo").as[(String, Long, Long)].collect().toSeq
    assert(bands.size == files.size, s"bands=$bands")
    assert(bands.zip(bands.tail).forall { case (a, b) => a._3 < b._2 }, s"bands=$bands")
  }
}

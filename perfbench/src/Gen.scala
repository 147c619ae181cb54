package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Everything the program under test sees
  * is made here from the run's seed; the same seed gives the same
  * inputs byte for byte.
  */
object Gen {
  /** Stream a sub-seed per purpose, so adding a generator never
    * shifts the inputs of another.
    */
  def rng(seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  /** Letters-only word for id `i` (`\W+` tokenization keeps it whole). */
  def word(i: Int): String = {
    val b = new StringBuilder
    var n = i
    do { b += ('a' + n % 26).toChar; n /= 26 } while (n > 0)
    while (b.length < 3) b += 'q'
    b.toString
  }

  /** Zipf(`skew`) over ranks 0 until `vocab`, sampled by inverse CDF.
    * Ranks map to word ids through a seeded permutation, so frequent
    * words are not also the alphabetically first ones.
    */
  final class Zipf(vocab: Int, skew: Double, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, skew))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val perm = {
      val p = Array.range(0, vocab)
      val r = rng(seed, "zipf-perm")
      var i = vocab - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    private val words = perm.map(word)
    def next(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var lo = 0; var hi = vocab - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      words(lo)
    }
  }

  /** `n` lines of `minWords`..`maxWords` Zipf words each. */
  def lines(z: Zipf, r: SplittableRandom, n: Int, minWords: Int, maxWords: Int): Array[String] =
    Array.fill(n) {
      val k = minWords + r.nextInt(maxWords - minWords + 1)
      val b = new StringBuilder
      var i = 0
      while (i < k) { if (i > 0) b += ' '; b ++= z.next(r); i += 1 }
      b.toString
    }
}

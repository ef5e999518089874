package graftbench

/** Zipf(s) over ranks 0 until n, sampled by inverting its CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: java.util.SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Zipf {
  private val syllables = Array("ka", "to", "ri", "ne", "sa", "lo", "mi", "du",
    "pe", "fa", "go", "hu", "ze", "bi", "wo", "ty")

  /** A distinct lowercase pseudo-word for every index: its base-16
    * digits spelled as syllables, 4 to 8 letters for indexes below
    * 65536. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 16
    while (x > 0) { sb ++= syllables(x & 15); x >>= 4 }
    sb.toString
  }
}

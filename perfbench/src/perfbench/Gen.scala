package perfbench

import java.util.SplittableRandom

/** Seeded input generation helpers. */
final class Gen(seed: Long) {
  val rnd = new SplittableRandom(seed)

  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p

  /** Index drawn from `weights` (cumulative, last = 1.0). */
  def pick(cum: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cum.length - 1)
  }
}

object Gen {
  /** Cumulative Zipf(s) weights over n ranks. */
  def zipf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Cumulative weights of a categorical mix. */
  def mix(weights: Double*): Array[Double] = {
    val total = weights.sum
    weights.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
}

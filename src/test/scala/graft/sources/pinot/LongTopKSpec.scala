package graft.sources.pinot

import org.scalatest.funsuite.AnyFunSuite

/** The primitive top-N heap over IEEE-order-embedded keys keeps the same
  * key multiset as a boxed selection under `java.lang.Double.compareTo`
  * (Spark's order), on keys where the embedding matters: NaN, ±0.0 and
  * ties straddling the k boundary.
  */
class LongTopKSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(29)
  private val specials = Array(Double.NaN, -0.0, 0.0, Double.NegativeInfinity,
    Double.PositiveInfinity, -1.5, 1.5, Double.MinPositiveValue)

  /** Keys of the `k` best under the boxed order, as bits in that order. */
  private def boxed(keys: Array[Double], k: Int, desc: Boolean): Seq[Long] = {
    val ord = Ordering.fromLessThan[java.lang.Double]((a, b) =>
      if (desc) a.compareTo(b) > 0 else a.compareTo(b) < 0)
    keys.map(java.lang.Double.valueOf).sorted(ord).take(k).toSeq
      .map(d => java.lang.Double.doubleToLongBits(d)).sorted
  }

  private def primitive(keys: Array[Double], k: Int, desc: Boolean): Seq[Long] =
    PinotHistAgg.selectTopLong(keys.length, Array.fill(keys.length)(1L),
      keys.map(PinotHistAgg.rankDouble), desc, k).toSeq
      .map(g => java.lang.Double.doubleToLongBits(keys(g))).sorted

  test("primitive and boxed top-N keep the same keys on NaN, ±0.0 and ties") {
    for (trial <- 0 until 200; desc <- Seq(true, false)) {
      val n = 1 + rnd.nextInt(40)
      // few distinct values: ties at the k boundary are the common case
      val keys = Array.fill(n)(specials(rnd.nextInt(specials.length)))
      val k = 1 + rnd.nextInt(n)
      assert(primitive(keys, k, desc) === boxed(keys, k, desc),
        s"trial $trial desc=$desc k=$k keys=${keys.mkString(",")}")
    }
  }

  test("floats embed through their exact double widening") {
    val fs = Array(Float.NaN, -0.0f, 0.0f, Float.NegativeInfinity, -1e-45f,
      1e-45f, 3.4e38f, Float.PositiveInfinity)
    for (a <- fs; b <- fs)
      assert(java.lang.Long.signum(java.lang.Long.compare(
        PinotHistAgg.rankDouble(a.toDouble), PinotHistAgg.rankDouble(b.toDouble)))
        === java.lang.Integer.signum(java.lang.Float.compare(a, b)), s"$a vs $b")
  }
}

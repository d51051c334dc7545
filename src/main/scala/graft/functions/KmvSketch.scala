package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pinot.SketchSection

/** KMV (bottom-k / "K-Minimum Values") distinct sketch — the Spark-native
  * analog of Pinot's DISTINCT_COUNT_THETA_SKETCH family, including the
  * theta-sketch set operations (union / intersection estimates across
  * independently-built sketches) that no Spark built-in provides
  * (approx_count_distinct's HLL cannot intersect).
  *
  * The sketch keeps the k smallest DISTINCT pre-hashed values (feed it
  * `xxhash64(col)` so the hashing stays in whole-stage codegen) in SIGNED
  * order, which is monotone in the normalized coordinate
  * `norm(h) = h · 2⁻⁶⁴ + ½ ∈ [0,1)`. `kmv_sketch` outputs the sorted hash
  * array; estimators are plain column expressions over those arrays
  * ([[KmvSketch.distinctEstimate]] etc.), so sketches compose with
  * array_union/array_intersect and stay inside codegen.
  *
  * Estimator (theta-sketch form): θ = norm of the k-th smallest value
  * when saturated, else 1.0; estimate = |{values < θ}| / θ. Below
  * saturation the sketch holds EVERY distinct hash, so all estimates —
  * including union and intersection — are exact (modulo 64-bit hash
  * collisions, ~n²/2⁶⁵). Saturated relative error is ~1/√(k−2).
  *
  * At 100 TB: one ≤k-long array per group per partition crosses the wire
  * (map-side combine), and set ops between arbitrary cohorts run on the
  * collapsed sketches — no re-scan of the raw data.
  */
final class KmvSketch(val k: Int) extends Sketch {
  val hashes = new java.util.TreeSet[java.lang.Long]()

  def spec: SketchSection.Spec = SketchSection.KmvSpec(k)
  def add(v: Any): Unit = offer(v.asInstanceOf[Long])

  private def offer(h: Long): Unit =
    if (hashes.size < k) hashes.add(h)
    else if (h < hashes.last()) { if (hashes.add(h)) hashes.pollLast() }

  def merge(o: Sketch): Unit =
    o.asInstanceOf[KmvSketch].hashes.forEach(h => offer(h))

  def payload: Array[Byte] =
    SketchSection.frame(spec, hashes.size, 8 * hashes.size) { bb =>
      hashes.forEach(h => bb.putLong(h))
    }

  /** The kept hashes, signed ascending. */
  def sorted: Array[Long] = hashes.stream().mapToLong(_.longValue).toArray

  /** Distinct estimate, the same as [[KmvSketch.distinctEstimate]] of
    * [[sorted]]: unsaturated => exact count; saturated => (k-1) /
    * norm(k-th).
    */
  def result(qs: Seq[Double]): Any =
    if (hashes.size < k) hashes.size.toLong
    else {
      val norm = math.min(hashes.last().doubleValue / KmvSketch.two64 + 0.5,
        Math.nextDown(1.0))
      math.round((hashes.size - 1).toDouble / norm)
    }
}

object KmvSketch {

  private val two64 = math.pow(2.0, 64)

  /** Normalized coordinate of a signed 64-bit hash, for SCALING (1/θ)
    * only — the below-θ CUT always compares raw hashes in signed-long
    * space, because the double map rounds hashes within ~2¹⁰ of
    * Long.MaxValue up to exactly 1.0, which would exclude a value from
    * its own sketch even in the exact (unsaturated) regime. Clamped to
    * nextDown(1.0) so the same rounding can't zero-inflate 1/θ.
    */
  private def norm(h: Column): Column =
    least(h.cast("double") / lit(two64) + lit(0.5), lit(Math.nextDown(1.0)))

  /** The cut value in LONG space: the k-th (largest kept) hash when
    * saturated, else NULL meaning "no cut — the sketch is exact".
    */
  private def cutLong(sketch: Column, k: Int): Column =
    when(size(sketch) < k, lit(null).cast("long"))
      .otherwise(element_at(sketch, k))

  /** Count of hashes strictly below the long-space cut (all of them
    * when the cut is NULL / the sketch unsaturated).
    */
  private def below(arr: Column, cut: Column): Column =
    when(cut.isNull, size(arr))
      .otherwise(size(filter(arr, h => h < cut)))

  private def scaleOf(cut: Column): Column =
    when(cut.isNull, lit(1.0)).otherwise(norm(cut))

  /** Distinct-count estimate of one sketch (exact below saturation). */
  def distinctEstimate(sketch: Column, k: Int): Column = {
    val cut = cutLong(sketch, k)
    round(below(sketch, cut).cast("double") / scaleOf(cut)).cast("long")
  }

  /** Theta-sketch union estimate: cut both to min(θa, θb), count the
    * combined distinct survivors, scale by 1/θ. `least` skips NULLs, so
    * an unsaturated side contributes no cut — exactly the θ=1 case.
    */
  def unionEstimate(a: Column, b: Column, k: Int): Column = {
    val cut = least(cutLong(a, k), cutLong(b, k))
    round(below(array_union(a, b), cut).cast("double") / scaleOf(cut))
      .cast("long")
  }

  /** Theta-sketch intersection estimate: common hashes below min-θ,
    * scaled by 1/θ. Exact when both sketches are unsaturated.
    */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val cut = least(cutLong(a, k), cutLong(b, k))
    round(below(array_intersect(a, b), cut).cast("double") / scaleOf(cut))
      .cast("long")
  }
}

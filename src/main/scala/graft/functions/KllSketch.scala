package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.pinot.SketchSection

/** KLL-style mergeable quantile sketch — the Spark-native analog of
  * Pinot's PERCENTILE_KLL / PERCENTILE_EST aggregations (a bounded-size
  * summary per group per partition that merges across segments, where
  * Spark's built-ins offer either exact `percentile` — a full sort's
  * worth of state — or `percentile_approx`, whose internal summary is
  * not exposed for cross-cohort reuse).
  *
  * Structure (Karnin–Lang–Liberty, simplified as in the public
  * DataSketches design): levels of buffers, level i items carrying
  * weight 2^i; when total size exceeds the capacity schedule
  * c_i = max(2, ⌊k·(2/3)^(H−i)⌋), the lowest over-capacity level sorts
  * and keeps every second item (alternating offset — the deterministic
  * variant; an odd item stays at the level), promoting survivors to
  * level i+1.
  *
  * Exactness regimes, mirroring the repo's other sketches:
  *  - n ≤ k: nothing ever compacts — quantiles are EXACT nearest-rank
  *    (smallest value whose cumulative weight ≥ ⌈q·n⌉), and the oracle
  *    hash-checks them (q148).
  *  - saturated: standard KLL rank error, O(1/k) of n; property-tested
  *    with a generous 5·n/k bound (KllSketchSpec) across partitioned
  *    merges.
  *
  * At 100 TB: one ≤O(k)-value summary per group per partition crosses
  * the wire (map-side combine), vs `percentile`'s every-value shuffle.
  * Mutable, single-threaded per aggregation buffer (Spark's
  * TypedImperativeAggregate contract).
  */
final class KllSketch(val k: Int) extends Sketch {
  def spec: SketchSection.Spec = SketchSection.KllSpec(k)
  def add(v: Any): Unit = insert(v.asInstanceOf[Double])
  def merge(o: Sketch): Unit = mergeIn(o.asInstanceOf[KllSketch])
  def payload: Array[Byte] = SketchSection.frame(spec, serialize())

  /** [[quantiles]] as an `array<double>`; NULL elements when empty. */
  def result(qs: Seq[Double]): Any = {
    val est = quantiles(qs)
    new GenericArrayData(qs.indices.map(i =>
      if (est == null) null else java.lang.Double.valueOf(est(i))).toArray[Any])
  }

  var n: Long = 0L
  var compactions: Long = 0L
  val levels: ArrayBuffer[ArrayBuffer[Double]] =
    ArrayBuffer(ArrayBuffer.empty[Double])

  private def cap(i: Int): Int = {
    val h = levels.length - 1
    math.max(2, math.floor(k * math.pow(2.0 / 3.0, (h - i).toDouble)).toInt)
  }

  private def totalCap: Int = {
    var s = 0
    var i = 0
    while (i < levels.length) { s += cap(i); i += 1 }
    s
  }

  private def totalSize: Int = {
    var s = 0
    var i = 0
    while (i < levels.length) { s += levels(i).size; i += 1 }
    s
  }

  def insert(v: Double): Unit = {
    levels(0) += v
    n += 1
    compress()
  }

  def mergeIn(b: KllSketch): Unit = {
    require(b.k == k, s"kll merge across k: $k vs ${b.k}")
    var i = 0
    while (i < b.levels.length) {
      while (levels.length <= i) levels += ArrayBuffer.empty[Double]
      levels(i) ++= b.levels(i)
      i += 1
    }
    n += b.n
    compactions += b.compactions
    compress()
  }

  private def compress(): Unit = {
    while (totalSize > totalCap) {
      // lowest level at-or-over its capacity; guaranteed to exist when
      // total > totalCap (else every level is under cap, so total < cap)
      var l = 0
      while (l < levels.length && levels(l).size < cap(l)) l += 1
      if (l >= levels.length) return // defensive: nothing to compact
      if (l == levels.length - 1) levels += ArrayBuffer.empty[Double]
      compactLevel(l)
    }
  }

  private def compactLevel(l: Int): Unit = {
    val arr = levels(l).toArray
    java.util.Arrays.sort(arr)
    val odd = arr.length % 2 == 1
    val start = if (odd) 1 else 0
    val offset = (compactions & 1L).toInt
    compactions += 1
    val kept = ArrayBuffer.empty[Double]
    var j = start + offset
    while (j < arr.length) { kept += arr(j); j += 2 }
    levels(l) =
      if (odd) ArrayBuffer(arr(0)) else ArrayBuffer.empty[Double]
    levels(l + 1) ++= kept
  }

  /** Nearest-rank quantiles: smallest value whose cumulative weight
    * ≥ max(1, ⌈q·n⌉). Null for an empty sketch.
    */
  def quantiles(qs: Seq[Double]): Array[Double] = {
    if (n == 0) return null
    var m = 0
    var i = 0
    while (i < levels.length) { m += levels(i).size; i += 1 }
    val vs = new Array[Double](m)
    val ws = new Array[Long](m)
    var p = 0
    i = 0
    while (i < levels.length) {
      val w = 1L << i
      val lv = levels(i)
      var j = 0
      while (j < lv.size) { vs(p) = lv(j); ws(p) = w; p += 1; j += 1 }
      i += 1
    }
    // sort pairs by value
    val idx = (0 until m).toArray.map(Integer.valueOf)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      java.lang.Double.compare(vs(a), vs(b)))
    val out = new Array[Double](qs.length)
    var qi = 0
    while (qi < qs.length) {
      val target = math.max(1L, math.ceil(qs(qi) * n).toLong)
      var cum = 0L
      var r = 0
      var res = vs(idx(m - 1))
      var found = false
      while (!found && r < m) {
        cum += ws(idx(r))
        if (cum >= target) { res = vs(idx(r)); found = true }
        r += 1
      }
      out(qi) = res
      qi += 1
    }
    out
  }

  def serialize(): Array[Byte] = {
    var m = 0
    levels.foreach(m += _.size)
    val bb = ByteBuffer.allocate(4 + 8 + 8 + 4 + levels.length * 4 + m * 8)
    bb.putInt(k).putLong(n).putLong(compactions).putInt(levels.length)
    levels.foreach { lv =>
      bb.putInt(lv.size)
      lv.foreach(bb.putDouble)
    }
    bb.array()
  }
}

object KllSketch {
  def deserialize(bytes: Array[Byte]): KllSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KllSketch(bb.getInt)
    buf.n = bb.getLong
    buf.compactions = bb.getLong
    val nl = bb.getInt
    buf.levels.clear()
    var i = 0
    while (i < nl) {
      val sz = bb.getInt
      val lv = new ArrayBuffer[Double](sz)
      var j = 0
      while (j < sz) { lv += bb.getDouble; j += 1 }
      buf.levels += lv
      i += 1
    }
    if (buf.levels.isEmpty) buf.levels += ArrayBuffer.empty[Double]
    buf
  }
}

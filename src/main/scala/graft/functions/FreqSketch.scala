package graft.functions

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pinot.SketchSection

/** Bounded-memory frequent-items (heavy hitters) summary of a string
  * column — the Spark-native analog of Pinot's FREQUENT_STRINGS_SKETCH
  * (Apache DataSketches frequent-items; the reference connector exposes
  * no sketch aggregates at all).
  *
  * Algorithm: Misra–Gries with `capacity` counters, using the mergeable
  * formulation of Agarwal et al., "Mergeable Summaries" (PODS'12):
  *   - update: increment if tracked; insert if a slot is free; otherwise
  *     decrement every counter by 1 (dropping zeros) — the classic MG step;
  *   - merge: sum counters pairwise, then if more than `capacity` survive,
  *     subtract the (capacity+1)-th largest count from all and drop the
  *     non-positive ones.
  * Guarantees: estimate ∈ [true − n/(capacity+1), true], and EXACT counts
  * whenever the global distinct cardinality never exceeds `capacity`
  * (no decrement ever fires, in update or merge).
  *
  * Why not groupBy+count? At 100 TB with unbounded key cardinality
  * (URLs, n-grams) the exact groupBy shuffles every distinct key; this
  * sketch's aggregate ([[SketchAgg]]) ships ONE ≤`capacity`-entry
  * summary per partition (map-side combine), so the shuffle is O(partitions × capacity) regardless of
  * cardinality — the whole point of the sketch at scale.
  */
final class FreqSketch(val capacity: Int) extends Sketch {
  val counts = mutable.HashMap.empty[String, Long]

  def spec: SketchSection.Spec = SketchSection.FreqSpec(capacity)
  def add(v: Any): Unit = FreqSketch.mgAdd(counts, v.toString, capacity)
  def merge(o: Sketch): Unit =
    FreqSketch.mgMergeInto(counts, o.asInstanceOf[FreqSketch].counts, capacity)

  /** Entries item-sorted, so equal summaries serialize to equal bytes (in
    * the exact regime the summary itself is insertion-order-free).
    */
  def payload: Array[Byte] = {
    val entries = counts.toArray.sortBy(_._1)
    val items = entries.map(_._1.getBytes(StandardCharsets.UTF_8))
    SketchSection.frame(spec, entries.length, items.map(_.length + 12).sum) { bb =>
      entries.zip(items).foreach { case ((_, c), kb) =>
        bb.putInt(kb.length); bb.put(kb); bb.putLong(c)
      }
    }
  }

  /** Up to `capacity` `struct<item, cnt>` sorted by (cnt desc, item asc). */
  def result(qs: Seq[Double]): Any =
    new GenericArrayData(counts.toArray.sortBy { case (item, cnt) => (-cnt, item) }
      .map { case (item, cnt) => InternalRow(UTF8String.fromString(item), cnt) })
}

object FreqSketch {

  /** The type of [[FreqSketch.result]]. */
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  /** One Misra–Gries arrival: increment if tracked; insert if a slot is
    * free; otherwise the decrement tick — every tracked counter pays 1
    * for the untracked arrival, zeros free their slots.
    */
  def mgAdd(buf: mutable.HashMap[String, Long], item: String,
      capacity: Int): Unit =
    buf.get(item) match {
      case Some(c) => buf.update(item, c + 1L)
      case None if buf.size < capacity => buf.update(item, 1L)
      case None =>
        val dead = mutable.ArrayBuffer.empty[String]
        buf.keysIterator.foreach { k =>
          val c = buf(k) - 1L
          if (c <= 0L) dead += k else buf.update(k, c)
        }
        dead.foreach(buf.remove)
    }

  /** Mergeable-summaries merge (Agarwal et al., PODS'12): sum counters
    * pairwise, then if more than `capacity` survive, subtract the
    * (capacity+1)-th largest count so at most `capacity` strictly-
    * positive remain. Exact when the union's distinct count ≤ capacity.
    */
  def mgMergeInto(a: mutable.HashMap[String, Long],
      b: IterableOnce[(String, Long)], capacity: Int): Unit = {
    b.iterator.foreach { case (k, c) => a.update(k, a.getOrElse(k, 0L) + c) }
    if (a.size > capacity) {
      val counts = a.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - capacity - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      a.keysIterator.foreach { k =>
        val c = a(k) - cut
        if (c <= 0L) dead += k else a.update(k, c)
      }
      dead.foreach(a.remove)
    }
  }
}

package graft.pinot

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.ByteBuffer

/** Ingestion-time distinct sketch stored per segment (EXTENSION — the
  * capability of Pinot's ingestion-time THETA_SKETCH / BITMAP columns:
  * Pinot can pre-aggregate a sketch at segment build and answer
  * DISTINCT_COUNT queries by MERGING stored sketches instead of
  * re-scanning raw rows; the reference reads no secondary structures at
  * all, table.rs:162).
  *
  * Five kinds, each a [[graft.functions.Sketch]] that the query-time
  * aggregate ([[graft.functions.SketchAgg]]) builds and merges too, so
  * stored and query-time sketches COMPOSE:
  *
  *  - `kmv<k>`: bottom-k of the column's xxhash64 values (seed 42 —
  *    exactly Spark's `xxhash64(col)`, so a stored sketch unions /
  *    intersects with a query-time `kmv_sketch` built over the same
  *    logical values). Exact below k distinct values; ~1/√(k−2)
  *    relative error saturated.
  *  - `bitmap`: Roaring64 bitmap of the column's raw long values
  *    (int/long/timestamp-millis) — EXACT at any cardinality; STRING
  *    columns store xxhash64 hashes instead (exact modulo 64-bit hash
  *    collisions, the same trade Pinot's DISTINCT_COUNT_BITMAP makes on
  *    dictionary ids vs values).
  *  - `kll<k>`: a [[graft.functions.KllSketch]] quantile sketch over
  *    the column's numeric values (Pinot's PERCENTILE_KLL as an
  *    ingestion-time aggregation) — percentile answers survive rollups
  *    and merge across segments; exact nearest-rank below k.
  *  - `hll<p>`: a [[graft.functions.HllSketch]] over the column's
  *    xxhash64 values (Pinot's DISTINCT_COUNT_HLL as an ingestion-time
  *    aggregation) — exact while sparse (≤ 2^p/4 distinct), ~1.04/√2^p
  *    standard error dense.
  *  - `freq<c>`: a Misra–Gries heavy-hitters summary of a STRING
  *    column's values with `c` counters (Pinot's
  *    FREQUENT_STRINGS_SKETCH as an ingestion-time aggregation) —
  *    "top pages last N days" merges ≤c-entry summaries per segment
  *    instead of re-counting the raw column; EXACT counts while the
  *    column's global distinct cardinality stays ≤ c (no decrement
  *    ever fires), the Agarwal et al. mergeable-summaries bound
  *    (estimate ∈ [true − n/(c+1), true]) otherwise.
  *
  * At 100 TB: a DISTINCT over a year of segments reads a few KB of
  * sketch section per segment and merges — the raw forward indexes
  * (the petabyte part) stay cold. [[graft.sources.pinot.PinotSketches]]
  * is the scan-side merge; SketchSectionSpec proves zero forward-index
  * bytes move.
  *
  * Payload layout (big-endian): magic long, version byte, kind byte
  * (0 = kmv, 1 = bitmap, 2 = kll, 3 = hll, 4 = freq), k int (0 for
  * bitmap; p for hll; c for freq), then a count int whose meaning is
  * per-kind — kmv: the number of hash longs that follow; bitmap / kll /
  * hll: the byte length of the serialized body that follows (Roaring64
  * portable bytes, a [[graft.functions.KllSketch]], or a
  * [[graft.functions.HllSketch]] body respectively); freq: the number
  * of (int len, UTF-8 item bytes, long count) entries that follow,
  * item-sorted so equal summaries serialize to equal bytes.
  */
object SketchSection {

  val IndexType = "sketch"
  private val Magic = 0x4752414654534bL // "GRAFTSK"
  private val Version: Byte = 1
  private val KindKmv: Byte = 0
  private val KindBitmap: Byte = 1
  private val KindKll: Byte = 2
  private val KindHll: Byte = 3
  private val KindFreq: Byte = 4

  sealed trait Spec { def render: String }
  final case class KmvSpec(k: Int) extends Spec {
    require(k >= 8, s"kmv sketch k must be >= 8, got $k")
    def render = s"kmv$k"
  }
  case object BitmapSpec extends Spec { def render = "bitmap" }
  final case class KllSpec(k: Int) extends Spec {
    require(k >= 8, s"kll sketch k must be >= 8, got $k")
    def render = s"kll$k"
  }
  final case class HllSpec(p: Int) extends Spec {
    require(p >= 4 && p <= 18, s"hll sketch p must be in [4, 18], got $p")
    def render = s"hll$p"
  }
  final case class FreqSpec(capacity: Int) extends Spec {
    require(capacity >= 1, s"freq sketch capacity must be >= 1, got $capacity")
    def render = s"freq$capacity"
  }

  /** Spark-`xxhash64` (seed 42) of a raw int/long/string value — the
    * hash every KMV sketch in the repo uses, so stored, rolled-up, and
    * query-time sketches all compose.
    */
  def xxhash(v: Any): Long = v match {
    case i: Int => org.apache.spark.sql.catalyst.expressions.XXH64
      .hashInt(i, 42L)
    case l: Long => org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(l, 42L)
    case s: String =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    case other => throw new PinotFormatException(
      s"sketch hash: unsupported value class ${other.getClass}")
  }

  /** Parse a spec string: `kmv<k>`, `kll<k>`, `hll<p>`, `freq<c>`, or
    * `bitmap`.
    */
  def parseSpec(s: String): Spec = s.trim match {
    case "bitmap" => BitmapSpec
    case kll if kll.startsWith("kll") =>
      val k = kll.drop(3).toIntOption.getOrElse(
        throw new PinotFormatException(s"bad sketch spec '$s' (kll<k>)"))
      KllSpec(k)
    case kmv if kmv.startsWith("kmv") =>
      val k = kmv.drop(3).toIntOption.getOrElse(
        throw new PinotFormatException(s"bad sketch spec '$s' (kmv<k>)"))
      KmvSpec(k)
    case hll if hll.startsWith("hll") =>
      val p = hll.drop(3).toIntOption.getOrElse(
        throw new PinotFormatException(s"bad sketch spec '$s' (hll<p>)"))
      HllSpec(p)
    case freq if freq.startsWith("freq") =>
      val c = freq.drop(4).toIntOption.getOrElse(
        throw new PinotFormatException(s"bad sketch spec '$s' (freq<c>)"))
      FreqSpec(c)
    case other =>
      throw new PinotFormatException(
        s"bad sketch spec '$other' (expected kmv<k>, kll<k>, hll<p>, " +
          "freq<c>, or bitmap)")
  }

  /** Frame a payload: the header for `spec`, the per-kind `count`, then
    * `bodyLen` bytes that `body` writes.
    */
  def frame(spec: Spec, count: Int, bodyLen: Int)(
      body: ByteBuffer => Unit): Array[Byte] = {
    val (kind, param) = spec match {
      case KmvSpec(k) => (KindKmv, k)
      case BitmapSpec => (KindBitmap, 0)
      case KllSpec(k) => (KindKll, k)
      case HllSpec(p) => (KindHll, p)
      case FreqSpec(c) => (KindFreq, c)
    }
    val bb = ByteBuffer.allocate(8 + 1 + 1 + 4 + 4 + bodyLen)
    bb.putLong(Magic).put(Version).put(kind).putInt(param).putInt(count)
    body(bb)
    bb.array()
  }

  /** Frame a serialized body whose byte length is the count. */
  def frame(spec: Spec, body: Array[Byte]): Array[Byte] =
    frame(spec, body.length, body.length)(_.put(body))

  /** The typed sketch a framed payload holds. */
  def deserialize(bytes: Array[Byte]): graft.functions.Sketch = {
    val bb = ByteBuffer.wrap(bytes)
    if (bb.getLong != Magic)
      throw new PinotFormatException("sketch section: bad magic")
    val v = bb.get()
    if (v != Version)
      throw new PinotFormatException(s"sketch section: unknown version $v")
    val kind = bb.get()
    val param = bb.getInt
    val count = bb.getInt
    def body: Array[Byte] = {
      val b = new Array[Byte](count)
      bb.get(b)
      b
    }
    kind match {
      case KindKmv =>
        val sk = new graft.functions.KmvSketch(param)
        var i = 0
        while (i < count) { sk.add(bb.getLong); i += 1 }
        sk
      case KindBitmap =>
        val sk = new graft.functions.BitmapSketch
        sk.bitmap.deserialize(new DataInputStream(new ByteArrayInputStream(body)))
        sk
      case KindKll => graft.functions.KllSketch.deserialize(body)
      case KindHll => graft.functions.HllSketch.deserializeBody(param, body)
      case KindFreq =>
        val sk = new graft.functions.FreqSketch(param)
        var i = 0
        while (i < count) {
          val kb = new Array[Byte](bb.getInt)
          bb.get(kb)
          sk.counts.update(
            new String(kb, java.nio.charset.StandardCharsets.UTF_8), bb.getLong)
          i += 1
        }
        sk
      case other =>
        throw new PinotFormatException(s"sketch section: unknown kind $other")
    }
  }
}

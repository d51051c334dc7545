package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{unix_millis, when, xxhash64}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, StringType, TimestampType}
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.pinot.{PinotFormatException, SketchSection}
import graft.pinot.SegmentWriter._

/** One mergeable summary of a column's values: every sketch kind has the
  * same create / update / merge contract (Agarwal et al., "Mergeable
  * Summaries", PODS 2012), so one aggregate ([[SketchAgg]]) builds and
  * merges all five, and one stored section ([[SketchSection]]) frames
  * them. Mutable, single-threaded per aggregation buffer.
  */
trait Sketch {
  def spec: SketchSection.Spec

  /** Fold one value, as [[Sketch.values]] / [[Sketch.input]] store it for
    * this kind: a 64-bit hash or raw long, a double, or a string.
    */
  def add(v: Any): Unit

  /** Fold another sketch of the same spec. */
  def merge(o: Sketch): Unit

  /** The framed [[SketchSection]] payload. */
  def payload: Array[Byte]

  /** The kind's answer: a distinct count, the quantiles at `qs`, or the
    * heavy hitters.
    */
  def result(qs: Seq[Double]): Any
}

object Sketch {

  /** An empty sketch of `spec`. */
  def apply(spec: SketchSection.Spec): Sketch = spec match {
    case SketchSection.KmvSpec(k) => new KmvSketch(k)
    case SketchSection.BitmapSpec => new BitmapSketch
    case SketchSection.KllSpec(k) => new KllSketch(k)
    case SketchSection.HllSpec(p) => new HllSketch(p)
    case SketchSection.FreqSpec(c) => new FreqSketch(c)
  }

  /** The type rule of [[values]] over a Spark column type: kmv / hll /
    * bitmap take INT / LONG / STRING / TIMESTAMP, kll a numeric or
    * TIMESTAMP, freq a STRING. The writer checks it on the driver, so a
    * spec [[values]] would refuse never reaches a write task.
    */
  def accepts(spec: SketchSection.Spec, dt: DataType): Boolean = spec match {
    case SketchSection.KllSpec(_) => dt match {
      case IntegerType | LongType | FloatType | DoubleType | TimestampType => true
      case _ => false
    }
    case SketchSection.FreqSpec(_) => dt == StringType
    case _ => dt match { // kmv, hll, bitmap
      case IntegerType | LongType | StringType | TimestampType => true
      case _ => false
    }
  }

  private[graft] val TypeRule = "kmv / hll / bitmap take a " +
    "single-value INT / LONG / STRING / TIMESTAMP column, kll a " +
    "numeric or TIMESTAMP one, freq a STRING one"

  /** The value rule: what a `spec` sketch stores of doc `i` of a written
    * column — kmv / hll the Spark `xxhash64` of the value (a TIMESTAMP
    * hashes its internal microsecond long), bitmap the raw long
    * (timestamps their epoch millis, strings their xxhash64: exact modulo
    * 64-bit collisions, the DISTINCT_COUNT_BITMAP trade), kll a double
    * (timestamps their epoch millis), freq the string itself. None when
    * the kind does not take the column's type.
    */
  def values(spec: SketchSection.Spec, cd: ColumnData): Option[Int => Any] = {
    def xx(v: Any): Long = SketchSection.xxhash(v)
    spec match {
      case SketchSection.KllSpec(_) => cd match {
        case IntCol(_, v) => Some(i => v(i).toDouble)
        case LongCol(_, v) => Some(i => v(i).toDouble)
        case FloatCol(_, v) => Some(i => v(i).toDouble)
        case DoubleCol(_, v) => Some(i => v(i))
        case IntRawCol(_, v, _, _) => Some(i => v(i).toDouble)
        case LongRawCol(_, v, _, _) => Some(i => v(i).toDouble)
        case FloatRawCol(_, v, _, _) => Some(i => v(i).toDouble)
        case DoubleRawCol(_, v, _, _) => Some(i => v(i))
        case TimestampCol(_, ms) => Some(i => ms(i).toDouble)
        case _ => None
      }
      case SketchSection.FreqSpec(_) => cd match {
        case StringDictCol(_, v, _) => Some(v(_))
        case StringRawCol(_, v, _, _, _) => Some(v(_))
        case _ => None
      }
      case SketchSection.BitmapSpec => cd match {
        case IntCol(_, v) => Some(i => v(i).toLong)
        case LongCol(_, v) => Some(v(_))
        case IntRawCol(_, v, _, _) => Some(i => v(i).toLong)
        case LongRawCol(_, v, _, _) => Some(v(_))
        case TimestampCol(_, ms) => Some(ms(_))
        case StringDictCol(_, v, _) => Some(i => xx(v(i)))
        case StringRawCol(_, v, _, _, _) => Some(i => xx(v(i)))
        case _ => None
      }
      case _ => cd match { // kmv, hll
        case IntCol(_, v) => Some(i => xx(v(i)))
        case LongCol(_, v) => Some(i => xx(v(i)))
        case IntRawCol(_, v, _, _) => Some(i => xx(v(i)))
        case LongRawCol(_, v, _, _) => Some(i => xx(v(i)))
        case StringDictCol(_, v, _) => Some(i => xx(v(i)))
        case StringRawCol(_, v, _, _, _) => Some(i => xx(v(i)))
        case TimestampCol(_, ms) => Some(i => xx(ms(i) * 1000L))
        case _ => None
      }
    }
  }

  /** The payload of a `spec` sketch over docs `docs` of `cd`, under the
    * value rule ([[values]]).
    */
  def build(spec: SketchSection.Spec, cd: ColumnData,
      docs: Iterator[Int]): Array[Byte] = {
    val value = values(spec, cd).getOrElse(throw new PinotFormatException(
      s"a ${spec.render} sketch cannot take column ${cd.name} " +
        s"(${cd.getClass.getSimpleName}): $TypeRule"))
    val sk = Sketch(spec)
    docs.foreach(d => sk.add(value(d)))
    sk.payload
  }

  /** The value rule ([[values]]) over a DataFrame column `c` of type
    * `dt`: the input of a query-time `sketch_build` whose payload composes
    * exactly with stored sections. Spark's xxhash64 hashes each type as
    * the writer does. Hashes are NULL-GATED (`xxhash64(NULL)` returns the
    * seed, not NULL — it would count one phantom distinct); NULL inputs
    * then skip through the aggregate's null path, matching
    * count(DISTINCT)'s NULL-ignoring semantics.
    */
  def input(spec: SketchSection.Spec, c: Column, dt: DataType): Column = {
    def hashed = when(c.isNotNull, xxhash64(c))
    spec match {
      case SketchSection.KllSpec(_) => dt match {
        case TimestampType => unix_millis(c).cast(DoubleType)
        case _ => c.cast(DoubleType)
      }
      case SketchSection.BitmapSpec => dt match {
        case StringType => hashed
        case TimestampType => unix_millis(c)
        case _ => c.cast(LongType)
      }
      case SketchSection.FreqSpec(_) => dt match {
        case StringType => c
        case other => throw new PinotFormatException(
          s"a freq sketch needs a string column, got ${other.simpleString}")
      }
      case _ => hashed // kmv / hll
    }
  }
}

/** Exact distinct set of 64-bit keys — the Spark-native analog of Pinot's
  * DISTINCT_COUNT_BITMAP (Pinot keeps a RoaringBitmap of raw values /
  * dictionary ids per group and merges them across segments).
  *
  * vs `count(distinct x)`: Spark's exact distinct rewrites into a
  * two-level aggregate that shuffles EVERY distinct (group, value) pair;
  * the sketch aggregate ships ONE compressed bitmap per group per
  * partition, which for dense/clustered key spaces — ids, dictionary
  * codes, day numbers — is orders of magnitude less shuffle at 100 TB.
  * vs HLL: exact, at the price of bitmap memory on sparse 64-bit keys
  * (the documented Pinot trade-off too; feed dictionary ids or naturally
  * dense keys).
  */
final class BitmapSketch extends Sketch {
  val bitmap = new Roaring64Bitmap()

  def spec: SketchSection.Spec = SketchSection.BitmapSpec
  def add(v: Any): Unit = bitmap.addLong(v.asInstanceOf[Long])
  def merge(o: Sketch): Unit = bitmap.or(o.asInstanceOf[BitmapSketch].bitmap)

  def payload: Array[Byte] = {
    bitmap.runOptimize()
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    bitmap.serialize(dos)
    dos.flush()
    SketchSection.frame(spec, bos.toByteArray)
  }

  def result(qs: Seq[Double]): Any = bitmap.getLongCardinality
}

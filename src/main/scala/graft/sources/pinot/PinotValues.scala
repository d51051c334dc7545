package graft.sources.pinot

import graft.pinot.{BloomSection, ColumnMetadata, PinotType, RangeSection}
import org.apache.spark.unsafe.types.UTF8String

/** How a pushed Spark filter literal compares with the values a Pinot
  * column stores: the one place of Spark's comparison semantics for
  * every pruning path (recorded min/max, runtime filters, dictionary,
  * bloom filter, range index, sorted-column ranging).
  *
  *  - A literal converts once to the column's domain ([[probe]]): the
  *    stored type, except that TIMESTAMP compares in epoch micros
  *    (Catalyst's unit) against the stored millis, which [[stored]]
  *    scales up, so a sub-millisecond literal never rounds across a
  *    stored value; `String` and `UTF8String` literals are the same
  *    value. A literal of another type converts to None, which never
  *    prunes: a cross-typed literal can be Spark-equal under widening
  *    while comparing differently here.
  *  - [[compare]] follows Spark filter semantics: ±0.0 are equal, NaN
  *    equals itself and sorts above every other value.
  *  - Strings compare in UTF-16 order. That equals Spark's UTF-8 byte
  *    order whenever one side is ASCII: always for recorded bounds (the
  *    writer records ASCII bounds only), but a sorted column's values
  *    need not be ASCII, so only an ASCII probe may range one
  *    ([[rangesSorted]]).
  */
private[pinot] object PinotValues {

  /** A pushed literal in the column's domain; None when its type is not
    * the column's Spark type.
    */
  def probe(tpe: PinotType, v: Any): Option[Any] = (tpe, v) match {
    case (PinotType.PInt, _: Int) | (PinotType.PLong, _: Long) |
         (PinotType.PFloat, _: Float) | (PinotType.PDouble, _: Double) |
         (PinotType.PBoolean, _: Boolean) => Some(v)
    case (PinotType.PString | PinotType.PJson, s: String) => Some(s)
    case (PinotType.PString | PinotType.PJson, s: UTF8String) => Some(s.toString)
    case (PinotType.PTimestamp, t: java.sql.Timestamp) =>
      Some(Math.addExact(Math.multiplyExact(t.getTime, 1000L),
        (t.getNanos / 1000L) % 1000L))
    case (PinotType.PTimestamp, i: java.time.Instant) =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case _ => None
  }

  /** A stored value (dictionary entry or forward-index value) in the
    * column's domain: BOOLEAN is stored as INT 0/1, TIMESTAMP as millis.
    */
  def stored(tpe: PinotType, v: Any): Any = (tpe, v) match {
    case (PinotType.PTimestamp, ms: Long) => Math.multiplyExact(ms, 1000L)
    case (PinotType.PBoolean, i: Int) => i != 0
    case _ => v
  }

  /** A recorded min/max bound in the column's domain; None when it does
    * not parse or the type records no comparable bounds.
    */
  def bound(tpe: PinotType, s: String): Option[Any] = tpe match {
    case PinotType.PInt => s.toIntOption
    case PinotType.PLong => s.toLongOption
    case PinotType.PFloat => s.toFloatOption
    case PinotType.PDouble => s.toDoubleOption
    case PinotType.PString => Some(s)
    case PinotType.PTimestamp => s.toLongOption.map(stored(tpe, _))
    case _ => None
  }

  /** A value of a column's domain as the Catalyst value Spark reads for
    * the column (column statistics, partition keys, metadata-answered
    * group keys).
    */
  def catalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case x => x
  }

  /** A recorded bound as its Catalyst value. */
  def catalystBound(tpe: PinotType, s: String): Option[Any] =
    bound(tpe, s).map(catalyst)

  /** Sign of `a` − `b` under Spark filter semantics, for two values of
    * one column's domain.
    */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Float, y: Float) => if (x == y) 0 else java.lang.Float.compare(x, y)
    case (x: Double, y: Double) =>
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(
      s"values of different domains: $a, $b")
  }

  /** Whether the recorded [min, max] of `cm` may hold a value between the
    * probes `lo` and `hi` (None: unbounded on that side). Unknown or
    * unparsable bounds never prune.
    */
  def boundsAdmit(cm: ColumnMetadata, lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean): Boolean = {
    def sign(b: Option[String], p: Any): Option[Int] =
      b.flatMap(bound(cm.dataType, _)).map(compare(_, p))
    lo.forall(p => sign(cm.maxValue, p).forall(c => c > 0 || loInc && c == 0)) &&
      hi.forall(p => sign(cm.minValue, p).forall(c => c < 0 || hiInc && c == 0))
  }

  /** Whether probe `p` may bound a binary search over a sorted column. */
  def rangesSorted(p: Any): Boolean = p match {
    case s: String => s.forall(ch => ch >= 0x20 && ch < 0x7f)
    case _ => true
  }

  /** The spelling a bloom filter holds for probe `p` (see
    * [[graft.pinot.BloomSection]]). A TIMESTAMP bloom holds epoch millis,
    * so a sub-millisecond probe spells as no stored value does.
    */
  def bloomKey(tpe: PinotType, p: Any): String = (tpe, p) match {
    case (_, x: Float) => BloomSection.canonicalFloat(x)
    case (_, x: Double) => BloomSection.canonicalDouble(x)
    case (PinotType.PTimestamp, us: Long) =>
      if (us % 1000L == 0) String.valueOf(us / 1000L) else "ts:sub-milli"
    case _ => String.valueOf(p)
  }

  /** A range-index bound for probe `p` with its inclusivity, in the
    * index's domain (see [[graft.pinot.RangeSection]]): LONG for INT,
    * LONG and TIMESTAMP millis, canonical double bits for FLOAT and
    * DOUBLE. A sub-millisecond TIMESTAMP probe floors to the millisecond
    * below it, where a lower bound turns strict and an upper one
    * inclusive, so no stored match is lost. None for other domains.
    */
  def rangeKey(tpe: PinotType, p: Any, inclusive: Boolean,
      lower: Boolean): Option[(Long, Boolean)] = (tpe, p) match {
    case (PinotType.PTimestamp, us: Long) =>
      if (us % 1000L == 0) Some((us / 1000L, inclusive))
      else Some((Math.floorDiv(us, 1000L), !lower))
    case (_, x: Int) => Some((x.toLong, inclusive))
    case (_, x: Long) => Some((x, inclusive))
    case (_, x: Float) => Some((RangeSection.doubleBits(x.toDouble), inclusive))
    case (_, x: Double) => Some((RangeSection.doubleBits(x), inclusive))
    case _ => None
  }

  /** Smallest string strictly greater than every string with prefix `p`
    * (last non-maximal char incremented, suffix dropped); None when all
    * chars are maximal (no finite upper bound).
    */
  def prefixNext(p: String): Option[String] = {
    val cs = p.toCharArray
    var i = cs.length - 1
    while (i >= 0) {
      if (cs(i) < Char.MaxValue) {
        cs(i) = (cs(i) + 1).toChar
        return Some(new String(cs, 0, i + 1))
      }
      i -= 1
    }
    None
  }
}

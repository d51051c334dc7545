package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.pinot.SketchSection

/** The one sketch aggregate, behind every sketch SQL function. It folds a
  * `spec` [[Sketch]] from raw values (`payloadsIn = false`; the caller
  * applies the kind's value rule, [[Sketch.input]]) or from framed
  * [[SketchSection]] payloads (`payloadsIn = true` — per-segment stored
  * sections, rollup sketch metrics, or `sketch_build` output), and
  * outputs the payload, the kind's result (at fractions `qs` for kll),
  * or for kmv the sorted bottom-k hash array. Stored and query-time
  * sketches compose exactly under the repo-wide hash contract (Spark
  * `xxhash64` seed 42 wherever a sketch hashes).
  *
  * The buffer's wire format is the framed payload, so one bounded
  * summary per group per partition crosses the wire (map-side combine),
  * and the output of a delta `sketch_build` unions with thousands of
  * per-segment stored rows.
  */
case class SketchAgg(
    child: Expression,
    spec: SketchSection.Spec,
    payloadsIn: Boolean,
    out: SketchAgg.Out,
    qs: Seq[Double] = Nil,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Sketch] {

  if (out == SketchAgg.Result && spec.isInstanceOf[SketchSection.KllSpec])
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"$prettyName fractions must be in [0, 1]: $qs")

  /** The SQL function this mode is ([[SketchAgg.Functions]]). */
  override def prettyName: String = SketchAgg.Functions.collectFirst {
    case (name, (_, kind, in, o))
        if in == payloadsIn && o == out && spec.render.startsWith(kind) => name
  }.getOrElse("sketch_agg")

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, spec.render) ++ qs

  override def children: Seq[Expression] = Seq(child)

  override def nullable: Boolean = false

  override def dataType: DataType = (out, spec) match {
    case (SketchAgg.Payload, _) => BinaryType
    case (SketchAgg.Hashes, _) => ArrayType(LongType, containsNull = false)
    case (_, _: SketchSection.KllSpec) => ArrayType(DoubleType, containsNull = true)
    case (_, _: SketchSection.FreqSpec) => FreqSketch.OutType
    case _ => LongType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = if (payloadsIn) BinaryType else spec match {
      case _: SketchSection.KllSpec => DoubleType
      case _: SketchSection.FreqSpec => StringType
      case _ => LongType
    }
    if (child.dataType == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName(${spec.render}) requires a ${want.simpleString} input, " +
        s"got ${child.dataType.simpleString}")
  }

  override def createAggregationBuffer(): Sketch = Sketch(spec)

  override def update(buf: Sketch, input: InternalRow): Sketch = {
    val v = child.eval(input)
    if (v != null) {
      if (payloadsIn) buf.merge(deserialize(v.asInstanceOf[Array[Byte]]))
      else buf.add(v)
    }
    buf
  }

  override def merge(a: Sketch, b: Sketch): Sketch = {
    a.merge(b)
    a
  }

  override def eval(buf: Sketch): Any = out match {
    case SketchAgg.Payload => buf.payload
    case SketchAgg.Hashes => new GenericArrayData(buf.asInstanceOf[KmvSketch].sorted)
    case SketchAgg.Result => buf.result(qs)
  }

  override def serialize(buf: Sketch): Array[Byte] = buf.payload

  /** A payload of this aggregate's spec — a foreign kind or parameter
    * names itself here instead of failing downstream.
    */
  override def deserialize(bytes: Array[Byte]): Sketch = {
    val sk = SketchSection.deserialize(bytes)
    require(sk.spec == spec,
      s"$prettyName(${spec.render}) fed a ${sk.spec.render} sketch")
    sk
  }

  override def withNewMutableAggBufferOffset(offset: Int): SketchAgg =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): SketchAgg =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object SketchAgg {

  /** What the aggregate outputs. */
  sealed trait Out
  /** The framed [[SketchSection]] payload (`binary`). */
  case object Payload extends Out
  /** The kind's answer ([[Sketch.result]]). */
  case object Result extends Out
  /** A kmv sketch's kept hashes, signed ascending (`array<bigint>`). */
  case object Hashes extends Out

  /** The sketch SQL functions: name → (usage, kind, payloads in, output).
    * Kind "" takes the spec string as its second argument; the others
    * take k / p / capacity there (bitmap takes none), and kll fractions
    * after it.
    */
  val Functions: Seq[(String, (String, String, Boolean, Out))] = Seq(
    "bitmap_distinct" -> ("bitmap_distinct(col)", "bitmap", false, Result),
    "bitmap_merge_distinct" ->
      ("bitmap_merge_distinct(sketch_bytes)", "bitmap", true, Result),
    "kmv_sketch" -> ("kmv_sketch(hashed_col, k)", "kmv", false, Hashes),
    "kmv_merge_estimate" ->
      ("kmv_merge_estimate(sketch_bytes, k)", "kmv", true, Result),
    "hll_distinct" -> ("hll_distinct(hashed_col, p)", "hll", false, Result),
    "hll_merge_estimate" ->
      ("hll_merge_estimate(sketch_bytes, p)", "hll", true, Result),
    "kll_quantiles" ->
      ("kll_quantiles(col, k, q1[, q2, ...])", "kll", false, Result),
    "kll_merge_quantiles" ->
      ("kll_merge_quantiles(sketch_bytes, k, q1[, q2, ...])", "kll", true, Result),
    "freq_items" -> ("freq_items(col, capacity)", "freq", false, Result),
    "freq_merge_items" ->
      ("freq_merge_items(sketch_bytes, capacity)", "freq", true, Result),
    "sketch_build" -> ("sketch_build(col, 'bitmap'|'kmv<k>'|'kll<k>'|" +
      "'hll<p>'|'freq<c>')", "", false, Payload))

  private def agg(c: Column, spec: String, payloadsIn: Boolean, out: Out,
      qs: Seq[Double] = Nil): Column =
    GraftSqlBridge.toColumn(SketchAgg(GraftSqlBridge.toExpression(c),
      SketchSection.parseSpec(spec), payloadsIn, out, qs).toAggregateExpression())

  /** `sketch_build`: one `spec` payload per group from raw values. */
  def build(c: Column, spec: String): Column = agg(c, spec, false, Payload)

  /** The kind's result over raw values (`bitmap_distinct`,
    * `hll_distinct`, `kll_quantiles`, `freq_items`).
    */
  def result(c: Column, spec: String, qs: Seq[Double] = Nil): Column =
    agg(c, spec, false, Result, qs)

  /** The kind's result over `spec` payloads (`bitmap_merge_distinct`,
    * `kmv_merge_estimate`, `hll_merge_estimate`, `kll_merge_quantiles`,
    * `freq_merge_items`).
    */
  def merge(c: Column, spec: String, qs: Seq[Double] = Nil): Column =
    agg(c, spec, true, Result, qs)

  /** `kmv_sketch`: the bottom-k of a pre-hashed bigint column (use
    * `xxhash64(col)`) as a signed-ascending `array<bigint>`.
    */
  def kmvSketch(c: Column, k: Int): Column = agg(c, s"kmv$k", false, Hashes)
}

package graft.sources

import graft.{SparkTestBase, TestDirs}
import graft.pinot.{SegmentWriter, VarByteChunkV4}
import graft.sources.pinot.{PinotColumnarReader, PinotScan}
import org.apache.spark.sql.sources._

/** Pins how many docs [[PinotColumnarReader]] emits per segment for a
  * fixed list of pushed filters over a fixture with every index, so a
  * change to the pruning layer shows any change in pruning power. The
  * counts are what the reader emits, not what matches: every pushed
  * filter stays residual, and a kept 8,192-doc window emits whole.
  */
class PruningPinSpec extends SparkTestBase {

  private val segSizes = Seq(20000, 9000, 120)
  private val total = segSizes.sum
  private val TsBase = 1700000000000L

  /** Segment dirs of a 3-segment table: sorted `k`, `name` (letter-led,
    * sorted) and `ts`; `cat` dictionary only; `tag` and `d` with an
    * inverted index; `v` with bloom and range indexes; `w` RAW without
    * any index (disjoint per-segment ranges); `m` RAW with NaN, -0.0
    * and a null vector in all but the last segment; `body` with a text
    * index; `js` with a JSON index; `mv` multi-value.
    */
  private lazy val segs: Seq[String] = {
    val table = TestDirs.create("pinot_prune_pin").resolve("p_OFFLINE")
    var base = 0
    segSizes.zipWithIndex.map { case (n, s) =>
      def at[T: scala.reflect.ClassTag](f: Int => T) = Array.tabulate(n)(i => f(base + i))
      val nulls = if (s == 2) Array.empty[Int]
        else Array.range(0, n).filter(i => (base + i) % 4001 == 0)
      val dir = table.resolve(s"seg$s")
      SegmentWriter.write(dir, "p", s"seg$s", Seq(
        SegmentWriter.IntCol("k", at(identity)),
        SegmentWriter.StringDictCol("name",
          at(r => f"${('a' + r * 26 / total).toChar}$r%06d")),
        SegmentWriter.StringDictCol("cat", at(r => s"c${r % 5 * 2}")),
        SegmentWriter.StringDictCol("tag",
          at(r => if (r % 8009 == 5) "rare" else s"g${r % 37}")),
        SegmentWriter.DoubleCol("d", at { r =>
          if (r % 5003 == 0) Double.NaN else if (r % 6007 == 0) -0.0
          else if (r % 443 == 0) 0.0 else 1 + (r % 97) / 4.0
        }),
        SegmentWriter.LongRawCol("v", at(r => 2L * (r * 7 % 30011))),
        SegmentWriter.IntRawCol("w", at(r => s * 1000 + r * 7919 % 1000)),
        SegmentWriter.DoubleRawCol("m", at { r =>
          if (r % 5003 == 0) Double.NaN else if (r % 6007 == 0) -0.0
          else (r * 97 % 1000) / 8.0
        }),
        SegmentWriter.StringRawCol("body", at { r =>
          if (r % 7919 == 7) s"needle zeta$r tail" else s"tok${r % 101} filler"
        }, VarByteChunkV4.Lz4LengthPrefixed, 4096),
        SegmentWriter.TimestampCol("ts", at(r => TsBase + r * 1000L)),
        SegmentWriter.StringRawCol("js", at { r =>
          if (r % 4999 == 1) "broken{" else if (r % 3001 == 0) """{"z": 1}"""
          else s"""{"a": ${r % 23}, "b": "t${r % 13}"}"""
        }, VarByteChunkV4.Lz4LengthPrefixed, 4096),
        SegmentWriter.IntMVCol("mv", at(r => Array.tabulate(1 + r % 3)(j => r % 50 + j)))),
        invertedCols = Set("tag", "d"), nullVectors = Map("m" -> nulls),
        bloomCols = Set("v"), rangeCols = Set("v"), textCols = Set("body"),
        jsonIdxCols = Set("js"))
      base += n
      dir.resolve("v3").toString
    }
  }

  /** Docs the reader emits for one segment. */
  private def emitted(seg: String, filters: Seq[Filter], cols: Array[String],
      json: Seq[PinotScan.JsonProbe], slice: Option[(Int, Int)]): Long = {
    val r = new PinotColumnarReader(seg, cols, filters.toArray, None,
      slice = slice, jsonEq = json)
    var docs = 0L
    try while (r.next()) docs += r.get().numRows() finally r.close()
    docs
  }

  private def ts(ms: Long, extraMicros: Int) = {
    val t = new java.sql.Timestamp(ms)
    t.setNanos(t.getNanos + extraMicros * 1000)
    t
  }

  private case class Pin(label: String, filters: Seq[Filter], counts: Seq[Long],
      cols: Array[String] = Array("k"), json: Seq[PinotScan.JsonProbe] = Nil,
      slice: Option[(Int, Int)] = None)

  private val pins = Seq(
    Pin("dictionary miss", Seq(EqualTo("cat", "c3")), Seq(0, 0, 0)),
    Pin("bloom miss", Seq(EqualTo("v", 12345L)), Seq(0, 4569, 0)),
    Pin("min/max", Seq(GreaterThanOrEqual("w", 1500)), Seq(0, 9000, 120)),
    Pin("sorted range", Seq(GreaterThanOrEqual("k", 5000), LessThan("k", 7000)),
      Seq(2000, 0, 0)),
    Pin("sorted prefix", Seq(StringStartsWith("name", "m")), Seq(1120, 0, 0)),
    Pin("inverted EqualTo", Seq(EqualTo("tag", "rare")), Seq(8193, 1, 0)),
    Pin("inverted In", Seq(In("tag", Array("rare", "g99"))), Seq(8193, 1, 0)),
    Pin("range index", Seq(GreaterThan("v", 58000L)), Seq(12741, 4565, 0)),
    Pin("text contains", Seq(StringContains("body", "needle")), Seq(8193, 1, 0)),
    Pin("IS NULL", Seq(IsNull("m")), Seq(12194, 8003, 0)),
    Pin("IS NOT NULL", Seq(IsNotNull("m")), Seq(19999, 9000, 120)),
    Pin("JSON probe", Nil, Seq(18376, 6003, 0),
      json = Seq(PinotScan.JsonEqProbe("js", "$.z", Seq("1")))),
    Pin("NaN dictionary", Seq(EqualTo("d", Double.NaN)), Seq(13196, 5004, 0)),
    Pin("NaN min/max", Seq(EqualTo("m", Double.NaN)), Seq(20000, 9000, 0)),
    Pin("-0.0 dictionary", Seq(EqualTo("d", -0.0)), Seq(19043, 8193, 0)),
    Pin("-0.0 min/max", Seq(LessThanOrEqual("m", -0.0)), Seq(20000, 9000, 120)),
    Pin("sub-millisecond TIMESTAMP equality",
      Seq(EqualTo("ts", ts(TsBase + 3000L, 500))), Seq(0, 0, 0)),
    Pin("sub-millisecond TIMESTAMP range",
      Seq(GreaterThan("ts", ts(TsBase + 19990000L, 1)),
        LessThanOrEqual("ts", java.time.Instant.ofEpochMilli(TsBase + 20004000L)
          .plusNanos(999000))), Seq(9, 5, 0)),
    Pin("non-ASCII prefix", Seq(StringStartsWith("name", "mé")), Seq(20000, 0, 0)),
    Pin("multi-value projected: window skip only",
      Seq(EqualTo("tag", "rare"), GreaterThanOrEqual("k", 5000)),
      Seq(12169, 4968, 0), cols = Array("k", "mv")),
    Pin("slice of an inverted match", Seq(EqualTo("tag", "rare")), Seq(1, 0, 0),
      slice = Some((8192, 16384))))

  test("per-segment doc counts of every pruning path stay pinned") {
    val got = pins.map(p => p.label ->
      segs.map(emitted(_, p.filters, p.cols, p.json, p.slice)))
    pins.zip(got).foreach { case (p, (_, c)) =>
      assert(c === p.counts, s"${p.label}: ${p.filters.mkString(" AND ")}")
    }
  }
}

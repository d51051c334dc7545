package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{RangeSection, SegmentReader, SegmentWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}

/** Range index (EXTENSION — Pinot's `rangeIndexColumns`): value-bucket
  * docId bitmaps serving range predicates on UNSORTED numeric columns —
  * the shape where min/max metadata keeps the whole segment and sorted
  * ranging cannot apply.
  */
class RangeIndexSpec extends SparkTestBase {

  test("section: bucket bounds are exact, candidates honor inclusivity") {
    val values = Array[Long](50, 10, 90, 30, 70, 20, 80, 40, 60, 100)
    val sec = RangeSection.deserialize(
      RangeSection.build(Left(values), targetRanges = 5))
    assert(sec.numRanges === 5)
    // every value maps into some candidate bucket for an equality probe
    values.foreach { v =>
      val bm = sec.matchBitmap(Some(v), loInc = true, Some(v), hiInc = true)
      assert(bm.contains(values.indexOf(v)), s"value $v lost its doc")
    }
    // x > 90 → only the top bucket; x > 100 → nothing
    assert(sec.matchBitmap(Some(91L), true, None, false).getCardinality <= 2)
    assert(sec.matchBitmap(Some(100L), false, None, false).isEmpty)
    assert(sec.matchBitmap(Some(100L), true, None, false).getCardinality >= 1)
  }

  test("double domain follows Spark semantics: NaN high, -0.0 = 0.0") {
    val values = Array(1.5, -0.0, Double.NaN, 3.25, 0.75)
    val sec = RangeSection.deserialize(
      RangeSection.build(Right(values), targetRanges = 5))
    // probe = 0.0 equality must reach the bucket holding -0.0
    val zero = sec.matchBitmap(Some(RangeSection.doubleBits(0.0)), true,
      Some(RangeSection.doubleBits(0.0)), true)
    assert(zero.contains(1), "-0.0 doc must stay a candidate for 0.0 probe")
    // probe > 100 still reaches the NaN doc (Spark: NaN > everything)
    val top = sec.matchBitmap(Some(RangeSection.doubleBits(100.0)), false,
      None, false)
    assert(top.contains(2), "NaN doc must survive any lower bound")
  }

  test("range filters decode only windows holding candidates") {
    val root = graft.TestDirs.create("pinot_range")
    val tdir = root.resolve("metrics_OFFLINE")
    // the shape a range index exists for: an UNSORTED metric whose
    // extreme values cluster in DOC order (a latency incident) inside a
    // segment too big for min/max pruning to help (segment max IS high)
    val docs = 200000 // ~25 decode windows of 8,192
    val incident = 100000 until 104000
    val lat = Array.tabulate(docs)(i =>
      if (incident.contains(i)) 1000000L + i else 100L)
    SegmentWriter.write(tdir.resolve("seg0"), "metrics", "seg0", Seq(
      SegmentWriter.LongRawCol("latency", lat),
      SegmentWriter.IntCol("v", Array.tabulate(docs)(identity))),
      rangeCols = Set("latency"))
    def decodedRows(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val r = new graft.sources.pinot.PinotColumnarReader(
        s"$tdir/seg0/v3", Array("latency", "v"), filters, None)
      var rows = 0
      while (r.next()) rows += r.get().numRows()
      rows
    }
    // >500k matches only the incident docs: candidate buckets cover the
    // incident plus at most one boundary bucket → a handful of windows,
    // not the 25-window segment
    val hi = decodedRows(Array(GreaterThan("latency", 500000L)))
    assert(hi <= 6 * 8192, s"expected ≤6 windows, decoded $hi rows")
    // impossible ranges decode nothing at all
    assert(decodedRows(Array(GreaterThan("latency", 2000000L))) === 0)
    assert(decodedRows(Array(LessThan("latency", -1L))) === 0)
    // equality between the two value clusters admits at most the one
    // bucket straddling the gap (its [min, max] spans the probe)
    assert(decodedRows(Array(EqualTo("latency", 555555L))) <= 2 * 8192)
    // e2e: results exact through the source (residual filter applies)
    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.filter(col("latency") > 500000L).count() === incident.length)
    assert(df.filter(col("latency") > 500000L).agg(min("v"), max("v"))
      .collect().head.toSeq === Seq(incident.head, incident.last))
    assert(df.filter(col("latency") < 0L).count() === 0)
    assert(df.filter(col("latency") <= 100L).count() === docs - incident.length)
  }

  test("DSv2 write option + v1 layout + compaction carry the index") {
    val root = graft.TestDirs.create("pinot_range_e2e")
    val dir = root.resolve("m_OFFLINE").toString
    import spark.implicits._
    (0 until 20000).map(i => (i.toLong * 37 % 20000, i))
      .toDF("metric", "id")
      .repartition(2)
      .write.format("pinot").option("rangeIndexColumns", "metric")
      .mode("append").save(dir)
    val seg = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(Files.isDirectory(_)).next() // skip the table manifest file
    }
    assert(SegmentReader.open(seg).metadata.columns("metric").hasRangeIndex)
    assert(SegmentReader.open(seg).rangeIndex("metric").isDefined)
    val back = spark.read.format("pinot").load(dir)
    assert(back.filter(col("metric") >= 19990L).count() ===
      (0 until 20000).count(i => i.toLong * 37 % 20000 >= 19990))
    // v1 conversion keeps the section (per-file .bitmap.range)
    val v1 = root.resolve("v1seg")
    graft.pinot.PinotCompact.convert(seg.toString, v1.toString, 1)
    assert(Files.exists(v1.resolve("metric.bitmap.range")))
    assert(SegmentReader.open(v1).rangeIndex("metric").isDefined)
    // compaction rebuilds it over the merged docs
    val merged = graft.pinot.PinotCompact.compact(dir)
    assert(SegmentReader.open(merged).rangeIndex("metric").isDefined)
  }
}

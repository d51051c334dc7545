package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.pinot.{PinotDictionary, SegmentReader, SegmentWriter, VarByteChunkV4}

/** The `pinot` layer measured by direct single-thread calls: open the
  * workload's segments, then write a probe segment from the workload's
  * own values and decode it column by column. */
object Codec {
  /** Probe rows: enough distinct values for a 17-bit dictionary. */
  val ProbeRows = 1 << 18
  val Widths = Seq(1, 4, 5, 8, 17)
  private val Reps = 5

  val MetricNames: Seq[String] = Seq("pinot.segment_open_ms", "pinot.segment_write_mb_per_s",
    "pinot.varbyte_lz4_mb_per_s", "pinot.dict_lookup_ns") ++
    Widths.map(b => s"pinot.fixedbit_ns_per_value.b$b")

  private def medianMs(reps: Int)(f: => Unit): Double =
    Util.median((1 to reps).map { _ => val t0 = System.nanoTime(); f; Util.ms(t0) })

  def probe(ctx: Ctx, tableDirs: Seq[Path], ints: Array[Long], raw: Array[String],
      dict: Array[String], out: mutable.Map[String, Double]): Unit = {
    val segs = tableDirs.flatMap { t =>
      val ls = Files.list(t)
      try ls.filter(_.getFileName.toString.startsWith("seg_")).toArray.toSeq.map(_.asInstanceOf[Path])
      finally ls.close()
    }
    out("pinot.segment_open_ms") = Util.median(segs.map { d =>
      val t0 = System.nanoTime()
      SegmentReader.open(d).close()
      Util.ms(t0)
    })

    val m = ProbeRows
    val cols: Seq[SegmentWriter.ColumnData] = Widths.map { b =>
      SegmentWriter.IntCol(s"b$b",
        Array.tabulate(m)(i => ((ints(i % ints.length) ^ i) & ((1L << b) - 1)).toInt))
    } ++ Seq(
      SegmentWriter.StringRawCol("raw", Array.tabulate(m)(i => raw(i % raw.length)),
        VarByteChunkV4.Lz4LengthPrefixed),
      SegmentWriter.StringDictCol("dict", Array.tabulate(m)(i => dict(i % dict.length))))
    val bytes = Widths.length * 4L * m +
      (0 until m).map(i => Util.utf8Len(raw(i % raw.length)) + Util.utf8Len(dict(i % dict.length))).sum
    var k = 0
    val probeDirs = mutable.ArrayBuffer.empty[Path]
    val writeMs = medianMs(3) {
      k += 1
      val d = ctx.freshDir("probe")
      probeDirs += d
      SegmentWriter.write(d, "probe", s"probe_$k", cols)
    }
    out("pinot.segment_write_mb_per_s") = bytes / 1e6 / (writeMs / 1e3)

    val r = SegmentReader.open(probeDirs.last)
    try {
      Widths.foreach { b =>
        val fb = r.dictIdReader(s"b$b")
        require(r.metadata.column(s"b$b").bitsPerElement == b,
          s"probe column b$b has ${r.metadata.column(s"b$b").bitsPerElement} bits")
        var sink = 0L
        val ms = medianMs(Reps) { sink += fb.readRange(0, m).length }
        out(s"pinot.fixedbit_ns_per_value.b$b") = ms * 1e6 / m
      }
      val vb = r.rawChunkReader("raw")
      val rawBytes = (0 until m).map(i => Util.utf8Len(raw(i % raw.length))).sum
      out("pinot.varbyte_lz4_mb_per_s") =
        rawBytes / 1e6 / (medianMs(Reps)(vb.readAllBytes()) / 1e3)
      val values = r.dictionary("dict") match {
        case PinotDictionary.Strings(v) => v
        case other => throw new IllegalStateException(s"dict column decoded as $other")
      }
      val ids = r.dictIds("dict")
      var len = 0L
      val ms = medianMs(Reps) {
        var i = 0
        while (i < ids.length) { len += values(ids(i)).length; i += 1 }
      }
      out("pinot.dict_lookup_ns") = ms * 1e6 / ids.length
    } finally r.close()
  }
}

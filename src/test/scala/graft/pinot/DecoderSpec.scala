package graft.pinot

import org.scalatest.funsuite.AnyFunSuite

/** Decoder unit tests mirroring the reference's tier-1 suite (SURVEY §5):
  * golden bit-packing buffers (reference: fixed_bit.rs:115-170), properties
  * and index_map parsing (metadata.rs:248-292, index_map.rs:95-141), plus
  * seeded pack/unpack round-trips across all bit widths — strictly stronger
  * than the reference's three golden buffers.
  */
class DecoderSpec extends AnyFunSuite {

  // --- fixed-bit golden cases (hand-packed buffers from the reference) ---

  test("1-bit values [0,1,0,1,1,0,0,1] unpack from 0x59") {
    val r = new FixedBitReader(Array(0x59.toByte), 1, 8)
    assert(r.readAll().toSeq === Seq(0, 1, 0, 1, 1, 0, 0, 1))
    assert((0 until 8).map(r.get) === Seq(0, 1, 0, 1, 1, 0, 0, 1))
  }

  test("4-bit values [5,10,15,3] unpack from 0x5A 0xF3") {
    val r = new FixedBitReader(Array(0x5A.toByte, 0xF3.toByte), 4, 4)
    assert(r.readAll().toSeq === Seq(5, 10, 15, 3))
  }

  test("5-bit cross-byte values [10,20,5] unpack from 0x55 0x0A") {
    val r = new FixedBitReader(Array(0x55.toByte, 0x0A.toByte), 5, 3)
    assert(r.readAll().toSeq === Seq(10, 20, 5))
  }

  test("pack/unpack round-trips for every bit width 1..31 (property)") {
    val rnd = new scala.util.Random(7)
    for (bits <- 1 to 31; trial <- 0 until 5) {
      val n = 1 + rnd.nextInt(200)
      val mask = if (bits >= 31) Int.MaxValue else (1 << bits) - 1
      val vs = Array.fill(n)(rnd.nextInt() & mask)
      val packed = FixedBitReader.pack(vs, bits)
      val r = new FixedBitReader(packed, bits, vs.length)
      assert(r.readAll().toSeq === vs.toSeq, s"bits=$bits trial=$trial (batch)")
      // random access agrees with batch decode
      val probe = rnd.nextInt(n)
      assert(r.get(probe) === vs(probe), s"bits=$bits trial=$trial (random access)")
    }
  }

  // --- metadata.properties ---

  test("parse simple properties (reference golden case)") {
    val content =
      """segment.name=test_segment
        |segment.table.name=testTable
        |segment.total.docs=100
        |columns=col1,col2
        |column.col1.dataType=INT
        |column.col1.cardinality=10
        |column.col1.bitsPerElement=4
        |column.col1.hasDictionary=true
        |column.col1.isSorted=false
        |column.col2.dataType=STRING
        |column.col2.cardinality=50
        |column.col2.bitsPerElement=6
        |column.col2.hasDictionary=true
        |column.col2.isSorted=true
        |""".stripMargin
    val m = SegmentMetadata.parse(content)
    assert(m.segmentName === "test_segment")
    assert(m.tableName === "testTable")
    assert(m.totalDocs === 100)
    assert(m.columns.size === 2)
    val c1 = m.column("col1")
    assert(c1.dataType === PinotType.PInt)
    assert(c1.cardinality === 10)
    assert(c1.bitsPerElement === 4)
    assert(c1.hasDictionary)
    assert(!c1.isSorted)
  }

  test("column discovery unions dimension/metric/datetime role lists") {
    val content =
      """segment.name=s
        |segment.table.name=t
        |segment.total.docs=1
        |segment.dimension.column.names=d1,d2
        |segment.metric.column.names=m1
        |segment.datetime.column.names=ts
        |column.d1.dataType=STRING
        |column.d2.dataType=STRING
        |column.m1.dataType=LONG
        |column.ts.dataType=LONG
        |""".stripMargin
    val m = SegmentMetadata.parse(content)
    assert(m.columns.keySet === Set("d1", "d2", "m1", "ts"))
  }

  test("java string escapes decode (\\uXXXX, \\t; bad escapes pass through)") {
    assert(SegmentMetadata.decodeJavaString("hello") === "hello")
    assert(SegmentMetadata.decodeJavaString("hello\\u0020world") === "hello world")
    assert(SegmentMetadata.decodeJavaString("tab\\there") === "tab\there")
    assert(SegmentMetadata.decodeJavaString("bad\\uZZZZx") === "bad\\uZZZZx")
  }

  // --- index_map ---

  test("parse index_map incl. RAW column without dictionary") {
    val content =
      """# Index map for segment
        |hits.dictionary.startOffset=1024
        |hits.dictionary.size=40
        |hits.forward_index.startOffset=1064
        |hits.forward_index.size=48986
        |playerID.forward_index.startOffset=50050
        |playerID.forward_index.size=5000000
        |""".stripMargin
    val im = IndexMap.parse(content)
    assert(im.dictionary("hits").contains(IndexLocation(1024, 40)))
    assert(im.forwardIndex("hits").contains(IndexLocation(1064, 48986)))
    assert(im.dictionary("playerID").isEmpty)
    assert(im.forwardIndex("playerID").map(_.startOffset).contains(50050L))
  }

  test("index_map keys split right-to-left so column names may contain dots") {
    val im = IndexMap.parse(
      """some.column.name.dictionary.startOffset=100
        |some.column.name.dictionary.size=200
        |""".stripMargin)
    assert(im.dictionary("some.column.name").contains(IndexLocation(100, 200)))
  }

  // --- VarByteChunkV4 section round-trips (writer is the format inverse) ---

  private def roundTripStrings(values: Array[String], compression: Int,
      chunkSize: Int, withMagic: Boolean = true): Unit = {
    val section = SegmentWriter.writeVarByteV4(
      values.map(_.getBytes("UTF-8")), compression, chunkSize, withMagic)
    val reader = new VarByteChunkV4(section, values.length)
    assert(reader.readAllStrings().toSeq === values.toSeq)
    // random access must agree
    val probes = Seq(0, values.length / 2, values.length - 1)
    probes.foreach(i => assert(reader.getString(i) === values(i), s"doc $i"))
  }

  private val sample: Array[String] =
    (0 until 500).map(i => s"value_${i}_" + ("x" * (i % 37))).toArray

  test("V4 raw strings round-trip: PASS_THROUGH, multi-chunk") {
    roundTripStrings(sample, VarByteChunkV4.PassThrough, 512)
  }
  test("V4 raw strings round-trip: LZ4_LENGTH_PREFIXED (reference fixture codec)") {
    roundTripStrings(sample, VarByteChunkV4.Lz4LengthPrefixed, 512)
  }
  test("V4 raw strings round-trip: LZ4 block") {
    roundTripStrings(sample, VarByteChunkV4.Lz4, 512)
  }
  test("V4 raw strings round-trip: Snappy (extension beyond reference)") {
    roundTripStrings(sample, VarByteChunkV4.Snappy, 512)
  }
  test("V4 raw strings round-trip: Zstandard (extension beyond reference)") {
    roundTripStrings(sample, VarByteChunkV4.Zstandard, 512)
  }
  test("V4 raw strings round-trip without magic marker") {
    roundTripStrings(sample, VarByteChunkV4.Lz4LengthPrefixed, 512, withMagic = false)
  }
  test("V4 huge values (single value > chunk size) round-trip") {
    val vals = Array("small", "y" * 5000, "after", "z" * 9000, "end")
    roundTripStrings(vals, VarByteChunkV4.Lz4LengthPrefixed, 1024)
    roundTripStrings(vals, VarByteChunkV4.PassThrough, 1024)
  }
  test("V4 single-chunk section round-trips") {
    roundTripStrings(Array("a", "b", "c"), VarByteChunkV4.PassThrough, 1 << 20)
  }

  // --- whole-segment round trip through SegmentReader ---

  test("full segment write→read round-trip for every readable type") {
    val dir = graft.TestDirs.create("graft_seg")
    val n = 1000
    val rnd = new scala.util.Random(42)
    val ints = Array.fill(n)(rnd.nextInt(250))
    val longs = Array.fill(n)(rnd.nextLong() % 100000L)
    val floats = Array.fill(n)(rnd.nextInt(100).toFloat / 4f)
    val doubles = Array.fill(n)(rnd.nextInt(1000).toDouble / 8d)
    val strsDict = Array.fill(n)(s"team_${rnd.nextInt(30)}")
    val strsFixed = Array.fill(n)(s"p${rnd.nextInt(50)}")
    val strsRaw = Array.tabulate(n)(i => s"player_${i}_${rnd.alphanumeric.take(i % 23).mkString}")

    SegmentWriter.write(dir, "testTable", "seg0", Seq(
      SegmentWriter.IntCol("hits", ints),
      SegmentWriter.LongCol("atBats", longs),
      SegmentWriter.FloatCol("era", floats),
      SegmentWriter.DoubleCol("salary", doubles),
      SegmentWriter.StringDictCol("teamID", strsDict),
      SegmentWriter.StringDictCol("pos", strsFixed, fixedLength = true),
      SegmentWriter.StringRawCol("playerID", strsRaw,
        VarByteChunkV4.Lz4LengthPrefixed, 1024)))

    val r = SegmentReader.open(dir)
    assert(r.metadata.tableName === "testTable")
    assert(r.totalDocs === n)
    assert(r.readIntColumn("hits").toSeq === ints.toSeq)
    assert(r.readLongColumn("atBats").toSeq === longs.toSeq)
    assert(r.readFloatColumn("era").toSeq === floats.toSeq)
    assert(r.readDoubleColumn("salary").toSeq === doubles.toSeq)
    assert(r.readStringColumn("teamID").toSeq === strsDict.toSeq)
    assert(r.readStringColumn("pos").toSeq === strsFixed.toSeq)
    assert(r.readStringColumn("playerID").toSeq === strsRaw.toSeq)
    // column order is deterministic (insertion order), not HashMap order
    assert(r.metadata.columns.keys.toSeq ===
      Seq("hits", "atBats", "era", "salary", "teamID", "pos", "playerID"))
  }

  test("BOOLEAN/TIMESTAMP/BYTES columns round-trip (storage-type extension)") {
    val n = 500
    val rnd = new scala.util.Random(7)
    val bools = Array.fill(n)(rnd.nextBoolean())
    val millis = Array.fill(n)(1700000000000L + rnd.nextInt(1000000).toLong)
    val blobsD = Array.fill(n) {
      val b = new Array[Byte](rnd.nextInt(4) + 1); rnd.nextBytes(b)
      b(0) = (rnd.nextInt(3)).toByte // force duplicates + embedded NULs
      b
    }
    val blobsR = Array.fill(n) {
      val b = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(b); b
    }
    val dir = graft.TestDirs.create("graft_seg_ext")
    SegmentWriter.write(dir, "t", "s", Seq(
      SegmentWriter.BoolCol("b", bools),
      SegmentWriter.TimestampCol("ts", millis),
      SegmentWriter.BytesDictCol("bd", blobsD),
      SegmentWriter.BytesRawCol("br", blobsR, VarByteChunkV4.Lz4LengthPrefixed, 512)))
    val r = SegmentReader.open(dir)
    assert(r.readBooleanColumn("b").toSeq === bools.toSeq)
    assert(r.readTimestampMillisColumn("ts").toSeq === millis.toSeq)
    assert(r.readBytesColumn("bd").map(_.toSeq).toSeq === blobsD.map(_.toSeq).toSeq)
    assert(r.readBytesColumn("br").map(_.toSeq).toSeq === blobsR.map(_.toSeq).toSeq)
    // limit pushdown caps decode for the new types too
    assert(r.readBooleanColumn("b", 5).length === 5)
    assert(r.readBytesColumn("bd", 5).length === 5)
  }

  test("fixed-bit readRange matches readAll slice for every width (property)") {
    val rnd = new scala.util.Random(3)
    for (bits <- 1 to 31) {
      val n = 200 + rnd.nextInt(100)
      val max = if (bits == 31) Int.MaxValue else (1 << bits)
      val values = Array.fill(n)(rnd.nextInt(max))
      val packed = FixedBitReader.pack(values, bits)
      val r = new FixedBitReader(packed, bits, n)
      val all = r.readAll()
      assert(all.toSeq === values.toSeq)
      for (_ <- 1 to 5) {
        val s = rnd.nextInt(n)
        val c = rnd.nextInt(n - s + 1)
        assert(r.readRange(s, c).toSeq === all.slice(s, s + c).toSeq,
          s"bits=$bits start=$s count=$c")
      }
    }
  }

  test("VarByteV4 readRangeBytes matches full decode slice (multi-chunk + huge)") {
    val rnd = new scala.util.Random(9)
    val values = Array.tabulate(500) { i =>
      if (i % 97 == 0) Array.fill(3000)((i % 251).toByte) // huge chunk path
      else Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
    }
    val section = SegmentWriter.writeVarByteV4(values,
      VarByteChunkV4.Lz4LengthPrefixed, 1024, withMagic = true)
    val v4 = new VarByteChunkV4(section, values.length)
    val all = v4.readAllBytes()
    for (_ <- 1 to 20) {
      val s = rnd.nextInt(values.length)
      val c = rnd.nextInt(values.length - s + 1)
      assert(v4.readRangeBytes(s, c).map(_.toSeq).toSeq ===
        all.slice(s, s + c).map(_.toSeq).toSeq, s"start=$s count=$c")
    }
  }

  test("RAW fixed-byte numeric columns round-trip + range reads") {
    val n = 3000
    val rnd = new scala.util.Random(21)
    val ints = Array.fill(n)(rnd.nextInt())
    val longs = Array.fill(n)(rnd.nextLong())
    val floats = Array.fill(n)(rnd.nextFloat() * 1000 - 500)
    val doubles = Array.fill(n)(rnd.nextDouble() * 1e6 - 5e5)
    val dir = graft.TestDirs.create("graft_seg_rawnum")
    SegmentWriter.write(dir, "t", "s", Seq(
      SegmentWriter.IntRawCol("i", ints, VarByteChunkV4.Lz4LengthPrefixed, 512),
      SegmentWriter.LongRawCol("l", longs, VarByteChunkV4.Zstandard, 1024),
      SegmentWriter.FloatRawCol("f", floats, VarByteChunkV4.PassThrough, 256),
      SegmentWriter.DoubleRawCol("d", doubles, VarByteChunkV4.Snappy, 2048)))
    val r = SegmentReader.open(dir)
    assert(!r.metadata.column("i").hasDictionary)
    assert(r.readIntColumn("i").toSeq === ints.toSeq)
    assert(r.readLongColumn("l").toSeq === longs.toSeq)
    assert(r.readFloatColumn("f").toSeq === floats.toSeq)
    assert(r.readDoubleColumn("d").toSeq === doubles.toSeq)
    // windowed range reads match slices across chunk boundaries
    val fb = r.fixedByteReader("i")
    for (_ <- 1 to 10) {
      val s = rnd.nextInt(n)
      val c = rnd.nextInt(n - s + 1)
      assert(fb.readRangeInts(s, c).toSeq === ints.slice(s, s + c).toSeq)
    }
    // limit-capped decode
    assert(r.readLongColumn("l", 7).toSeq === longs.take(7).toSeq)
    // min/max metadata recorded for RAW numerics → range pruning works
    assert(r.metadata.column("i").minValue.contains(ints.min.toString))
    assert(r.metadata.column("i").maxValue.contains(ints.max.toString))
  }

  test("multi-value (array) columns round-trip, incl. empty arrays") {
    val n = 300
    val rnd = new scala.util.Random(11)
    val ints = Array.fill(n)(Array.fill(rnd.nextInt(5))(rnd.nextInt(50)))
    val longs = Array.fill(n)(Array.fill(rnd.nextInt(3))(rnd.nextLong() % 1000))
    val strs = Array.fill(n)(Array.fill(rnd.nextInt(4))(s"tag${rnd.nextInt(20)}"))
    ints(0) = Array.empty; strs(1) = Array.empty // explicit empty-array docs
    val dir = graft.TestDirs.create("graft_seg_mv")
    SegmentWriter.write(dir, "t", "s", Seq(
      SegmentWriter.IntMVCol("mi", ints),
      SegmentWriter.LongMVCol("ml", longs),
      SegmentWriter.StringMVCol("ms", strs)))
    val r = SegmentReader.open(dir)
    assert(r.metadata.column("mi").isSingleValue === false)
    assert(r.metadata.column("mi").totalEntries === ints.map(_.length).sum)
    assert(r.readIntMVColumn("mi").map(_.toSeq).toSeq === ints.map(_.toSeq).toSeq)
    assert(r.readLongMVColumn("ml").map(_.toSeq).toSeq === longs.map(_.toSeq).toSeq)
    assert(r.readStringMVColumn("ms").map(_.toSeq).toSeq === strs.map(_.toSeq).toSeq)
    // limit pushdown caps the MV decode at the doc grain
    val (off, ids) = r.mvIndex("mi", 7)
    assert(off.length === 8)
    assert(ids.length === off(7))
  }

  test("inverted index + null vector sections round-trip (property)") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 10) {
      val n = 500 + rnd.nextInt(2000)
      val card = 1 + rnd.nextInt(20)
      val vals = Array.fill(n)(s"v${rnd.nextInt(card)}")
      val nullDocs = (0 until n).filter(_ => rnd.nextInt(10) == 0).toArray
      val dir = graft.TestDirs.create(s"inv_rt_$trial")
      SegmentWriter.write(dir, "t", "s0", Seq(
        SegmentWriter.StringDictCol("c", vals),
        SegmentWriter.IntCol("k", Array.tabulate(n)(identity))),
        invertedCols = Set("c"),
        nullVectors = if (nullDocs.isEmpty) Map.empty
          else Map("k" -> nullDocs))
      val r = SegmentReader.open(dir)
      // inverted postings partition [0, n) exactly by value
      val dict = r.dictionary("c") match {
        case PinotDictionary.Strings(a) => a
        case other => fail(s"unexpected dict $other")
      }
      val postings = r.invertedIndex("c").get
      assert(postings.length === dict.length)
      val byValue = vals.zipWithIndex.groupBy(_._1)
        .view.mapValues(_.map(_._2).toSeq).toMap
      dict.zipWithIndex.foreach { case (v, id) =>
        assert(postings(id).toArray.toSeq === byValue(v),
          s"postings for $v")
      }
      assert(postings.map(_.getCardinality).sum === n)
      // null vector reads back the exact doc set
      if (nullDocs.nonEmpty)
        assert(r.nullVector("k").get.toArray.toSeq === nullDocs.toSeq)
      else assert(r.nullVector("k").isEmpty)
      assert(r.nullVector("c").isEmpty, "no vector for non-null column")
      assert(r.metadata.column("c").hasInvertedIndex)
      assert(r.metadata.column("k").hasNullVector === nullDocs.nonEmpty)
      if (nullDocs.nonEmpty)
        assert(r.metadata.column("k").nullCount === nullDocs.length)
    }
  }

  test("type mismatches and RAW numeric columns are rejected") {
    val dir = graft.TestDirs.create("graft_seg2")
    SegmentWriter.write(dir, "t", "s", Seq(
      SegmentWriter.IntCol("i", Array(1, 2, 3))))
    val r = SegmentReader.open(dir)
    intercept[PinotFormatException](r.readLongColumn("i"))
    intercept[PinotFormatException](r.readIntColumn("missing"))
  }

  test("corrupt inputs fail with PinotFormatException, never garbage") {
    // dictionary: bad magic
    val badMagic = new Array[Byte](16) // zeros != 0xDEADBEEFDEAFBEAD
    intercept[PinotFormatException](
      PinotDictionary.read(badMagic, PinotType.PInt, 1, 0))
    // dictionary: truncated payload (magic ok, no entries)
    val truncated = java.nio.ByteBuffer.allocate(10)
      .putLong(PinotDictionary.MagicMarker).array()
    intercept[Exception]( // BufferUnderflow surfaces, not silent zeroes
      PinotDictionary.read(truncated, PinotType.PLong, 4, 0))
    // BYTES/BOOLEAN dictionaries decode (extension beyond the reference,
    // which rejects them — dictionary.rs:125-134); empty dicts are legal
    val okMagic = java.nio.ByteBuffer.allocate(8)
      .putLong(PinotDictionary.MagicMarker).array()
    assert(PinotDictionary.read(okMagic, PinotType.PBytes, 0, 0).size === 0)
    assert(PinotDictionary.read(okMagic, PinotType.PBoolean, 0, 0).size === 0)
    // V4: unsupported compression code
    val v4 = java.nio.ByteBuffer.allocate(24)
    v4.putLong(0xCAFEBABEDEADBEEFL) // wrong magic → header misparse path
    intercept[Exception](new VarByteChunkV4(v4.array(), 1).readAllStrings())
    // forward index too small for the magic marker
    val dir = graft.TestDirs.create("graft_seg3")
    SegmentWriter.write(dir, "t", "s", Seq(
      SegmentWriter.IntCol("i", Array(1))))
    val reader = SegmentReader.open(dir)
    intercept[PinotFormatException](reader.dictIds("missing"))
  }
}

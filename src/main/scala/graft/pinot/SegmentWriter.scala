package graft.pinot

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Test-fixture generator: writes minimal but format-exact Pinot v3 segments
  * (`metadata.properties`, `index_map`, `columns.psf`).
  *
  * The reference has no writer — its tests depend on a Pinot-quickstart
  * segment we must not assume (SURVEY.md §5). This writer is the byte-level
  * inverse of the readers in this package and exists so decoder specs and the
  * DataSource V2 connector can be tested hermetically. Not a data path —
  * the engine itself remains read-only like the reference (README:416).
  */
object SegmentWriter {

  sealed trait ColumnData { def name: String; def length: Int }
  final case class IntCol(name: String, values: Array[Int]) extends ColumnData { def length: Int = values.length }
  final case class LongCol(name: String, values: Array[Long]) extends ColumnData { def length: Int = values.length }
  final case class FloatCol(name: String, values: Array[Float]) extends ColumnData { def length: Int = values.length }
  final case class DoubleCol(name: String, values: Array[Double]) extends ColumnData { def length: Int = values.length }
  /** Dictionary-encoded STRING; `fixedLength=true` writes NUL-padded entries
    * with `lengthOfEachEntry` set, else 4-byte-BE length prefixes.
    */
  final case class StringDictCol(name: String, values: Array[String],
      fixedLength: Boolean = false) extends ColumnData { def length: Int = values.length }
  /** RAW (no-dictionary) STRING in VarByteChunk V4 with the given compression
    * and target chunk size (small sizes force multi-chunk / huge-value paths).
    */
  final case class StringRawCol(name: String, values: Array[String],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 4096,
      withMagic: Boolean = true) extends ColumnData { def length: Int = values.length }
  /** BOOLEAN, stored as INT 0/1 dictionary (storage-type extension —
    * the reference rejects BOOLEAN, dictionary.rs:125-134).
    */
  final case class BoolCol(name: String, values: Array[Boolean]) extends ColumnData { def length: Int = values.length }
  /** TIMESTAMP as epoch millis, stored as LONG dictionary. */
  final case class TimestampCol(name: String, millis: Array[Long]) extends ColumnData { def length: Int = millis.length }
  /** Dictionary-encoded BYTES: 4-byte-BE length-prefixed entries. */
  final case class BytesDictCol(name: String, values: Array[Array[Byte]]) extends ColumnData { def length: Int = values.length }
  /** RAW BYTES in VarByteChunk V4 (same container as RAW STRING). */
  final case class BytesRawCol(name: String, values: Array[Array[Byte]],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 4096) extends ColumnData { def length: Int = values.length }
  /** RAW (no-dictionary) NUMERIC columns in the fixed-byte V4 chunk
    * format — EXTENSION (the reference rejects RAW numerics; real Pinot
    * stores high-cardinality metrics this way).
    */
  final case class IntRawCol(name: String, values: Array[Int],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 4096) extends ColumnData { def length: Int = values.length }
  final case class LongRawCol(name: String, values: Array[Long],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 4096) extends ColumnData { def length: Int = values.length }
  final case class FloatRawCol(name: String, values: Array[Float],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 4096) extends ColumnData { def length: Int = values.length }
  final case class DoubleRawCol(name: String, values: Array[Double],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 4096) extends ColumnData { def length: Int = values.length }
  /** Multi-value (array) dictionary columns — EXTENSION (MV is a reference
    * non-goal, README.md:310). Forward index layout: 8-byte magic,
    * i32 BE totalEntries, (totalDocs+1) i32 BE cumulative offsets, then
    * the fixed-bit packed dict ids of all values concatenated.
    */
  /** JSON columns: STRING storage with dataType JSON (≙ Apache Pinot). */
  final case class JsonDictCol(name: String, values: Array[String]) extends ColumnData { def length: Int = values.length }
  final case class JsonRawCol(name: String, values: Array[String],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 64 * 1024) extends ColumnData { def length: Int = values.length }
  /** BIG_DECIMAL: RAW var-byte of 2-byte BE scale + BE unscaled bytes. */
  final case class BigDecimalRawCol(name: String,
      values: Array[java.math.BigDecimal],
      compression: Int = VarByteChunkV4.Lz4LengthPrefixed,
      targetChunkSize: Int = 64 * 1024) extends ColumnData { def length: Int = values.length }
  final case class IntMVCol(name: String, values: Array[Array[Int]]) extends ColumnData { def length: Int = values.length }
  final case class LongMVCol(name: String, values: Array[Array[Long]]) extends ColumnData { def length: Int = values.length }
  final case class DoubleMVCol(name: String, values: Array[Array[Double]]) extends ColumnData { def length: Int = values.length }
  final case class StringMVCol(name: String, values: Array[Array[String]]) extends ColumnData { def length: Int = values.length }

  private val Magic = PinotDictionary.MagicMarker

  /** Write a segment; returns the `v3/` directory.
    *
    * `invertedCols` requests a bitmap inverted index for the named
    * dictionary-encoded columns (Pinot's `invertedIndexColumns` table
    * config): per dictId, a serialized RoaringBitmap of matching docIds
    * behind an (cardinality+1)-int offset header — Pinot's
    * BitmapInvertedIndexWriter layout. Requests for RAW columns are
    * ignored (as in Pinot, where inverted indexes require a dictionary).
    */
  /** `nullVectors` marks docIds whose value is NULL per column (Pinot's
    * null-value vector: a RoaringBitmap `nullvalue_vector` section; null
    * docs still store a default value in the forward index, exactly as
    * Pinot's `defaultNullValue` model). The reference rejects nullable
    * columns entirely — EXTENSION.
    */
  /** `starTree` requests a star-tree-style pre-aggregated index (see
    * [[StarTree]]): dims must be dictionary-encoded scalar columns,
    * metrics numeric columns; neither may be nullable (Pinot's star-tree
    * has the same constraints). COUNT is always included.
    */
  /** `bloomCols` requests a bloom-filter index (Pinot's
    * `bloomFilterColumns`) over the named single-value scalar columns —
    * built over the column's DISTINCT canonical values so equality/IN
    * probes can prune segments without forward-index IO (see
    * [[BloomSection]]). Works for RAW columns too, where no dictionary
    * exists to prune against.
    */
  def write(segmentDir: Path, tableName: String, segmentName: String,
      columns: Seq[ColumnData], invertedCols: Set[String] = Set.empty,
      nullVectors: Map[String, Array[Int]] = Map.empty,
      timeColumn: Option[String] = None,
      starTree: Option[StarTree.Spec] = None,
      bloomCols: Set[String] = Set.empty,
      formatVersion: Int = 3,
      rangeCols: Set[String] = Set.empty,
      textCols: Set[String] = Set.empty,
      textAnalyzer: Int = TextIndexSection.AnalyzerStandard,
      textAnalyzers: Map[String, Int] = Map.empty,
      jsonIdxCols: Set[String] = Set.empty,
      sketchCols: Map[String, String] = Map.empty): Path = {
    require(columns.nonEmpty, "need at least one column")
    val totalDocs = columns.head.length
    require(columns.forall(_.length == totalDocs), "ragged columns")
    timeColumn.foreach(tc => require(columns.exists(_.name == tc),
      s"timeColumn $tc is not a written column"))
    nullVectors.foreach { case (c, docs) =>
      require(columns.exists(_.name == c), s"nullVectors: unknown column $c")
      require(docs.forall(d => d >= 0 && d < totalDocs),
        s"nullVectors: docId out of range for $c")
    }

    require(formatVersion == 1 || formatVersion == 3,
      s"formatVersion must be 1 (per-index files) or 3 (columns.psf): $formatVersion")
    val v3 = segmentDir.resolve("v3")
    Files.createDirectories(if (formatVersion == 3) v3 else segmentDir)

    val psf = new ByteArrayOutputStream()
    val indexMap = new StringBuilder
    // (column, indexType, offset, size) in psf — lets the v1 finalizer
    // slice each section back out into its own file
    val sectionList = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Int, Int)]
    // v1 forward-index file flavor per column (Pinot's V1Constants):
    // sv.sorted / sv.unsorted / mv; absent → sv.raw
    val fwdFlavor = scala.collection.mutable.Map.empty[String, String]
    val props = new StringBuilder
    props ++= s"segment.name=$segmentName\n"
    props ++= s"segment.table.name=$tableName\n"
    props ++= s"segment.total.docs=$totalDocs\n"
    props ++= s"columns=${columns.map(_.name).mkString(",")}\n"
    // Pinot's time-column declaration — drives hybrid OFFLINE/REALTIME
    // time-boundary reads (PinotHybrid)
    timeColumn.foreach(tc => props ++= s"segment.time.column.name=$tc\n")

    def addSection(column: String, indexType: String, bytes: Array[Byte]): Unit = {
      val off = psf.size()
      psf.write(bytes)
      indexMap ++= s"$column.$indexType.startOffset=$off\n"
      indexMap ++= s"$column.$indexType.size=${bytes.length}\n"
      sectionList += ((column, indexType, off, bytes.length))
    }

    def colProps(name: String, dataType: String, cardinality: Int, bits: Int,
        hasDict: Boolean, lenEach: Int, isSingleValue: Boolean = true,
        totalEntries: Int = -1, isSorted: Boolean = false,
        minValue: Option[String] = None, maxValue: Option[String] = None): Unit = {
      props ++= s"column.$name.dataType=$dataType\n"
      props ++= s"column.$name.cardinality=$cardinality\n"
      props ++= s"column.$name.bitsPerElement=$bits\n"
      props ++= s"column.$name.hasDictionary=$hasDict\n"
      props ++= s"column.$name.isSorted=$isSorted\n"
      props ++= s"column.$name.lengthOfEachEntry=$lenEach\n"
      props ++= s"column.$name.isSingleValue=$isSingleValue\n"
      if (totalEntries >= 0)
        props ++= s"column.$name.totalNumberOfEntries=$totalEntries\n"
      // only values that survive the java-properties line format verbatim
      // (no escapes needed) are recorded — pruning treats absence as
      // "unknown", so skipping unsafe values is always correct
      def safe(v: String): Boolean =
        v.nonEmpty && v.length <= 256 && v.forall(c =>
          c >= 0x20 && c < 0x7f && c != '\\' && c != '=' && c != '#')
      minValue.filter(safe).foreach(v => props ++= s"column.$name.minValue=$v\n")
      maxValue.filter(safe).foreach(v => props ++= s"column.$name.maxValue=$v\n")
    }

    def bitsFor(cardinality: Int): Int =
      math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(cardinality - 1, 1)))

    // Pinot null-value vector: ONE serialized RoaringBitmap of null docIds
    // (NullValueVectorReader wraps the buffer directly — no offset header)
    def addNullVectors(): Unit = nullVectors.foreach { case (name, docIds) =>
      val bm = new org.roaringbitmap.RoaringBitmap
      docIds.foreach(bm.add)
      bm.runOptimize()
      val body = new ByteArrayOutputStream()
      bm.serialize(new java.io.DataOutputStream(body))
      addSection(name, "nullvalue_vector", body.toByteArray)
      props ++= s"column.$name.hasNullValueVector=true\n"
      props ++= s"column.$name.nullValueCount=${bm.getCardinality}\n"
    }

    // values non-decreasing in doc order → isSorted (Pinot records this;
    // the scan can then treat the whole segment as range-ordered)
    def sortedAsc[T](values: Array[T])(implicit ord: Ordering[T]): Boolean = {
      var i = 1
      while (i < values.length) {
        if (ord.lt(values(i), values(i - 1))) return false
        i += 1
      }
      true
    }

    // Pinot BitmapInvertedIndexWriter layout: (cardinality+1) BE int
    // offsets (absolute within the section, header included), then the
    // serialized RoaringBitmaps back to back — bitmap i holds the docIds
    // whose value is dictId i (for MV: whose array CONTAINS dictId i).
    def addInvertedSection(name: String,
        bitmaps: Array[org.roaringbitmap.RoaringBitmap]): Unit = {
      val header = 4 * (bitmaps.length + 1)
      val body = new ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(body)
      val offsets = new Array[Int](bitmaps.length + 1)
      offsets(0) = header
      bitmaps.zipWithIndex.foreach { case (bm, i) =>
        bm.runOptimize()
        bm.serialize(out)
        offsets(i + 1) = header + body.size()
      }
      val section = ByteBuffer.allocate(header + body.size())
      offsets.foreach(section.putInt)
      section.put(body.toByteArray)
      addSection(name, "inverted_index", section.array())
      props ++= s"column.$name.hasInvertedIndex=true\n"
    }

    def writeDictEncoded[T](name: String, dataType: String, values: Array[T],
        distinct: Array[T], dictBytes: Array[Byte], lenEach: Int,
        isSorted: Boolean = false, minValue: Option[String] = None,
        maxValue: Option[String] = None,
        precomputedIds: Option[Array[Int]] = None): Unit = {
      val ids = precomputedIds.getOrElse {
        val pos = distinct.zipWithIndex.toMap
        values.map(pos(_))
      }
      val bits = bitsFor(distinct.length)
      addSection(name, "dictionary", dictBytes)
      val fwd = new ByteArrayOutputStream()
      fwd.write(beLong(Magic))
      fwd.write(FixedBitReader.pack(ids, bits))
      fwdFlavor(name) = if (isSorted) "sv.sorted" else "sv.unsorted"
      addSection(name, "forward_index", fwd.toByteArray)
      if (invertedCols(name)) {
        val bitmaps = Array.fill(distinct.length)(new org.roaringbitmap.RoaringBitmap)
        var d = 0
        while (d < ids.length) { bitmaps(ids(d)).add(d); d += 1 }
        addInvertedSection(name, bitmaps)
      }
      colProps(name, dataType, distinct.length, bits, hasDict = true, lenEach,
        isSorted = isSorted, minValue = minValue, maxValue = maxValue)
    }

    def writeMVDict[T](name: String, dataType: String, values: Array[Array[T]],
        distinct: Array[T], dictBytes: Array[Byte]): Unit = {
      val pos = distinct.zipWithIndex.toMap
      val flat = values.flatMap(_.map(pos(_)))
      val bits = bitsFor(distinct.length)
      addSection(name, "dictionary", dictBytes)
      if (invertedCols(name)) {
        val bitmaps = Array.fill(distinct.length)(new org.roaringbitmap.RoaringBitmap)
        var d = 0
        while (d < values.length) {
          values(d).foreach(v => bitmaps(pos(v)).add(d)); d += 1
        }
        addInvertedSection(name, bitmaps)
      }
      val header = ByteBuffer.allocate(8 + 4 + 4 * (values.length + 1))
      header.putLong(Magic)
      header.putInt(flat.length)
      var off = 0
      header.putInt(0)
      values.foreach { v => off += v.length; header.putInt(off) }
      val fwd = new ByteArrayOutputStream()
      fwd.write(header.array())
      fwd.write(FixedBitReader.pack(flat, bits))
      fwdFlavor(name) = "mv"
      addSection(name, "forward_index", fwd.toByteArray)
      colProps(name, dataType, distinct.length, bits, hasDict = true, 0,
        isSingleValue = false, totalEntries = flat.length)
    }

    // string min/max only when every distinct value is ASCII — there the
    // UTF-16 sort order used for the dictionary coincides with Spark's
    // UTF8String byte order, so pruning comparisons stay sound
    def asciiMinMax(distinct: Array[String]): (Option[String], Option[String]) =
      if (distinct.nonEmpty && distinct.forall(_.forall(c => c >= 0x20 && c < 0x7f)))
        (Some(distinct.head), Some(distinct.last))
      else (None, None)

    columns.foreach {
      case IntCol(name, values) =>
        val distinct = values.distinct.sorted
        writeDictEncoded(name, "INT", values, distinct,
          dictHeader(distinct.length * 4)(b => distinct.foreach(b.putInt)), 0,
          sortedAsc(values), distinct.headOption.map(_.toString),
          distinct.lastOption.map(_.toString))
      case LongCol(name, values) =>
        val distinct = values.distinct.sorted
        writeDictEncoded(name, "LONG", values, distinct,
          dictHeader(distinct.length * 8)(b => distinct.foreach(b.putLong)), 0,
          sortedAsc(values), distinct.headOption.map(_.toString),
          distinct.lastOption.map(_.toString))
      case FloatCol(name, values) =>
        // distinct + index by BIT PATTERN: Scala's boxed == follows
        // primitive float semantics, so NaN keys never match in a Map
        // (lookup would throw) and -0.0/0.0 would collapse into one dict
        // entry that then fails exact bit round-trip. floatToIntBits
        // canonicalizes every NaN to one pattern; TotalOrdering sorts
        // -0.0 < 0.0 < NaN, keeping the dictionary value-ordered.
        val distinct = values.map(java.lang.Float.floatToIntBits)
          .distinct.map(java.lang.Float.intBitsToFloat)
          .sorted(Ordering.Float.TotalOrdering)
        val pos = distinct.iterator.zipWithIndex
          .map { case (v, i) => java.lang.Float.floatToIntBits(v) -> i }.toMap
        writeDictEncoded(name, "FLOAT", values, distinct,
          dictHeader(distinct.length * 4)(b => distinct.foreach(b.putFloat)), 0,
          sortedAsc(values), distinct.headOption.map(_.toString),
          distinct.lastOption.map(_.toString),
          Some(values.map(v => pos(java.lang.Float.floatToIntBits(v)))))
      case DoubleCol(name, values) =>
        val distinct = values.map(java.lang.Double.doubleToLongBits)
          .distinct.map(java.lang.Double.longBitsToDouble)
          .sorted(Ordering.Double.TotalOrdering)
        val pos = distinct.iterator.zipWithIndex
          .map { case (v, i) => java.lang.Double.doubleToLongBits(v) -> i }.toMap
        writeDictEncoded(name, "DOUBLE", values, distinct,
          dictHeader(distinct.length * 8)(b => distinct.foreach(b.putDouble)), 0,
          sortedAsc(values), distinct.headOption.map(_.toString),
          distinct.lastOption.map(_.toString),
          Some(values.map(v => pos(java.lang.Double.doubleToLongBits(v)))))
      case StringDictCol(name, values, fixedLength) =>
        val distinct = values.distinct.sorted
        val encoded = distinct.map(_.getBytes(StandardCharsets.UTF_8))
        val (mn, mx) = asciiMinMax(distinct)
        if (fixedLength) {
          val lenEach = math.max(encoded.map(_.length).max, 1)
          val dict = dictHeader(distinct.length * lenEach) { b =>
            encoded.foreach { e => b.put(e); b.put(new Array[Byte](lenEach - e.length)) }
          }
          writeDictEncoded(name, "STRING", values, distinct, dict, lenEach,
            sortedAsc(values), mn, mx)
        } else {
          val dict = dictHeader(encoded.map(_.length + 4).sum) { b =>
            encoded.foreach { e => b.putInt(e.length); b.put(e) }
          }
          writeDictEncoded(name, "STRING", values, distinct, dict, 0,
            sortedAsc(values), mn, mx)
        }
      case StringRawCol(name, values, compression, targetChunkSize, withMagic) =>
        addSection(name, "forward_index",
          writeVarByteV4(values.map(_.getBytes(StandardCharsets.UTF_8)),
            compression, targetChunkSize, withMagic))
        val (mn, mx) = asciiMinMax(values.distinct.sorted)
        colProps(name, "STRING", values.distinct.length, 0, hasDict = false, 0,
          isSorted = sortedAsc(values), minValue = mn, maxValue = mx)
      case BoolCol(name, values) =>
        val asInts = values.map(v => if (v) 1 else 0)
        val distinct = asInts.distinct.sorted
        writeDictEncoded(name, "BOOLEAN", asInts, distinct,
          dictHeader(distinct.length * 4)(b => distinct.foreach(b.putInt)), 0)
      case TimestampCol(name, millis) =>
        val distinct = millis.distinct.sorted
        writeDictEncoded(name, "TIMESTAMP", millis, distinct,
          dictHeader(distinct.length * 8)(b => distinct.foreach(b.putLong)), 0,
          sortedAsc(millis), distinct.headOption.map(_.toString),
          distinct.lastOption.map(_.toString))
      case BytesDictCol(name, values) =>
        // distinct+sort by unsigned lexicographic order via a string key
        // (Array[Byte] has reference equality semantics in Scala)
        val distinct = values.map(v => java.util.Base64.getEncoder.encodeToString(v) -> v)
          .toMap.values.toArray
          .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
        val keyed = values.map(v => java.util.Base64.getEncoder.encodeToString(v))
        val distinctKeys = distinct.map(v => java.util.Base64.getEncoder.encodeToString(v))
        val dict = dictHeader(distinct.map(_.length + 4).sum) { b =>
          distinct.foreach { e => b.putInt(e.length); b.put(e) }
        }
        writeDictEncoded(name, "BYTES", keyed, distinctKeys, dict, 0)
      case BytesRawCol(name, values, compression, targetChunkSize) =>
        addSection(name, "forward_index",
          writeVarByteV4(values, compression, targetChunkSize, withMagic = true))
        colProps(name, "BYTES", values.map(java.util.Arrays.hashCode).distinct.length,
          0, hasDict = false, 0)
      case JsonDictCol(name, values) =>
        val distinct = values.distinct.sorted
        val encoded = distinct.map(_.getBytes(StandardCharsets.UTF_8))
        val dict = dictHeader(encoded.map(_.length + 4).sum) { b =>
          encoded.foreach { e => b.putInt(e.length); b.put(e) }
        }
        writeDictEncoded(name, "JSON", values, distinct, dict, 0)
      case JsonRawCol(name, values, compression, targetChunkSize) =>
        addSection(name, "forward_index",
          writeVarByteV4(values.map(_.getBytes(StandardCharsets.UTF_8)),
            compression, targetChunkSize, withMagic = true))
        colProps(name, "JSON", values.distinct.length, 0, hasDict = false, 0)
      case BigDecimalRawCol(name, values, compression, targetChunkSize) =>
        addSection(name, "forward_index",
          writeVarByteV4(values.map(PinotBigDecimal.serialize),
            compression, targetChunkSize, withMagic = true))
        colProps(name, "BIG_DECIMAL", values.map(_.stripTrailingZeros).distinct.length,
          0, hasDict = false, 0)
      case IntRawCol(name, values, compression, targetChunkSize) =>
        val le = ByteBuffer.allocate(values.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(le.putInt)
        addSection(name, "forward_index",
          FixedByteChunkV4.write(le.array(), 4, compression, targetChunkSize))
        val d = values.distinct.sorted
        colProps(name, "INT", d.length, 0, hasDict = false, 0,
          isSorted = sortedAsc(values), minValue = d.headOption.map(_.toString),
          maxValue = d.lastOption.map(_.toString))
      case LongRawCol(name, values, compression, targetChunkSize) =>
        val le = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(le.putLong)
        addSection(name, "forward_index",
          FixedByteChunkV4.write(le.array(), 8, compression, targetChunkSize))
        val d = values.distinct.sorted
        colProps(name, "LONG", d.length, 0, hasDict = false, 0,
          isSorted = sortedAsc(values), minValue = d.headOption.map(_.toString),
          maxValue = d.lastOption.map(_.toString))
      case FloatRawCol(name, values, compression, targetChunkSize) =>
        val le = ByteBuffer.allocate(values.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(le.putFloat)
        addSection(name, "forward_index",
          FixedByteChunkV4.write(le.array(), 4, compression, targetChunkSize))
        val d = values.distinct.sorted
        colProps(name, "FLOAT", d.length, 0, hasDict = false, 0,
          isSorted = sortedAsc(values), minValue = d.headOption.map(_.toString),
          maxValue = d.lastOption.map(_.toString))
      case DoubleRawCol(name, values, compression, targetChunkSize) =>
        val le = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(le.putDouble)
        addSection(name, "forward_index",
          FixedByteChunkV4.write(le.array(), 8, compression, targetChunkSize))
        val d = values.distinct.sorted
        colProps(name, "DOUBLE", d.length, 0, hasDict = false, 0,
          isSorted = sortedAsc(values), minValue = d.headOption.map(_.toString),
          maxValue = d.lastOption.map(_.toString))
      case IntMVCol(name, values) =>
        val distinct = values.flatten.distinct.sorted
        writeMVDict(name, "INT", values, distinct,
          dictHeader(distinct.length * 4)(b => distinct.foreach(b.putInt)))
      case LongMVCol(name, values) =>
        val distinct = values.flatten.distinct.sorted
        writeMVDict(name, "LONG", values, distinct,
          dictHeader(distinct.length * 8)(b => distinct.foreach(b.putLong)))
      case DoubleMVCol(name, values) =>
        val distinct = values.flatten.distinct.sorted
        writeMVDict(name, "DOUBLE", values, distinct,
          dictHeader(distinct.length * 8)(b => distinct.foreach(b.putDouble)))
      case StringMVCol(name, values) =>
        val distinct = values.flatten.distinct.sorted
        val encoded = distinct.map(_.getBytes(StandardCharsets.UTF_8))
        writeMVDict(name, "STRING", values, distinct,
          dictHeader(encoded.map(_.length + 4).sum) { b =>
            encoded.foreach { e => b.putInt(e.length); b.put(e) }
          })
    }

    addNullVectors()

    // Writer-recorded EXACT column sums (beyond-Pinot metadata extension,
    // ≙ Pinot's metadata-based COUNT/MIN/MAX aggregations extended to
    // SUM): global SUM/AVG over a non-nullable integral column can then
    // be answered from metadata alone — no forward index read. Recorded
    // as an exact big-integer decimal string (no overflow at write);
    // readers fold per-segment sums and wrap to Spark's long-sum
    // semantics at the end. Columns with a null vector are skipped: the
    // stored values at null docs are fill defaults that must not enter a
    // SUM.
    columns.foreach { c =>
      if (!nullVectors.contains(c.name)) {
        val sum: Option[BigInt] = c match {
          case IntCol(_, v) => Some(v.foldLeft(BigInt(0))(_ + _))
          case LongCol(_, v) => Some(v.foldLeft(BigInt(0))(_ + _))
          case IntRawCol(_, v, _, _) => Some(v.foldLeft(BigInt(0))(_ + _))
          case LongRawCol(_, v, _, _) => Some(v.foldLeft(BigInt(0))(_ + _))
          case _ => None
        }
        sum.foreach(s => props ++= s"column.${c.name}.sumValue=$s\n")
      }
    }

    // Bloom filters: canonical distinct values per requested column.
    // Nullable columns store their default at null docs; that default
    // lands in the bloom too, which can only KEEP a segment (false
    // positives are safe — the residual filter and null overlay decide).
    def bloomCanonical(cd: ColumnData): Option[Iterator[String]] = cd match {
      case IntCol(_, v) => Some(v.iterator.map(String.valueOf))
      case LongCol(_, v) => Some(v.iterator.map(String.valueOf))
      case FloatCol(_, v) => Some(v.iterator.map(BloomSection.canonicalFloat))
      case DoubleCol(_, v) => Some(v.iterator.map(BloomSection.canonicalDouble))
      case StringDictCol(_, v, _) => Some(v.iterator)
      case StringRawCol(_, v, _, _, _) => Some(v.iterator)
      case BoolCol(_, v) => Some(v.iterator.map(String.valueOf))
      case TimestampCol(_, ms) => Some(ms.iterator.map(String.valueOf))
      case IntRawCol(_, v, _, _) => Some(v.iterator.map(String.valueOf))
      case LongRawCol(_, v, _, _) => Some(v.iterator.map(String.valueOf))
      case FloatRawCol(_, v, _, _) =>
        Some(v.iterator.map(BloomSection.canonicalFloat))
      case DoubleRawCol(_, v, _, _) =>
        Some(v.iterator.map(BloomSection.canonicalDouble))
      case JsonDictCol(_, v) => Some(v.iterator)
      case JsonRawCol(_, v, _, _) => Some(v.iterator)
      case _ => None // MV / BYTES / BIG_DECIMAL: no equality-pushdown surface
    }
    bloomCols.foreach { bc =>
      val cd = columns.find(_.name == bc).getOrElse(
        throw new PinotFormatException(
          s"bloomFilterColumns: unknown column $bc"))
      val vals = bloomCanonical(cd).getOrElse(
        throw new PinotFormatException(
          s"bloomFilterColumns entry $bc: single-value scalar required"))
      addSection(bc, "bloom_filter",
        BloomSection.build(vals.toSet).serialize())
      props ++= s"column.$bc.hasBloomFilter=true\n"
    }

    // Range indexes (Pinot's rangeIndexColumns): doc-order numeric values
    // in the LONG domain (INT/LONG/TIMESTAMP millis) or DOUBLE domain
    // (FLOAT/DOUBLE, -0.0 canonicalized) — see [[RangeSection]]
    def rangeValues(cd: ColumnData)
        : Option[Either[Array[Long], Array[Double]]] = cd match {
      case IntCol(_, v) => Some(Left(v.map(_.toLong)))
      case LongCol(_, v) => Some(Left(v))
      case TimestampCol(_, ms) => Some(Left(ms))
      case FloatCol(_, v) => Some(Right(v.map(_.toDouble)))
      case DoubleCol(_, v) => Some(Right(v))
      case IntRawCol(_, v, _, _) => Some(Left(v.map(_.toLong)))
      case LongRawCol(_, v, _, _) => Some(Left(v))
      case FloatRawCol(_, v, _, _) => Some(Right(v.map(_.toDouble)))
      case DoubleRawCol(_, v, _, _) => Some(Right(v))
      case _ => None
    }
    rangeCols.foreach { rc =>
      val cd = columns.find(_.name == rc).getOrElse(
        throw new PinotFormatException(s"rangeIndexColumns: unknown column $rc"))
      val vals = rangeValues(cd).getOrElse(
        throw new PinotFormatException(
          s"rangeIndexColumns entry $rc: single-value numeric required"))
      addSection(rc, RangeSection.IndexType, RangeSection.build(vals))
      props ++= s"column.$rc.hasRangeIndex=true\n"
    }

    // Text indexes (the capability of Pinot's textIndexColumns): token
    // vocabulary + postings over STRING values — see [[TextIndexSection]]
    def textValues(cd: ColumnData): Option[Iterator[String]] = cd match {
      case StringDictCol(_, v, _) => Some(v.iterator)
      case StringRawCol(_, v, _, _, _) => Some(v.iterator)
      case JsonDictCol(_, v) => Some(v.iterator)
      case JsonRawCol(_, v, _, _) => Some(v.iterator)
      case _ => None
    }
    textCols.foreach { tc =>
      val cd = columns.find(_.name == tc).getOrElse(
        throw new PinotFormatException(s"textIndexColumns: unknown column $tc"))
      val vals = textValues(cd).getOrElse(
        throw new PinotFormatException(
          s"textIndexColumns entry $tc: single-value STRING required"))
      addSection(tc, TextIndexSection.IndexType,
        TextIndexSection.build(vals, textAnalyzers.getOrElse(tc, textAnalyzer)))
      props ++= s"column.$tc.hasTextIndex=true\n"
    }

    // JSON indexes (the capability of Pinot's jsonIndexColumns):
    // flattened path=value postings over JSON/STRING documents — see
    // [[JsonIndexSection]]
    jsonIdxCols.foreach { jc =>
      val cd = columns.find(_.name == jc).getOrElse(
        throw new PinotFormatException(s"jsonIndexColumns: unknown column $jc"))
      val vals = textValues(cd).getOrElse(
        throw new PinotFormatException(
          s"jsonIndexColumns entry $jc: single-value JSON/STRING required"))
      addSection(jc, JsonIndexSection.IndexType, JsonIndexSection.build(vals))
      props ++= s"column.$jc.hasJsonIndex=true\n"
    }

    // Ingestion-time sketches (the capability of Pinot's pre-aggregated
    // THETA_SKETCH/BITMAP columns): per-column summaries merged at query
    // time WITHOUT re-reading the forward index — see [[SketchSection]];
    // what each kind stores of a value is graft.functions.Sketch.values
    sketchCols.foreach { case (sc, specStr) =>
      val spec = SketchSection.parseSpec(specStr)
      val cd = columns.find(_.name == sc).getOrElse(
        throw new PinotFormatException(s"sketchColumns: unknown column $sc"))
      addSection(sc, SketchSection.IndexType,
        graft.functions.Sketch.build(spec, cd, Iterator.range(0, totalDocs)))
      props ++= s"column.$sc.sketch=${spec.render}\n"
    }

    // Star-tree: recompute each dim's dict ids with the SAME deterministic
    // distinct+sort the column encoders above used, aggregate leaf records,
    // and write the section + declaration properties.
    starTree.map(_.withCount).foreach { spec =>
      val byName = columns.map(c => c.name -> c).toMap
      def col(role: String, n: String): ColumnData =
        byName.getOrElse(n,
          throw new PinotFormatException(s"starTree $role: unknown column $n"))
      (spec.dims ++ spec.metrics.collect { case m if m.column.nonEmpty => m.column })
        .foreach(c => if (nullVectors.contains(c))
          throw new PinotFormatException(s"starTree column $c cannot be nullable"))

      def idsOf(cd: ColumnData): Array[Int] = cd match {
        case IntCol(_, v) =>
          val p = v.distinct.sorted.zipWithIndex.toMap; v.map(p)
        case LongCol(_, v) =>
          val p = v.distinct.sorted.zipWithIndex.toMap; v.map(p)
        case StringDictCol(_, v, _) =>
          val p = v.distinct.sorted.zipWithIndex.toMap; v.map(p)
        case BoolCol(_, v) =>
          val ints = v.map(b => if (b) 1 else 0)
          val p = ints.distinct.sorted.zipWithIndex.toMap; ints.map(p)
        case TimestampCol(_, ms) =>
          val p = ms.distinct.sorted.zipWithIndex.toMap; ms.map(p)
        case other => throw new PinotFormatException(
          s"starTree dim ${other.name} must be a dictionary-encoded scalar column")
      }
      def longAcc(cd: ColumnData): Int => Long = cd match {
        case IntCol(_, v) => d => v(d).toLong
        case LongCol(_, v) => d => v(d)
        case IntRawCol(_, v, _, _) => d => v(d).toLong
        case LongRawCol(_, v, _, _) => d => v(d)
        case other => throw new PinotFormatException(
          s"starTree metric ${other.name} is not an INT/LONG column")
      }
      def dblAcc(cd: ColumnData): Int => Double = cd match {
        case FloatCol(_, v) => d => v(d).toDouble
        case DoubleCol(_, v) => d => v(d)
        case FloatRawCol(_, v, _, _) => d => v(d).toDouble
        case DoubleRawCol(_, v, _, _) => d => v(d)
        case other => throw new PinotFormatException(
          s"starTree metric ${other.name} is not a FLOAT/DOUBLE column")
      }
      def isDoubleCol(cd: ColumnData): Boolean = cd match {
        case _: FloatCol | _: DoubleCol | _: FloatRawCol | _: DoubleRawCol => true
        case _ => false
      }

      val dimIds = spec.dims.toArray.map(d => idsOf(col("dim", d)))
      val metrics = spec.metrics.toArray
      val metricIsDouble = metrics.map(m =>
        m.column.nonEmpty && isDoubleCol(col("metric", m.column)))
      val mLong = metrics.zip(metricIsDouble).map {
        case (m, _) if m.column.isEmpty => (_: Int) => 1L
        case (m, false) => longAcc(col("metric", m.column))
        case (_, true) => (_: Int) => 0L
      }
      val mDbl = metrics.zip(metricIsDouble).map {
        case (m, true) => dblAcc(col("metric", m.column))
        case _ => (_: Int) => 0d
      }
      val (rows, values) = StarTree.build(totalDocs, dimIds, metrics,
        metricIsDouble, mLong, mDbl)
      addSection(StarTree.SectionColumn, StarTree.SectionType,
        StarTree.serialize(spec.dims.length, metrics.length, rows, values))
      props ++= s"startree.dimensions=${spec.dims.mkString(",")}\n"
      props ++= s"startree.metrics=${metrics.map(_.key).mkString(",")}\n"
    }

    if (formatVersion == 3) {
      Files.write(v3.resolve("columns.psf"), psf.toByteArray)
      Files.write(v3.resolve("index_map"),
        indexMap.toString.getBytes(StandardCharsets.UTF_8))
      Files.write(v3.resolve("metadata.properties"),
        props.toString.getBytes(StandardCharsets.UTF_8))
      v3
    } else {
      // v1/v2 layout: every section in its own file at the segment root,
      // Pinot's V1Constants file naming; identical section bytes
      val all = psf.toByteArray
      sectionList.foreach { case (col, tpe, off, len) =>
        val fname = tpe match {
          case "dictionary" => s"$col.dict"
          case "forward_index" =>
            s"$col.${fwdFlavor.getOrElse(col, "sv.raw")}.fwd"
          case "inverted_index" => s"$col.bitmap.inv"
          case "nullvalue_vector" => s"$col.bitmap.nullvalue"
          case "bloom_filter" => s"$col.bloom.filter"
          case RangeSection.IndexType => s"$col.bitmap.range"
          case TextIndexSection.IndexType => s"$col.text.inv"
          case SketchSection.IndexType => s"$col.distinct.sketch"
          case JsonIndexSection.IndexType => s"$col.json.idx"
          case StarTree.SectionType => "star_tree_index"
          case other =>
            throw new PinotFormatException(s"no v1 file name for $other")
        }
        Files.write(segmentDir.resolve(fname),
          java.util.Arrays.copyOfRange(all, off, off + len))
      }
      Files.write(segmentDir.resolve("metadata.properties"),
        props.toString.getBytes(StandardCharsets.UTF_8))
      segmentDir
    }
  }

  private def beLong(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  private def dictHeader(payload: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + payload) // big-endian by default
    b.putLong(Magic)
    fill(b)
    b.array()
  }

  /** Assemble a VarByteChunk V4 section: values are grouped greedily into
    * chunks of at most `targetChunkSize` decompressed bytes; a value that
    * alone exceeds the target becomes a "huge" chunk (flag bit 31 of the
    * metadata docId word).
    */
  private[pinot] def writeVarByteV4(values: Array[Array[Byte]], compression: Int,
      targetChunkSize: Int, withMagic: Boolean): Array[Byte] = {
    // Group into chunks.
    final case class Chunk(docIdOffset: Int, huge: Boolean, payload: Array[Byte])
    val chunks = Vector.newBuilder[Chunk]
    var pending = Vector.empty[Array[Byte]]
    var pendingBytes = 0
    var docId = 0
    var chunkStartDoc = 0

    def flush(): Unit = if (pending.nonEmpty) {
      val n = pending.length
      val header = 4 + 4 * n
      val buf = ByteBuffer.allocate(header + pending.map(_.length).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(n)
      var off = header
      pending.foreach { v => buf.putInt(off); off += v.length }
      pending.foreach(buf.put)
      chunks += Chunk(chunkStartDoc, huge = false, buf.array())
      pending = Vector.empty
      pendingBytes = 0
    }

    values.foreach { v =>
      if (v.length >= targetChunkSize) {
        flush()
        chunks += Chunk(docId, huge = true, v)
        docId += 1
        chunkStartDoc = docId
      } else {
        if (pendingBytes + v.length + 4 * (pending.length + 2) > targetChunkSize) {
          flush()
          chunkStartDoc = docId
        }
        pending :+= v
        pendingBytes += v.length
        docId += 1
      }
    }
    flush()
    val all = chunks.result()

    val compressed = all.map { c =>
      (c, compressBytes(c.payload, compression))
    }

    val metaSize = all.length * VarByteChunkV4.MetadataEntrySize
    val chunksStartOffset = 16 + metaSize
    val out = ByteBuffer.allocate(
      (if (withMagic) 8 else 0) + chunksStartOffset + compressed.map(_._2.length).sum)
    if (withMagic) out.putLong(Magic) // starts 0xDEADBEEF — triggers magic detection
    // 16-byte BE header.
    out.putInt(4)
    out.putInt(targetChunkSize)
    out.putInt(compression)
    out.putInt(chunksStartOffset)
    // LE metadata entries.
    var chunkOff = 0
    compressed.foreach { case (c, payload) =>
      val docWord = c.docIdOffset | (if (c.huge) 0x80000000 else 0)
      out.order(ByteOrder.LITTLE_ENDIAN).putInt(docWord).putInt(chunkOff)
      out.order(ByteOrder.BIG_ENDIAN)
      chunkOff += payload.length
    }
    compressed.foreach { case (_, payload) => out.put(payload) }
    out.array()
  }

  private def compressBytes(payload: Array[Byte], compression: Int): Array[Byte] =
    VarByteChunkV4.compressChunk(payload, compression)
}

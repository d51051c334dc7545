package graft.sources.pinot

import graft.pinot.{PinotDictionary, PinotType, SegmentReader}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.unsafe.types.UTF8String

/** Pushed GROUP BY over a dictionary-encoded column, answered from
  * dictionary-id HISTOGRAMS (EXTENSION — the reference delegates all
  * aggregation to DataFusion, exec.rs:150-214; Pinot itself aggregates
  * over dict ids the same way in its v1 group-by executor).
  *
  * Per segment task: one pass over the group column's packed id stream
  * (and each metric's ids/raw values) in 8192-row windows, accumulating
  * `cardinality`-sized primitive arrays — `counts[gid]++`,
  * `sums[gid] += dictVal[mid]`. One (key, partials) row per OCCUPIED
  * dictionary entry comes back; Spark's final aggregate merges across
  * segments. The win over decoding into ColumnarBatches: group keys are
  * never materialized per row (no per-row UTF8String, no hash probe —
  * the dictionary id IS the hash table slot), and only the final
  * `cardinality` rows cross the scan boundary instead of `totalDocs`.
  *
  * At 100 TB: per-task memory is O(cardinality × aggregates), bounded by
  * the builder's cardinality cap, independent of segment row count.
  */
/** `groupCols` empty is the GLOBAL-aggregate case: one synthetic group
  * (card 1, all-zero ids), one partial row per segment — the path that
  * pushes global SUM/AVG, which metadata alone can never answer.
  * Multiple dict columns compose into one id by stride arithmetic.
  * COUNT of a (builder-validated non-nullable) column is the histogram
  * itself.
  */
class PinotHistAggReaderFactory(groupCols: Array[String],
    funcs: Array[PushedFunc],
    topN: Option[(Array[TopNKey], Int)] = None,
    ansi: Boolean = true)
    extends PartitionReaderFactory {

  import PushedFunc._

  private val Window = 8192

  /** Windowed numeric value source for a metric column: integral columns
    * surface as longs, fractional as doubles — matching Spark's SUM
    * buffer types, exact for MIN/MAX emission.
    */
  private sealed trait NumWindow
  private final class LongWindow(val read: (Int, Int) => Array[Long]) extends NumWindow
  private final class DoubleWindow(val read: (Int, Int) => Array[Double]) extends NumWindow

  private def numWindow(reader: SegmentReader, col: String): NumWindow = {
    val cm = reader.metadata.column(col)
    if (cm.hasDictionary) {
      lazy val fbr = reader.dictIdReader(col)
      (reader.dictionary(col), cm.dataType) match {
        case (PinotDictionary.Ints(v), _) => new LongWindow((p, n) => {
          val ids = fbr.readRange(p, n); val out = new Array[Long](n)
          var i = 0; while (i < n) { out(i) = v(ids(i)); i += 1 }; out
        })
        case (PinotDictionary.Longs(v), _) => new LongWindow((p, n) => {
          val ids = fbr.readRange(p, n); val out = new Array[Long](n)
          var i = 0; while (i < n) { out(i) = v(ids(i)); i += 1 }; out
        })
        case (PinotDictionary.Floats(v), _) => new DoubleWindow((p, n) => {
          val ids = fbr.readRange(p, n); val out = new Array[Double](n)
          var i = 0; while (i < n) { out(i) = v(ids(i)); i += 1 }; out
        })
        case (PinotDictionary.Doubles(v), _) => new DoubleWindow((p, n) => {
          val ids = fbr.readRange(p, n); val out = new Array[Double](n)
          var i = 0; while (i < n) { out(i) = v(ids(i)); i += 1 }; out
        })
        case (other, t) => throw new graft.pinot.PinotFormatException(
          s"histogram agg: unsupported metric dictionary $other for $col:${t.name}")
      }
    } else {
      lazy val fb = reader.fixedByteReader(col)
      cm.dataType match {
        case PinotType.PInt => new LongWindow((p, n) => {
          val v = fb.readRangeInts(p, n); val out = new Array[Long](n)
          var i = 0; while (i < n) { out(i) = v(i); i += 1 }; out
        })
        case PinotType.PLong => new LongWindow((p, n) => fb.readRangeLongs(p, n))
        case PinotType.PFloat => new DoubleWindow((p, n) => {
          val v = fb.readRangeFloats(p, n); val out = new Array[Double](n)
          var i = 0; while (i < n) { out(i) = v(i); i += 1 }; out
        })
        case PinotType.PDouble => new DoubleWindow((p, n) => fb.readRangeDoubles(p, n))
        case other => throw new graft.pinot.PinotFormatException(
          s"histogram agg: unsupported RAW metric type ${other.name} for $col")
      }
    }
  }

  /** Per-spec accumulator over group ids; `result` emits the Catalyst
    * value in the readSchema's field type.
    */
  private sealed trait Acc {
    def add(gIds: Array[Int], pos: Int, n: Int): Unit
    def result(g: Int): Any
    /** Primitive view for the top-N selector: 0 = long (resultLong),
      * 1 = double (resultDouble), -1 = boxed only. The primitive value
      * must order EXACTLY like `result(g)`'s Comparable (int/float
      * results widen monotonically; Double.compare == Double.compareTo
      * incl. NaN-largest), so selection over primitives keeps the same
      * group multiset the boxed comparator would.
      */
    def primKind: Int = -1
    def resultLong(g: Int): Long = 0L
    def resultDouble(g: Int): Double = 0.0
  }

  // hot loops extracted into SMALL methods: inline in the huge
  // createReader body the JVM refuses to JIT them
  // (DontCompileHugeMethods) and they run interpreted, ~40× slower

  private def countWindow(counts: Array[Long], gIds: Array[Int], n: Int): Unit = {
    var i = 0
    while (i < n) { counts(gIds(i)) += 1; i += 1 }
  }

  private def fillLongKeys(card: Int, counts: Array[Long],
      acc: Acc): Array[Long] = {
    val kv = new Array[Long](card)
    var g = 0
    while (g < card) { if (counts(g) > 0) kv(g) = acc.resultLong(g); g += 1 }
    kv
  }

  private def fillDoubleRanks(card: Int, counts: Array[Long],
      acc: Acc): Array[Long] = {
    val kv = new Array[Long](card)
    var g = 0
    while (g < card) {
      if (counts(g) > 0) kv(g) = PinotHistAgg.rankDouble(acc.resultDouble(g))
      g += 1
    }
    kv
  }

  /** Pushed top-N group selection: bounded max-heap of the k best
    * occupied group ids under `cmp` ("a orders before b"), emitted in
    * order — root = worst kept, evicted when a better group arrives,
    * O(|groups| log k).
    */
  private def selectTopGroups(card: Int, counts: Array[Long],
      cmp: java.util.Comparator[Integer], limit: Int): Iterator[Int] = {
    val heap = new java.util.PriorityQueue[Integer](
      math.max(1, limit), cmp.reversed())
    var g = 0
    while (g < card) {
      if (counts(g) > 0) {
        if (heap.size < limit) heap.add(g)
        else if (cmp.compare(g, heap.peek) < 0) {
          heap.poll(); heap.add(g)
        }
      }
      g += 1
    }
    val kept = new Array[Integer](heap.size)
    var i = kept.length - 1
    while (i >= 0) { kept(i) = heap.poll(); i -= 1 }
    kept.iterator.map(_.intValue)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // A slice range aggregates docs [lo, hi) only — its partials
    // merge with sibling slices' in Spark's final aggregate. Decoders
    // are slice-addressable (absolute doc positions), and concurrent
    // slices of one segment share sections through the JVM-wide cache.
    // A split of several ranges emits each range's partials in turn.
    PinotScan.rowReader(partition.asInstanceOf[PinotSplit].ranges.iterator
      .flatMap(r => segmentRows(r.path, r.start, r.end)))
  }

  /** One segment's partial (or, when complete, final) rows over docs
    * `[lo, hiReq)`, fully materialized before the reader closes.
    */
  private def segmentRows(path: String, lo: Int, hiReq: Int)
      : Iterator[InternalRow] = {
    val reader = SegmentReader.open(path)
    try {
      val docs = math.min(reader.metadata.totalDocs, hiReq)
      if (docs <= lo) Iterator.empty
      else {
        // Group-id window source. One composite id per row:
        // - no group column = the global aggregate (one synthetic group,
        //   all ids zero);
        // - any MIX of dict and RAW-string columns: dict ids come off
        //   the packed stream; RAW strings get per-SEGMENT slots
        //   assigned on first sight (pre-sized by the writer-recorded
        //   exact cardinality). Partial rows carry the decoded VALUES,
        //   so per-segment slot numbering merges correctly in Spark's
        //   final aggregate across any number of segments.
        // - N columns compose by stride arithmetic
        //   (id = ((id_0 · card_1) + id_1) · card_2 + …), product capped
        //   by the builder.
        // per group column: cardinality, id window source, id → key
        final case class GroupPart(card: Int,
            idWindow: (Int, Int) => Array[Int], keyOf: Int => Any)

        def groupPart(c: String): GroupPart = {
          val cm = reader.metadata.column(c)
          if (cm.hasDictionary) {
            val fbr = reader.dictIdReader(c)
            val dict = reader.dictionary(c)
            GroupPart(dict.size, (p, n) => fbr.readRange(p, n),
              PinotScan.dictValueAt(dict, cm.dataType, c))
          } else {
            val chunk = reader.rawChunkReader(c)
            val ccGlobal = cm.cardinality
            if (ccGlobal <= 0) throw new graft.pinot.PinotFormatException(
              s"histogram agg: no recorded cardinality for RAW $c")
            if (ccGlobal >= cm.totalDocs) {
              // PAIRWISE-DISTINCT column (writer-recorded cardinality ==
              // totalDocs — the GROUP BY doc-id / dedup-key shape): every
              // value is its own group, so the slot IS the doc position
              // and the hash table below is pure overhead. Value bytes
              // land in ONE contiguous blob (chunk decode buffers are
              // reused, so they must be copied out — but bulk into the
              // blob, not 97 k individual arrays) and emission wraps
              // ZERO-COPY UTF8String slices over it. Profiled at 97 k
              // rows: 4.3 ms vs 15.3 ms for the interned path — the
              // difference is hashing + probing + per-value allocation
              // for a map that never sees a repeat. Slots stay
              // slice-local and carry decoded VALUES, exactly like the
              // interned path, so cross-segment merges are unaffected.
              val sliceRows = docs - lo
              var blob = new Array[Byte](math.max(64, sliceRows * 16))
              val offs = new Array[Int](sliceRows + 1)
              var filled = 0 // windows arrive in ascending doc order
              return GroupPart(sliceRows, (p, n) => {
                val ids = new Array[Int](n)
                var i = 0
                chunk.foreachRange(p, n) { (buf, off, len) =>
                  val slot = p - lo + i
                  ids(i) = slot
                  if (slot >= filled) { // idempotent on window re-read
                    val end = offs(slot) + len
                    if (end > blob.length)
                      blob = java.util.Arrays.copyOf(blob,
                        math.max(end, blob.length * 2))
                    System.arraycopy(buf, off, blob, offs(slot), len)
                    offs(slot + 1) = end
                    filled = slot + 1
                  }
                  i += 1
                }
                ids
              }, id => UTF8String.fromBytes(blob, offs(id),
                offs(id + 1) - offs(id)))
            }
            // Slot numbering is SLICE-LOCAL (partial rows carry decoded
            // VALUES, so slots never cross tasks): a doc-range slice of
            // n rows can intern at most n distinct values, so size the
            // table by min(global cardinality, slice rows) — a sliced
            // high-cardinality segment otherwise zeroes the full-
            // cardinality arrays once PER SLICE.
            val cc = math.min(ccGlobal.toLong, (docs - lo).toLong).toInt
            // Byte-slice interning over the decompressed chunks: group
            // ids come straight off (buffer, offset, length) slices —
            // no per-row byte[] copy, no String allocation, no boxed
            // HashMap probe. An open-addressed table (2× cardinality,
            // power of two) holds FNV-1a hash + one interned copy per
            // DISTINCT value; per-row cost is a hash over the value
            // bytes and usually one probe.
            val tcap = Integer.highestOneBit(math.max(4, cc * 2 - 1)) << 1
            val mask = tcap - 1
            val slotAt = new Array[Int](tcap) // slot + 1; 0 = empty
            val hashAt = new Array[Int](tcap)
            val keyAt = new Array[Array[Byte]](tcap)
            val keys = new Array[UTF8String](cc)
            var next = 0
            def slotOf(buf: Array[Byte], off: Int, len: Int): Int = {
              var h = -2128831035 // FNV-1a
              var i = off
              val end = off + len
              while (i < end) { h = (h ^ buf(i)) * 16777619; i += 1 }
              var pos = h & mask
              while (true) {
                val s = slotAt(pos)
                if (s == 0) {
                  if (next >= cc) throw new graft.pinot.PinotFormatException(
                    s"histogram agg: $c exceeds recorded cardinality $cc")
                  val copy = java.util.Arrays.copyOfRange(buf, off, end)
                  slotAt(pos) = next + 1
                  hashAt(pos) = h
                  keyAt(pos) = copy
                  keys(next) = UTF8String.fromBytes(copy)
                  next += 1
                  return next - 1
                }
                if (hashAt(pos) == h) {
                  val k = keyAt(pos)
                  if (k.length == len &&
                      java.util.Arrays.equals(k, 0, len, buf, off, end))
                    return s - 1
                }
                pos = (pos + 1) & mask
              }
              -1 // unreachable
            }
            GroupPart(cc, (p, n) => {
              val ids = new Array[Int](n)
              var i = 0
              chunk.foreachRange(p, n) { (buf, off, len) =>
                ids(i) = slotOf(buf, off, len)
                i += 1
              }
              ids
            }, id => keys(id))
          }
        }

        lazy val zeroWindow = new Array[Int](Window)
        val parts: Array[GroupPart] = groupCols.map(groupPart)
        val (card, gWindow): (Int, (Int, Int) => Array[Int]) =
          if (parts.isEmpty) {
            (1, (_: Int, n: Int) =>
              if (n == Window) zeroWindow else new Array[Int](n))
          } else {
            val cards = parts.map(_.card)
            val prod = PinotHistAgg.groupSlots(cards.map(_.toLong))
            if (prod > PinotHistAgg.GroupCap) throw new graft.pinot.PinotFormatException(
              s"histogram agg: group cardinality product over cap")
            if (parts.length == 1) {
              (cards(0), parts(0).idWindow)
            } else {
              (prod.toInt, (p: Int, n: Int) => {
                val ids = parts(0).idWindow(p, n)
                var j = 1
                while (j < parts.length) {
                  val next = parts(j).idWindow(p, n)
                  val cj = cards(j)
                  var i = 0
                  while (i < n) { ids(i) = ids(i) * cj + next(i); i += 1 }
                  j += 1
                }
                ids
              })
            }
          }
        val counts = new Array[Long](card)

        val metricType: Map[String, org.apache.spark.sql.types.DataType] =
          funcs.collect {
            case Min(c) => c -> reader.metadata.column(c).dataType.sparkType
            case Max(c) => c -> reader.metadata.column(c).dataType.sparkType
          }.toMap

        val accs: Array[Acc] = funcs.map {
          case Count(_) => new Acc {
            def add(g: Array[Int], p: Int, n: Int): Unit = ()
            def result(g: Int): Any = counts(g) // filled by the shared loop
            override def primKind: Int = 0
            override def resultLong(g: Int): Long = counts(g)
          }
          case Avg(c) => numWindow(reader, c) match {
            case lw: LongWindow => new Acc {
              private val s = new Array[Long](card)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = lw.read(p, n)
                var i = 0; while (i < n) { s(g(i)) += v(i); i += 1 }
              }
              def result(g: Int): Any = s(g).toDouble / counts(g)
              override def primKind: Int = 1
              override def resultDouble(g: Int): Double =
                s(g).toDouble / counts(g)
            }
            case dw: DoubleWindow => new Acc {
              private val s = new Array[Double](card)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = dw.read(p, n)
                var i = 0; while (i < n) { s(g(i)) += v(i); i += 1 }
              }
              def result(g: Int): Any = s(g) / counts(g)
              override def primKind: Int = 1
              override def resultDouble(g: Int): Double = s(g) / counts(g)
            }
          }
          case Sum(c) => numWindow(reader, c) match {
            case lw: LongWindow => new Acc {
              private val s = new Array[Long](card)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = lw.read(p, n)
                var i = 0
                // ANSI sessions throw on long-sum overflow exactly like
                // Spark's own Sum; legacy sessions wrap like Java adds
                if (ansi) while (i < n) {
                  s(g(i)) = PinotHistAgg.addAnsi(s(g(i)), v(i)); i += 1
                } else while (i < n) { s(g(i)) += v(i); i += 1 }
              }
              def result(g: Int): Any = s(g)
              override def primKind: Int = 0
              override def resultLong(g: Int): Long = s(g)
            }
            case dw: DoubleWindow => new Acc {
              private val s = new Array[Double](card)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = dw.read(p, n)
                var i = 0; while (i < n) { s(g(i)) += v(i); i += 1 }
              }
              def result(g: Int): Any = s(g)
              override def primKind: Int = 1
              override def resultDouble(g: Int): Double = s(g)
            }
          }
          case Min(c) => numWindow(reader, c) match {
            case lw: LongWindow => new Acc {
              private val s = Array.fill(card)(Long.MaxValue)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = lw.read(p, n)
                var i = 0; while (i < n) {
                  if (v(i) < s(g(i))) s(g(i)) = v(i); i += 1 }
              }
              def result(g: Int): Any = emitLong(metricType(c), s(g))
              override def primKind: Int = 0
              override def resultLong(g: Int): Long = s(g)
            }
            case dw: DoubleWindow => new Acc {
              private val s = Array.fill(card)(Double.PositiveInfinity)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = dw.read(p, n)
                var i = 0; while (i < n) {
                  if (v(i) < s(g(i))) s(g(i)) = v(i); i += 1 }
              }
              def result(g: Int): Any = emitDouble(metricType(c), s(g))
              override def primKind: Int = 1
              override def resultDouble(g: Int): Double = s(g)
            }
          }
          case Max(c) => numWindow(reader, c) match {
            case lw: LongWindow => new Acc {
              private val s = Array.fill(card)(Long.MinValue)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = lw.read(p, n)
                var i = 0; while (i < n) {
                  if (v(i) > s(g(i))) s(g(i)) = v(i); i += 1 }
              }
              def result(g: Int): Any = emitLong(metricType(c), s(g))
              override def primKind: Int = 0
              override def resultLong(g: Int): Long = s(g)
            }
            case dw: DoubleWindow => new Acc {
              private val s = Array.fill(card)(Double.NegativeInfinity)
              def add(g: Array[Int], p: Int, n: Int): Unit = {
                val v = dw.read(p, n)
                var i = 0; while (i < n) {
                  if (v(i) > s(g(i))) s(g(i)) = v(i); i += 1 }
              }
              def result(g: Int): Any = emitDouble(metricType(c), s(g))
              override def primKind: Int = 1
              override def resultDouble(g: Int): Double = s(g)
            }
          }
        }

        var pos = lo
        while (pos < docs) {
          val n = math.min(Window, docs - pos)
          val gIds = gWindow(pos, n)
          countWindow(counts, gIds, n)
          var a = 0
          while (a < accs.length) { accs(a).add(gIds, pos, n); a += 1 }
          pos += n
        }

        val keyArity = groupCols.length
        // per-column (divisor, modulus, translate): column j's id =
        // (g / Π cards(j+1..)) % cards(j) — composite ids decompose back
        // through the same strides, dict and RAW slots alike
        val keyParts: Array[(Int, Int, Int => Any)] =
          parts.zipWithIndex.map { case (gp, j) =>
            val divisor = parts.drop(j + 1).map(_.card).foldLeft(1)(_ * _)
            (divisor, gp.card, gp.keyOf)
          }
        // pushed top-N: bounded-heap-select the best `limit` groups by
        // the pushed sort keys instead of emitting the whole histogram —
        // the partition then hands Spark k rows, not |groups| rows.
        // (Partial-push contract: Spark's TakeOrderedAndProject above
        // re-sorts the ≤ k×partitions survivors, so ties and slice
        // boundaries stay exact.) Sort values come from the same
        // key-part decomposition / accumulator results the emit uses,
        // so a kept group's row is bit-identical to the unpushed plan's.
        val groupIds: Iterator[Int] = topN match {
          // single AGGREGATE sort key with a primitive view (both
          // reference group-topk shapes): materialize the key per
          // occupied group into a primitive array and run the unboxed
          // bounded-heap selection — the boxed comparator's two boxed
          // values + virtual compareTo + Integer.valueOf per candidate
          // dominate the task at ~100k groups.
          // -Dgraft.pinot.disablePrimTopNSelect=true = A/B + escape hatch.
          case Some((keys, limit)) if keys.length == 1 &&
              keys(0).outIdx >= keyArity &&
              accs(keys(0).outIdx - keyArity).primKind >= 0 &&
              !java.lang.Boolean.getBoolean(
                "graft.pinot.disablePrimTopNSelect") =>
            val acc = accs(keys(0).outIdx - keyArity)
            val desc = keys(0).descending
            // key fill extracted into small methods: inline here (the
            // huge createReader body) it would run interpreted
            PinotHistAgg.selectTopLong(card, counts,
              if (acc.primKind == 0) fillLongKeys(card, counts, acc)
              else fillDoubleRanks(card, counts, acc), desc, limit)
          case Some((keys, limit)) =>
            def sortVal(idx: Int, g: Int): Any =
              if (idx < keyArity) {
                val (div, mod, fn) = keyParts(idx)
                fn((g / div) % mod)
              } else accs(idx - keyArity).result(g)
            // "a orders before b" under the pushed keys (ascending =
            // natural order of the boxed Catalyst value; every type on
            // this path — boxed primitives, UTF8String — is Comparable
            // with Spark-matching semantics)
            val cmp = new java.util.Comparator[Integer] {
              override def compare(a: Integer, b: Integer): Int = {
                var i = 0
                while (i < keys.length) {
                  val k = keys(i)
                  val c = sortVal(k.outIdx, a.intValue)
                    .asInstanceOf[Comparable[Any]]
                    .compareTo(sortVal(k.outIdx, b.intValue))
                  if (c != 0) return if (k.descending) -c else c
                  i += 1
                }
                0
              }
            }
            selectTopGroups(card, counts, cmp, limit)
          case None => Iterator.range(0, card).filter(counts(_) > 0)
        }
        groupIds.map { g =>
          val out = new Array[Any](keyArity + accs.length)
          var k = 0
          while (k < keyArity) {
            val (div, mod, fn) = keyParts(k)
            out(k) = fn((g / div) % mod)
            k += 1
          }
          var a = 0
          while (a < accs.length) { out(keyArity + a) = accs(a).result(g); a += 1 }
          new GenericInternalRow(out): InternalRow
        }
      }
    } finally reader.close() // all sections are materialized above
  }

  /** MIN/MAX surface in the metric column's own Spark type. */
  private def emitLong(t: org.apache.spark.sql.types.DataType, v: Long): Any =
    t match {
      case org.apache.spark.sql.types.IntegerType => v.toInt
      case _ => v
    }
  private def emitDouble(t: org.apache.spark.sql.types.DataType, v: Double): Any =
    t match {
      case org.apache.spark.sql.types.FloatType => v.toFloat
      case _ => v
    }
}

object PinotHistAgg {

  /** Most group slots one histogram task allocates per accumulator:
    * 1M entries ≈ 8 MB. The builder refuses group columns whose
    * cardinality product exceeds it in any segment.
    */
  val GroupCap: Long = 1L << 20

  /** Π `cards` (each at least 1), saturating once past [[GroupCap]] — a
    * corrupt cardinality must not wrap Long into accidental acceptance
    * (2^20 × a card < 2^31 cannot overflow before saturating).
    */
  def groupSlots(cards: Iterable[Long]): Long =
    cards.foldLeft(1L)((acc, c) => if (acc > GroupCap) acc else acc * math.max(1L, c))

  /** Top-`limit` occupied groups by a PRIMITIVE long key array — the
    * boxed-comparator selection costs two boxed values + a virtual
    * compareTo + an Integer.valueOf per candidate, which at ~100k
    * occupied groups dominates the whole aggregate task.
    */
  private[pinot] def selectTopLong(card: Int, counts: Array[Long],
      keys: Array[Long], desc: Boolean, limit: Int): Iterator[Int] = {
    val top = new LongTopK(limit, desc)
    var g = 0
    while (g < card) { if (counts(g) > 0) top.offer(keys(g), g); g += 1 }
    top.ids.iterator
  }

  /** The IEEE order embedding: a long ordering exactly like
    * `java.lang.Double.compare`, which is Spark's order (-Inf < -0.0 <
    * +0.0 < +Inf < NaN, every NaN equal) — so double and float keys
    * select through [[LongTopK]].
    */
  private[pinot] def rankDouble(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
  }

  /** Bounded top-`k` selection over primitive long keys, shared by the
    * pushed group top-N and the value top-N of a plain scan
    * ([[PinotValueTopN]]). A size-k binary heap with root = WORST KEPT
    * under the pushed order; a candidate replaces the root only when
    * STRICTLY better (equal keys keep the incumbent — the boxed path's
    * exact tie behavior, and ties are free under the partial-push
    * contract anyway). `ids` come back in arbitrary order: Spark's
    * TakeOrderedAndProject above re-sorts the ≤ k×partitions survivors.
    */
  private[pinot] final class LongTopK(k: Int, desc: Boolean) {
    private val keys = new Array[Long](k)
    private val kept = new Array[Int](k)
    private var size = 0
    // "worse(a, b)": a should be evicted before b under the pushed order
    private def worse(a: Long, b: Long): Boolean = if (desc) a < b else a > b
    private def swap(i: Int, j: Int): Unit = {
      val tk = keys(i); keys(i) = keys(j); keys(j) = tk
      val ti = kept(i); kept(i) = kept(j); kept(j) = ti
    }
    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(keys(i), keys((i - 1) >> 1))) {
        swap(i, (i - 1) >> 1)
        i = (i - 1) >> 1
      }
    }
    private def siftDown(): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < size && worse(keys(l), keys(w))) w = l
        if (r < size && worse(keys(r), keys(w))) w = r
        if (w == i) return
        swap(i, w)
        i = w
      }
    }
    def offer(key: Long, id: Int): Unit =
      if (size < k) {
        keys(size) = key; kept(size) = id; size += 1; siftUp(size - 1)
      } else if (worse(keys(0), key)) {
        keys(0) = key; kept(0) = id; siftDown()
      }
    def ids: Array[Int] = java.util.Arrays.copyOf(kept, size)
  }

  /** ANSI long add with Spark's own error surface: the unpushed plan's
    * Sum raises `SparkArithmeticException` with the ARITHMETIC_OVERFLOW
    * error class (and the try_add / ansi-config hints), so code matching
    * on `getErrorClass` sees the same failure whether the aggregate was
    * pushed or not. The throw path is cold — JIT keeps the hot add
    * branch-free.
    */
  def addAnsi(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch {
      case _: ArithmeticException =>
        // delegate the (cold) failure to Spark's own ANSI Add so the
        // exception carries the ARITHMETIC_OVERFLOW error class and the
        // try_add/ansi-config hints — identical surface to the unpushed
        // plan's Sum (SparkArithmeticException's constructor is
        // private[spark], so raise it through the expression itself)
        import org.apache.spark.sql.catalyst.expressions.{Add, EvalMode, Literal}
        Add(Literal(a), Literal(b), EvalMode.ANSI).eval(null)
          .asInstanceOf[Long] // unreachable: eval throws
    }
}

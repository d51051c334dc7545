package graft.sources


import graft.SparkTestBase
import graft.pinot.{SegmentWriter, VarByteChunkV4}
import graft.sources.pinot.{PinotAggReaderFactory, PinotReaderFactory, PinotScan, PinotSplit, PinotStarTreeReaderFactory, PushedFunc, RowCap, ScanTopN, SegmentRange}
import org.apache.spark.sql.functions._

/** Sub-segment task planning: large segments split into window-aligned
  * doc-range slices; tiny segments group into shared tasks (SURVEY §4's
  * 100 TB mapping — "per-segment splits grouped into tasks"). Exercises
  * every decode family across slice boundaries: dict ids, RAW numerics,
  * RAW strings (chunked), MV arrays (absolute offset indexing), null
  * vectors, and sorted-range + slice intersection.
  */
class SubSegmentSplitSpec extends SparkTestBase {

  private val n = 200000
  private val rnd = new scala.util.Random(11)
  private val k = Array.tabulate(n)(i => i.toLong) // sorted
  private val v = Array.fill(n)(rnd.nextInt(1000))
  private val name = Array.tabulate(n)(i => f"user$i%06d")
  private val bal = Array.fill(n)(rnd.nextLong() % 1000000)
  private val tagVals = Array.tabulate(n)(i => Array.tabulate(1 + i % 3)(j => i % 50 + j))

  /** One ~2.8 MB segment (big enough to split under the 1 MB floor). */
  private lazy val bigDir: String = {
    val root = graft.TestDirs.create("pinot_split_big")
    val t = root.resolve("big_OFFLINE")
    SegmentWriter.write(t.resolve("seg0"), "big", "seg0", Seq(
      SegmentWriter.LongCol("k", k),
      SegmentWriter.IntCol("v", v),
      SegmentWriter.StringRawCol("name", name,
        VarByteChunkV4.Lz4LengthPrefixed, 4096),
      SegmentWriter.LongRawCol("bal", bal),
      SegmentWriter.IntMVCol("tags", tagVals)))
    t.toString
  }

  /** Six KB-sized segments → grouped tasks. */
  private lazy val tinyDir: String = {
    val root = graft.TestDirs.create("pinot_split_tiny")
    val t = root.resolve("tiny_OFFLINE")
    (0 until 6).foreach { s =>
      SegmentWriter.write(t.resolve(s"seg$s"), "tiny", s"seg$s", Seq(
        SegmentWriter.IntCol("x", Array.tabulate(500)(i => s * 1000 + i))))
    }
    t.toString
  }

  test("planSplits slices large segments on window boundaries") {
    val parts = PinotScan.planSplits(Seq(s"$bigDir/seg0"), 1L << 20)
    assert(parts.length > 1, s"expected slices, got ${parts.toSeq}")
    val slices = parts.collect { case PinotSplit(Seq(r)) if !r.isWhole => r }
    assert(slices.length === parts.length, "all partitions should be slices")
    assert(slices.forall(_.path == s"$bigDir/seg0"))
    // contiguous cover of [0, n) with window-aligned starts
    assert(slices.head.start === 0)
    assert(slices.last.end === n)
    slices.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.end === b.start, "slices must tile contiguously")
        assert(a.start % 8192 === 0, "window-aligned")
      case _ => ()
    }
  }

  test("planSplits groups tiny segments and honors the 0 escape hatch") {
    val segs = (0 until 6).map(s => s"$tinyDir/seg$s")
    val parts = PinotScan.planSplits(segs, PinotScan.DefaultSplitTargetBytes)
    assert(parts.length < 6, s"tiny segments should group: ${parts.length}")
    val covered = parts.flatMap {
      case PinotSplit(rs) if rs.forall(_.isWhole) => rs.map(_.path)
      case other => fail(s"unexpected $other")
    }
    assert(covered.toSet === segs.toSet, "grouping must cover every segment")
    val strict = PinotScan.planSplits(segs, 0)
    assert(strict.length === 6)
    assert(strict.toSeq === segs.map(p => PinotSplit(Seq(SegmentRange.whole(p)))))
  }

  test("sliced scan preserves full fidelity across every decode family") {
    val df = spark.read.format("pinot").load(bigDir)
    assert(df.rdd.getNumPartitions > 1, "the 2.8 MB segment should split")
    assert(df.count() === n)
    // every decode family, hashed over all rows: dict long, dict int,
    // RAW string, RAW long, MV int array
    val got = df.select("k", "v", "name", "bal", "tags").collect()
    assert(got.length === n)
    val byK = got.map(r => r.getLong(0) -> r).toMap
    assert(byK.size === n, "no row lost or duplicated across slices")
    for (i <- Seq(0, 8191, 8192, n / 2, n - 1)) {
      val r = byK(k(i))
      assert(r.getInt(1) === v(i), s"v at $i")
      assert(r.getString(2) === name(i), s"name at $i")
      assert(r.getLong(3) === bal(i), s"bal at $i")
      assert(r.getSeq[Int](4).toArray === tagVals(i), s"tags at $i")
    }
    // aggregates agree with direct computation through the split scan
    val s = df.agg(sum("bal"), count(lit(1))).head
    assert(s.getLong(0) === bal.sum)
    assert(s.getLong(1) === n.toLong)
  }

  test("sorted-range filters intersect with slices (no phantom or lost rows)") {
    val df = spark.read.format("pinot").load(bigDir)
    // range lands inside ONE slice's doc window for most slices — the
    // others must produce nothing, not garbage
    val hit = df.filter(col("k") >= 100000L && col("k") < 108192L)
    assert(hit.count() === 8192)
    assert(hit.agg(sum("v")).head.getLong(0) ===
      (100000 until 108192).map(v(_).toLong).sum)
    // equality probe
    assert(df.filter(col("k") === 54321L).select("name").head.getString(0)
      === name(54321))
  }

  /** The query's Pinot scan node (its input partitions are the splits). */
  private def scanOf(q: org.apache.spark.sql.DataFrame) =
    q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head

  /** Expected rows `(k, v, name, bal)` for fixture doc ids. */
  private def rowsAt(ids: Seq[Int]): Seq[(Long, Int, String, Long)] =
    ids.map(i => (k(i), v(i), name(i), bal(i)))

  private def rowsOf(q: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Int, String, Long)] =
    q.collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))

  test("pushed top-N over slices of one large segment equals the fixture") {
    val df = spark.read.format("pinot").load(bigDir)
      .select("k", "v", "name", "bal")
    val docs = 0 until n
    // (query, leaf tag, expected doc ids in output order); k and name are
    // unique, so those orders are total — bal repeats, so its case
    // compares the bal sequence and checks every row is a fixture row
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, String, Seq[Int])] =
      Seq(
        ("asc k", df.orderBy("k").limit(9), "pushedTopN=[sorted k ASC limit=9]",
          docs.take(9)),
        ("desc k", df.orderBy(desc("k")).limit(9),
          "pushedTopN=[sorted k DESC limit=9]", docs.reverse.take(9)),
        ("asc bal", df.orderBy("bal").limit(9),
          "pushedTopN=[value bal ASC limit=9]", docs.sortBy(bal(_)).take(9)),
        ("desc name", df.orderBy(desc("name")).limit(9),
          "pushedTopN=[value name DESC limit=9]",
          docs.sortBy(name(_)).reverse.take(9)))
    for ((label, q, tag, want) <- cases) {
      val scan = scanOf(q)
      assert(scan.inputRDD.getNumPartitions > 1,
        s"$label: the 200k-row segment should slice")
      assert(scan.toString.contains(tag), s"$label: ${scan.toString}")
      val got = rowsOf(q)
      if (label == "asc bal") {
        assert(got.map(_._4) === rowsAt(want).map(_._4), label)
        assert(got === rowsAt(got.map(_._1.toInt)), s"$label: fixture rows")
      } else assert(got === rowsAt(want), label)
    }
  }

  test("a filtered limit over slices returns matching fixture rows") {
    val q = spark.read.format("pinot").load(bigDir)
      .select("k", "v", "name", "bal").filter(col("v") < 3).limit(40)
    assert(scanOf(q).inputRDD.getNumPartitions > 1,
      "the 200k-row segment should slice")
    // the residual filter stays above the scan, so Spark pushes no limit
    assert(scanOf(q).toString.contains("limit=-1"), scanOf(q).toString)
    val got = rowsOf(q)
    assert(got.length === 40)
    assert(got.map(_._1).distinct.length === 40, "no row repeated")
    assert(got === rowsAt(got.map(_._1.toInt)), "rows must be fixture rows")
    assert(got.forall(_._2 < 3), "every row must pass the filter")
  }

  /** Every `k` value a reader emits, in order. */
  private def drainK(f: PinotReaderFactory, split: PinotSplit): Seq[Long] = {
    val r = f.createColumnarReader(split)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (r.next()) {
      val b = r.get()
      (0 until b.numRows()).foreach(i => out += b.column(0).getLong(i))
    } finally r.close()
    out.toSeq
  }

  test("the chain reader caps each range, or the whole split under a pushed limit") {
    val seg = s"$bigDir/seg0"
    val split = PinotSplit(Seq(SegmentRange(seg, 0, 8192),
      SegmentRange(seg, 16384, 24576), SegmentRange(seg, 196608, Int.MaxValue)))
    // fully pushed: rows [8190, 8196) of the split, the offset skip
    // crossing from the first range into the second
    val pushed = new PinotReaderFactory(Array("k"), Array.empty,
      RowCap.Budget(8190, Some(8196)))
    assert(drainK(pushed, split) === Seq(8190L, 8191L, 16384L, 16385L, 16386L, 16387L))
    // an offset that skips two whole ranges lands in the open-ended one
    val tail = new PinotReaderFactory(Array("k"), Array.empty,
      RowCap.Budget(16384, Some(16387)))
    assert(drainK(tail, split) === Seq(196608L, 196609L, 196610L))
    // a pushed top-N reads each range's own top-k
    val top = new PinotReaderFactory(Array("k"), Array.empty,
      ScanTopN("k", descending = true, 2, sorted = true))
    assert(drainK(top, split) === Seq(8190L, 8191L, 24574L, 24575L, 199998L, 199999L))
  }

  test("aggregate readers refuse a partial range") {
    val seg = s"$bigDir/seg0"
    val partial = PinotSplit(Seq(SegmentRange(seg, 0, 8192)))
    val count = new PinotAggReaderFactory(Array(PushedFunc.Count("")))
    assert(count.createReader(PinotSplit.wholeSegments(Seq(seg))).next())
    intercept[IllegalStateException](count.createReader(partial).next())
    val star = new PinotStarTreeReaderFactory(Array.empty,
      Array(PushedFunc.Count("")))
    intercept[IllegalStateException](star.createReader(partial).next())
  }

  test("grouped tiny segments keep per-segment pruning and full results") {
    val df = spark.read.format("pinot").load(tinyDir)
    assert(df.rdd.getNumPartitions < 6, "tiny segments should share tasks")
    assert(df.count() === 3000)
    assert(df.agg(sum("x")).head.getLong(0) ===
      (0 until 6).flatMap(s => (0 until 500).map(i => (s * 1000 + i).toLong)).sum)
    // a filter matching one segment's range still answers correctly
    // through the grouped reader (per-sub-reader pruning applies)
    assert(df.filter(col("x") >= 3000 && col("x") < 3500).count() === 500)
  }
}

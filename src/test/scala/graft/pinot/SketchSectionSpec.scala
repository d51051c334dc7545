package graft.pinot

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Segment-stored distinct sketches ([[SketchSection]]): build/round-trip
  * exactness, xxhash64 parity with Spark, the stored↔query-time sketch
  * composition, v1-conversion survival, and — the point of the feature —
  * a counted-IO proof that the scan-side merge answers DISTINCT without
  * touching any forward-index or dictionary byte.
  */
class SketchSectionSpec extends SparkTestBase {

  /** RangeReader recorder: every pread lands in `reads(file) += (pos, len)`,
    * every whole-file read in `fullReads(file)` — the latter counts
    * metadata fetches (the classify-path budget).
    */
  private final class RecordingSegmentIO(inner: SegmentIO) extends SegmentIO {
    val reads = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
    val fullReads = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    def fullReadCount(p: String): Int =
      Option(fullReads.get(p)).map(_.get()).getOrElse(0)
    def resetFullReads(): Unit = fullReads.clear()
    override def exists(p: String) = inner.exists(p)
    override def isDirectory(p: String) = inner.isDirectory(p)
    override def size(p: String) = inner.size(p)
    override def mtimeMillis(p: String) = inner.mtimeMillis(p)
    override def readFully(p: String) = {
      fullReads.computeIfAbsent(p,
        _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()
      inner.readFully(p)
    }
    override def listFiles(dir: String) = inner.listFiles(dir)
    override def listAll(dir: String) = inner.listAll(dir)
    override def resolve(dir: String, child: String) = inner.resolve(dir, child)
    override def fileName(p: String) = inner.fileName(p)
    override def parent(p: String) = inner.parent(p)
    override def listTree(dir: String) = inner.listTree(dir)
    override def openRange(p: String): SegmentIO.RangeReader = {
      val q = reads.computeIfAbsent(p,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]())
      val r = inner.openRange(p)
      new SegmentIO.RangeReader {
        override def pread(pos: Long, len: Int): Array[Byte] = {
          q.add((pos, len.toLong)); r.pread(pos, len)
        }
        override def close(): Unit = r.close()
      }
    }
  }

  private def freqPayload(vals: Iterator[String], capacity: Int) = {
    val sk = new graft.functions.FreqSketch(capacity)
    vals.foreach(sk.add)
    sk.payload
  }

  private def writeFixture(): (String, Long, Long) = {
    val dir = graft.TestDirs.create("sketch_tbl").resolve("ev_OFFLINE").toString
    import spark.implicits._
    val df = (0 until 5000).map { i =>
      (i.toLong, (i % 137).toLong, s"tag_${i % 41}")
    }.toDF("event_id", "uid", "tag")
    df.repartition(3).write.format("pinot").mode("append")
      .option("sketchColumns", "uid:bitmap,tag:kmv64")
      .save(dir)
    (dir, 137L, 41L)
  }

  test("kmv hashes match Spark's xxhash64 (stored sketches compose with query-time ones)") {
    import spark.implicits._
    val (dir, _, nTags) = writeFixture()
    // stored hash set (union across segments, unsaturated => complete)
    val stored = graft.sources.pinot.PinotSegments.discoverDirs(
        dir, SegmentIO.forPath(dir))
      .flatMap { d =>
        val r = SegmentReader.open(d, SegmentIO.forPath(d))
        try SketchSection.deserialize(r.sketchBytes("tag").get)
          .asInstanceOf[graft.functions.KmvSketch].sorted.toSeq
        finally r.close()
      }.toSet
    val sparkHashes = (0 until 41).map(i => s"tag_$i").toDF("tag")
      .select(xxhash64(col("tag"))).collect().map(_.getLong(0)).toSet
    assert(stored === sparkHashes)
    assert(stored.size.toLong === nTags)
  }

  test("stored sketches answer DISTINCT with zero forward-index / dictionary IO") {
    val (dir, nUsers, nTags) = writeFixture()
    // index ranges of every NON-sketch section, per segment psf
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(
      dir, SegmentIO.forPath(dir))
    val forbidden: Map[String, Seq[(Long, Long)]] = segDirs.map { d =>
      val r = SegmentReader.open(d, SegmentIO.forPath(d))
      val ranges = try r.indexMap.indexes.collect {
        case ((_, tpe), loc) if tpe != SketchSection.IndexType =>
          (loc.startOffset, loc.size)
      }.toSeq finally r.close()
      (LocalSegmentIO.resolve(d, "columns.psf"), ranges)
    }.toMap
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    val (users, tags) = SegmentIO.withOverride(_.startsWith(
        java.nio.file.Paths.get(dir).getParent.toString), rec) {
      // fresh section-cache identity is NOT guaranteed (the fixture was
      // just written and read above), so clear it: a cache hit would
      // hide IO instead of proving its absence
      SegmentReader.clearSectionCacheForTests()
      (graft.sources.pinot.PinotSketches
        .wholeTable(spark, dir, "uid", "bitmap").head().getLong(0),
        graft.sources.pinot.PinotSketches
          .wholeTable(spark, dir, "tag", "kmv64").head().getLong(0))
    }
    assert(users === nUsers)
    assert(tags === nTags)
    // every recorded pread of a psf must sit INSIDE a sketch section —
    // i.e. overlap no forward/dict/other section
    import scala.jdk.CollectionConverters._
    var preads = 0
    rec.reads.asScala.foreach { case (file, q) =>
      q.asScala.foreach { case (pos, len) =>
        preads += 1
        val bad = forbidden.getOrElse(file, Nil).filter { case (s0, sz) =>
          pos < s0 + sz && pos + len > s0 }
        assert(bad.isEmpty,
          s"merge read non-sketch section(s) $bad of $file at ($pos,$len)")
      }
    }
    assert(preads > 0, "recorder saw no psf reads — override not applied")
  }

  test("stored kmv composes with a query-time kmv cohort (union stays exact)") {
    import spark.implicits._
    val (dir, _, _) = writeFixture()
    // stored sketch array (merged) UNION a query-time cohort of NEW tags
    val stored = graft.sources.pinot.PinotSegments.discoverDirs(
        dir, SegmentIO.forPath(dir))
      .flatMap { d =>
        val r = SegmentReader.open(d, SegmentIO.forPath(d))
        try SketchSection.deserialize(r.sketchBytes("tag").get)
          .asInstanceOf[graft.functions.KmvSketch].sorted.toSeq
        finally r.close()
      }
    val storedSk = stored.toDF("hash")
      .agg(graft.functions.SketchAgg.kmvSketch(col("hash"), 64).as("sa"))
    val cohort = (0 until 10).map(i => s"other_$i")
      .toDF("tag") // 10 new tags, 0 overlap
      .agg(graft.functions.SketchAgg.kmvSketch(
        xxhash64(col("tag")), 64).as("sb"))
    val u = storedSk.crossJoin(cohort)
      .select(graft.functions.KmvSketch
        .unionEstimate(col("sa"), col("sb"), 64).as("u"))
      .head().getLong(0)
    assert(u === 51L) // 41 stored + 10 new, exact (both unsaturated)
  }

  test("lambda merge: stored sections ∪ query-time delta payloads answer exactly; cold IO stays sketch-only") {
    import spark.implicits._
    import graft.functions.SketchAgg
    // cold: 3 segments carrying all four sketch kinds; delta: fresh rows
    // that exist only as a DataFrame (the un-sketched "today")
    val dir = graft.TestDirs.create("lambda_tbl").resolve("lam_OFFLINE").toString
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, (i % 113).toLong, s"t${i % 29}", (i % 500).toDouble)
    }.toDF("event_id", "uid", "tag", "v")
    val cold = mk(0, 3000)
    val delta = mk(3000, 4500)
    cold.repartition(3).write.format("pinot").mode("append")
      .option("sketchColumns",
        "uid:bitmap,tag:kmv64,v:kll8192,event_id:hll16")
      .save(dir)
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(
      dir, SegmentIO.forPath(dir))
    val forbidden: Map[String, Seq[(Long, Long)]] = segDirs.map { d =>
      val r = SegmentReader.open(d, SegmentIO.forPath(d))
      val ranges = try r.indexMap.indexes.collect {
        case ((_, tpe), loc) if tpe != SketchSection.IndexType =>
          (loc.startOffset, loc.size)
      }.toSeq finally r.close()
      (LocalSegmentIO.resolve(d, "columns.psf"), ranges)
    }.toMap
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    def coldSk(column: String) = graft.sources.pinot.PinotSketches
      .segmentSketches(spark, dir, column).select(col("sketch"))
    val (users, tags, events, quantiles) =
      SegmentIO.withOverride(_.startsWith(
          java.nio.file.Paths.get(dir).getParent.toString), rec) {
        SegmentReader.clearSectionCacheForTests()
        (coldSk("uid")
          .union(delta.agg(SketchAgg
            .build(col("uid"), "bitmap").as("sketch")))
          .agg(SketchAgg.merge(col("sketch"), "bitmap"))
          .head().getLong(0),
          coldSk("tag")
            .union(delta.agg(SketchAgg
              .build(xxhash64(col("tag")), "kmv64").as("sketch")))
            .agg(SketchAgg.merge(col("sketch"), "kmv64"))
            .head().getLong(0),
          coldSk("event_id")
            .union(delta.agg(SketchAgg
              .build(xxhash64(col("event_id")), "hll16").as("sketch")))
            .agg(SketchAgg.merge(col("sketch"), "hll16"))
            .head().getLong(0),
          coldSk("v")
            .union(delta.agg(SketchAgg
              .build(col("v"), "kll8192").as("sketch")))
            .agg(SketchAgg.merge(col("sketch"), "kll8192",
              Seq(0.5, 0.9)))
            .head().getSeq[Double](0))
      }
    // truth over cold ∪ delta — every leg is in its exact regime
    // (113 uids; 29 tags < 64; 4500 event_ids < 2^16/4; 4500 values < 8192)
    val all = cold.union(delta).cache()
    assert(users === all.select("uid").distinct().count())
    assert(tags === all.select("tag").distinct().count())
    assert(events === all.select("event_id").distinct().count())
    val sortedV = all.select("v").collect().map(_.getDouble(0)).sorted
    val wantQ = Seq(0.5, 0.9).map { q =>
      sortedV(math.max(1L, math.ceil(q * sortedV.length).toLong).toInt - 1) }
    assert(quantiles === wantQ)
    all.unpersist()
    // the cold side read ONLY sketch sections
    import scala.jdk.CollectionConverters._
    var preads = 0
    rec.reads.asScala.foreach { case (file, q) =>
      q.asScala.foreach { case (pos, len) =>
        preads += 1
        val bad = forbidden.getOrElse(file, Nil).filter { case (s0, sz) =>
          pos < s0 + sz && pos + len > s0 }
        assert(bad.isEmpty,
          s"lambda cold side read non-sketch section(s) $bad of $file at ($pos,$len)")
      }
    }
    assert(preads > 0, "recorder saw no psf reads — override not applied")
  }

  test("time-sliced read: outside segments untouched, inside sketch-only, boundary scans the slice") {
    import spark.implicits._
    // 4 range segments over ts 1..4000; slice [1500, 3500] classifies
    // them as outside / boundary / inside / boundary respectively
    val dir = graft.TestDirs.create("slice_tbl").resolve("sl_OFFLINE").toString
    val df = (1 to 4000).map(t => (t.toLong, (t % 97).toLong))
      .toDF("ts_ms", "uid")
    df.repartitionByRange(4, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "uid:bitmap")
      .save(dir)
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(
      dir, SegmentIO.forPath(dir))
    assert(segDirs.size === 4)
    // classify by metadata to build per-class forbidden ranges
    val byClass = segDirs.map { d =>
      val r = SegmentReader.open(d, SegmentIO.forPath(d))
      try {
        val cm = r.metadata.column("ts_ms")
        val (mn, mx) = (cm.minValue.get.toLong, cm.maxValue.get.toLong)
        val cls = if (mn >= 1500 && mx <= 3500) "inside"
          else if (mx < 1500 || mn > 3500) "outside" else "boundary"
        val nonSketch = r.indexMap.indexes.collect {
          case ((_, tpe), loc) if tpe != SketchSection.IndexType =>
            (loc.startOffset, loc.size)
        }.toSeq
        (LocalSegmentIO.resolve(d, "columns.psf"), cls, nonSketch)
      } finally r.close()
    }
    assert(byClass.count(_._2 == "inside") === 1)
    assert(byClass.count(_._2 == "outside") === 1)
    assert(byClass.count(_._2 == "boundary") === 2)
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    val got = SegmentIO.withOverride(_.startsWith(
        java.nio.file.Paths.get(dir).getParent.toString), rec) {
      SegmentReader.clearSectionCacheForTests()
      graft.sources.pinot.PinotSketches.timeSliced(
        spark, dir, "uid", "bitmap", "ts_ms", 1500L, 3500L).head()
    }
    // exactness: distinct uid and row count over exactly the slice
    val want = df.filter(col("ts_ms").between(1500, 3500))
    assert(got.getLong(0) === want.select("uid").distinct().count())
    assert(got.getLong(1) === want.count())
    // IO discipline per class
    import scala.jdk.CollectionConverters._
    byClass.foreach { case (psf, cls, nonSketch) =>
      val preads = Option(rec.reads.get(psf))
        .map(_.asScala.toSeq).getOrElse(Nil)
      cls match {
        case "outside" =>
          assert(preads.isEmpty,
            s"outside segment read $preads from its psf — should be pruned")
        case "inside" =>
          preads.foreach { case (pos, len) =>
            val bad = nonSketch.filter { case (s0, sz) =>
              pos < s0 + sz && pos + len > s0 }
            assert(bad.isEmpty,
              s"inside segment read non-sketch section(s) $bad at ($pos,$len)")
          }
        case _ => // boundary: raw scan is the point — no restriction
      }
    }
  }

  test("rollup sketchMetrics: grouped distincts survive the rollup exactly") {
    import spark.implicits._
    val dir = graft.TestDirs.create("roll_sk").resolve("rs_OFFLINE").toString
    val df = (0 until 4000).map { i =>
      (s"g${i % 5}", (i % (37 + i % 5)).toLong, s"p${i % 23}", 1)
    }.toDF("g", "uid", "p", "cnt")
    df.repartition(3).write.format("pinot").mode("append").save(dir)
    PinotCompact.rollup(dir, dims = Seq("g"), metrics = Seq("cnt"),
      sketchMetrics = Map("uid" -> "bitmap", "p" -> "kmv64"))
    val back = spark.read.format("pinot").load(dir)
      .groupBy("g")
      .agg(
        graft.functions.SketchAgg.merge(col("uid"), "bitmap")
          .as("du"),
        graft.functions.SketchAgg.merge(col("p"), "kmv64").as("dp"),
        sum("cnt").as("n"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = df.groupBy("g")
      .agg(countDistinct(col("uid")).as("du"),
        countDistinct(col("p")).as("dp"), count(lit(1)).as("n"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(back === want, "rolled-up sketch distincts diverged from the twin")
    // the raw rows are really gone: one row per group remains
    assert(spark.read.format("pinot").load(dir).count() === 5L)
    // SQL registration works for both merge aggregates
    spark.read.format("pinot").load(dir).createOrReplaceTempView("rolled_sk")
    val viaSql = spark.sql(
      """SELECT g, bitmap_merge_distinct(uid) AS du,
        |       kmv_merge_estimate(p, 64) AS dp
        |FROM rolled_sk GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql === want.map(t => (t._1, t._2, t._3)))
  }

  test("time-slice classification runs on cached metadata: one parallel sweep cold, zero fetches warm, outside segments untouched") {
    import spark.implicits._
    val dir = graft.TestDirs.create("slice_meta").resolve("sm_OFFLINE").toString
    val df = (1 to 4000).map(t => (t.toLong, (t % 89).toLong))
      .toDF("ts_ms", "uid")
    df.repartitionByRange(4, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "uid:bitmap")
      .save(dir)
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(
      dir, SegmentIO.forPath(dir))
    assert(segDirs.size === 4)
    val outside = segDirs.filter { d =>
      val m = graft.sources.pinot.PinotScan.segmentMeta(d)
      m.column("ts_ms").maxValue.get.toLong < 1500 ||
        m.column("ts_ms").minValue.get.toLong > 3500
    }
    assert(outside.size === 1)
    def metaFile(d: String) = {
      val v3 = LocalSegmentIO.resolve(d, "v3")
      val p = LocalSegmentIO.resolve(
        if (LocalSegmentIO.exists(LocalSegmentIO.resolve(d,
          "metadata.properties"))) d else v3, "metadata.properties")
      p
    }
    val want = df.filter(col("ts_ms").between(1500, 3500))
    val wantDistinct = want.select("uid").distinct().count()
    val wantRows = want.count()
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    SegmentIO.withOverride(_.startsWith(
        java.nio.file.Paths.get(dir).getParent.toString), rec) {
      SegmentReader.clearSectionCacheForTests()
      // COLD: force the plan-time metadata cache to miss — the classify
      // sweep must fetch each segment's metadata.properties EXACTLY once
      // (the 32-way parallel prefetch path; the recorder is a non-local
      // SegmentIO, so the pooled branch is the one under test)
      graft.sources.pinot.PinotScan.invalidateMetas(segDirs)
      val got = graft.sources.pinot.PinotSketches.timeSliced(
        spark, dir, "uid", "bitmap", "ts_ms", 1500L, 3500L).head()
      assert(got.getLong(0) === wantDistinct)
      assert(got.getLong(1) === wantRows)
      // the OUTSIDE segment is classified and pruned: its metadata is
      // fetched exactly once (the parallel classify sweep). Boundary /
      // inside segments legitimately add a table-open seed and an
      // executor parse-cache fill on a fully cold table — bounded, not
      // the old unbounded sequential-open-per-query pattern.
      segDirs.foreach { d =>
        val n = rec.fullReadCount(metaFile(d))
        assert(n >= 1 && n <= 3,
          s"cold read ${metaFile(d)} ${n}x — want 1 (classify) to 3 (classify + open seed + executor parse)")
      }
      assert(rec.fullReadCount(metaFile(outside.head)) === 1,
        "outside segment's metadata must be fetched exactly once (classify sweep only)")
      // the pruned OUTSIDE segment is touched by NOTHING except that one
      // metadata fetch: no index_map, no psf, no section reads
      import scala.jdk.CollectionConverters._
      val outsideFiles = (rec.fullReads.keySet().asScala ++
        rec.reads.keySet().asScala)
        .filter(_.startsWith(outside.head))
      assert(outsideFiles.forall(_ == metaFile(outside.head)),
        s"outside segment touched $outsideFiles — classification must be metadata-only")
      // WARM: a second read classifies from the cache — zero metadata
      // fetches anywhere, the outside segment is never touched at all
      rec.resetFullReads()
      val got2 = graft.sources.pinot.PinotSketches.timeSliced(
        spark, dir, "uid", "bitmap", "ts_ms", 1500L, 3500L).head()
      assert(got2.getLong(0) === wantDistinct)
      segDirs.foreach { d =>
        assert(rec.fullReadCount(metaFile(d)) === 0,
          s"warm classify re-fetched ${metaFile(d)} — cache not hit")
      }
    }
  }

  test("nullable slice column is rejected loudly (metadata totalDocs would over-count)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("slice_null").resolve("sn_OFFLINE").toString
    val df = (1 to 1000).map { t =>
      (if (t % 50 == 0) None else Some(t.toLong), (t % 31).toLong)
    }.toDF("ts_ms", "uid")
    df.coalesce(1).write.format("pinot").mode("append")
      .option("nullableColumns", "ts_ms")
      .option("sketchColumns", "uid:bitmap")
      .save(dir)
    val ex = intercept[PinotFormatException] {
      graft.sources.pinot.PinotSketches.timeSliced(
        spark, dir, "uid", "bitmap", "ts_ms", 100L, 900L).head()
    }
    assert(ex.getMessage.contains("null"),
      s"expected a null-column rejection, got: ${ex.getMessage}")
  }

  test("time-sliced distinct over STRING and KLL over TIMESTAMP sketch columns match raw twins") {
    import spark.implicits._
    // string sketch column: the stored bitmap holds xxhash64 values —
    // the read-side delta must make the same trade (a raw string column
    // would fail sketch_build's bigint requirement)
    val dir = graft.TestDirs.create("slice_str").resolve("ss_OFFLINE").toString
    val df = (1 to 3000).map { t =>
      (t.toLong, s"tag_${t % 61}",
        new java.sql.Timestamp(86400000L + t * 1000L))
    }.toDF("ts_ms", "tag", "seen")
    df.repartitionByRange(3, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "tag:bitmap,seen:kll8192")
      .save(dir)
    val got = graft.sources.pinot.PinotSketches.timeSliced(
      spark, dir, "tag", "bitmap", "ts_ms", 500L, 2600L).head()
    val want = df.filter(col("ts_ms").between(500, 2600))
    assert(got.getLong(0) === want.select("tag").distinct().count())
    assert(got.getLong(1) === want.count())
    // timestamp KLL column: stored sections hold epoch-millis doubles;
    // the delta must cast the same way (not Spark's seconds-cast)
    val gotQ = graft.sources.pinot.PinotSketches.timeSliced(
      spark, dir, "seen", "kll8192", "ts_ms", 500L, 2600L, Seq(0.5)).head()
      .getSeq[Double](0)
    val sortedMs = want.select(unix_millis(col("seen")))
      .collect().map(_.getLong(0).toDouble).sorted
    val wantP50 = sortedMs(math.ceil(0.5 * sortedMs.length).toInt - 1)
    assert(gotQ === Seq(wantP50))
  }

  test("boundary segments are scanned exactly once (payload + row count in one aggregate)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("slice_once").resolve("so_OFFLINE").toString
    val df = (1 to 4000).map(t => (t.toLong, (t % 97).toLong))
      .toDF("ts_ms", "uid")
    df.repartitionByRange(4, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "uid:bitmap")
      .save(dir)
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(
      dir, SegmentIO.forPath(dir))
    val boundaryPsfs = segDirs.flatMap { d =>
      val m = graft.sources.pinot.PinotScan.segmentMeta(d)
      val (mn, mx) = (m.column("ts_ms").minValue.get.toLong,
        m.column("ts_ms").maxValue.get.toLong)
      if (mx >= 1500 && mn <= 3500 && !(mn >= 1500 && mx <= 3500))
        Some(LocalSegmentIO.resolve(d, "columns.psf"))
      else None
    }
    assert(boundaryPsfs.size === 2)
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    val got = SegmentIO.withOverride(_.startsWith(
        java.nio.file.Paths.get(dir).getParent.toString), rec) {
      SegmentReader.clearSectionCacheForTests()
      graft.sources.pinot.PinotSketches.timeSliced(
        spark, dir, "uid", "bitmap", "ts_ms", 1500L, 3500L).head()
    }
    val want = df.filter(col("ts_ms").between(1500, 3500))
    assert(got.getLong(0) === want.select("uid").distinct().count())
    assert(got.getLong(1) === want.count())
    // a second scan of a boundary segment (the old separate row-count
    // aggregate) would replay the same preads — every (pos, len) on a
    // boundary psf must be unique
    import scala.jdk.CollectionConverters._
    boundaryPsfs.foreach { psf =>
      val preads = Option(rec.reads.get(psf))
        .map(_.asScala.toSeq).getOrElse(Nil)
      assert(preads.nonEmpty, s"boundary $psf saw no reads")
      val dup = preads.groupBy(identity).filter(_._2.size > 1)
      assert(dup.isEmpty,
        s"boundary $psf pread ranges replayed (double scan): $dup")
    }
  }

  test("adversarial time-slice layouts: classify→read split equals the raw-scan twin on every draw") {
    import spark.implicits._
    val base = (1 to 4000).map(t => (t.toLong, (t % 113).toLong))
    val df = base.toDF("ts_ms", "uid")
    def mkTable(layout: String): String = {
      val dir = graft.TestDirs.create(s"slice_adv_$layout").resolve("sa_OFFLINE").toString
      val w = layout match {
        case "range4" => df.repartitionByRange(4, col("ts_ms"))
        case "single" => df.coalesce(1)
        // shuffled hash layout: every segment spans ~the full ts range —
        // all-boundary classification, overlapping min/max windows
        case "overlap3" => df.repartition(3)
      }
      w.write.format("pinot").mode("append")
        .option("sketchColumns", "uid:bitmap")
        .save(dir)
      dir
    }
    def check(dir: String, lo: Long, hi: Long): Unit = {
      val got = graft.sources.pinot.PinotSketches.timeSliced(
        spark, dir, "uid", "bitmap", "ts_ms", lo, hi).head()
      val want = df.filter(col("ts_ms").between(lo, hi))
      assert(got.getLong(0) === want.select("uid").distinct().count(),
        s"distinct diverged on [$lo,$hi] over $dir")
      assert(got.getLong(1) === want.count(),
        s"row count diverged on [$lo,$hi] over $dir")
    }
    val rnd = new scala.util.Random(20260815L)
    Seq("range4", "single", "overlap3").foreach { layout =>
      val dir = mkTable(layout)
      // slices landing EXACTLY on segment min/max boundaries
      val bounds = graft.sources.pinot.PinotSegments
        .discoverDirs(dir, SegmentIO.forPath(dir)).map { d =>
          val m = graft.sources.pinot.PinotScan.segmentMeta(d)
          (m.column("ts_ms").minValue.get.toLong,
            m.column("ts_ms").maxValue.get.toLong)
        }
      val (mn0, mx0) = bounds.head
      check(dir, mn0, mx0)          // one segment exactly inside
      check(dir, 1L, 4000L)         // full span: everything inside
      check(dir, 4001L, 5000L)      // empty slice: all pruned, exact zeros
      check(dir, mx0, mx0)          // single point on a segment edge
      check(dir, mn0, mn0)
      // randomized slices (seeded), mixing edges and interior points
      (1 to 4).foreach { _ =>
        val a = 1L + rnd.nextInt(4200)
        val b = a + rnd.nextInt(4200)
        check(dir, a, b)
      }
    }
  }

  test("grouped time-sliced distinct: rolled cold tier + raw hot tier equals the twin; outside rolled segments untouched") {
    import spark.implicits._
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(deleteRec(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    val root = graft.TestDirs.create("group_slice")
    val coldDir = root.resolve("gsCold_OFFLINE")
    val rawDir = root.resolve("gsRaw_OFFLINE").toString
    java.nio.file.Files.createDirectories(coldDir)
    val df = (1 to 5000).map { t =>
      (t.toLong, s"g${t % 4}", (t % (60 + t % 4)).toLong)
    }.toDF("ts_ms", "g", "uid")
    // COLD: ts 1..3000 rolled into one segment per 1000-wide bucket —
    // dims (g, bucket_start), summed cnt, uid → hll12 payload per group
    (0 until 3).foreach { b =>
      val lo = b * 1000L + 1
      val build = root.resolve("gsBuild_OFFLINE")
      df.filter(col("ts_ms").between(lo, lo + 999))
        .select(col("g"), lit(lo).as("bucket_start"), col("uid"),
          lit(1).as("cnt"))
        .coalesce(1).write.format("pinot").mode("append")
        .save(build.toString)
      val seg = PinotCompact.rollup(build.toString,
        dims = Seq("g", "bucket_start"), metrics = Seq("cnt"),
        sketchMetrics = Map("uid" -> "hll12"))
      java.nio.file.Files.move(seg, coldDir.resolve(s"bucket$b"))
      deleteRec(build)
    }
    // RAW: ts 3001..5000 in two range segments (one boundary, one beyond)
    df.filter(col("ts_ms") > 3000L)
      .select(col("g"), col("ts_ms"), col("uid"))
      .repartitionByRange(2, col("ts_ms"))
      .write.format("pinot").mode("append")
      .save(rawDir)
    // slice [1001, 4200]: bucket 0 OUTSIDE (pruned), buckets 1-2 inside,
    // raw segment 1 boundary-scans, raw segment 2 prunes (4001..5000 —
    // wait: 4200 > 4001, so it boundary-scans too; the point is bucket 0)
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    val got = SegmentIO.withOverride(_.startsWith(root.toString), rec) {
      SegmentReader.clearSectionCacheForTests()
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        spark, coldDir.toString, rawDir, "g", "uid", "hll12",
        "bucket_start", 1000L, "cnt", "ts_ms", 1001L, 4200L,
        as = "du", rowsAs = "rows").orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val want = df.filter(col("ts_ms").between(1001, 4200))
      .groupBy("g")
      .agg(countDistinct(col("uid")).as("du"), count(lit(1)).as("rows"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, "grouped time-sliced distinct diverged from the twin")
    // the pruned bucket-0 rolled segment saw zero psf reads
    import scala.jdk.CollectionConverters._
    val bucket0Psf = rec.reads.keySet().asScala
      .filter(_.startsWith(coldDir.resolve("bucket0").toString))
    assert(bucket0Psf.isEmpty,
      s"outside rolled segment read $bucket0Psf — pushed bucket filter must prune it")
    // mid-bucket slice edges in the rolled range fail LOUDLY — raw rows
    // are gone, a truncated bucket would silently under-count
    val ex = intercept[IllegalArgumentException] {
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        spark, coldDir.toString, rawDir, "g", "uid", "hll12",
        "bucket_start", 1000L, "cnt", "ts_ms", 1500L, 4200L)
    }
    assert(ex.getMessage.contains("mid-bucket"))
  }

  test("grouped time-sliced freq: rolled + raw tiers merge to exact per-group counts; outside rolled segments untouched") {
    import spark.implicits._
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(deleteRec(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    val root = graft.TestDirs.create("group_freq")
    val coldDir = root.resolve("gfCold_OFFLINE")
    val rawDir = root.resolve("gfRaw_OFFLINE").toString
    java.nio.file.Files.createDirectories(coldDir)
    val df = (1 to 5000).map { t =>
      (t.toLong, s"g${t % 3}", s"page_${t % (20 + t % 3)}")
    }.toDF("ts_ms", "g", "page")
    (0 until 3).foreach { b =>
      val lo = b * 1000L + 1
      val build = root.resolve("gfBuild_OFFLINE")
      df.filter(col("ts_ms").between(lo, lo + 999))
        .select(col("g"), lit(lo).as("bucket_start"), col("page"),
          lit(1).as("cnt"))
        .coalesce(1).write.format("pinot").mode("append")
        .save(build.toString)
      val seg = PinotCompact.rollup(build.toString,
        dims = Seq("g", "bucket_start"), metrics = Seq("cnt"),
        sketchMetrics = Map("page" -> "freq64"))
      java.nio.file.Files.move(seg, coldDir.resolve(s"bucket$b"))
      deleteRec(build)
    }
    df.filter(col("ts_ms") > 3000L)
      .select(col("g"), col("ts_ms"), col("page"))
      .repartitionByRange(2, col("ts_ms"))
      .write.format("pinot").mode("append")
      .save(rawDir)
    // slice [1001, 4200]: bucket 0 pruned, buckets 1-2 stored payloads,
    // raw tier boundary-scans
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    val got = SegmentIO.withOverride(_.startsWith(root.toString), rec) {
      SegmentReader.clearSectionCacheForTests()
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        spark, coldDir.toString, rawDir, "g", "page", "freq64",
        "bucket_start", 1000L, "cnt", "ts_ms", 1001L, 4200L,
        as = "sk", rowsAs = "rows")
        .select(col("g"), explode(col("sk")).as("e"), col("rows"))
        .select(col("g"), col("e.item"), col("e.cnt"), col("rows"))
        .as[(String, String, Long, Long)].collect().toSet
    }
    val twin = df.filter(col("ts_ms").between(1001, 4200))
    val rowsPerG = twin.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = twin.groupBy("g", "page").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        rowsPerG(r.getString(0)))).toSet
    assert(got === want, "grouped time-sliced freq diverged from the twin")
    import scala.jdk.CollectionConverters._
    val bucket0Psf = rec.reads.keySet().asScala
      .filter(_.startsWith(coldDir.resolve("bucket0").toString))
    assert(bucket0Psf.isEmpty,
      s"outside rolled segment read $bucket0Psf — pushed bucket filter must prune it")
  }

  test("grouped time-sliced bitmap + kmv: rolled + raw tiers merge exactly; outside rolled segments untouched") {
    import spark.implicits._
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(deleteRec(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    val root = graft.TestDirs.create("group_bmkmv")
    val coldDir = root.resolve("gbCold_OFFLINE")
    val rawDir = root.resolve("gbRaw_OFFLINE").toString
    java.nio.file.Files.createDirectories(coldDir)
    // uid: integral (bitmap keeps RAW longs); page: string (kmv keeps
    // xxhash64 values) — the two input modes of the new readers
    val df = (1 to 5000).map { t =>
      (t.toLong, s"g${t % 4}", (t % (60 + t % 4)).toLong,
        s"page_${t % (20 + t % 3)}")
    }.toDF("ts_ms", "g", "uid", "page")
    (0 until 3).foreach { b =>
      val lo = b * 1000L + 1
      val build = root.resolve("gbBuild_OFFLINE")
      df.filter(col("ts_ms").between(lo, lo + 999))
        .select(col("g"), lit(lo).as("bucket_start"), col("uid"),
          col("page"), lit(1).as("cnt"))
        .coalesce(1).write.format("pinot").mode("append")
        .save(build.toString)
      val seg = PinotCompact.rollup(build.toString,
        dims = Seq("g", "bucket_start"), metrics = Seq("cnt"),
        sketchMetrics = Map("uid" -> "bitmap", "page" -> "kmv256"))
      java.nio.file.Files.move(seg, coldDir.resolve(s"bucket$b"))
      deleteRec(build)
    }
    df.filter(col("ts_ms") > 3000L)
      .select(col("g"), col("ts_ms"), col("uid"), col("page"))
      .repartitionByRange(2, col("ts_ms"))
      .write.format("pinot").mode("append")
      .save(rawDir)
    // slice [1001, 4200]: bucket 0 pruned, buckets 1-2 stored payloads,
    // raw tier boundary-scans — same split as the hll/freq twins
    val rec = new RecordingSegmentIO(LocalSegmentIO)
    val (gotBm, gotKmv) =
      SegmentIO.withOverride(_.startsWith(root.toString), rec) {
        SegmentReader.clearSectionCacheForTests()
        val bm = graft.sources.pinot.PinotSketches
          .groupedTimeSliced(
            spark, coldDir.toString, rawDir, "g", "uid", "bitmap",
            "bucket_start", 1000L, "cnt", "ts_ms", 1001L, 4200L,
            as = "du", rowsAs = "rows").orderBy("g").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        val kv = graft.sources.pinot.PinotSketches
          .groupedTimeSliced(
            spark, coldDir.toString, rawDir, "g", "page", "kmv256",
            "bucket_start", 1000L, "cnt", "ts_ms", 1001L, 4200L,
            as = "dp", rowsAs = "rows").orderBy("g").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        (bm, kv)
      }
    val twin = df.filter(col("ts_ms").between(1001, 4200))
    val wantBm = twin.groupBy("g")
      .agg(countDistinct(col("uid")).as("du"), count(lit(1)).as("rows"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotBm === wantBm,
      "grouped time-sliced bitmap distinct diverged from the twin")
    // kmv exact regime: ~22 distinct pages per group ≪ k=256
    val wantKmv = twin.groupBy("g")
      .agg(countDistinct(col("page")).as("dp"), count(lit(1)).as("rows"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotKmv === wantKmv,
      "grouped time-sliced kmv distinct diverged from the twin")
    import scala.jdk.CollectionConverters._
    val bucket0Psf = rec.reads.keySet().asScala
      .filter(_.startsWith(coldDir.resolve("bucket0").toString))
    assert(bucket0Psf.isEmpty,
      s"outside rolled segment read $bucket0Psf — pushed bucket filter must prune it")
  }

  test("freq sections: stored Misra–Gries summaries merge to exact counts; payload bytes are insertion-order-free") {
    import spark.implicits._
    val dir = graft.TestDirs.create("freq_tbl").resolve("fq_OFFLINE").toString
    val rows = (0 until 6000).map(i => (i.toLong, s"page_${i % 37}"))
    rows.toDF("ts_ms", "page")
      .repartitionByRange(3, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "page:freq64")
      .save(dir)
    // exact regime (37 distinct < 64): merged stored counts = truth
    val got = graft.sources.pinot.PinotSketches
      .wholeTable(spark, dir, "page", "freq64", as = "top_items")
      .select(explode(col("top_items")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .as[(String, Long)].collect().toMap
    val want = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got === want)
    // a section's bytes are a pure function of the summary, not of
    // insertion order (exact regime: the summary itself is order-free)
    val fwd = SketchSection.deserialize(
      freqPayload(rows.iterator.map(_._2), 64))
    val rev = freqPayload(rows.reverseIterator.map(_._2), 64)
    assert(freqPayload(rows.iterator.map(_._2), 64)
      .sameElements(rev))
    assert(fwd.asInstanceOf[graft.functions.FreqSketch].counts.toMap === want)
  }

  test("time-sliced freq: stored sections + boundary query-time payload match the raw twin; low capacity keeps the MG bound") {
    import spark.implicits._
    val dir = graft.TestDirs.create("freq_slice").resolve("fs_OFFLINE").toString
    // zipf-ish skew so heavy hitters exist
    val rows = (1 to 8000).map { t =>
      val r = (t * 2654435761L) >>> 40
      val page = if (r % 100 < 55) s"hot_${r % 3}" else s"cold_${r % 97}"
      (t.toLong, page)
    }
    rows.toDF("ts_ms", "page")
      .repartitionByRange(4, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "page:freq256")
      .save(dir)
    val (lo, hi) = (1500L, 6200L)
    val sliced = rows.filter { case (t, _) => t >= lo && t <= hi }
    val truth = sliced.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // capacity 256 > 100 distinct: exact through the whole split
    val got = graft.sources.pinot.PinotSketches
      .timeSliced(spark, dir, "page", "freq256", "ts_ms", lo, hi)
    val row = got.head()
    val items = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(items === truth)
    assert(row.getLong(1) === sliced.size.toLong)
    // all-pruned slice answers (empty, 0) with no IO
    val empty = graft.sources.pinot.PinotSketches
      .timeSliced(spark, dir, "page", "freq256", "ts_ms", 50000L, 60000L)
      .head()
    assert(empty.getSeq[org.apache.spark.sql.Row](0).isEmpty)
    assert(empty.getLong(1) === 0L)
  }

  test("time-sliced hll distinct matches the bitmap twin and the raw truth") {
    import spark.implicits._
    val dir = graft.TestDirs.create("hll_slice").resolve("hs_OFFLINE").toString
    // uid and uid_h carry IDENTICAL values; uid stores a bitmap section,
    // uid_h an hll14 one (sparse limit 4096 > 911 distinct: exact regime)
    val rows = (1 to 5000).map { t =>
      val u = (t * 37 % 911).toLong; (t.toLong, u, u)
    }
    rows.toDF("ts_ms", "uid", "uid_h")
      .repartitionByRange(4, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "uid:bitmap,uid_h:hll14")
      .save(dir)
    for ((lo, hi) <- Seq((700L, 3900L), (1L, 5000L), (9000L, 9900L))) {
      val bm = graft.sources.pinot.PinotSketches
        .timeSliced(spark, dir, "uid", "bitmap", "ts_ms", lo, hi).head()
      val hl = graft.sources.pinot.PinotSketches
        .timeSliced(spark, dir, "uid_h", "hll14", "ts_ms", lo, hi).head()
      val want = rows.filter { case (t, _, _) => t >= lo && t <= hi }
      assert(hl.getLong(0) === bm.getLong(0))
      assert(hl.getLong(0) === want.map(_._2).distinct.size.toLong)
      assert(hl.getLong(1) === bm.getLong(1))
      assert(hl.getLong(1) === want.size.toLong)
    }
  }

  test("rollup freq metric: grouped heavy hitters survive the rollup exactly") {
    import spark.implicits._
    val dir = graft.TestDirs.create("freq_roll").resolve("fr_OFFLINE").toString
    val rows = (0 until 4000).map { i =>
      (s"t${i % 3}", s"page_${i % 29}", 1)
    }
    rows.toDF("typ", "page", "cnt")
      .repartition(2)
      .write.format("pinot").mode("append")
      .save(dir)
    PinotCompact.rollup(dir, dims = Seq("typ"), metrics = Seq("cnt"),
      sketchMetrics = Map("page" -> "freq64"))
    val rolled = spark.read.format("pinot").load(dir)
    val got = rolled
      .groupBy("typ")
      .agg(graft.functions.SketchAgg.merge(col("page"), "freq64").as("sk"))
      .select(col("typ"), explode(col("sk")).as("e"))
      .select(col("typ"), col("e.item"), col("e.cnt"))
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val want = rows.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).view.mapValues(_.size.toLong).toMap).toMap
    assert(got === want)
  }

  test("freq sections in the decremented regime keep the mergeable-summaries bound") {
    // capacity far below distinct cardinality: merged counts must stay
    // within [true - n/(cap+1), true] and every true heavy hitter with
    // count > n/(cap+1) must survive the merge (Agarwal et al. PODS'12)
    val cap = 8
    val n = 20000
    val rng = new scala.util.Random(7)
    val vals = (0 until n).map { _ =>
      val r = rng.nextInt(100)
      if (r < 30) "alpha" else if (r < 50) "beta" else s"tail_${rng.nextInt(500)}"
    }
    val parts = vals.grouped(n / 7).toSeq
    val sections = parts.map(p =>
      freqPayload(p.iterator, cap))
    val merged = scala.collection.mutable.HashMap.empty[String, Long]
    sections.foreach { bytes =>
      val sk = SketchSection.deserialize(bytes)
      graft.functions.FreqSketch.mgMergeInto(merged,
        sk.asInstanceOf[graft.functions.FreqSketch].counts, cap)
    }
    val truth = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val slack = n.toLong / (cap + 1)
    merged.foreach { case (item, est) =>
      val t = truth(item)
      assert(est <= t, s"$item over-counted: $est > $t")
      assert(est >= t - slack, s"$item under its bound: $est < $t - $slack")
    }
    truth.filter(_._2 > slack).keys.foreach { heavy =>
      assert(merged.contains(heavy), s"true heavy hitter $heavy dropped")
    }
  }

  test("sketch sections survive v1 conversion and report in metadata") {
    val (dir, nUsers, _) = writeFixture()
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(
      dir, SegmentIO.forPath(dir))
    val seg0 = segDirs.head
    val r0 = SegmentReader.open(seg0, SegmentIO.forPath(seg0))
    assert(r0.metadata.column("uid").sketchSpec === Some("bitmap"))
    assert(r0.metadata.column("tag").sketchSpec === Some("kmv64"))
    val origCard = SketchSection.deserialize(r0.sketchBytes("uid").get)
      .asInstanceOf[graft.functions.BitmapSketch].bitmap.getLongCardinality
    r0.close()
    // convert the segment dir (parent of v3) to v1 layout and re-read
    val src = java.nio.file.Paths.get(seg0).getParent.toString
    val dst = graft.TestDirs.create("sketch_v1").toString
    PinotCompact.convert(src, dst, formatVersion = 1)
    val r1 = SegmentReader.open(dst, SegmentIO.forPath(dst))
    try {
      assert(r1.metadata.column("uid").sketchSpec === Some("bitmap"))
      val sk = SketchSection.deserialize(r1.sketchBytes("uid").get)
      assert(sk.asInstanceOf[graft.functions.BitmapSketch].bitmap
        .getLongCardinality === origCard)
      assert(origCard <= nUsers)
    } finally r1.close()
  }
}

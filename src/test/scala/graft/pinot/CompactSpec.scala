package graft.pinot

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Segment compaction: many small segments (the streaming-ingest shape)
  * merge into one with data, null vectors, inverted indexes, and the
  * time column preserved.
  */
class CompactSpec extends SparkTestBase {

  test("compact merges segments preserving data, nulls, indexes, time column") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_compact")
    val tdir = root.resolve("c_OFFLINE")
    (0 until 4000).map { i =>
      (i.toLong,
        if (i % 11 == 0) None else Some(i * 1.5),
        s"t${i % 5}",
        new java.sql.Timestamp(1704067200000L + i * 1000L))
    }.toDF("id", "score", "tag", "ts")
      .repartition(4) // → 4 segments
      .write.format("pinot").mode("append")
      .option("nullableColumns", "score")
      .option("invertedIndexColumns", "tag")
      .option("timeColumn", "ts")
      .save(tdir.toString)
    def segCount = Files.list(tdir).filter(Files.isDirectory(_)).count()
    assert(segCount === 4)
    val before = spark.read.format("pinot").load(tdir.toString)
      .orderBy("id").collect().toSeq

    val merged = PinotCompact.compact(tdir.toString)
    assert(segCount === 1, "one merged segment replaces the originals")

    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.orderBy("id").collect().toSeq === before,
      "compacted data must be byte-identical")
    assert(df.schema("score").nullable, "null vector survives")
    assert(df.filter(col("score").isNull).count() ===
      (0 until 4000).count(_ % 11 == 0))
    val meta = SegmentReader.open(merged).metadata
    assert(meta.columns("tag").hasInvertedIndex, "inverted index rebuilt")
    assert(meta.timeColumn === Some("ts"), "time column survives")
    assert(meta.totalDocs === 4000)
    // the rebuilt inverted index still drives the scan
    assert(df.filter(col("tag") === "t3").count() ===
      (0 until 4000).count(_ % 5 === 3))
    // compacting a single segment is a no-op
    assert(PinotCompact.compact(tdir.toString).getFileName.toString ===
      merged.getFileName.toString)
  }

  test("rollup compacts segments while SUM-aggregating shared dim tuples") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_rollup")
    val tdir = root.resolve("r_OFFLINE")
    // raw events: (tenant, hour-bucket ts) dims; (hits, amount) metrics.
    // 40 distinct dim tuples across 6000 rows in 3 segments.
    val rows = (0 until 6000).map { i =>
      (s"tenant${i % 8}",
        new java.sql.Timestamp(1704067200000L + (i % 5) * 3600000L),
        1, (i % 10) * 1.5)
    }
    rows.toDF("tenant", "ts", "hits", "amount")
      .repartition(3)
      .write.format("pinot").mode("append")
      .option("invertedIndexColumns", "tenant")
      .option("timeColumn", "ts")
      .save(tdir.toString)

    val merged = PinotCompact.rollup(tdir.toString,
      dims = Seq("tenant", "ts"), metrics = Seq("hits", "amount"))
    val meta = SegmentReader.open(merged).metadata
    assert(meta.totalDocs === 40, "one row per distinct dim tuple")
    assert(meta.columns("tenant").hasInvertedIndex, "dim index rebuilt")
    assert(meta.timeColumn === Some("ts"), "time column (a dim) survives")

    // every additive answer is IDENTICAL to the raw aggregate
    val df = spark.read.format("pinot").load(tdir.toString)
    val got = df.groupBy("tenant")
      .agg(sum("hits").as("h"), round(sum("amount"), 2).as("a"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val want = rows.groupBy(_._1).map { case (t, rs) =>
      t -> ((rs.map(_._3.toLong).sum,
        math.rint(rs.map(_._4).sum * 100) / 100))
    }
    assert(got === want, "rollup preserves every additive aggregate")
    assert(df.count() === 40)
    // swapping roles (string metric / double dim) fails loudly
    val err = intercept[Exception] {
      PinotCompact.rollup(tdir.toString, Seq("ts", "hits", "amount"),
        Seq("tenant"))
    }
    assert(err.getMessage.contains("rollup"))
  }

  test("maintenance ops handle v1-layout segments (no v3 subdir)") {
    val root = graft.TestDirs.create("pinot_compact_v1")
    val tdir = root.resolve("v1t_OFFLINE")
    def seg(name: String, from: Int, to: Int): Unit =
      SegmentWriter.write(tdir.resolve(name), "v1t", name, Seq(
        SegmentWriter.LongCol("id", Array.range(from, to).map(_.toLong)),
        SegmentWriter.StringDictCol("tag",
          Array.range(from, to).map(i => s"t${i % 3}")),
        SegmentWriter.TimestampCol("ts",
          Array.range(from, to).map(i => 1704067200000L + i * 1000L))),
        invertedCols = Set("tag"), timeColumn = Some("ts"),
        formatVersion = 1)
    seg("s0", 0, 600)
    seg("s1", 600, 1000)
    assert(!Files.exists(tdir.resolve("s0").resolve("v3")), "v1 layout")

    val merged = PinotCompact.compact(tdir.toString)
    val r = SegmentReader.open(merged)
    try {
      assert(r.metadata.totalDocs === 1000)
      assert(r.metadata.columns("tag").hasInvertedIndex)
    } finally r.close()
    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.count() === 1000)
    assert(df.agg(sum("id")).head.getLong(0) === (0L until 1000L).sum)

    // purge over a mixed v1/v3 table: a second (v3) segment a day later
    import spark.implicits._
    (0 until 100).map(i => (5000L + i,
        "t9", new java.sql.Timestamp(1704067200000L + 86400000L + i * 1000L)))
      .toDF("id", "tag", "ts").repartition(1)
      .write.format("pinot").mode("append")
      .option("timeColumn", "ts").save(tdir.toString)
    val purged = PinotCompact.purgeOlderThan(tdir.toString,
      1704067200000L + 2000000L) // after merged v1 data, before v3 seg
    assert(purged.length === 1, s"only the merged v1 segment expires: $purged")
    assert(spark.read.format("pinot").load(tdir.toString).count() === 100)
  }

  test("rollup rebuilds bloom/range/text indexes present on every dim") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_rollup_idx")
    val tdir = root.resolve("ri_OFFLINE")
    (0 until 3000).map(i => (s"host${i % 6}", (i % 50).toLong, 1L))
      .toDF("host", "shard", "hits")
      .repartition(2)
      .write.format("pinot").mode("append")
      .option("invertedIndexColumns", "host")
      .option("bloomFilterColumns", "host")
      .option("rangeIndexColumns", "shard")
      .option("textIndexColumns", "host")
      .save(tdir.toString)
    val merged = PinotCompact.rollup(tdir.toString,
      dims = Seq("host", "shard"), metrics = Seq("hits"))
    val r = SegmentReader.open(merged)
    try {
      val cols = r.metadata.columns
      assert(cols("host").hasInvertedIndex, "inverted survives")
      assert(cols("host").hasBloomFilter, "bloom survives")
      assert(cols("shard").hasRangeIndex, "range survives")
      assert(cols("host").hasTextIndex, "text survives")
    } finally r.close()
    assert(spark.read.format("pinot").load(tdir.toString)
      .agg(sum("hits")).head.getLong(0) === 3000L)
  }

  test("retention purge drops fully-expired segments from metadata alone") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_retention")
    val tdir = root.resolve("ret_OFFLINE")
    val day = 86400000L
    val t0 = 1700000000000L
    // three time-disjoint segments (one write per day window)
    (0 until 3).foreach { dayN =>
      (0 until 500).map(i => (dayN * 500L + i,
        new java.sql.Timestamp(t0 + dayN * day + i * 1000L)))
        .toDF("id", "ts")
        .repartition(1)
        .write.format("pinot").mode("append")
        .option("timeColumn", "ts")
        .save(tdir.toString)
    }
    assert(spark.read.format("pinot").load(tdir.toString).count() === 1500)
    // boundary inside day 1: day 0 is fully expired, days 1-2 stay
    val purged = PinotCompact.purgeOlderThan(tdir.toString, t0 + day + 100000L)
    assert(purged.length === 1)
    val left = spark.read.format("pinot").load(tdir.toString)
    assert(left.count() === 1000)
    assert(left.agg(org.apache.spark.sql.functions.min("id"))
      .head.getLong(0) === 500L)
    // a table without a declared time column refuses to purge anything
    val plainDir = root.resolve("plain_OFFLINE")
    Seq((1L, "a")).toDF("k", "v").repartition(1)
      .write.format("pinot").mode("append").save(plainDir.toString)
    assert(PinotCompact.purgeOlderThan(plainDir.toString, Long.MaxValue).isEmpty)
  }
}

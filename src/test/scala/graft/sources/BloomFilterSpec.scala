package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{BloomSection, SegmentReader, SegmentWriter, VarByteChunkV4}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}

/** Bloom-filter index (EXTENSION — Pinot's `bloomFilterColumns`; the
  * reference ignores secondary indexes): write, read, and the
  * equality-pruning path it unlocks for RAW (no-dictionary) columns.
  */
class BloomFilterSpec extends SparkTestBase {

  private val n = 4000
  private val rnd = new scala.util.Random(7)
  private val ids = Array.tabulate(n)(i => f"user$i%05d") // RAW strings
  private val scores = Array.fill(n)(rnd.nextInt(1000000)) // RAW ints
  private val ratios = Array.tabulate(n)(i =>
    if (i == 0) 0.0f else if (i == 1) Float.NaN else rnd.nextFloat()) // dict floats
  private val millis = Array.tabulate(n)(i => 1700000000000L + i * 1000L)

  private lazy val segDir: String = {
    val root = graft.TestDirs.create("pinot_bloom")
    SegmentWriter.write(root.resolve("seg0"), "t", "seg0", Seq(
      SegmentWriter.StringRawCol("uid", ids,
        VarByteChunkV4.Lz4LengthPrefixed, 1024),
      SegmentWriter.IntRawCol("score", scores),
      SegmentWriter.FloatCol("ratio", ratios),
      SegmentWriter.TimestampCol("ts", millis)),
      bloomCols = Set("uid", "score", "ratio", "ts"))
    root.resolve("seg0").resolve("v3").toString
  }

  test("section round-trips and answers membership with bounded FPP") {
    val values = (0 until 5000).map(i => s"v$i")
    val bf = BloomSection.deserialize(BloomSection.build(values.toSet).serialize())
    assert(values.forall(bf.mightContain), "no false negatives, ever")
    val falsePos = (0 until 2000).count(i => bf.mightContain(s"absent$i"))
    assert(falsePos < 200, s"FPP way above spec: $falsePos/2000")
  }

  test("equality on a RAW column prunes via bloom where min/max cannot") {
    // "user02500x" sorts INSIDE [user00000, user03999] and has no
    // dictionary to ask — before blooms this shape could never prune
    val pruned = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("uid", "user02500x")), None)
    assert(!pruned.next(), "bloom must prune an absent in-range RAW probe")
    val kept = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("uid", ids(1234))), None)
    assert(kept.next(), "present value must keep the segment")
    // IN prunes only when EVERY candidate is definitely absent
    val inPruned = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"),
      Array(In("uid", Array("user01111x", "user02222x"))), None)
    assert(!inPruned.next())
    val inKept = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"),
      Array(In("uid", Array("user01111x", ids(42)))), None)
    assert(inKept.next())
    // RAW numeric point lookup prunes the same way
    val absentScore = { var v = 1; while (scores.contains(v)) v += 1; v }
    val numPruned = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("uid"), Array(EqualTo("score", absentScore)), None)
    assert(!numPruned.next())
  }

  test("float canonicalization follows Spark equality (-0.0, NaN)") {
    // stored 0.0f: a -0.0f probe is Spark-equal and must NOT prune
    val negZero = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("ratio", -0.0f)), None)
    assert(negZero.next(), "-0.0 probe must match stored 0.0")
    val nan = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("ratio", Float.NaN)), None)
    assert(nan.next(), "NaN probe must match stored NaN")
    // cross-typed probe (double vs FLOAT column) must never prune
    val crossTyped = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("ratio", 0.123456789d)), None)
    assert(crossTyped.next(), "cross-typed probe must not consult the bloom")
  }

  test("timestamp probes canonicalize to stored millis") {
    val presentUs = java.time.Instant.ofEpochMilli(millis(100))
    val keep = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("ts", presentUs)), None)
    assert(keep.next())
    val absentAligned = java.time.Instant.ofEpochMilli(1600000000000L)
    val prune = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("ts", absentAligned)), None)
    assert(!prune.next(), "milli-aligned absent timestamp prunes")
    val subMilli = java.time.Instant.ofEpochSecond(1700000000L, 123456)
    val pruneSub = new graft.sources.pinot.PinotColumnarReader(
      segDir, Array("score"), Array(EqualTo("ts", subMilli)), None)
    assert(!pruneSub.next(), "sub-millisecond probe can equal no stored value")
  }

  test("DSv2 write option + read path end-to-end") {
    val root = graft.TestDirs.create("pinot_bloom_e2e")
    val dir = root.resolve("events_OFFLINE").toString
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("tag", concat(lit("tag"), (col("id") % 997).cast("string")))
      .withColumn("payload", md5(col("id").cast("string")))
    df.write.format("pinot")
      .option("path", dir)
      .option("bloomFilterColumns", "payload")
      .mode("append").save()
    val meta = {
      val seg = {
        import scala.jdk.CollectionConverters._
        Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
          .filter(Files.isDirectory(_)).next().resolve("v3")
      }
      SegmentReader.open(seg).metadata
    }
    assert(meta.columns("payload").hasBloomFilter)
    assert(!meta.columns("tag").hasBloomFilter)
    val back = spark.read.format("pinot").load(dir)
    // present digest → exactly one row; absent digest → zero, served by
    // bloom pruning (payload is RAW high-cardinality: no dictionary)
    val probe = back.filter(col("payload") ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex("123")).count()
    assert(probe === 1L)
    assert(back.filter(col("payload") === "no-such-digest").count() === 0L)
    // rejected: bloom on a missing column fails at analysis time
    val err = intercept[Exception] {
      df.write.format("pinot").option("path", dir)
        .option("bloomFilterColumns", "nope").mode("append").save()
    }
    assert(err.getMessage.contains("bloomFilterColumns") ||
      err.getCause != null)
  }
}

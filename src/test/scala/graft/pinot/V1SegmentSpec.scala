package graft.pinot

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** v1/v2 segment layout (EXTENSION — the reference rejects pre-v3
  * segments, var_byte.rs:68-73, README.md:313,318): every index section
  * in its own file with Pinot's V1Constants naming. Section bytes are
  * identical to v3, so the whole decoder/index stack must work
  * unchanged; only addressing differs.
  */
class V1SegmentSpec extends SparkTestBase {

  private val n = 3000
  private val rnd = new scala.util.Random(11)
  private val ids = Array.tabulate(n)(i => i.toLong)
  private val team = Array.fill(n)(s"T${rnd.nextInt(20)}")
  private val name = Array.tabulate(n)(i => f"name$i%05d") // RAW strings
  private val score = Array.fill(n)(rnd.nextDouble() * 100)
  private val tagsCol = Array.tabulate(n)(i => Array(s"t${i % 7}", s"t${i % 3}"))

  private def writeSeg(dir: java.nio.file.Path, segName: String,
      from: Int, to: Int, version: Int): Unit =
    SegmentWriter.write(dir, "stats", segName, Seq(
      SegmentWriter.LongCol("id", ids.slice(from, to)),
      SegmentWriter.StringDictCol("team", team.slice(from, to)),
      SegmentWriter.StringRawCol("name", name.slice(from, to),
        VarByteChunkV4.Lz4LengthPrefixed, 1024),
      SegmentWriter.DoubleCol("score", score.slice(from, to)),
      SegmentWriter.StringMVCol("tags", tagsCol.slice(from, to))),
      invertedCols = Set("team"),
      nullVectors = Map("score" -> Array(1, 3)),
      bloomCols = Set("name"),
      formatVersion = version)

  test("v1 writer emits per-index files, no v3 dir, no psf") {
    val root = graft.TestDirs.create("v1seg")
    val seg = root.resolve("seg0")
    writeSeg(seg, "seg0", 0, 100, version = 1)
    assert(!Files.exists(seg.resolve("v3")))
    assert(!Files.exists(seg.resolve("columns.psf")))
    assert(!Files.exists(seg.resolve("index_map")))
    assert(Files.exists(seg.resolve("metadata.properties")))
    assert(Files.exists(seg.resolve("id.dict")))
    assert(Files.exists(seg.resolve("id.sv.sorted.fwd")), "ascending ids → sorted flavor")
    assert(Files.exists(seg.resolve("team.sv.unsorted.fwd")))
    assert(Files.exists(seg.resolve("name.sv.raw.fwd")))
    assert(Files.exists(seg.resolve("tags.mv.fwd")))
    assert(Files.exists(seg.resolve("team.bitmap.inv")))
    assert(Files.exists(seg.resolve("name.bloom.filter")))
    assert(Files.exists(seg.resolve("score.bitmap.nullvalue")))
  }

  test("v1 read-back is byte-identical to v3: values AND index sections") {
    val root = graft.TestDirs.create("v1seg_cmp")
    writeSeg(root.resolve("s1"), "s", 0, 500, version = 1)
    writeSeg(root.resolve("s3"), "s", 0, 500, version = 3)
    val r1 = SegmentReader.open(root.resolve("s1"))
    val r3 = SegmentReader.open(root.resolve("s3"))
    assert(r1.readLongColumn("id").toSeq === r3.readLongColumn("id").toSeq)
    assert(r1.readStringColumn("team").toSeq === r3.readStringColumn("team").toSeq)
    assert(r1.readStringColumn("name").toSeq === r3.readStringColumn("name").toSeq)
    assert(r1.readDoubleColumn("score").toSeq === r3.readDoubleColumn("score").toSeq)
    assert(r1.readStringMVColumn("tags").map(_.toSeq).toSeq ===
      r3.readStringMVColumn("tags").map(_.toSeq).toSeq)
    // secondary indexes resolve through the per-file layout
    assert(r1.invertedIndex("team").isDefined)
    assert(r1.invertedIndex("team").get.map(_.getCardinality).sum === 500)
    assert(r1.bloomFilter("name").isDefined)
    assert(r1.bloomFilter("name").get.mightContain(name(123)))
    assert(!r1.bloomFilter("name").get.mightContain("definitely-absent-xyz"))
    assert(r1.nullVector("score").get.toArray.toSeq === Seq(1, 3))
  }

  test("DSv2 reads a MIXED v1 + v3 table transparently") {
    val root = graft.TestDirs.create("v1seg_mixed")
    val tableDir = root.resolve("stats_OFFLINE")
    writeSeg(tableDir.resolve("seg0"), "seg0", 0, 1500, version = 1)
    writeSeg(tableDir.resolve("seg1"), "seg1", 1500, n, version = 3)
    val df = spark.read.format("pinot").load(tableDir.toString)
    assert(df.count() === n)
    val got = df.select("name", "team").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got(name(0)) === team(0))
    assert(got(name(n - 1)) === team(n - 1))
    // filters still prune/skip through v1 indexes (inverted + bloom);
    // results stay exact because filters remain residual
    assert(df.filter(col("team") === "NO_SUCH").count() === 0)
    val t0 = team.count(_ == "T7")
    assert(df.filter(col("team") === "T7").count() === t0)
    assert(df.filter(col("name") === name(700)).count() === 1)
    // MV explode across both layouts
    assert(df.select(explode(col("tags"))).count() === 2L * n)
    // nullable overlay: 2 null docs per segment (docIds 1 and 3)
    assert(df.filter(col("score").isNull).count() === 4)
  }
}

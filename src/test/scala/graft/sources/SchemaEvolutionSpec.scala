package graft.sources


import graft.SparkTestBase
import graft.pinot.SegmentWriter
import org.apache.spark.sql.functions._

/** Schema evolution (EXTENSION — Apache Pinot's add-a-column model; the
  * reference takes the first segment's schema as authoritative): the
  * table schema is the union of all segments' columns, and old segments
  * missing a later-added column serve its TYPE DEFAULT (Pinot's
  * defaultNullValue backfill).
  */
class SchemaEvolutionSpec extends SparkTestBase {

  private def mixedTable(): String = {
    val root = graft.TestDirs.create("pinot_evo")
    val tdir = root.resolve("players_OFFLINE")
    // old segment: written before `score`/`team` existed
    SegmentWriter.write(tdir.resolve("seg0"), "players", "seg0", Seq(
      SegmentWriter.LongCol("id", Array.tabulate(1000)(_.toLong)),
      SegmentWriter.StringDictCol("name", Array.tabulate(1000)(i => s"p$i"))))
    // new segment: post-evolution, two added columns
    SegmentWriter.write(tdir.resolve("seg1"), "players", "seg1", Seq(
      SegmentWriter.LongCol("id", Array.tabulate(500)(i => 1000L + i)),
      SegmentWriter.StringDictCol("name", Array.tabulate(500)(i => s"q$i")),
      SegmentWriter.DoubleCol("score", Array.tabulate(500)(_ * 1.5)),
      SegmentWriter.StringDictCol("team", Array.tabulate(500)(i => s"T${i % 4}"))))
    tdir.toString
  }

  test("union schema; old segments serve type defaults for added columns") {
    val df = spark.read.format("pinot").load(mixedTable())
    assert(df.schema.fieldNames.toSeq === Seq("id", "name", "score", "team"))
    assert(df.count() === 1500)
    // old rows carry the defaults, new rows their stored values
    assert(df.filter(col("id") < 1000).agg(sum("score")).head.getDouble(0) === 0.0)
    assert(df.filter(col("id") < 1000 && col("team") =!= "").count() === 0)
    assert(df.filter(col("id") === 1002).select("score", "team").head.toSeq
      === Seq(3.0, "T2"))
    // filters on the evolved column behave as if backfilled: defaults
    // participate (score = 0 matches old rows), positives only new rows
    assert(df.filter(col("score") === 0.0).count() === 1000 + 1)
    assert(df.filter(col("score") > 0.0).count() === 499)
    // grouping across the boundary
    val byTeam = df.groupBy("team").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTeam("") === 1000)
    assert(byTeam.filterNot(_._1.isEmpty).values.sum === 500)
    // aggregate pushdown must REFUSE evolved columns (a pushed MIN would
    // miss the old segments' defaults) — answer comes from the full scan
    assert(df.agg(min("score")).head.getDouble(0) === 0.0)
    assert(df.agg(count(col("team"))).head.getLong(0) === 1500)
  }

  test("evolved MV and decimal columns serve defaults from old segments") {
    val root = graft.TestDirs.create("pinot_evo_mv")
    val tdir = root.resolve("docs_OFFLINE")
    // old segment: scalar columns only
    SegmentWriter.write(tdir.resolve("seg0"), "docs", "seg0", Seq(
      SegmentWriter.LongCol("id", Array.tabulate(100)(_.toLong))))
    // new segment adds an MV column and a BIG_DECIMAL column
    SegmentWriter.write(tdir.resolve("seg1"), "docs", "seg1", Seq(
      SegmentWriter.LongCol("id", Array.tabulate(50)(i => 100L + i)),
      SegmentWriter.StringMVCol("tags",
        Array.tabulate(50)(i => Array(s"t${i % 3}", "x"))),
      SegmentWriter.BigDecimalRawCol("price",
        Array.tabulate(50)(i => new java.math.BigDecimal(i).setScale(2)))))
    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.schema.fieldNames.toSeq === Seq("id", "tags", "price"))
    assert(df.count() === 150)
    // old rows: MV default = empty array, decimal default = 0
    assert(df.filter(col("id") < 100 && size(col("tags")) =!= 0).count() === 0)
    assert(df.filter(col("id") < 100)
      .agg(sum("price")).head.getDecimal(0).signum === 0)
    // new rows keep their stored values through the same plan
    assert(df.filter(col("id") === 110).select(element_at(col("tags"), 1))
      .head.getString(0) === "t1")
    assert(df.filter(array_contains(col("tags"), "x")).count() === 50)
    assert(df.filter(col("id") === 107).select("price")
      .head.getDecimal(0).compareTo(new java.math.BigDecimal(7)) === 0)
  }

  test("conflicting types across segments fail loudly") {
    val root = graft.TestDirs.create("pinot_evo_bad")
    val tdir = root.resolve("bad_OFFLINE")
    SegmentWriter.write(tdir.resolve("seg0"), "bad", "seg0", Seq(
      SegmentWriter.LongCol("k", Array(1L))))
    SegmentWriter.write(tdir.resolve("seg1"), "bad", "seg1", Seq(
      SegmentWriter.StringDictCol("k", Array("x"))))
    val err = intercept[Exception] {
      spark.read.format("pinot").load(tdir.toString).collect()
    }
    assert(err.getMessage.contains("conflicting") ||
      (err.getCause != null && err.getCause.getMessage.contains("conflicting")))
  }
}

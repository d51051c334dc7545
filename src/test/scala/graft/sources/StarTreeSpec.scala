package graft.sources


import graft.SparkTestBase
import graft.pinot.{SegmentReader, SegmentWriter, StarTree}
import org.apache.spark.sql.functions._

/** Star-tree pre-aggregated index: writer section round-trip, and the
  * scan answering covered GROUP BYs from tree records (rolled up per
  * task) instead of the forward index.
  */
class StarTreeSpec extends SparkTestBase {

  // deterministic fact data: 4 teams × 7 years, values derived from i
  private val n = 5000
  private val team = Array.tabulate(n)(i => s"t${(i * 13) % 4}")
  private val year = Array.tabulate(n)(i => 2000 + (i * 3) % 7)
  private val hits = Array.tabulate(n)(i => (i * 31) % 97)
  private val score = Array.tabulate(n)(i => ((i * 17) % 53) / 4.0)

  private def brute(keyOf: Int => Any): Map[Any, (Long, Long, Double, Double)] =
    (0 until n).groupBy(keyOf).map { case (k, ds) =>
      k -> ((ds.size.toLong, ds.map(hits(_).toLong).sum,
        ds.map(score(_)).min, ds.map(score(_)).max))
    }

  test("writer section round-trips and pre-aggregates exactly") {
    val dir = graft.TestDirs.create("startree_rt")
    SegmentWriter.write(dir, "t", "s0", Seq(
      SegmentWriter.StringDictCol("team", team),
      SegmentWriter.IntCol("year", year),
      SegmentWriter.IntCol("hits", hits),
      SegmentWriter.DoubleCol("score", score)),
      starTree = Some(StarTree.Spec(Seq("team", "year"), Seq(
        StarTree.Metric("SUM", "hits"),
        StarTree.Metric("MIN", "score"),
        StarTree.Metric("MAX", "score")))))
    val r = SegmentReader.open(dir)
    assert(r.metadata.starTreeDims === Seq("team", "year"))
    assert(r.metadata.starTreeMetrics ===
      Seq("COUNT__*", "SUM__hits", "MIN__score", "MAX__score"))
    val tree = r.starTree.get
    val combos = team.zip(year).distinct.length
    assert(tree.dimIds.length === combos)
    // decode dims via the column dictionaries and check COUNT/SUM/MIN/MAX
    // against a brute-force group-by of the raw data
    val teams = r.dictionary("team") match {
      case graft.pinot.PinotDictionary.Strings(v) => v
      case other => fail(s"unexpected $other")
    }
    val years = r.dictionary("year") match {
      case graft.pinot.PinotDictionary.Ints(v) => v
      case other => fail(s"unexpected $other")
    }
    val expected = brute(i => (team(i), year(i)))
    tree.dimIds.zip(tree.values).foreach { case (ids, vals) =>
      val key = (teams(ids(0)), years(ids(1)))
      val (cnt, sh, mn, mx) = expected(key)
      assert(vals(0) === cnt, s"count $key")
      assert(vals(1) === sh, s"sum $key")
      assert(java.lang.Double.longBitsToDouble(vals(2)) === mn, s"min $key")
      assert(java.lang.Double.longBitsToDouble(vals(3)) === mx, s"max $key")
    }
  }

  private lazy val treeTable: String = {
    val root = graft.TestDirs.create("startree_dsv2")
    val tdir = root.resolve("facts_OFFLINE")
    import spark.implicits._
    (0 until n).map(i => (team(i), year(i), hits(i), score(i)))
      .toDF("team", "year", "hits", "score")
      .repartition(3)
      .write.format("pinot").mode("append")
      .option("starTree", "team,year:SUM(hits),MIN(score),MAX(score)")
      .save(tdir.toString)
    tdir.toString
  }

  private def leafOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().head.toString

  test("GROUP BY on both dims answers from the tree across segments") {
    val df = spark.read.format("pinot").load(treeTable)
    val agg = df.groupBy("team", "year").agg(
      count(lit(1)).as("c"), sum("hits").as("sh"),
      min("score").as("mn"), max("score").as("mx"))
    val leaf = leafOf(agg)
    assert(leaf.contains("starTree=true"), s"not star-tree answered:\n$leaf")
    val got = agg.collect().map(r => (r.getString(0), r.getInt(1)) ->
      ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got === brute(i => (team(i), year(i))))
  }

  test("GROUP BY a dim subset rolls tree records up in the task") {
    val df = spark.read.format("pinot").load(treeTable)
    val agg = df.groupBy("team").agg(
      count(lit(1)).as("c"), sum("hits").as("sh"),
      min("score").as("mn"), max("score").as("mx"))
    val leaf = leafOf(agg)
    assert(leaf.contains("starTree=true"), s"not star-tree answered:\n$leaf")
    val got = agg.collect().map(r => (r.getString(0): Any) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got === brute(team(_)))
  }

  test("global SUM (no grouping) answers from metadata, above the tree") {
    // r8: the writer-recorded exact column sum answers a filterless
    // global SUM from metadata alone — strictly better than the tree
    // (zero section reads); the tree still serves every grouped shape
    val df = spark.read.format("pinot").load(treeTable)
    val agg = df.agg(sum("hits").as("sh"), count(lit(1)).as("c"))
    val leaf = leafOf(agg)
    assert(leaf.contains("metaComplete=true"), s"not metadata-answered:\n$leaf")
    val r = agg.head()
    assert(r.getLong(0) === hits.map(_.toLong).sum)
    assert(r.getLong(1) === n.toLong)
  }

  test("COUNT(col) on a non-nullable column rides the tree as COUNT(*)") {
    val df = spark.read.format("pinot").load(treeTable)
    val agg = df.groupBy("year").agg(count(col("hits")).as("c"))
    val leaf = leafOf(agg)
    assert(leaf.contains("starTree=true"), s"not star-tree answered:\n$leaf")
    val got = agg.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === (0 until n).groupBy(year(_)).view.mapValues(_.size.toLong).toMap)
  }

  test("shapes the star-tree cannot cover route to the histogram path") {
    val df = spark.read.format("pinot").load(treeTable)
    // group column not a tree dim → dict-id histogram, not tree rollup
    val byHits = df.groupBy("hits").agg(sum("year").as("sy"))
    assert(leafOf(byHits).contains("histogram=true"), leafOf(byHits))
    assert(byHits.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      (0 until n).groupBy(hits(_)).view.mapValues(_.map(year(_).toLong).sum).toMap)
    // aggregate not a tree metric (SUM over a dim column) → histogram
    val sumYear = df.groupBy("team").agg(sum("year").as("sy"))
    assert(leafOf(sumYear).contains("histogram=true"), leafOf(sumYear))
    assert(sumYear.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      (0 until n).groupBy(team(_)).view.mapValues(_.map(year(_).toLong).sum).toMap)
    // a filter keeps the aggregation engine-side (tree rows can't answer it)
    val filtered = df.filter(col("year") === 2003)
      .groupBy("team").agg(sum("hits").as("sh"))
    assert(!leafOf(filtered).contains("starTree=true"), leafOf(filtered))
    assert(filtered.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      (0 until n).filter(year(_) == 2003).groupBy(team(_))
        .view.mapValues(_.map(hits(_).toLong).sum).toMap)
  }

  test("avg decomposes to pushed sum+count and stays exact") {
    val df = spark.read.format("pinot").load(treeTable)
    val agg = df.groupBy("team").agg(avg("hits").as("a"))
    // whether or not Spark chooses to push AVG's sum/count parts, the
    // value must match the brute force exactly
    val got = agg.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = (0 until n).groupBy(team(_)).view.mapValues(ds =>
      ds.map(hits(_).toLong).sum.toDouble / ds.size).toMap
    assert(got.keySet === exp.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - exp(k)) < 1e-12, k) }
  }

  test("writer rejects nullable or non-numeric star-tree columns") {
    import spark.implicits._
    val root = graft.TestDirs.create("startree_rej")
    val df = (0 until 10).map(i => (s"k$i", i)).toDF("k", "v")
    val e = intercept[Exception] {
      df.write.format("pinot").mode("append")
        .option("starTree", "k:SUM(k)")
        .save(root.resolve("bad_OFFLINE").toString)
    }
    assert(e.getMessage.contains("numeric") ||
      e.getCause != null && e.getCause.getMessage.contains("numeric"),
      e.getMessage)
  }
}

package graft.sources


import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

/** A one-segment table's aggregates are final as the segment answers
  * them, so Spark accepts complete pushdown through the histogram gate —
  * and the scan may then answer from metadata or the star-tree instead
  * of the histogram (a single-column DISTINCT from the dictionary). Each
  * shape must plan no final aggregate, say which path answered, and equal
  * the same query over a parquet copy.
  */
class LoneSegmentAggSpec extends SparkTestBase {

  private val n = 3000

  private lazy val data: DataFrame = {
    import spark.implicits._
    (0 until n).map(i => ("acme", s"t${(i * 13) % 4}", 2000 + (i * 3) % 7,
      (i * 31) % 97, ((i * 17) % 53) / 4.0))
      .toDF("tenant", "team", "year", "hits", "score")
  }

  private lazy val pinotDir: String = {
    val dir = graft.TestDirs.create("lone_seg_agg").resolve("facts_OFFLINE")
    data.coalesce(1).write.format("pinot").mode("append")
      .option("starTree", "team,year:SUM(hits),MIN(score),MAX(score)")
      .save(dir.toString)
    dir.toString
  }

  private lazy val parquetDir: String = {
    val dir = graft.TestDirs.create("lone_seg_agg_pq").resolve("facts")
    data.write.parquet(dir.toString)
    dir.toString
  }

  /** Runs `q` over the Pinot table, checks its scan description and
    * that no aggregate sits above the scan, and compares its rows with
    * the parquet copy's.
    */
  private def check(q: DataFrame => DataFrame, flags: String): Unit = {
    val pinot = q(spark.read.format("pinot").load(pinotDir))
    val plan = pinot.queryExecution.executedPlan
    val leaf = plan.collectLeaves().head.toString
    assert(leaf.contains("PinotAggScan(" + flags), leaf)
    assert(leaf.contains("segments=1"), leaf)
    assert(plan.collectFirst { case a: BaseAggregateExec => a }.isEmpty,
      s"final aggregate above a complete scan:\n$plan")
    val want = q(spark.read.parquet(parquetDir)).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(pinot.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq === want)
  }

  test("GROUP BY a key-pure column: complete, answered from metadata") {
    check(_.groupBy("tenant").agg(count(lit(1)).as("c"), sum("hits").as("sh")),
      "complete=true, metaComplete=false, starTree=false, " +
        "histogram=false, histFinal=true,")
  }

  test("star-tree GROUP BY: complete, answered by the star-tree") {
    check(_.groupBy("team").agg(sum("hits").as("sh"),
      min("score").as("mn"), max("score").as("mx")),
      "complete=true, metaComplete=false, starTree=true, " +
        "histogram=false, histFinal=true,")
  }

  test("single-column DISTINCT: complete, answered from the dictionary") {
    check(_.select("team").distinct(),
      "complete=true, metaComplete=false, starTree=false, " +
        "histogram=false, histFinal=false,")
  }

  test("grouped AVG: complete histogram") {
    check(_.groupBy("team").agg(avg("hits").as("a")),
      "complete=true, metaComplete=false, starTree=false, " +
        "histogram=true, histFinal=true,")
  }
}

package graft


import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Bucketing: the 100 TB technique for repeated fact-fact joins — both
  * tables pre-partitioned on the join key at write time, so the join
  * needs NO shuffle at read time (SortMergeJoin over co-located buckets).
  * This is what replaces the per-query shuffle of q18/q19-style joins
  * when they run daily over the same tables.
  */
class BucketedJoinSpec extends SparkTestBase {

  test("bucketed fact-fact join runs with zero shuffle exchanges") {
    val wh = graft.TestDirs.create("graft_warehouse").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

    Tables.load(s2, sfDir, "lineitem")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b")
      .saveAsTable("lineitem_b")
    Tables.load(s2, sfDir, "orders")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b")
      .saveAsTable("orders_b")

    val joined = s2.table("orders_b")
      .join(s2.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))

    joined.collect()
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    // the ONLY exchange allowed is the final single-partition agg shuffle
    // on o_orderstatus — the join itself must read co-located buckets
    val joinShuffles = allNodes(plan).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("orderkey") => e
    }
    assert(joinShuffles.isEmpty,
      s"bucketed join should not shuffle on the join key:\n$plan")

    // correctness: same result as the plain parquet join
    val expected = Tables.load(s2, sfDir, "orders")
      .join(Tables.load(s2, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("o_orderstatus").collect().toSeq
    val got = joined.orderBy("o_orderstatus").collect().toSeq
    assert(got === expected)

    s2.sql("DROP TABLE IF EXISTS lineitem_b")
    s2.sql("DROP TABLE IF EXISTS orders_b")
  }
}

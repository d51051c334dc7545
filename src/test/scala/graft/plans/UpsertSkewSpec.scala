package graft.plans

import graft.SparkTestBase
import graft.sources.pinot.PinotUpsert
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Skew evidence for the upsert view (r14 VERDICT #6): the view's ONE
  * hash aggregate claims AQE-friendliness under hot keys because the
  * LatestByAgg partials combine MAP-SIDE — a key carrying 50% of the
  * table crosses the shuffle as ONE summary row per map partition, not
  * as its raw rows. This spec proves it from SHUFFLE RECORD COUNTS
  * (deterministic, unlike task wall-times on a shared box): task work in
  * the reduce stage is proportional to records read, so a bounded, even
  * record spread IS the no-straggler proof.
  */
class UpsertSkewSpec extends SparkTestBase {

  import spark.implicits._

  test("upsert view under 50% key skew: the hot key shuffles O(map partitions) rows, reducers stay even") {
    val nRows = 40000
    val nCold = 1000 // cold keys 1..1000, ~20 versions each
    val dir = graft.TestDirs.create("upsert_skew")
      .resolve("skew_REALTIME").toString
    // every EVEN row versions the hot key 0 (50% of the table)
    (0 until nRows).map { i =>
      val k = if (i % 2 == 0) 0L else 1L + (i / 2) % nCold
      (k, i.toLong, s"p$i")
    }.toDF("k", "ver", "payload")
      .repartition(8)
      .write.format("pinot").mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")

    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0) {
          reads.add(m.shuffleReadMetrics.recordsRead)
          ()
        }
      }
    }
    // keep all 4 reduce partitions so the spread assertion sees >1 task
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      // collect() on the SAME Dataset whose plan is inspected below
      // (.as[...] would build a second queryExecution and leave this
      // one's metrics at zero)
      // per-segment planning: the 40k-row table is within the one-task
      // row floor, so a default read is one task with no exchange at all
      // (pinned below); the skew claim is about the multi-task shuffle
      val df = spark.read.format("pinot").option("splitTargetBytes", "0")
        .load(dir).select("k", "ver").as[(Long, Long)]
      val got = df.collect()
      assert(got.length === nCold + 1)
      assert(got.toMap.apply(0L) === nRows - 2, "hot key winner wrong")

      // the exchange moved partial summaries, not raw rows: <= one row
      // per (key, map partition), far below the 40k input rows
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case other => other.children
        }
        p +: kids.flatMap(nodes)
      }
      val written = nodes(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
          e.metrics("shuffleRecordsWritten").value
      }.sum
      assert(written > 0, "expected a hash exchange with write metrics")
      assert(written <= 32L * (nCold + 1),
        s"$written shuffle records — partials must bound the hot key " +
          "to one row per map partition")
      assert(written < nRows / 3,
        s"$written shuffle records for $nRows input rows — map-side " +
          "combine is not compressing")

      // reduce-side spread: poll until task-end events stop arriving,
      // then assert no reducer reads a disproportionate share (the hot
      // key adds <= #maps records to ONE reducer — noise, not a
      // straggler)
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val n = reads.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      import scala.jdk.CollectionConverters._
      val perTask = reads.asScala.toSeq.sorted
      assert(perTask.nonEmpty, "no reduce tasks observed")
      val max = perTask.last
      val median = perTask(perTask.length / 2)
      assert(max <= 3 * median + 64,
        s"reduce-task read spread $perTask — the hot key's reducer " +
          "dominates; map-side partials are not bounding it")

      // default planning: one task, the view's aggregate runs with no
      // exchange, same answer
      val small = spark.read.format("pinot").load(dir)
        .select("k", "ver").as[(Long, Long)]
      assert(small.collect().toMap === got.toMap)
      assert(nodes(small.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) === 0,
        small.queryExecution.executedPlan)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }
}

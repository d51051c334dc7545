package graft.plans

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.pinot.SegmentWriter
import graft.sources.pinot.{PinotScan, PinotSplit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Exchange-free plans for Pinot tables within the one-task row floor:
  * the scan is one partition, [[SinglePartitionScanStrategy]] reports it
  * as `SinglePartition`, and Spark adds no exchange above it. Each
  * answer is checked against the per-segment reference plan
  * (`splitTargetBytes=0`) or a parquet copy of the same rows.
  */
class SinglePartitionScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val n = 60000
  private val segments = 4

  private def needle(k: Int): String = f"zqx$k%02dq"

  /** Four segments below the floor, written with the olap index options
    * (inverted, bloom, range, text, sorted, star-tree). */
  private lazy val eventsDir: String = {
    val rnd = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      val words = Seq.fill(6)("w" + rnd.nextInt(5000)).mkString(" ")
      val body = if (i % 997 == 0) s"$words ${needle(i % 8)}" else words
      (rnd.nextInt(n / 4), f"C${rnd.nextInt(25)}%02d",
        Seq("desktop", "mobile", "tablet", "tv")(rnd.nextInt(4)),
        rnd.nextInt(100), 2L * rnd.nextInt(1000000000), body, 1000L + i * 10L)
    }
    val dir = graft.TestDirs.create("single_part")
      .resolve("events_OFFLINE").toString
    spark.sparkContext.parallelize(rows, segments)
      .toDF("user_id", "country", "device", "clicks", "metric", "body", "ts")
      .write.format("pinot").mode("append")
      .option("invertedIndexColumns", "user_id")
      .option("bloomFilterColumns", "metric")
      .option("rangeIndexColumns", "metric")
      .option("textIndexColumns", "body")
      .option("sortedColumn", "ts")
      .option("starTree", "country,device:SUM(clicks),MAX(metric)")
      .save(dir)
    dir
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  private def exchanges(df: DataFrame): Int =
    nodes(df).count(_.isInstanceOf[ShuffleExchangeExec])

  private def pinotScans(df: DataFrame): Seq[BatchScanExec] =
    nodes(df).collect { case b: BatchScanExec => b }

  private def wrapped(df: DataFrame): Int =
    nodes(df).count(_.isInstanceOf[SinglePartitionScanExec])

  /** Runs a job that carries `key` and waits until a SparkListener saw
    * it: the listener bus delivers in order, so every event posted
    * before it has been delivered too. */
  private def flushListener(key: String): Unit = {
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) != null)
          seen.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
  }

  /** The rows `df` collects and the number of jobs it ran, counted by a
    * SparkListener. */
  private def collectCountingJobs(df: DataFrame): (Array[Row], Int) = {
    val key = "graft.test.flush"
    flushListener(key)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties == null || e.properties.getProperty(key) == null)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val rows = df.collect()
      flushListener(key)
      (rows, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the fixture is below the row floor but above the byte floor") {
    val segs = graft.sources.pinot.PinotSegments.discover(eventsDir)
      .map(_.toString)
    assert(segs.length === segments)
    assert(segs.map(PinotScan.segmentDocs).sum === n.toLong)
    assert(PinotScan.fitsOneTask(segs))
    // byte sizing alone (index files included) would have split it
    assert(segs.map(PinotScan.segmentBytes).sum > (1L << 20))
    assert(PinotScan.planSplits(segs, PinotScan.DefaultSplitTargetBytes)
      .toSeq === Seq(PinotSplit.wholeSegments(segs)))
  }

  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "inverted_eq" -> (_.filter(col("user_id") === 1234)
      .agg(count(lit(1)).as("c"), sum("clicks").as("s"))),
    "bloom_miss" -> (_.filter(col("metric") === 777777777L)
      .agg(count(lit(1)).as("c"), sum("clicks").as("s"))),
    "range" -> (_.filter(col("metric") >= 500000000L &&
        col("metric") <= 520000000L)
      .agg(count(lit(1)).as("c"), sum("clicks").as("s"))),
    "text_match" -> (_.filter(col("body").contains(needle(3)))
      .agg(count(lit(1)).as("c"))),
    "agg_sum_avg_max" -> (_.filter(col("device") === "tablet")
      .agg(sum("clicks"), avg("user_id"), max("metric"))),
    "startree_group" -> (_.groupBy("country").agg(sum("clicks").as("s"))
      .orderBy(desc("s"), asc("country")).limit(5)),
    "dict_distinct" -> (_.select("device").distinct().orderBy("device")))

  for ((name, q) <- shapes) {
    test(s"$name runs as one stage of one job, same answer as per-segment") {
      val df = q(spark.read.format("pinot").load(eventsDir))
      val (got, jobs) = collectCountingJobs(df)
      assert(exchanges(df) === 0, df.queryExecution.executedPlan)
      assert(jobs === 1, s"jobs run: $jobs\n${df.queryExecution.executedPlan}")
      assert(wrapped(df) === 1)
      assert(pinotScans(df).map(_.inputPartitions.length) === Seq(1))
      val ref = q(spark.read.format("pinot")
        .option("splitTargetBytes", "0").load(eventsDir))
      val want = ref.collect()
      assert(exchanges(ref) > 0, "the per-segment reference keeps its exchange")
      assert(got.toSeq === want.toSeq)
      assert(got.nonEmpty)
    }
  }

  test("star-tree group-by reads the star-tree through one grouped partition") {
    val df = spark.read.format("pinot").load(eventsDir)
      .groupBy("country").agg(sum("clicks").as("s"))
    val scan = pinotScans(df).head
    assert(scan.scan.description().contains("starTree=true"))
    assert(scan.inputPartitions.length === 1)
  }

  /** One segment, k in [0, 1000) and x = k % 7. */
  private lazy val factDir: String = {
    val dir = graft.TestDirs.create("single_fact").resolve("fact_OFFLINE")
    SegmentWriter.write(dir.resolve("seg0"), "fact", "seg0", Seq(
      SegmentWriter.IntCol("k", Array.tabulate(1000)(identity)),
      SegmentWriter.IntCol("x", Array.tabulate(1000)(_ % 7))))
    dir.toString
  }

  for (aqe <- Seq("true", "false")) {
    test(s"runtime filter dropping the only split still answers one row (AQE $aqe)") {
      val dimDir = graft.TestDirs.create("single_dim")
        .resolve("dim.parquet").toString
      Seq((5000, "keep"), (5001, "keep"), (7, "drop")).toDF("dk", "tag")
        .write.parquet(dimDir)
      withConf("spark.sql.adaptive.enabled", aqe) {
        val fact = spark.read.format("pinot").load(factDir)
        val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
        val df = fact.join(broadcast(dim), col("k") === col("dk"))
          .agg(count(lit(1)).as("c"), sum("x").as("s"))
        val got = df.collect()
        assert(got.toSeq === Seq(Row(0L, null)))
        val scan = pinotScans(df).head
        assert(scan.runtimeFilters.nonEmpty,
          s"expected a runtime filter on the fact scan:\n${df.queryExecution.executedPlan}")
        assert(scan.inputRDD.getNumPartitions === 0, "the split was dropped")
        val wrapper = nodes(df).collectFirst { case w: SinglePartitionScanExec => w }
        assert(wrapper.isDefined, df.queryExecution.executedPlan)
        assert(wrapper.get.execute().getNumPartitions === 1)
        assert(exchanges(df) === 0, df.queryExecution.executedPlan)
      }
    }
  }

  test("storage-partitioned join of small key-grouped tables is never wrapped") {
    val root = graft.TestDirs.create("single_spj")
    def writeTable(table: String, rows: Int): Unit =
      (0 until 4).foreach { r =>
        SegmentWriter.write(root.resolve(s"${table}_OFFLINE").resolve(s"seg$r"),
          table, s"seg$r", Seq(
            SegmentWriter.IntCol("region_id", Array.fill(rows)(r)),
            SegmentWriter.IntCol("v", Array.tabulate(rows)(identity))))
      }
    writeTable("facts", 300)
    writeTable("dims", 100)
    withConf("spark.sql.sources.v2.bucketing.enabled", "true") {
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        val facts = spark.read.format("pinot").load(s"$root/facts_OFFLINE")
        val dims = spark.read.format("pinot").load(s"$root/dims_OFFLINE")
        val joined = facts.join(dims, "region_id")
          .groupBy("region_id").agg(count(lit(1)).as("cnt"))
        val rows = joined.orderBy("region_id").collect()
        assert(rows.map(_.getLong(1)).toSeq === Seq.fill(4)(300L * 100))
        assert(wrapped(joined) === 0, joined.queryExecution.executedPlan)
        val join = nodes(joined).collectFirst {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }
        assert(join.isDefined)
        val below = join.get.collect { case e: ShuffleExchangeExec => e }
        assert(below.isEmpty, joined.queryExecution.executedPlan)
      }
    }
  }

  test("a union of single-partition scans still merges across its inputs") {
    val root = graft.TestDirs.create("single_union")
    def table(name: String, from: Int): String = {
      val dir = root.resolve(s"${name}_OFFLINE")
      SegmentWriter.write(dir.resolve("seg0"), name, "seg0", Seq(
        SegmentWriter.IntCol("v", Array.tabulate(100)(from + _))))
      dir.toString
    }
    val a = spark.read.format("pinot").load(table("a", 0))
    val b = spark.read.format("pinot").load(table("b", 50))
    val distinct = a.union(b).distinct()
    assert(wrapped(distinct) === 2)
    assert(distinct.count() === 150L)
    val perKey = a.union(a).groupBy("v").count()
    assert(perKey.collect().map(_.getLong(1)).toSet === Set(2L))
  }

  test("a readStream of a small Pinot table is never wrapped") {
    val root = graft.TestDirs.create("single_stream")
    val table = root.resolve("s_OFFLINE")
    SegmentWriter.write(table.resolve("seg0"), "s", "seg0", Seq(
      SegmentWriter.IntCol("v", Array.tabulate(100)(identity))))
    val q = spark.readStream.format("pinot").load(table.toString)
      .agg(count(lit(1)).as("c"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("single_stream_tail")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("single_stream_tail").head().getLong(0) === 100L)
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution
        .executedPlan
      assert(collectWithSubqueries(plan) {
        case w: SinglePartitionScanExec => w }.isEmpty, plan)
      assert(collectWithSubqueries(plan) {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
      }.nonEmpty, plan)
    } finally q.stop()
  }

  /** Four segments below the floor whose segment order is the REVERSE
    * of their ts order: the first segment holds the largest values. */
  private lazy val (descDir: String, parquetDir: String) = {
    val per = 2500
    val rows = (0 until segments).flatMap { s =>
      val block = segments - 1 - s
      (block * per until (block + 1) * per).map(i => (10L * i + 3, i % 97))
    }
    val root = graft.TestDirs.create("single_desc")
    val pinot = root.resolve("desc_OFFLINE").toString
    spark.sparkContext.parallelize(rows, segments).toDF("ts", "v")
      .write.format("pinot").mode("append").option("sortedColumn", "ts")
      .save(pinot)
    val pq = root.resolve("desc.parquet").toString
    rows.toDF("ts", "v").write.parquet(pq)
    (pinot, pq)
  }

  test("grouped top-N and offset over out-of-order segments match parquet") {
    val segs = graft.sources.pinot.PinotSegments.discover(descDir)
      .map(_.toString)
    val metas = segs.map(PinotScan.segmentMeta)
    assert(metas.length === segments)
    assert(metas.head.column("ts").minValue.get.toLong >
      metas.last.column("ts").maxValue.get.toLong,
      "segment order must not be value order")
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "asc limit" -> (_.orderBy("ts").limit(17)),
      "asc offset limit" -> (_.orderBy("ts").offset(2600).limit(23)),
      "desc limit" -> (_.orderBy(desc("ts")).limit(11)),
      "desc offset limit" -> (_.orderBy(desc("ts")).offset(40).limit(9)))
    for ((name, q) <- queries) {
      val df = q(spark.read.format("pinot").load(descDir))
      val got = df.collect().toSeq
      val want = q(spark.read.parquet(parquetDir)).collect().toSeq
      assert(got === want, name)
      assert(got.nonEmpty, name)
      val parts = pinotScans(df).flatMap(_.inputPartitions)
      assert(parts === Seq(PinotSplit.wholeSegments(segs)), s"$name: $parts")
      assert(exchanges(df) === 0, s"$name:\n${df.queryExecution.executedPlan}")
    }
  }
}

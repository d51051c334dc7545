package graft.plans

import graft.SparkTestBase
import graft.sources.pinot.PinotUpsert
import org.apache.spark.sql.functions._

/** The TRANSPARENT upsert read path ([[UpsertViewRule]]): a plain
  * `spark.read.format("pinot").load(dir)` — and catalog SQL — of a
  * table carrying `upsert.properties` returns the upsert VIEW; raw
  * segment-level reads require the explicit
  * `.option("upsertView", "raw")`; writes stay raw; type-widening
  * strategies reject loudly instead of silently mis-typing or silently
  * reading raw.
  */
class UpsertViewRuleSpec extends SparkTestBase {

  import spark.implicits._

  private def freshTable(name: String): String =
    graft.TestDirs.create("upsert_rule")
      .resolve(s"${name}_REALTIME").toString

  private def writeVersions(dir: String): Unit = {
    Seq((1L, 1L, "old"), (1L, 2L, "new"), (2L, 1L, "solo"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
  }

  test("a plain load of a configured table returns the upsert view") {
    val dir = freshTable("tv")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val got = spark.read.format("pinot").load(dir)
      .select("k", "ver", "payload").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L, "new"), (2L, 1L, "solo")))
    // schema face unchanged: same columns, same order, same types
    assert(spark.read.format("pinot").load(dir).columns.toSeq ===
      Seq("k", "ver", "payload"))
  }

  test("raw segment inspection needs the explicit escape hatch") {
    val dir = freshTable("tvr")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val raw = spark.read.format("pinot").option("upsertView", "raw")
      .load(dir)
    assert(raw.count() === 3) // every version visible
    assert(spark.read.format("pinot").load(dir).count() === 2)
  }

  test("the view composes under SQL over the reader, filters, and self-joins") {
    val dir = freshTable("tvc")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val v = spark.read.format("pinot").load(dir)
    // filter above the view: the superseded (1, "old") must not resurface
    assert(v.filter(col("payload") =!= "new").as[(Long, Long, String)]
      .collect().toSeq === Seq((2L, 1L, "solo")))
    // self-join: both sides independently deduplicate
    val j = v.as("a").join(v.as("b"), Seq("k")).count()
    assert(j === 2)
  }

  test("catalog SQL reads the view too") {
    val dir = freshTable("tvs")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val root = java.nio.file.Paths.get(dir).getParent.toString
    spark.conf.set("spark.sql.catalog.upscat",
      "graft.sources.pinot.PinotCatalog")
    spark.conf.set("spark.sql.catalog.upscat.data_dir", root)
    val got = spark.sql(
      "SELECT k, payload FROM upscat.default.tvs ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "new"), (2L, "solo")))
  }

  test("delete markers apply on the transparent path") {
    val dir = freshTable("tvd")
    Seq((1L, 1L, "ins", false), (1L, 2L, "del", true),
      (2L, 1L, "del", true), (2L, 2L, "re", false))
      .toDF("k", "ver", "payload", "gone")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver", deleteCol = Some("gone"))
    val got = spark.read.format("pinot").load(dir)
      .select("k", "payload").as[(Long, String)].collect().toSeq
    assert(got === Seq((2L, "re")))
  }

  test("appends to a configured table write raw versions; the view sees them") {
    val dir = freshTable("tvw")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    // the write target must NOT be rewritten to the view
    Seq((2L, 9L, "newer")).toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    val got = spark.read.format("pinot").load(dir)
      .select("k", "ver", "payload").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L, "new"), (2L, 9L, "newer")))
    assert(spark.read.format("pinot").option("upsertView", "raw")
      .load(dir).count() === 4)
  }

  test("SQL INSERT INTO an upsert table appends raw versions (target not rewritten)") {
    // InsertIntoStatement is the pre-conversion write shape SQL inserts
    // plan through: the rule must exempt its target in the analyzer pass
    // where the relation first resolves, or ResolveInsertInto never
    // matches and the INSERT fails analysis (r14 ADVICE).
    val dir = freshTable("tvinsert")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val root = java.nio.file.Paths.get(dir).getParent.toString
    spark.conf.set("spark.sql.catalog.upsins",
      "graft.sources.pinot.PinotCatalog")
    spark.conf.set("spark.sql.catalog.upsins.data_dir", root)
    spark.sql("INSERT INTO upsins.default.tvinsert VALUES (2, 9, 'newer')")
    // the view sees the merged result; raw storage grew by one version
    val got = spark.sql(
      "SELECT k, ver, payload FROM upsins.default.tvinsert ORDER BY k")
      .as[(Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 2L, "new"), (2L, 9L, "newer")))
    assert(spark.read.format("pinot").option("upsertView", "raw")
      .load(dir).count() === 4)
  }

  test("type-widening partial strategies reject loudly on the transparent path") {
    val dir = freshTable("tvu")
    writeVersions(dir)
    PinotUpsert.configurePartial(dir, Seq("k"), "ver",
      Map("payload" -> "UNION"))
    val ex = intercept[Exception] {
      spark.read.format("pinot").load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("widen")),
      s"expected the type-widening rejection, got: $ex")
    // the explicit Scala API still serves the widened view
    val got = PinotUpsert.latest(spark, dir)
      .select("k", "payload").as[(Long, Seq[String])].collect().toSet
    assert(got === Set((1L, Seq("new", "old")), (2L, Seq("solo"))))
  }

  test("partial merges ride the transparent path when types are preserved") {
    val dir = freshTable("tvp")
    Seq((1L, 1L, "a", 10L), (1L, 2L, "b", 20L), (2L, 1L, "c", 5L))
      .toDF("k", "ver", "ow", "inc")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configurePartial(dir, Seq("k"), "ver",
      Map("inc" -> "INCREMENT"))
    val got = spark.read.format("pinot").load(dir)
      .select("k", "ver", "ow", "inc").as[(Long, Long, String, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L, "b", 30L), (2L, 1L, "c", 5L)))
  }

  test("NULL comparison values reject loudly in BOTH modes") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    // FULL
    val dir = freshTable("tvnf")
    Seq((1L, Some(1L), "a"), (1L, None, "b"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot")
      .option("nullableColumns", "ver")
      .mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val exF = intercept[Exception] {
      spark.read.format("pinot").load(dir).collect()
    }
    assert(messages(exF).exists(_.contains("NULL ver")),
      s"FULL: expected the NULL-cmp rejection, got: $exF")
    // PARTIAL — identical contract (r13 ADVICE: count_distinct used to
    // misreport NULLs as a duplicate-tie)
    val dir2 = freshTable("tvnp")
    Seq((1L, Some(1L), "a"), (1L, None, "b"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot")
      .option("nullableColumns", "ver")
      .mode("append").save(dir2)
    PinotUpsert.configurePartial(dir2, Seq("k"), "ver", Map.empty)
    val exP = intercept[Exception] {
      spark.read.format("pinot").load(dir2).collect()
    }
    assert(messages(exP).exists(_.contains("NULL ver")),
      s"PARTIAL: expected the NULL-cmp rejection, got: $exP")
  }

  test("partial tie rejection is per-strategy: undefined merges reject, tie-insensitive ones pass") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    // OVERWRITE (the default) under a tie at max: reject
    val d1 = freshTable("tvt1")
    Seq((1L, 5L, "x", 1L), (1L, 5L, "y", 2L)).toDF("k", "ver", "ow", "inc")
      .coalesce(1).write.format("pinot").mode("append").save(d1)
    PinotUpsert.configurePartial(d1, Seq("k"), "ver",
      Map("inc" -> "INCREMENT"))
    val ex1 = intercept[Exception] {
      spark.read.format("pinot").load(d1).collect()
    }
    assert(messages(ex1).exists(_.contains("undefined under a tie")))
    // ONLY tie-insensitive strategies: the same duplicate is
    // well-defined and must NOT reject
    val d2 = freshTable("tvt2")
    Seq((1L, 5L, 1L), (1L, 5L, 2L)).toDF("k", "ver", "inc")
      .coalesce(1).write.format("pinot").mode("append").save(d2)
    PinotUpsert.configurePartial(d2, Seq("k"), "ver",
      Map("inc" -> "INCREMENT"))
    val got = spark.read.format("pinot").load(d2)
      .select("k", "ver", "inc").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 5L, 3L)))
    // IGNORE under a tie at MIN: reject (a tie at max alone is fine for
    // IGNORE, but OVERWRITE-by-default columns would catch it first —
    // isolate with an all-IGNORE config)
    val d3 = freshTable("tvt3")
    Seq((1L, 5L, "x"), (1L, 5L, "y"), (1L, 9L, "z"))
      .toDF("k", "ver", "ig")
      .coalesce(1).write.format("pinot").mode("append").save(d3)
    PinotUpsert.configurePartial(d3, Seq("k"), "ver", Map("ig" -> "IGNORE"))
    val ex3 = intercept[Exception] {
      spark.read.format("pinot").load(d3).collect()
    }
    assert(messages(ex3).exists(_.contains("undefined under a tie")))
  }

  test("key-only filters push below the view's aggregate into the Pinot scan") {
    // Filter(key = x) over the view references only grouping columns, so
    // Catalyst's PushPredicateThroughNonJoin moves it below the
    // aggregate and V2 pushdown lands it in the scan — a point lookup on
    // an upsert table reads only the key's segments, not the table.
    // (Filters on VALUE columns must stay above — they could resurrect a
    // superseded version — and do, because they reference agg output.)
    val dir = freshTable("tvpush")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val q = spark.read.format("pinot").load(dir).filter(col("k") === 2L)
    assert(q.as[(Long, Long, String)].collect().toSeq ===
      Seq((2L, 1L, "solo")))
    val leaves = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString)
    // the Pinot scan reports its pushed filters as skipFilters=[...]
    assert(leaves.exists(_.contains("skipFilters=[EqualTo(k,2)")),
      s"key filter did not reach the scan:\n${leaves.mkString("\n")}")
  }

  test("the view over a KEY-PARTITIONED table plans ZERO exchanges") {
    // key-partitioned ingest (partitionBy: one key value per segment)
    // reports KeyGroupedPartitioning from segment min==max metadata, and
    // the view's single aggregate clusters on exactly that key - so the
    // WHOLE upsert view runs shuffle-free: scan -> partial -> final agg,
    // no Exchange anywhere. This is the production Pinot layout (Kafka
    // key-partitioned upsert streams), and the 100 TB plan shape.
    val dir = freshTable("tvkg")
    (0 until 40).map(i => (i.toLong % 4, i.toLong, s"p$i"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").partitionBy("k")
      .mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    // self-sufficient against shared-session conf drift: the exchange
    // elision requires v2 bucketing (Spark 4 default true, but suites
    // toggle it)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val q = spark.read.format("pinot").load(dir)
    val got = q.select("k", "ver", "payload").as[(Long, Long, String)]
      .collect().toSet
    assert(got === Set((0L, 36L, "p36"), (1L, 37L, "p37"),
      (2L, 38L, "p38"), (3L, 39L, "p39")))
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
    val exchanges = nodes(q.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    assert(exchanges.isEmpty,
      s"upsert view over a key-partitioned table shuffled: $exchanges")
  }

  test("a raw readStream of an upsert table rejects loudly; the escape hatch tails raw") {
    val dir = freshTable("tvstream")
    writeVersions(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val work = graft.TestDirs.create("tvstream_ck")
    val ex = intercept[Exception] {
      val q = spark.readStream.format("pinot").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", work.resolve("c1").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // generous bound: the full-suite run shares the box with parallel
      // suites — a premature timeout here reads as "no exception"
      val ended = q.awaitTermination(180000)
      q.exception.foreach(throw _)
      assert(ended, "raw upsert stream neither failed nor terminated")
    }
    assert(messages(ex).exists(_.contains("upsert table")),
      s"expected the raw-stream rejection, got: $ex")
    // the explicit escape hatch tails every raw version
    val rawQ = spark.readStream.format("pinot")
      .option("upsertView", "raw").load(dir)
      .groupBy().count()
      .writeStream.format("memory").queryName("tvstream_raw")
      .outputMode("complete")
      .option("checkpointLocation", work.resolve("c2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(rawQ.awaitTermination(180000))
    assert(spark.table("tvstream_raw").collect().head.getLong(0) === 3L)
  }

  test("partial upsert + delete markers: revive merges from scratch") {
    val dir = freshTable("tvpd")
    Seq(
      (1L, 1L, 10L, false), // pre-delete history (discarded)
      (1L, 2L, 0L, true),   // delete tombstone
      (1L, 3L, 5L, false),  // revive
      (1L, 4L, 7L, false),
      (2L, 1L, 3L, false),  // never deleted: merges everything
      (2L, 2L, 4L, false),
      (3L, 1L, 9L, false),  // deleted last: invisible
      (3L, 2L, 0L, true))
      .toDF("k", "ver", "inc", "gone")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configurePartial(dir, Seq("k"), "ver",
      Map("inc" -> "INCREMENT"), deleteCol = Some("gone"))
    val got = spark.read.format("pinot").load(dir)
      .select("k", "ver", "inc").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // key 1: only post-delete versions 3..4 sum (5+7); key 3 gone
    assert(got.toSeq === Seq((1L, 4L, 12L), (2L, 2L, 7L)))
  }
}

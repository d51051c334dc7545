package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** `df.write.format("pinot")` — write path extension (reference is
  * read-only; write support is its roadmap item).
  */
class PinotWriteSpec extends SparkTestBase {

  test("write + read round-trip across all supported types") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write")
      .resolve("roundTrip_OFFLINE").toString
    val df = spark.range(0, 5000, 1, 3).select(
      col("id").as("k"),
      (col("id") % 100).cast("int").as("i"),
      (col("id") * 0.5).cast("float").as("f"),
      (col("id") * 0.25).as("d"),
      concat(lit("cat"), (col("id") % 7).cast("string")).as("dict_str"),
      concat(lit("uid"), col("id").cast("string")).as("raw_str"))
    df.write.format("pinot").mode("append").save(dir)

    val back = spark.read.format("pinot").load(dir)
    // one segment per input partition (strict planning surfaces the
    // segment count; default planning may group the tiny segments)
    assert(spark.read.format("pinot").option("splitTargetBytes", "0")
      .load(dir).rdd.getNumPartitions === 3)
    assert(back.count() === 5000)
    val a = df.orderBy("k").collect().toSeq
    val b = back.orderBy("k").select("k", "i", "f", "d", "dict_str", "raw_str")
      .collect().toSeq
    assert(a === b)
  }

  test("JSON + BIG_DECIMAL columns: write, read back, query") {
    val dir = graft.TestDirs.create("pinot_jsondec")
      .resolve("jsondec_OFFLINE").toString
    val df = spark.range(0, 3000, 1, 2).select(
      col("id").as("k"),
      // high-card JSON (RAW) and low-card JSON (dict)
      concat(lit("""{"k":"""), (col("id") % 997).cast("string"), lit("}"))
        .as("props"),
      concat(lit("""{"t":"""), (col("id") % 3).cast("string"), lit("}"))
        .as("tag"),
      // exact decimal from integers: (id % 1000) * 0.25, scale 4
      ((col("id") % 1000).cast("decimal(12,2)") *
        lit("0.25").cast("decimal(6,2)")).as("amount"))
    df.write.format("pinot").mode("append")
      .option("jsonColumns", "props,tag").save(dir)

    // stored data types are JSON / BIG_DECIMAL in segment metadata
    val segs = graft.sources.pinot.PinotSegments.discover(dir)
    val meta = graft.pinot.SegmentMetadata.fromFile(
      segs.head.resolve("metadata.properties"))
    assert(meta.column("props").dataType === graft.pinot.PinotType.PJson)
    assert(meta.column("tag").dataType === graft.pinot.PinotType.PJson)
    assert(meta.column("tag").hasDictionary, "low-card JSON dict-encodes")
    assert(!meta.column("props").hasDictionary, "high-card JSON goes RAW")
    assert(meta.column("amount").dataType === graft.pinot.PinotType.PBigDecimal)

    val back = spark.read.format("pinot").load(dir)
    assert(back.schema("amount").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 18))
    assert(back.schema("props").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(back.count() === 3000)
    // decimal values survive exactly (scale widened 4 → 18)
    val sums = back.agg(
      sum(col("amount") * lit(10000).cast("decimal(6,0)")).as("s")).head()
    val expect = (0 until 3000).map(i => (i % 1000) * 25L * 100).sum
    assert(sums.getDecimal(0).longValueExact() === expect)
    // JSON payloads query through Spark's json functions
    val kSum = back
      .select(get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .agg(sum("kv")).head().getLong(0)
    assert(kSum === (0 until 3000).map(_ % 997).map(_.toLong).sum)
    val tags = back
      .select(get_json_object(col("tag"), "$.t").cast("int").as("t"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(tags === Seq(0, 1, 2))
  }

  test("decoder-level JSON dict/raw + BigDecimal serialization roundtrip") {
    import graft.pinot._
    val dir = graft.TestDirs.create("pinot_jd2").resolve("seg0")
    val decs = Array(
      new java.math.BigDecimal("0"),
      new java.math.BigDecimal("-12345.6789"),
      new java.math.BigDecimal("99999999999999.999999999999999999"),
      new java.math.BigDecimal("0.000000000000000001"),
      new java.math.BigDecimal("-0.01"))
    SegmentWriter.write(dir, "jd2", "seg0", Seq(
      SegmentWriter.JsonDictCol("jd", Array(
        """{"a":1}""", """{"a":2}""", """{"a":1}""", """{"a":2}""", """{"a":1}""")),
      SegmentWriter.JsonRawCol("jr", Array(
        """{"b":1}""", """{"b":2}""", """{"b":3}""", """{"b":4}""", """{"b":5}""")),
      SegmentWriter.BigDecimalRawCol("dec", decs)))
    val r = SegmentReader.open(dir)
    assert(r.readStringColumn("jd").toSeq === Seq(
      """{"a":1}""", """{"a":2}""", """{"a":1}""", """{"a":2}""", """{"a":1}"""))
    assert(r.readStringColumn("jr").toSeq === Seq(
      """{"b":1}""", """{"b":2}""", """{"b":3}""", """{"b":4}""", """{"b":5}"""))
    assert(r.readBigDecimalColumn("dec").toSeq === decs.toSeq)
    // serialization is bit-faithful incl. scale
    decs.foreach { d =>
      assert(PinotBigDecimal.deserialize(PinotBigDecimal.serialize(d)) === d)
    }
    // scale outside [0, 18] is rejected loudly
    intercept[PinotFormatException] {
      PinotBigDecimal.serialize(new java.math.BigDecimal("1E+5").setScale(-2))
    }
  }

  test("append adds segments; in-flight tmp dirs are never read") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write2")
      .resolve("appendable_OFFLINE").toString
    val mk = (from: Int, to: Int) => spark.range(from, to, 1, 1)
      .select(col("id").as("k"), (col("id") % 5).cast("int").as("v"))
    mk(0, 100).write.format("pinot").mode("append").save(dir)
    mk(100, 250).write.format("pinot").mode("append").save(dir)
    val back = spark.read.format("pinot").load(dir)
    assert(back.count() === 250)
    assert(back.agg(sum("k")).head().getLong(0) === (0L until 250L).sum)
    // a leftover tmp_ dir (simulated failed task) must be invisible
    val tmp = java.nio.file.Paths.get(dir, "tmp_dead_00001")
    graft.pinot.SegmentWriter.write(tmp, "appendable", "dead",
      Seq(graft.pinot.SegmentWriter.IntCol("v", Array(999))))
    assert(spark.read.format("pinot").load(dir).count() === 250)
  }

  test("large partitions roll into multiple segments (bounded memory)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_roll")
      .resolve("rolled_OFFLINE").toString
    // 1 partition × 2.5M rows > MaxRowsPerSegment (1M) → 3 segments
    spark.range(0, 2500000, 1, 1)
      .select(col("id").as("k"), (col("id") % 1000).cast("int").as("v"))
      .write.format("pinot").mode("append").save(dir)
    val back = spark.read.format("pinot").load(dir)
    assert(spark.read.format("pinot").option("splitTargetBytes", "0")
      .load(dir).rdd.getNumPartitions === 3, "expected 3 rolled segments")
    // default planning SPLITS the 1M-row segments into doc-range slices
    assert(back.rdd.getNumPartitions > 3, "large segments should split")
    assert(back.count() === 2500000L)
    assert(back.agg(sum("k")).head().getLong(0) ===
      (0L until 2500000L).sum)
  }

  test("streaming sink: micro-batch epochs become readable segments") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TestDirs.create("pinot_stream")
      .resolve("streamed_REALTIME").toString
    val ckpt = graft.TestDirs.create("pinot_stream_ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "s")
      .writeStream.format("pinot")
      .option("path", dir)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("pinot").load(dir)
    assert(back.count() === 3)
    assert(back.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("BOOLEAN/TIMESTAMP/BINARY columns round-trip through the DSv2") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write_ext")
      .resolve("extTypes_OFFLINE").toString
    val df = spark.range(0, 2000, 1, 2).select(
      col("id").as("k"),
      (col("id") % 3 === 0).as("flag"),
      // ms-aligned timestamps: Pinot's storage grain is epoch millis
      timestamp_millis(lit(1700000000000L) + col("id") * 1000).as("ts"),
      encode(concat(lit("blob"), col("id").cast("string")), "UTF-8").as("payload"))
    df.write.format("pinot").mode("append").save(dir)

    val back = spark.read.format("pinot").load(dir)
    assert(back.schema.map(f => f.name -> f.dataType.simpleString).toMap ===
      Map("k" -> "bigint", "flag" -> "boolean", "ts" -> "timestamp",
        "payload" -> "binary"))
    val a = df.orderBy("k").collect().toSeq
    val b = back.orderBy("k").select("k", "flag", "ts", "payload").collect().toSeq
    assert(a.map(_.toSeq.map {
      case x: Array[Byte] => x.toSeq; case x => x
    }) === b.map(_.toSeq.map {
      case x: Array[Byte] => x.toSeq; case x => x
    }))
    // filters/aggregates over the new types execute through the scan
    assert(back.filter(col("flag")).count() ===
      (0 until 2000).count(_ % 3 == 0))
  }

  test("multi-value (array) columns round-trip through the DSv2 + explode") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write_mv")
      .resolve("mvTypes_OFFLINE").toString
    // 10k docs × ~4 entries: flattened entries cross the 8192 batch size
    // several times over (regression: child vectors must be reserved to
    // the batch's ENTRY count, not the doc count)
    val df = spark.range(0, 10000, 1, 2).select(
      col("id").as("k"),
      sequence(lit(0), (col("id") % 4).cast("int")).as("nums"),
      array(concat(lit("t"), (col("id") % 10).cast("string")),
        lit("common")).as("tags"))
    df.write.format("pinot").mode("append").save(dir)

    val back = spark.read.format("pinot").load(dir)
    assert(back.schema("nums").dataType.simpleString === "array<int>")
    assert(back.schema("tags").dataType.simpleString === "array<string>")
    val a = df.orderBy("k").collect().map(_.toSeq.map {
      case s: Seq[_] => s; case x => x
    }).toSeq
    val b = back.orderBy("k").select("k", "nums", "tags").collect().map(_.toSeq.map {
      case s: Seq[_] => s; case x => x
    }).toSeq
    assert(a === b)
    // explode over the segment-backed array column
    val exploded = back.select(explode(col("nums")).as("v"))
      .groupBy().agg(count(lit(1)).as("c"), sum("v").as("s")).head()
    val expectC = (0 until 10000).map(i => i % 4 + 1).sum
    val expectS = (0 until 10000).map(i => (0 to i % 4).sum).sum
    assert(exploded.getLong(0) === expectC)
    assert(exploded.getLong(1) === expectS)
  }

  test("replayed commit is idempotent; task abort reclaims tmp dirs") {
    import graft.sources.pinot.{PinotCommitMessage, PinotBatchWrite, PinotDataWriter}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types._
    val dir = graft.TestDirs.create("pinot_idem")
      .resolve("idem_OFFLINE")
    Files.createDirectories(dir)
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    def writeTask(): PinotCommitMessage = {
      val w = new PinotDataWriter(dir.toString, "idem", schema, "q1_e0", 0, 0L)
      (0 until 10).foreach(i => w.write(
        InternalRow(i.toLong, UTF8String.fromString(s"v$i"))))
      w.commit().asInstanceOf[PinotCommitMessage]
    }
    val bw = new PinotBatchWrite(dir.toString, "idem", schema, "q1_e0")
    val m1 = writeTask()
    bw.commit(Array(m1))
    // epoch replay: the task re-runs (same deterministic names), commit
    // re-fires — must neither throw nor duplicate segments
    val m2 = writeTask()
    bw.commit(Array(m2))
    val segs = Files.list(dir).iterator()
    var segCount = 0
    while (segs.hasNext) {
      val e = segs.next()
      val p = e.getFileName.toString
      assert(!p.startsWith("tmp"), s"leaked tmp dir $p")
      if (Files.isDirectory(e)) segCount += 1 // the manifest FILE is not a segment
    }
    assert(segCount === 1, "replayed epoch must not duplicate segments")
    assert(spark.read.format("pinot").load(dir.toString).count() === 10)

    // abort path: flushed tmp dirs of a failed task are deleted
    val w3 = new PinotDataWriter(dir.toString, "idem", schema, "q2_e0", 1, 1L)
    (0 until 5).foreach(i => w3.write(
      InternalRow(i.toLong, UTF8String.fromString(s"x$i"))))
    w3.commit() // flush to tmp, but never driver-commit
    w3.abort()
    assert(!Files.list(dir).iterator().asScala
      .exists(_.getFileName.toString.startsWith("tmp")), "abort leaked tmp")
  }

  test("partitionBy write yields key-pure segments that drive SPJ reads") {
    import org.apache.spark.sql.execution.SparkPlan
    val root = graft.TestDirs.create("pinot_pb")
    def writeTable(table: String, rows: Int, valCol: String): String = {
      val dir = root.resolve(s"${table}_OFFLINE").toString
      spark.range(0, rows, 1, 2).select(
        (col("id") % 4).cast("int").as("region_id"),
        (col("id") % 97).cast("int").as(valCol))
        .repartition(col("region_id"))
        .write.format("pinot").partitionBy("region_id").mode("append").save(dir)
      dir
    }
    val factsDir = writeTable("pbfacts", 4000, "amount")
    val dimsDir = writeTable("pbdims", 800, "weight")

    val conf = spark.conf
    // NOTE: restore is UNSET, not set-to-captured: conf.get with a
    // fallback reads Spark's registered default through the fallback
    // string, and "restoring" that explicitly disabled v2 bucketing for
    // every later suite on the shared session (r14: flaked the upsert
    // ZERO-exchange plan pin). The shared test session never sets this
    // key, so unset IS the prior state.
    val prevThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.read.format("pinot").load(factsDir)
        .join(spark.read.format("pinot").load(dimsDir), "region_id")
        .groupBy("region_id").agg(count(lit(1)).as("cnt"))
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.inputPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allNodes(q.plan)
        case other => other +: other.children.flatMap(allNodes)
      }
      val join = allNodes(joined.queryExecution.executedPlan).find(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      val shufflesBelowJoin = join.toSeq.flatMap(allNodes).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(shufflesBelowJoin === 0,
        s"written-partitioned tables should SPJ:\n${joined.queryExecution.executedPlan}")
      val rows = joined.orderBy("region_id").collect()
      assert(rows.length === 4)
      assert(rows.forall(_.getLong(1) === 1000L * 200))
    } finally {
      conf.unset("spark.sql.sources.v2.bucketing.enabled")
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("unsupported column types fail cleanly") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write3")
      .resolve("bad_OFFLINE").toString
    val df = Seq((1L, Map("a" -> 1))).toDF("k", "m")
    val e = intercept[Exception](
      df.write.format("pinot").mode("append").save(dir))
    assert(e.getMessage.contains("m") ||
      e.getCause != null && e.getCause.getMessage.contains("m"))
  }

  test("nulls are rejected (pinot columns are non-nullable)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write4")
      .resolve("nulls_OFFLINE").toString
    val df = Seq(Some(1L), None).toDF("k")
    intercept[Exception](df.write.format("pinot").mode("append").save(dir))
  }

  test("sortedColumn physically orders segments and enables ranging") {
    import spark.implicits._
    val dir = graft.TestDirs.create("pinot_write5")
      .resolve("sorted_OFFLINE").toString
    // deliberately SHUFFLED ingest order — without the option, isSorted
    // would be false and sorted ranging could never apply
    val rnd = new scala.util.Random(5)
    val rows = rnd.shuffle((0 until 20000).toList)
      .map(i => (i.toLong * 3, s"v$i"))
    rows.toDF("k", "s")
      .repartition(2)
      .write.format("pinot").mode("append")
      .option("sortedColumn", "k")
      .save(dir)
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_)) // skip the manifest file
      .foreach { seg =>
        val meta = graft.pinot.SegmentReader.open(seg).metadata
        assert(meta.columns("k").isSorted,
          s"segment ${seg.getFileName} must record isSorted for k")
      }
    // read-back correct and range filters correct through the ranged scan
    val back = spark.read.format("pinot").load(dir)
    assert(back.count() === 20000)
    assert(back.filter(col("k") >= 30000L && col("k") < 30300L).count() ===
      rows.count(r => r._1 >= 30000L && r._1 < 30300L))
    val got = back.filter(col("k") === 2997L).select("s").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("v999"))
  }

  test("a sketch kind the column type does not take fails on the driver, before any job") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = graft.TestDirs.create("pinot_write_sketch")
      .resolve("sk_OFFLINE").toString
    val df = Seq((1, 10), (2, 20)).toDF("id", "v")
    val sc = spark.sparkContext
    val flushKey = "graft.test.flush"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(flushKey) != null)
          flushed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val e = intercept[graft.pinot.PinotFormatException](
        df.write.format("pinot").mode("append")
          .option("sketchColumns", "v:freq8").save(dir))
      assert(e.getMessage.contains("v (freq8)"), e.getMessage)
      // the listener bus delivers in order: once a tagged job's start is
      // seen, every job the write could have started has been counted
      sc.setLocalProperty(flushKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(flushKey, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get === 0, "the rejected write started a Spark job")
    } finally sc.removeSparkListener(l)
  }
}

package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.streaming.Trigger

/** The actual deployment shape, END TO END: `readStream.format("pinot")`
  * (the DSv2 micro-batch tail over a segment directory) feeding the
  * custom stateful operators, with checkpointed stop/restarts BETWEEN
  * segment landings. PinotStreamReadSpec proves the source's
  * exactly-once tail alone and CheckpointRecoverySpec proves the
  * operators' state recovery alone (over MemoryStream); these specs
  * prove the COMPOSITION — source offsets AND operator state must both
  * survive the same restart, or the assertions below are unreachable.
  *
  * Each `Trigger.AvailableNow` run is a full stop/restart from the
  * shared checkpoint: the funnel's step-3 event and the session's
  * extension land in segments written AFTER the first run stopped, so a
  * lost offset double-reads (duplicate state transitions) and lost
  * state emits the wrong row shape.
  */
class PinotStreamStatefulSpec extends SparkTestBase {

  import EventPipelines._

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L)

  test("Pinot tail -> statefulFunnel -> sink: offsets and funnel state survive restarts") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_sf")
    val tableDir = root.resolve("events_OFFLINE").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def land(evs: Event*): Unit =
      evs.toSeq.toDS().repartition(1)
        .write.format("pinot").mode("append").save(tableDir)
    def runOnce(): Unit = {
      val src = spark.readStream.format("pinot").load(tableDir).as[Event]
      val q = statefulFunnel(src, windowMs = 60L * 60000)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream run did not terminate")
    }

    // run 1: anchor + step-2 land; the funnel window is OPEN at stop
    land(Event(0, ts(0), 1, "signup", 0), Event(1, ts(10), 1, "view", 0))
    runOnce()
    // run 2 (restart): step 3 + a watermark pusher land in NEW segments —
    // max_step 3 requires the restored anchor AND reading only the new
    // segments (a re-read of segment 1 would not break this shape, but a
    // lost offset that skips the new segment loses the purchase)
    land(Event(2, ts(20), 1, "purchase", 0),
      Event(99, ts(300), 9, "signup", 0))
    runOnce()
    // run 3 (restart): push the watermark further so the pending timeout
    // fires and user 1 resolves
    land(Event(100, ts(600), 9, "view", 0))
    runOnce()

    val got = spark.read.parquet(out).as[FunnelOut].collect()
      .filter(_.user_id == 1L).map(f => (f.max_step, f.step1_ms)).toSet
    assert(got === Set((3, ts(0).getTime)),
      "funnel state or source offsets were lost across the Pinot-tail restarts")
  }

  test("Pinot tail -> sketch_build delta -> stored-section merge: the streaming lambda merge survives restarts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_lambda")
    val coldDir = root.resolve("cold_OFFLINE").toString
    val tailDir = root.resolve("tail_OFFLINE").toString
    val ckpt = root.resolve("ckpt").toString
    val payloadOut = root.resolve("delta_payload").toString
    // COLD: 50 uids with a stored hll16 section — the year of already-
    // sketched segments
    (0 until 200).map(i => (i.toLong, (i % 50).toLong))
      .toDF("event_id", "uid")
      .repartition(2).write.format("pinot").mode("append")
      .option("sketchColumns", "uid:hll16")
      .save(coldDir)
    def landTail(uids: Range): Unit =
      uids.map(u => (u.toLong * 7, u.toLong)).toDF("event_id", "uid")
        .repartition(1).write.format("pinot").mode("append").save(tailDir)
    // the DELTA half as a STREAM: the micro-batch tail folds every row
    // it has ever seen into ONE sketch_build payload (complete-mode
    // global aggregate — the buffer lives in the state store, so a
    // restart that loses it under-counts and the assertion below reds)
    def runOnce(): Unit = {
      val src = spark.readStream.format("pinot").load(tailDir)
      val q = src
        .agg(graft.functions.SketchAgg.build(
          when(col("uid").isNotNull, xxhash64(col("uid"))), "hll16")
          .as("sketch"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(payloadOut)
        }
        .start()
      assert(q.awaitTermination(120000), "stream run did not terminate")
    }
    // run 1: 40 fresh uids land and are folded into the delta payload
    landTail(100 until 140)
    runOnce()
    // run 2 (restart): 20 MORE fresh uids in a new segment — the merged
    // payload must still cover run 1's uids (restored aggregate state)
    // AND the new segment (restored source offsets)
    landTail(200 until 220)
    runOnce()
    // the lambda merge: stored cold sections ∪ the stream's latest delta
    // payload, folded by one merge aggregate
    val merged = graft.sources.pinot.PinotSketches
      .segmentSketches(spark, coldDir, "uid").select(col("sketch"))
      .union(spark.read.parquet(payloadOut).select(col("sketch")))
      .agg(graft.functions.SketchAgg.merge(col("sketch"), "hll16"))
      .head().getLong(0)
    // batch twin over the same physical tables (cold ∪ tail raw rows)
    val twin = spark.read.format("pinot").load(coldDir).select("uid")
      .union(spark.read.format("pinot").load(tailDir).select("uid"))
      .distinct().count()
    assert(twin === 110L) // 50 cold + 40 run-1 + 20 run-2, all disjoint
    assert(merged === twin,
      "streaming lambda merge diverged from the batch twin — source " +
        "offsets or the sketch aggregate's state were lost across the restart")
  }

  test("Pinot tail -> statefulSessionize -> sink: an open session survives restarts") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_ss")
    val tableDir = root.resolve("events_OFFLINE").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def land(evs: Event*): Unit =
      evs.toSeq.toDS().repartition(1)
        .write.format("pinot").mode("append").save(tableDir)
    def runOnce(): Unit = {
      val src = spark.readStream.format("pinot").load(tableDir).as[Event]
      val q = statefulSessionize(src)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream run did not terminate")
    }

    // run 1: two events of one session; session OPEN at stop
    land(Event(0, ts(0), 1, "view", 1.0), Event(1, ts(10), 1, "view", 2.0))
    runOnce()
    // run 2 (restart): a same-session extension lands in a new segment —
    // lost state would split (0,10) from (20); lost offsets would lose it
    land(Event(2, ts(20), 1, "view", 4.0), Event(99, ts(1000), 9, "view", 0))
    runOnce()
    // run 3 (restart): watermark pusher fires the session timeout
    land(Event(100, ts(2000), 9, "view", 0))
    runOnce()

    val got = spark.read.parquet(out).as[SessionOut].collect()
      .filter(_.user_id == 1L)
      .map(s => (s.start_ms, s.end_ms, s.n_events, s.sum_value)).toSet
    assert(got === Set((ts(0).getTime, ts(20).getTime, 3, 7.0)),
      "session state or source offsets were lost across the Pinot-tail restarts")
  }

  test("Pinot tail -> latestStream (FULL + delete markers): the streaming upsert view survives restarts and equals the batch twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.pinot.PinotUpsert
    val root = graft.TestDirs.create("pinot_upstream")
    val tableDir = root.resolve("ups_REALTIME").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def land(rows: (Long, Long, String, Boolean)*): Unit =
      rows.toSeq.toDF("k", "ver", "payload", "gone").repartition(1)
        .write.format("pinot").mode("append").save(tableDir)
    // config must exist before the first stream run reads it
    land((1L, 1L, "a1", false), (2L, 1L, "b1", false))
    PinotUpsert.configure(tableDir, Seq("k"), "ver",
      deleteCol = Some("gone"))
    var batchSeq = 0L
    def runOnce(): Unit = {
      val q = PinotUpsert.latestStream(spark, tableDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          batchSeq += 1
          df.withColumn("_seq", lit(batchSeq))
            .write.mode("append").parquet(out)
        }
        .start()
      assert(q.awaitTermination(120000), "stream run did not terminate")
    }

    runOnce()
    // run 2 (restart): key 1 superseded; key 2 DELETED; key 3 appears.
    // Lost state would let the old (1, ver 1) win later; lost offsets
    // would miss the delete.
    land((1L, 5L, "a5", false), (2L, 6L, "b-del", true),
      (3L, 1L, "c1", false))
    runOnce()
    // run 3 (restart): key 2 REVIVES past its tombstone; a LATE version
    // of key 1 (ver 3 < merged ver 5) arrives and must lose silently
    land((2L, 9L, "b9", false), (1L, 3L, "a3-late", false))
    runOnce()

    // the streaming view = the last emission per key
    val updates = spark.read.parquet(out)
    val last = updates
      .groupBy("k")
      .agg(graft.functions.LatestByAgg.latestBy(
        struct(col("ver"), col("payload"), col("gone")), col("_seq"))
        .as("w"))
      .select(col("k"), col("w.v.ver"), col("w.v.payload"),
        col("w.v.gone"))
      .as[(Long, Long, String, Boolean)].collect().toSet
    assert(last === Set((1L, 5L, "a5", false), (2L, 9L, "b9", false),
      (3L, 1L, "c1", false)),
      "upsert stream state or source offsets were lost across restarts")
    // the delete EMITTED as a retraction in run 2 (marker true)
    val kTwo = updates.filter(col("k") === 2L)
      .select("ver", "gone").as[(Long, Boolean)].collect().toSet
    assert(kTwo.contains((6L, true)),
      "the winning delete did not emit its retraction row")
    // batch twin: the final streaming states equal the batch view
    val twin = spark.read.format("pinot").load(tableDir)
      .select("k", "ver", "payload").as[(Long, Long, String)]
      .collect().toSet
    assert(twin === Set((1L, 5L, "a5"), (2L, 9L, "b9"), (3L, 1L, "c1")))
  }

  test("Pinot tail -> latestStream (PARTIAL): strategies merge statefully; tombstones retract; revive starts from scratch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.pinot.PinotUpsert
    val root = graft.TestDirs.create("pinot_upstreamp")
    val tableDir = root.resolve("upsp_REALTIME").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def land(rows: (Long, Long, String, Long, Boolean)*): Unit =
      rows.toSeq.toDF("k", "ver", "ow", "inc", "gone").repartition(1)
        .write.format("pinot").mode("append").save(tableDir)
    land((1L, 1L, "x1", 10L, false), (2L, 1L, "y1", 1L, false))
    PinotUpsert.configurePartial(tableDir, Seq("k"), "ver",
      Map("inc" -> "INCREMENT"), deleteCol = Some("gone"))
    var batchSeq = 0L
    def runOnce(): Unit = {
      val q = PinotUpsert.latestStream(spark, tableDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          batchSeq += 1
          df.withColumn("_seq", lit(batchSeq))
            .write.mode("append").parquet(out)
        }
        .start()
      assert(q.awaitTermination(120000), "stream run did not terminate")
    }

    runOnce()
    // run 2 (restart): key 1 increments across the restart boundary
    // (state-kept sum 10+5); key 2 is tombstoned
    land((1L, 2L, "x2", 5L, false), (2L, 3L, "", 0L, true))
    runOnce()
    // run 3 (restart): key 2 revives — merges FROM SCRATCH (inc = 7,
    // not 1+7)
    land((2L, 5L, "y5", 7L, false))
    runOnce()

    val updates = spark.read.parquet(out)
    val last = updates
      .groupBy("k")
      .agg(graft.functions.LatestByAgg.latestBy(
        struct(col("ver"), col("ow"), col("inc"), col("gone")),
        col("_seq")).as("w"))
      .select(col("k"), col("w.v.ver"), col("w.v.ow"), col("w.v.inc"),
        col("w.v.gone"))
      .as[(Long, Long, String, Long, Boolean)].collect().toSet
    assert(last === Set(
      (1L, 2L, "x2", 15L, false),
      (2L, 5L, "y5", 7L, false)),
      "partial upsert stream state was lost or revive did not reset")
    // the tombstone EMITTED with the marker and NULL merged columns
    val tomb = updates.filter(col("k") === 2L && col("gone"))
      .select("ver", "ow").collect()
    assert(tomb.length == 1 && tomb(0).getLong(0) == 3L &&
      tomb(0).isNullAt(1),
      "the PARTIAL tombstone did not emit (ver=delete cmp, merged cols NULL)")
    // batch twin on the final table state
    val twin = spark.read.format("pinot").load(tableDir)
      .select("k", "ver", "ow", "inc").as[(Long, Long, String, Long)]
      .collect().toSet
    assert(twin === Set((1L, 2L, "x2", 15L), (2L, 5L, "y5", 7L)))
  }
}

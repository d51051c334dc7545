package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured-Streaming behavior of the EventPipelines transforms:
  * batch/stream result equivalence, watermark late-data handling, and the
  * custom flatMapGroupsWithState sessionizer.
  */
class StreamingSpec extends SparkTestBase {

  import EventPipelines._

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 00:00 UTC

  private def eventsDf(rows: Seq[Event]) = {
    import spark.implicits._
    rows.toDF()
  }

  private val sample = Seq(
    Event(0, ts(1), 1, "view", 1.0), Event(1, ts(5), 1, "click", 2.0),
    Event(2, ts(62), 1, "view", 3.0), Event(3, ts(65), 2, "buy", 4.0),
    Event(4, ts(130), 1, "view", 5.0), Event(5, ts(131), 2, "view", 6.0))

  test("hourlyByType: stream (complete mode) matches batch on same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = hourlyByType(mem.toDF())
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly_stream")
      .orderBy("hour_start", "event_type").collect().toSeq
    val batch = hourlyByType(eventsDf(sample))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = hourlyByType(mem.toDF())
      .writeStream.format("memory").queryName("late_stream")
      .outputMode("append").start()
    try {
      mem.addData(Event(0, ts(10), 1, "view", 1.0))
      q.processAllAvailable()
      // advance event time far beyond hour 0 + watermark → closes window 0
      mem.addData(Event(1, ts(200), 1, "view", 1.0))
      q.processAllAvailable()
      // this event is 3+ hours late; watermark passed its window → dropped
      mem.addData(Event(2, ts(11), 1, "view", 100.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(400), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("late_stream").collect()
      val hour0 = rows.filter(_.getString(0) == "2024-01-01 00:00:00")
      assert(hour0.length === 1)
      assert(hour0.head.getLong(2) === 1L, "late event must not be counted")
    } finally q.stop()
  }

  test("attribution: stream-stream interval join with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = attribution(mem.toDF())
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "view", 1.0),
        Event(2, ts(10), 1, "purchase", 5.0), // within 30 min → attributed
        Event(3, ts(45), 1, "purchase", 7.0), // 45 min later → NOT
        Event(4, ts(5), 2, "purchase", 3.0)) // no prior view → NOT
      q.processAllAvailable()
      // advance both watermarks far past the join interval so append emits
      mem.addData(
        Event(5, ts(600), 8, "view", 1.0),
        Event(6, ts(700), 9, "purchase", 1.0))
      q.processAllAvailable()
      val got = spark.table("attr_stream")
        .select("user_id", "view_id", "purchase_id", "latency_ms")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set((1L, 1L, 2L, 600000L)))
    } finally q.stop()
    // the same code in batch agrees
    val batch = attribution(eventsDf(Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(10), 1, "purchase", 5.0),
      Event(3, ts(45), 1, "purchase", 7.0),
      Event(4, ts(5), 2, "purchase", 3.0))))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch === Set((1L, 1L, 2L, 600000L)))
  }

  test("sessionize: stream session_window matches batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = sessionize(mem.toDF())
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_stream")
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = sessionize(eventsDf(sample))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed === batch)
    // user 1: events at minute 1,5 (one session), 62, 130 (two more)
    assert(streamed.count(_.getLong(0) == 1L) === 3)
  }

  test("statefulSessionize emits sessions after the gap timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = statefulSessionize(mem.toDS())
      .writeStream.format("memory").queryName("fmgws_stream")
      .outputMode("append").start()
    try {
      mem.addData(Event(0, ts(1), 1, "view", 1.0), Event(1, ts(5), 1, "click", 2.0))
      q.processAllAvailable()
      // watermark (event time - 10min) must pass last+30min to time out
      mem.addData(Event(2, ts(60), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(120), 2, "view", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("fmgws_stream").as[SessionOut].collect()
      val u1 = sessions.filter(_.user_id == 1)
      assert(u1.length === 1)
      assert(u1.head.n_events === 2)
      assert(u1.head.sum_value === 3.0)
      assert(u1.head.start_ms === ts(1).getTime)
      assert(u1.head.end_ms === ts(5).getTime)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = dedupByEventId(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // duplicate delivery inside one batch AND across batches
      mem.addData(Event(10, ts(1), 1, "view", 1.0),
        Event(10, ts(1), 1, "view", 1.0), Event(11, ts(2), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Event(10, ts(3), 1, "view", 1.0)) // replayed late copy
      q.processAllAvailable()
      mem.addData(Event(12, ts(4), 2, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(10L, 11L, 12L), "each event_id exactly once")
    } finally q.stop()
  }

  test("latestWins maintains the upsert view across batches (q87 in motion)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = latestWins(mem.toDS())
      .writeStream.format("memory").queryName("upsert_stream")
      .outputMode("update").start()
    try {
      mem.addData(Event(1, ts(10), 1, "view", 1.0),
        Event(2, ts(20), 1, "click", 2.0), // newer version of key 1
        Event(3, ts(5), 2, "view", 3.0))
      q.processAllAvailable()
      // out-of-order ingest: an OLDER version must NOT displace the
      // current winner; a newer one must
      mem.addData(Event(4, ts(15), 1, "buy", 9.0)) // older than event 2
      mem.addData(Event(5, ts(30), 2, "buy", 4.0)) // newer for key 2
      q.processAllAvailable()
      // update-mode memory sink appends each emission; the view is the
      // LAST emission per key
      val view = spark.table("upsert_stream")
        .orderBy(desc("n_versions")) // last emission has the max count
        .collect().groupBy(_.getLong(0))
        .map { case (k, rows) => k -> rows.maxBy(_.getLong(5)) }
      assert(view(1L).getLong(2) === 2L, "key 1 winner stays event 2")
      assert(view(1L).getString(3) === "click")
      assert(view(1L).getLong(5) === 3L, "3 versions ingested for key 1")
      assert(view(2L).getLong(2) === 5L, "key 2 advanced to event 5")
      assert(view(2L).getLong(5) === 2L)
      // agreement with the batch aggregate (q87's semantics): replaying
      // everything in batch yields the same winners
      val all = Seq(Event(1, ts(10), 1, "view", 1.0),
        Event(2, ts(20), 1, "click", 2.0), Event(3, ts(5), 2, "view", 3.0),
        Event(4, ts(15), 1, "buy", 9.0), Event(5, ts(30), 2, "buy", 4.0))
      val batch = all.toDF()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_versions"),
          max_by(struct(col("event_id"), col("event_type")),
            struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.event_id").as("id"),
          col("n_versions"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(batch(1L) === ((2L, 3L)))
      assert(batch(2L) === ((5L, 2L)))
    } finally q.stop()
  }

  test("statefulFunnel resolves each user at window close (q134 semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val win = 60L * 60000 // 60-minute funnel window for test scale
    val mem = MemoryStream[Event]
    val q = statefulFunnel(mem.toDS(),
        steps = Seq("signup", "view", "purchase"), windowMs = win)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        // u1: textbook completion inside the window
        Event(0, ts(0), 1, "signup", 0), Event(1, ts(10), 1, "view", 0),
        Event(2, ts(20), 1, "purchase", 0),
        // u2: purchase BEFORE the first view — stops at step 2
        Event(3, ts(0), 2, "signup", 0), Event(4, ts(10), 2, "purchase", 0),
        Event(5, ts(20), 2, "view", 0),
        // u3: never signs up — must age out SILENTLY (no step-0 row;
        // the batch q134 emits one only because batch is a closed world)
        Event(6, ts(5), 3, "view", 0), Event(7, ts(10), 3, "purchase", 0),
        // u4: view at the SAME instant as signup must not chain
        Event(8, ts(0), 4, "signup", 0), Event(9, ts(0), 4, "view", 0),
        Event(10, ts(30), 4, "purchase", 0))
      q.processAllAvailable()
      // push the watermark far past every deadline (and u3's GC horizon)
      mem.addData(Event(99, ts(300), 9, "signup", 0))
      q.processAllAvailable()
      mem.addData(Event(100, ts(600), 9, "view", 0))
      q.processAllAvailable()
      val got = spark.table("funnel_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got.filter(_._1 <= 4) === Set(
        (1L, 3, ts(0).getTime), (2L, 2, ts(0).getTime),
        (4L, 1, ts(0).getTime)))
      assert(!got.exists(_._1 == 3L), "anchorless user must age out silently")
      // the watermark-pusher user resolves too, once ITS window closes
      // (its view at ts 600 is outside its own 60-min window → step 1)
      assert(got.filter(_._1 == 9L) === Set((9L, 1, ts(300).getTime)))
    } finally q.stop()
  }

  test("statefulFunnel non-strict mode chains same-instant events (q139 parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = statefulFunnel(mem.toDS(),
        steps = Seq("signup", "view", "purchase"),
        windowMs = 60L * 60000, strictIncrease = false)
      .writeStream.format("memory").queryName("funnel_ns_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(0, ts(0), 1, "signup", 0), Event(1, ts(0), 1, "view", 0),
        Event(2, ts(0), 1, "purchase", 0))
      q.processAllAvailable()
      mem.addData(Event(99, ts(500), 9, "signup", 0))
      q.processAllAvailable()
      val got = spark.table("funnel_ns_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got.filter(_._1 == 1L) === Set((1L, 3)))
    } finally q.stop()
  }

  test("statefulFunnel folds out-of-order arrivals exactly (buffered pre-step-1 events)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val win = 60L * 60000
    val mem = MemoryStream[Event]
    val q = statefulFunnel(mem.toDS(),
        steps = Seq("signup", "view", "purchase"), windowMs = win)
      .writeStream.format("memory").queryName("funnel_ooo_stream")
      .outputMode("append").start()
    try {
      // the view arrives FIRST, before any signup exists for the user;
      // it must be buffered because a later-arriving earlier signup can
      // still make it eligible
      mem.addData(Event(0, ts(30), 1, "view", 0))
      q.processAllAvailable()
      // signup arrives out of order (ts 25 < the view's 30, but above
      // the watermark, which sits at 20) — anchors t1 and re-qualifies
      // the buffered view
      mem.addData(Event(1, ts(25), 1, "signup", 0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(40), 1, "purchase", 0))
      q.processAllAvailable()
      mem.addData(Event(99, ts(500), 9, "signup", 0)) // watermark pusher
      q.processAllAvailable()
      val got = spark.table("funnel_ooo_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === Set((1L, 3, ts(25).getTime)))
    } finally q.stop()
  }

  test("statefulFunnel re-enters on a signup past the previous window (ADVICE r10)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val win = 60L * 60000
    val mem = MemoryStream[Event]
    val q = statefulFunnel(mem.toDS(),
        steps = Seq("signup", "view", "purchase"), windowMs = win)
      .writeStream.format("memory").queryName("funnel_reentry_stream")
      .outputMode("append").start()
    try {
      // entry 1: full completion inside [0, 60]
      mem.addData(Event(0, ts(0), 1, "signup", 0),
        Event(1, ts(10), 1, "view", 0), Event(2, ts(20), 1, "purchase", 0))
      q.processAllAvailable()
      // the SECOND signup (ts 100 > deadline 60) arrives in the same
      // batch that pushes the watermark past entry 1's deadline — the
      // old code resolved entry 1, removed state, and silently lost it
      mem.addData(Event(3, ts(100), 1, "signup", 0),
        Event(4, ts(110), 1, "view", 0),
        Event(5, ts(130), 9, "signup", 0)) // watermark pusher → wm 120
      q.processAllAvailable()
      mem.addData(Event(6, ts(300), 9, "view", 0)) // close entry 2
      q.processAllAvailable()
      mem.addData(Event(7, ts(600), 9, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("funnel_reentry_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .filter(_._1 == 1L).toSet
      assert(got === Set((1L, 3, ts(0).getTime), (1L, 2, ts(100).getTime)),
        "second funnel entry was dropped with the first's resolution")
    } finally q.stop()
  }

  test("statefulSessionize: an admitted event a gap BEFORE the session is its own session (ADVICE r10)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two pre-watermarked sources: the global watermark is their MIN, so
    // user 1's session can run far ahead of it — exactly the regime where
    // a bare `t - last <= gap` check over-merges a distant-past event
    val mem1 = MemoryStream[Event]
    val mem2 = MemoryStream[Event]
    val unioned = mem1.toDS().withWatermark("ts", "10 minutes")
      .union(mem2.toDS().withWatermark("ts", "10 minutes"))
    val q = statefulSessionize(unioned, applyWatermark = false)
      .writeStream.format("memory").queryName("sess_straggler_stream")
      .outputMode("append").start()
    try {
      mem1.addData(Event(0, ts(100), 1, "view", 1.0),
        Event(1, ts(105), 1, "view", 2.0))
      mem2.addData(Event(2, ts(20), 2, "view", 0.0)) // laggard: wm stays 10
      q.processAllAvailable()
      // ts 60 is admissible (>= wm 10) but 40 min BEFORE session start —
      // a distinct earlier session, not a backward extension
      mem1.addData(Event(3, ts(60), 1, "view", 4.0))
      q.processAllAvailable()
      // flush both sources so every session times out
      mem1.addData(Event(98, ts(1000), 9, "view", 0.0))
      mem2.addData(Event(99, ts(1000), 8, "view", 0.0))
      q.processAllAvailable()
      mem1.addData(Event(100, ts(2000), 9, "view", 0.0))
      mem2.addData(Event(101, ts(2000), 8, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_straggler_stream").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
        .toSet
      assert(got === Set(
        (ts(60).getTime, ts(60).getTime, 1, 4.0),
        (ts(100).getTime, ts(105).getTime, 2, 3.0)),
        "the straggler was merged into a session it precedes by > gap")
    } finally q.stop()
  }

  test("statefulSessionize: a later admissible event extends (and bridges) an early straggler session (ADVICE r11)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same laggard-co-source regime as the r10 straggler test, one step
    // further: the straggler session must stay OPEN until the watermark
    // closes it, because later admissible events can extend it — or
    // bridge it into the carried session. Emitting it immediately (the
    // r11 behavior) splits a session the batch gap-fold keeps whole.
    val mem1 = MemoryStream[Event]
    val mem2 = MemoryStream[Event]
    val unioned = mem1.toDS().withWatermark("ts", "10 minutes")
      .union(mem2.toDS().withWatermark("ts", "10 minutes"))
    val q = statefulSessionize(unioned, applyWatermark = false)
      .writeStream.format("memory").queryName("sess_straggler_ext_stream")
      .outputMode("append").start()
    try {
      mem1.addData(Event(0, ts(100), 1, "view", 1.0),
        Event(1, ts(105), 1, "view", 2.0))
      mem2.addData(Event(2, ts(20), 2, "view", 0.0)) // laggard: wm stays 10
      q.processAllAvailable()
      // ts 60: admissible, 40 min before the carried session — a
      // straggler that must stay open (wm 10 << 60 + 30)
      mem1.addData(Event(3, ts(60), 1, "view", 4.0))
      q.processAllAvailable()
      // ts 75: admissible, within gap of BOTH the straggler (75-60=15)
      // and the carried session (100-75=25) — the batch fold merges
      // everything into ONE session 60..105
      mem1.addData(Event(4, ts(75), 1, "view", 8.0))
      q.processAllAvailable()
      // flush both sources so every session times out
      mem1.addData(Event(98, ts(1000), 9, "view", 0.0))
      mem2.addData(Event(99, ts(1000), 8, "view", 0.0))
      q.processAllAvailable()
      mem1.addData(Event(100, ts(2000), 9, "view", 0.0))
      mem2.addData(Event(101, ts(2000), 8, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_straggler_ext_stream").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
        .toSet
      assert(got === Set((ts(60).getTime, ts(105).getTime, 4, 15.0)),
        "the straggler session was emitted before the watermark closed it")
    } finally q.stop()
  }

  test("random streams: statefulFunnel equals the batch fold under watermark-respecting arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("signup", "view", "purchase", "click", "error")
    val winMs = 60L * 60000
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 4) {
      // trials alternate STRICT and NON-STRICT (default Pinot) modes, so
      // the >=-chains and the t == wm anchorless-prune boundary (ADVICE
      // r10) are randomized-hunted too, not just spot-tested
      val strict = trial % 2 == 1
      val evs = (0 until 200).map { i =>
        Event(i.toLong, ts(rnd.nextInt(600).toLong), rnd.nextInt(40).toLong,
          types(rnd.nextInt(types.length)), 0.0)
      }
      // arrival order = ts + jitter < the 10-min watermark delay: when an
      // event arrives, everything seen so far is < its ts + 10 min, so
      // the watermark (max seen − 10 min) sits strictly below its ts —
      // out-of-order but never late-dropped, the regime the exactness
      // claim covers
      val arrival = evs.sortBy(e => e.ts.getTime + rnd.nextInt(9 * 60000))
      val mem = MemoryStream[Event]
      val q = statefulFunnel(mem.toDS(), windowMs = winMs,
          strictIncrease = strict)
        .writeStream.format("memory").queryName(s"funnel_rand_$trial")
        .outputMode("append").start()
      try {
        arrival.grouped(23).foreach { batch =>
          mem.addData(batch: _*)
          q.processAllAvailable()
        }
        mem.addData(Event(9999, ts(100000), 999, "signup", 0.0)) // flush
        q.processAllAvailable()
        mem.addData(Event(10000, ts(200000), 999, "view", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      // one row per funnel ENTRY (greedy anchor chain over the user's
      // step-1 times: first anchor = global min, each next = min step-1
      // strictly past the previous deadline); anchorless users are
      // absent from the stream BY DESIGN (an open world can't prove
      // "never signs up")
      val streamed = spark.table(s"funnel_rand_$trial")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .filterNot(_._1 == 999L).toSet
      val stepIdx = Map("signup" -> 0, "view" -> 1, "purchase" -> 2)
      def after(t: Long, prev: Long): Boolean =
        if (strict) t > prev else t >= prev
      val expected = evs.filter(e => stepIdx.contains(e.event_type))
        .groupBy(_.user_id)
        .flatMap { case (uid, es) =>
          val byStep = (0 to 2).map(k =>
            es.filter(e => stepIdx(e.event_type) == k)
              .map(_.ts.getTime).sorted)
          var anchors = List.empty[Long]
          byStep(0).foreach { s =>
            if (anchors.isEmpty || s > anchors.head + winMs) anchors ::= s
          }
          anchors.reverse.map { t1 =>
            val dl = t1 + winMs
            val t2 = byStep(1).find(t => after(t, t1) && t <= dl)
            val t3 = t2.flatMap(t2v =>
              byStep(2).find(t => after(t, t2v) && t <= dl))
            (uid, if (t3.isDefined) 3 else if (t2.isDefined) 2 else 1, t1)
          }
        }.toSet
      assert(streamed === expected, s"trial $trial (strict=$strict) diverged")
      // q134 parity is the FIRST-entry row (min step1_ms) per user
      val firstEntries = streamed.groupBy(_._1)
        .map { case (uid, rows) => uid -> rows.minBy(_._3)._2 }
      val expectedFirst = expected.groupBy(_._1)
        .map { case (uid, rows) => uid -> rows.minBy(_._3)._2 }
      assert(firstEntries === expectedFirst, s"trial $trial q134 parity")
    }
  }

  test("statefulSessionize: a shrunk-last out-of-order arrival must not split the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = statefulSessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_ooo_stream")
      .outputMode("append").start()
    try {
      mem.addData(Event(0, ts(0), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(1, ts(28), 1, "view", 2.0)) // last -> 28
      q.processAllAvailable()
      // arrives late-but-in-watermark (wm = 18): true order 0,20,28 —
      // with `last` blindly set to 20, the next event at 52 would read a
      // 32-min gap and split the session the ordered fold keeps whole
      mem.addData(Event(2, ts(20), 1, "view", 4.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(52), 1, "view", 8.0)) // 52-28=24 <= 30: same session
      q.processAllAvailable()
      mem.addData(Event(99, ts(1000), 9, "view", 0.0)) // flush
      q.processAllAvailable()
      mem.addData(Event(100, ts(2000), 9, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_ooo_stream").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
        .toList
      assert(got === List((ts(0).getTime, ts(52).getTime, 4, 15.0)),
        "the out-of-order arrival split or corrupted the session")
    } finally q.stop()
  }

  test("statefulFunnel: a replayed event storm changes nothing (state deduped)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = statefulFunnel(mem.toDS(), windowMs = 60L * 60000)
      .writeStream.format("memory").queryName("funnel_replay_stream")
      .outputMode("append").start()
    try {
      // the same three step events delivered 40× inside one batch and
      // 40× again across batches (an at-least-once ingest replaying) —
      // the funnel must emit exactly the single-copy verdict
      val storm = (0 until 40).flatMap(i => Seq(
        Event(100 + i, ts(0), 1, "signup", 0.0),
        Event(200 + i, ts(10), 1, "view", 0.0),
        Event(300 + i, ts(20), 1, "purchase", 0.0)))
      mem.addData(storm: _*)
      q.processAllAvailable()
      mem.addData(storm: _*) // replayed again in a later batch
      q.processAllAvailable()
      mem.addData(Event(9999, ts(300), 9, "signup", 0.0)) // push wm
      q.processAllAvailable()
      mem.addData(Event(10000, ts(600), 9, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("funnel_replay_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .filter(_._1 == 1L).toSeq
      assert(got === Seq((1L, 3, ts(0).getTime)),
        "the replay storm duplicated or changed the funnel verdict")
    } finally q.stop()
  }

  test("random two-source streams (laggard co-source): statefulSessionize equals the per-user fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60000
    val rnd = new scala.util.Random(777L)
    for (trial <- 1 to 3) {
      // A runs AHEAD (ts 200..800 min), B lags (ts 0..400 min) and holds
      // the global watermark down — so A-side sessions are carried while
      // admissible far-past B events open, extend, and bridge straggler
      // sessions for the same users: the regime the open-session-list
      // state exists for, randomized. Each source's arrival jitter stays
      // under the 10-min lateness horizon, so nothing is ever dropped
      // and the batch gap-fold over A ∪ B is the exact expectation.
      val evsA = (0 until 120).map { i =>
        Event(i.toLong, ts(200 + rnd.nextInt(600).toLong),
          rnd.nextInt(12).toLong, "view", (rnd.nextInt(90) + 1).toDouble)
      }
      val evsB = (1000 until 1080).map { i =>
        Event(i.toLong, ts(rnd.nextInt(400).toLong),
          rnd.nextInt(12).toLong, "view", (rnd.nextInt(90) + 1).toDouble)
      }
      val arrA = evsA.sortBy(e => e.ts.getTime + rnd.nextInt(9 * 60000))
        .grouped(15).toSeq
      val arrB = evsB.sortBy(e => e.ts.getTime + rnd.nextInt(9 * 60000))
        .grouped(10).toSeq
      val memA = MemoryStream[Event]
      val memB = MemoryStream[Event]
      val unioned = memA.toDS().withWatermark("ts", "10 minutes")
        .union(memB.toDS().withWatermark("ts", "10 minutes"))
      val q = statefulSessionize(unioned, applyWatermark = false)
        .writeStream.format("memory").queryName(s"sess_lag_$trial")
        .outputMode("append").start()
      try {
        (0 until math.max(arrA.length, arrB.length)).foreach { k =>
          if (k < arrA.length) memA.addData(arrA(k): _*)
          if (k < arrB.length) memB.addData(arrB(k): _*)
          q.processAllAvailable()
        }
        // flush BOTH sources so every session times out
        memA.addData(Event(9998, ts(100000), 999, "view", 0.0))
        memB.addData(Event(9999, ts(100000), 999, "view", 0.0))
        q.processAllAvailable()
        memA.addData(Event(10000, ts(200000), 999, "view", 0.0))
        memB.addData(Event(10001, ts(200000), 999, "view", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(s"sess_lag_$trial")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getDouble(4)))
        .filterNot(_._1 == 999L).toSet
      val expected = (evsA ++ evsB).groupBy(_.user_id).toSeq
        .flatMap { case (uid, es) =>
          val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
          val sessions = scala.collection.mutable.ListBuffer
            .empty[(Long, Long, Int, Double)]
          var cur: Option[(Long, Long, Int, Double)] = None
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur = cur match {
              case Some((s, l, n, sum)) if t - l <= gapMs =>
                Some((s, t, n + 1, sum + e.value))
              case Some(done) =>
                sessions += done; Some((t, t, 1, e.value))
              case None => Some((t, t, 1, e.value))
            }
          }
          cur.foreach(sessions += _)
          sessions.map { case (s, l, n, sum) => (uid, s, l, n, sum) }
        }.toSet
      assert(streamed === expected, s"laggard trial $trial diverged")
    }
  }

  test("random streams: statefulSessionize equals the per-user fold; latestWins equals max_by") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60000
    val rnd = new scala.util.Random(424242L)
    for (trial <- 1 to 3) {
      val evs = (0 until 150).map { i =>
        Event(i.toLong, ts(rnd.nextInt(400).toLong), rnd.nextInt(15).toLong,
          "view", (rnd.nextInt(90) + 1).toDouble)
      }
      val arrival = evs.sortBy(e => e.ts.getTime + rnd.nextInt(9 * 60000))
      val mem = MemoryStream[Event]
      val q = statefulSessionize(mem.toDS())
        .writeStream.format("memory").queryName(s"sess_rand_$trial")
        .outputMode("append").start()
      try {
        arrival.grouped(17).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        mem.addData(Event(9999, ts(100000), 999, "view", 0.0))
        q.processAllAvailable()
        mem.addData(Event(10000, ts(200000), 999, "view", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(s"sess_rand_$trial")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getDouble(4)))
        .filterNot(_._1 == 999L).toSet
      // fold over the TOTALLY ordered per-user history, same gap rule
      val expected = evs.groupBy(_.user_id).toSeq.flatMap { case (uid, es) =>
        val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
        val sessions = scala.collection.mutable.ListBuffer
          .empty[(Long, Long, Int, Double)]
        var cur: Option[(Long, Long, Int, Double)] = None
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur = cur match {
            case Some((s, l, n, sum)) if t - l <= gapMs =>
              Some((s, t, n + 1, sum + e.value))
            case Some(done) =>
              sessions += done; Some((t, t, 1, e.value))
            case None => Some((t, t, 1, e.value))
          }
        }
        cur.foreach(sessions += _)
        sessions.map { case (s, l, n, sum) => (uid, s, l, n, sum) }
      }.toSet
      assert(streamed === expected, s"sessionize trial $trial diverged")

      // latestWins: the final emission per key must equal the batch
      // max_by winner with every version counted
      val mem2 = MemoryStream[Event]
      val q2 = latestWins(mem2.toDS())
        .writeStream.format("memory").queryName(s"lw_rand_$trial")
        .outputMode("update").start()
      try {
        arrival.grouped(17).foreach { b => mem2.addData(b: _*); q2.processAllAvailable() }
      } finally q2.stop()
      val lastRows = spark.table(s"lw_rand_$trial").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(5))))
        .groupBy(_._1).map { case (uid, rows) =>
          // update mode appends to the memory sink: the winner is the
          // row with the max version count (monotone per key)
          uid -> rows.map(_._2).maxBy(_._3)
        }
      val exp2 = evs.groupBy(_.user_id).map { case (uid, es) =>
        val w = es.maxBy(e => (e.ts.getTime, e.event_id))
        uid -> ((w.ts.getTime, w.event_id, es.size.toLong))
      }
      assert(lastRows === exp2, s"latestWins trial $trial diverged")
    }
  }

  test("sketch aggregates run under streaming state and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val agg = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy("event_type")
      .agg(graft.functions.SketchAgg.kmvSketch(
        xxhash64(col("user_id")), 64).as("sk"))
      .select(col("event_type"),
        graft.functions.KmvSketch.distinctEstimate(col("sk"), 64).as("d"))
    val q = agg(mem.toDF())
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      // two micro-batches so the sketch buffer round-trips the state store
      mem.addData(sample.take(3): _*)
      q.processAllAvailable()
      mem.addData(sample.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kmv_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = agg(eventsDf(sample))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed("view") === 2L) // users 1 and 2 viewed
  }

  test("batch sessionize over the events table matches the q53 oracle shape") {
    val df = graft.SparkEntry.queries("q53_events_sessions")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // sessions per user are disjoint: total events = table count
    val total = graft.Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_.getLong(2)).sum === total)
  }
}

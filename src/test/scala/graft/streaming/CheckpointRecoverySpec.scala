package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import java.sql.Timestamp

/** Stop/restart-from-checkpoint exactness for the custom stateful
  * operators (statefulSessionize / statefulFunnel / latestWins): each
  * test builds state, STOPS the query, restarts it from the SAME
  * checkpoint, feeds more data, and asserts the post-restart output
  * could only have been produced if the pre-restart state survived —
  * state-encoder or timeout re-registration bugs after restart turn
  * these red (the MemoryStream differentials never stop a query, so
  * they cannot see them).
  */
class CheckpointRecoverySpec extends SparkTestBase {

  import EventPipelines._

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L)

  private def tmp(prefix: String): String =
    graft.TestDirs.create(prefix).toString

  test("statefulSessionize: an open session survives a stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("sess_ckpt")
    val out = tmp("sess_out")
    val mem = MemoryStream[Event]
    def start(): StreamingQuery = statefulSessionize(mem.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    var q = start()
    try {
      mem.addData(Event(0, ts(0), 1, "view", 1.0),
        Event(1, ts(10), 1, "view", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    // the session is OPEN in the state store; a restart that loses it
    // would emit a 1-event session for the post-restart extension
    q = start()
    try {
      mem.addData(Event(2, ts(20), 1, "view", 4.0)) // same session
      q.processAllAvailable()
      mem.addData(Event(99, ts(1000), 9, "view", 0.0)) // push watermark
      q.processAllAvailable()
      mem.addData(Event(100, ts(2000), 9, "view", 0.0)) // fire timeouts
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).as[SessionOut].collect()
      .filter(_.user_id == 1L)
      .map(s => (s.start_ms, s.end_ms, s.n_events, s.sum_value)).toSet
    assert(got === Set((ts(0).getTime, ts(20).getTime, 3, 7.0)),
      "pre-restart session state was lost or split across the restart")
  }

  test("statefulFunnel: a pending funnel and its timeout survive a stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("funnel_ckpt")
    val out = tmp("funnel_out")
    val win = 60L * 60000
    val mem = MemoryStream[Event]
    def start(): StreamingQuery = statefulFunnel(mem.toDS(),
        steps = Seq("signup", "view", "purchase"), windowMs = win)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    var q = start()
    try {
      // anchor + step 2 pending; window still open at stop time
      mem.addData(Event(0, ts(0), 1, "signup", 0),
        Event(1, ts(10), 1, "view", 0))
      q.processAllAvailable()
    } finally q.stop()
    q = start()
    try {
      // step 3 arrives only AFTER the restart: a max_step of 3 requires
      // the restored t1/pending state; lost state means the purchase is
      // anchorless and ages out silently (no u1 row at all)
      mem.addData(Event(2, ts(20), 1, "purchase", 0))
      q.processAllAvailable()
      mem.addData(Event(99, ts(300), 9, "signup", 0)) // wm past deadline
      q.processAllAvailable()
      mem.addData(Event(100, ts(600), 9, "view", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).as[FunnelOut].collect()
      .filter(_.user_id == 1L)
      .map(f => (f.max_step, f.step1_ms)).toSet
    assert(got === Set((3, ts(0).getTime)),
      "pre-restart funnel state (anchor/pending/timeout) was lost")
  }

  test("randomized stop/restart: funnel output equals the uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("signup", "view", "purchase", "click")
    val winMs = 60L * 60000
    val rnd = new scala.util.Random(1911L)
    for (trial <- 1 to 2) {
      val evs = (0 until 120).map { i =>
        Event(i.toLong, ts(rnd.nextInt(500).toLong), rnd.nextInt(25).toLong,
          types(rnd.nextInt(types.length)), 0.0)
      }
      val arrival = evs.sortBy(e => e.ts.getTime + rnd.nextInt(9 * 60000))
      val batches = arrival.grouped(16).toSeq
      val flush = Seq(
        Seq(Event(9999, ts(100000), 999, "signup", 0.0)),
        Seq(Event(10000, ts(200000), 999, "view", 0.0)))

      // run A: uninterrupted reference
      val memA = MemoryStream[Event]
      val qA = statefulFunnel(memA.toDS(), windowMs = winMs)
        .writeStream.format("memory").queryName(s"ckpt_ref_$trial")
        .outputMode("append").start()
      try (batches ++ flush).foreach { b =>
        memA.addData(b: _*); qA.processAllAvailable()
      } finally qA.stop()
      val ref = spark.table(s"ckpt_ref_$trial").as[FunnelOut]
        .collect().filterNot(_.user_id == 999L).toSet

      // run B: same data, stopped at a RANDOM batch boundary and
      // restarted from the checkpoint
      val ckpt = tmp(s"rand_ckpt_$trial")
      val out = tmp(s"rand_out_$trial")
      val memB = MemoryStream[Event]
      def start(): StreamingQuery = statefulFunnel(memB.toDS(),
          windowMs = winMs)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val stopAfter = 1 + rnd.nextInt(batches.length - 1)
      var qB = start()
      try batches.take(stopAfter).foreach { b =>
        memB.addData(b: _*); qB.processAllAvailable()
      } finally qB.stop()
      qB = start()
      try (batches.drop(stopAfter) ++ flush).foreach { b =>
        memB.addData(b: _*); qB.processAllAvailable()
      } finally qB.stop()
      val got = spark.read.parquet(out).as[FunnelOut]
        .collect().filterNot(_.user_id == 999L).toSet
      assert(got === ref,
        s"trial $trial (stop after $stopAfter/${batches.length} batches) " +
          "diverged from the uninterrupted run")
    }
  }

  test("latestWins: version counts and the winner survive a stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("lw_ckpt")
    val out = tmp("lw_out")
    val mem = MemoryStream[Event]
    def start(): StreamingQuery = latestWins(mem.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[LatestOut], _: Long) =>
        df.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt).start()
    var q = start()
    try {
      mem.addData(Event(1, ts(10), 1, "view", 1.0),
        Event(2, ts(20), 1, "click", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    q = start()
    try {
      // an OLDER version after restart: the restored state must keep
      // event 2 as winner and count 3 total versions; lost state would
      // crown event 3 with n_versions = 1
      mem.addData(Event(3, ts(15), 1, "buy", 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.read.parquet(out).as[LatestOut].collect()
      .filter(_.user_id == 1L).maxBy(_.n_versions)
    assert(last.last_id === 2L, "restored winner must remain event 2")
    assert(last.last_type === "click")
    assert(last.n_versions === 3L,
      "version count reset across the restart — state was lost")
  }
}

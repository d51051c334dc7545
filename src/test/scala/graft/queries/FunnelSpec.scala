package graft.queries

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Ordered windowed funnel (q133/q134): semantics on adversarial
  * hand-built histories, then a plan audit — the whole funnel must cost
  * exactly ONE shuffle with the step-type filter pushed to the scan.
  */
class FunnelSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Events table shaped like the real one, from (user, ts, type). */
  private def mkEvents(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = graft.TestDirs.create("funnel").toString
    rows.zipWithIndex
      .map { case ((u, t, ty), i) =>
        (i.toLong, ts(t), u, ty, 1.0, """{"k": 1}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def maxSteps(dir: String): Map[Long, Int] =
    SparkEntry_q134(dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def SparkEntry_q134(dir: String): DataFrame =
    Funnel.queries("q134_funnel_max_step")(spark, dir)

  test("steps must match strictly in order") {
    val dir = mkEvents(Seq(
      // u1: textbook signup -> view -> purchase, hours apart
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 01:00:00", "view"),
      (1L, "2024-01-01 02:00:00", "purchase"),
      // u2: purchase BEFORE the view — stops at step 2
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-01 02:00:00", "view"),
      (2L, "2024-01-01 01:00:00", "purchase"),
      // u3: never signs up — step 0 even with view+purchase
      (3L, "2024-01-01 00:00:00", "view"),
      (3L, "2024-01-01 01:00:00", "purchase")))
    assert(maxSteps(dir) === Map(1L -> 3, 2L -> 2, 3L -> 0))
  }

  test("simultaneous events do not chain (strictly after)") {
    val dir = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 00:00:00", "view"), // same instant: not after
      (1L, "2024-01-01 01:00:00", "purchase")))
    assert(maxSteps(dir) === Map(1L -> 1))
  }

  test("the 48h window anchors at step 1") {
    val dir = mkEvents(Seq(
      // u1: view at +47h, purchase at +47h30 — inside
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 23:00:00", "view"),
      (1L, "2024-01-02 23:30:00", "purchase"),
      // u2: view inside, purchase at +49h — outside, even though it is
      // within 48h of the VIEW (window anchors at step 1)
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-02 23:00:00", "view"),
      (2L, "2024-01-03 01:00:00", "purchase"),
      // u3: first view outside the window entirely
      (3L, "2024-01-01 00:00:00", "signup"),
      (3L, "2024-01-03 01:00:00", "view")))
    assert(maxSteps(dir) === Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("first qualifying match wins: a later in-window view cannot resurrect") {
    // the FIRST view after signup fixes t2; the purchase between the two
    // views is before t2, and the later view is not re-anchored
    val dir = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 05:00:00", "view"),
      (1L, "2024-01-01 03:00:00", "purchase"),
      (1L, "2024-01-01 06:00:00", "purchase")))
    assert(maxSteps(dir) === Map(1L -> 3))
    val dir2 = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 05:00:00", "view"),
      (1L, "2024-01-01 03:00:00", "purchase")))
    assert(maxSteps(dir2) === Map(1L -> 2))
  }

  test("non-strict (default) mode chains same-instant events; strict does not") {
    import org.apache.spark.sql.functions.col
    val dir = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:00:00", "purchase")))
    def run(strict: Boolean) =
      Funnel.perUserStepTimes(
        graft.Tables.load(spark, dir, "events"), strictIncrease = strict)
        .select(col("t1").isNotNull, col("t2").isNotNull, col("t3").isNotNull)
        .head()
    assert(run(strict = true).toSeq === Seq(true, false, false))
    assert(run(strict = false).toSeq === Seq(true, true, true))
  }

  test("funnel counts line up with the per-user max steps on real data") {
    val counts = Funnel.queries("q133_funnel_count")(spark, sfDir).head()
    val steps = maxSteps(sfDir)
    assert(counts.getLong(0) === steps.values.count(_ >= 1).toLong)
    assert(counts.getLong(1) === steps.values.count(_ >= 2).toLong)
    assert(counts.getLong(2) === steps.values.count(_ >= 3).toLong)
  }

  test("step durations measure the first-match transition times exactly") {
    val dir = mkEvents(Seq(
      // u1: signup 00:00, first eligible view 00:10, first purchase 00:40
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 00:10:00", "view"),
      (1L, "2024-01-01 00:40:00", "purchase"),
      (1L, "2024-01-01 01:00:00", "view"), // later view must not count
      // u2: stops at step 2 after 30 min
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-01 00:30:00", "view"),
      // u3: signup only — contributes to neither duration
      (3L, "2024-01-01 00:00:00", "signup")))
    val r = Funnel.queries("q143_funnel_step_durations")(spark, dir).head()
    assert(r.getLong(0) === 2L) // n_step2
    assert(r.getDouble(1) === 1200.0) // avg(600, 1800) seconds
    assert(r.getLong(2) === 600000L) // min_ms_1_2
    assert(r.getLong(3) === 1800000L) // max_ms_1_2
    assert(r.getLong(4) === 1L) // n_step3
    assert(r.getDouble(5) === 1800.0) // 00:10 -> 00:40
    assert(r.getLong(6) === 1800000L)
    assert(r.getLong(7) === 1800000L)
  }

  test("session-correlated funnel resets at a 30-minute gap") {
    val dir = mkEvents(Seq(
      // u1 session 1: full completion within one session
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 00:05:00", "view"),
      (1L, "2024-01-01 00:10:00", "purchase"),
      // 40-min gap -> u1 session 2: signup then view, no purchase
      (1L, "2024-01-01 00:50:00", "signup"),
      (1L, "2024-01-01 00:55:00", "view"),
      // u2: view+purchase land in a DIFFERENT session than the signup,
      // so no session converts even though the user-level funnel would
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-01 01:00:00", "view"),
      (2L, "2024-01-01 01:05:00", "purchase")))
    val r = Funnel.queries("q144_funnel_sessions")(spark, dir).head()
    assert(r.getLong(0) === 4L, "n_sessions") // u1: 2, u2: 2
    assert(r.getLong(1) === 3L, "entered") // u1 s1, u1 s2, u2 s1
    assert(r.getLong(2) === 2L, "reached_step2") // u1 s1, u1 s2
    assert(r.getLong(3) === 1L, "converted") // u1 s1 only
  }

  test("collapseDuplicates is exact on duplicate-heavy corpora (hot-key mitigation)") {
    import org.apache.spark.sql.functions.col
    // randomized duplicate-heavy histories: every (user, type, ts) triple
    // repeats 1-6 times, including a "bot" user owning most of the rows —
    // the collapsed engine must equal the plain one row-for-row, in both
    // strictness modes and on the 4-step chain
    val rnd = new scala.util.Random(20260815L)
    val types = Seq("signup", "click", "view", "purchase")
    val base = (0 until 400).map { _ =>
      val u = if (rnd.nextInt(3) == 0) 77L else rnd.nextInt(10).toLong
      val t = f"2024-01-01 ${rnd.nextInt(48) / 2}%02d:${rnd.nextInt(60)}%02d:00"
      (u, t, types(rnd.nextInt(types.length)))
    }
    val dupes = base.flatMap(r => Seq.fill(1 + rnd.nextInt(6))(r))
    val dir = mkEvents(rnd.shuffle(dupes))
    val ev = graft.Tables.load(spark, dir, "events")
    for (strict <- Seq(true, false); steps <- Seq(
        Seq("signup", "view", "purchase"),
        Seq("signup", "click", "view", "purchase"))) {
      def run(collapse: Boolean) =
        Funnel.perUserStepTimes(ev, steps = steps, strictIncrease = strict,
            collapseDuplicates = collapse)
          .orderBy(col("user_id")).collect().toSeq
      assert(run(true) === run(false),
        s"collapse diverged (strict=$strict, ${steps.length} steps)")
    }
  }

  test("plan: ONE shuffle total, and the step-type filter reaches the scan") {
    val df = SparkEntry_q134(sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) {
      case s: ShuffleExchangeExec => s }
    // one hash exchange on user_id feeds Window×3 + the final aggregate;
    // the orderBy adds its range exchange — nothing else may shuffle
    assert(shuffles.size <= 2, s"funnel must not re-shuffle:\n$plan")
    val scans = plan.toString()
    assert(scans.contains("PushedFilters") && scans.contains("In(event_type"),
      s"step-type IN filter not pushed:\n$scans")
  }
}

package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-funnel analytics: the Spark-native analog of Pinot's
  * FUNNEL_COUNT / FUNNEL_COMPLETE_COUNT / FUNNEL_MAX_STEP aggregation
  * family (reference exposes none of these; Pinot docs define the
  * semantics: per correlation key, steps must match in order, each
  * strictly after the previous, all within `windowSize` of step 1).
  *
  * Plan shape (the one you'd want at 100 TB):
  *   1. the step-type IN-list filter and 3-column projection reach the
  *      scan (pushed filters + pruned ReadSchema) — non-funnel events
  *      never leave the source;
  *   2. ONE hash exchange on user_id; the chained "first step-k strictly
  *      after step-(k-1), inside the window" minimums are whole-partition
  *      Window aggregates stacked on that single exchange (window over
  *      window — Catalyst plans Exchange → Window × 3, no join, no
  *      re-shuffle);
  *   3. the per-user collapse (groupBy user_id) reuses the same
  *      partitioning, so the whole funnel costs exactly one shuffle of
  *      (user_id, ts, event_type) for step-typed events only.
  *
  * Window state is bounded by one user's funnel-typed events (the same
  * per-key-bounded assumption every sessionization engine makes); users
  * are the parallelism unit, so 1000 executors scale linearly in users.
  */
object Funnel {

  private def ev(s: SparkSession, d: String) = Tables.load(s, d, "events")

  /** Funnel steps, in order, and the completion window (q133/q134). */
  private val steps = Seq("signup", "view", "purchase")
  private val windowExpr = "INTERVAL 48 HOURS"

  /** Per-user first-match timestamps t1..t3 of the ordered windowed
    * funnel, one row per user that has at least one step-typed event.
    * `strictIncrease` = Pinot's STRICT_INCREASE mode (each step strictly
    * after the previous); false = the default mode, where a same-instant
    * event still advances the funnel (ts ≥ previous).
    *
    * `collapseDuplicates` = the HOT-KEY mitigation (see
    * [[perKeyStepTimes]]): exact, costs one extra exchange — turn it on
    * when one key can own millions of duplicate-timestamp events (bot
    * traffic, replayed ingests).
    */
  private[queries] def perUserStepTimes(
      events: DataFrame,
      steps: Seq[String] = steps,
      windowExpr: String = windowExpr,
      strictIncrease: Boolean = true,
      collapseDuplicates: Boolean = false): DataFrame =
    perKeyStepTimes(events.select("user_id", "ts", "event_type")
        .filter(col("event_type").isin(steps: _*)),
      Seq("user_id"), steps, windowExpr, strictIncrease, collapseDuplicates)

  /** The funnel engine generalized over the CORRELATE-BY key (Pinot's
    * funnel aggregations take an arbitrary correlation column) and over
    * ANY number of steps: the chained "first step-k after step-(k-1),
    * inside the window" minimums stack as one Window aggregate per step
    * on the SAME single exchange, partitioned by `keys`. Input must
    * already be filtered to step-typed events and carry
    * (keys..., ts, event_type). Output: one row per key with t1..tN.
    * When `keys` extend user_id (e.g. a derived session index), the
    * partitioning still hashes on the SAME exchange cardinality class —
    * one shuffle, sessions of one user land together only if the first
    * key is user_id, which every caller here preserves.
    */
  private[queries] def perKeyStepTimes(
      e: DataFrame,
      keys: Seq[String],
      steps: Seq[String],
      windowExpr: String,
      strictIncrease: Boolean,
      collapseDuplicates: Boolean = false): DataFrame = {
    require(steps.length >= 2, "a funnel needs at least 2 steps")
    // HOT-KEY mitigation: the whole chain below consumes a row only as
    // "does (event_type, ts) satisfy a min-predicate", so duplicate
    // (keys, event_type, ts) triples are inert — dropping them is EXACT
    // (each key keeps ≥ 1 row, so the grouped key set is preserved too;
    // FunnelSpec asserts equality on duplicate-heavy corpora). The
    // dropDuplicates plans as a partial+final hash aggregate: a bot key
    // with millions of REPLAYED step events collapses map-side before
    // anything crosses the wire, and the downstream window task holds
    // one row per distinct triple instead of per event. Price: one extra
    // exchange on (keys, event_type, ts) ahead of the user_id exchange
    // (both shapes measured in BASELINE.md); keep it off for organic
    // traffic, turn it on when one key can own millions of duplicates.
    // (A bot with millions of DISTINCT timestamps still concentrates in
    // one window task — that residual bound is semantic: the funnel
    // genuinely orders that key's distinct times.)
    val in = if (collapseDuplicates)
      e.dropDuplicates(keys :+ "event_type" :+ "ts") else e
    val w = Window.partitionBy(keys.map(col): _*)
    def after(ts: Column, prev: Column) =
      if (strictIncrease) ts > prev else ts >= prev
    var df = in.withColumn(
      "t1", min(when(col("event_type") === steps(0), col("ts"))).over(w))
    val deadline = col("t1") + expr(windowExpr)
    for (k <- 2 to steps.length) {
      df = df.withColumn(
        s"t$k", min(when(col("event_type") === steps(k - 1) &&
          after(col("ts"), col(s"t${k - 1}")) && col("ts") <= deadline,
          col("ts"))).over(w))
    }
    df.groupBy(keys.map(col): _*)
      .agg(min("t1").as("t1"),
        (2 to steps.length).map(k => min(s"t$k").as(s"t$k")): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Funnel step counts + conversion (Pinot FUNNEL_COUNT /
    // FUNNEL_COMPLETE_COUNT): one row with users reaching each step.
    "q133_funnel_count" -> ((s, d) =>
      perUserStepTimes(ev(s, d))
        .agg(
          count(col("t1")).as("step1_users"),
          count(col("t2")).as("step2_users"),
          count(col("t3")).as("step3_users"))
        .withColumn("conversion_pct",
          round(col("step3_users") * lit(100.0) / col("step1_users"), 2))),

    // Per-user deepest step reached (Pinot FUNNEL_MAX_STEP), with the
    // step-1 timestamp for auditability. Ordered for the row-order hash.
    "q134_funnel_max_step" -> ((s, d) =>
      perUserStepTimes(ev(s, d))
        .select(
          col("user_id"),
          when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1)
            .otherwise(0).as("max_step"),
          date_format(col("t1"), "yyyy-MM-dd HH:mm:ss").as("step1_ts"))
        .orderBy("user_id")),

    // Default (non-strict) mode over a different step set and window:
    // a same-instant event still advances the funnel (Pinot's default;
    // q133/q134 are STRICT_INCREASE).
    "q139_funnel_nonstrict" -> ((s, d) =>
      perUserStepTimes(ev(s, d),
        steps = Seq("click", "view", "purchase"),
        windowExpr = "INTERVAL 24 HOURS", strictIncrease = false)
        .agg(
          count(col("t1")).as("step1_users"),
          count(col("t2")).as("step2_users"),
          count(col("t3")).as("step3_users"))),

    // Funnel TREND: the same per-user chain cohorted by the week each
    // user entered the funnel (week of t1) — how conversion moves over
    // time, the report every funnel dashboard draws. Same single-shuffle
    // engine; the cohort grouping is a tiny post-aggregate.
    "q142_funnel_trend" -> ((s, d) =>
      perUserStepTimes(ev(s, d))
        .filter(col("t1").isNotNull)
        .groupBy(date_format(date_trunc("week", col("t1")),
          "yyyy-MM-dd").as("week_start"))
        .agg(
          count(col("t1")).as("entered"),
          count(col("t2")).as("reached_step2"),
          count(col("t3")).as("converted"))
        .orderBy("week_start")),

    // Per-step DROP-OFF DURATIONS (Pinot FUNNEL_STEP_DURATION_STATS):
    // how long converters took between consecutive steps. Exact integer
    // millisecond diffs aggregate to min/max/sum; the single avg division
    // happens once over exact integers, so the oracle hash-matches.
    "q143_funnel_step_durations" -> ((s, d) =>
      perUserStepTimes(ev(s, d))
        .select(
          (unix_millis(col("t2")) - unix_millis(col("t1"))).as("d12"),
          (unix_millis(col("t3")) - unix_millis(col("t2"))).as("d23"))
        .agg(
          count(col("d12")).as("n_step2"),
          round(sum(col("d12")).cast("double") /
            (count(col("d12")) * lit(1000.0)), 2).as("avg_sec_1_2"),
          min(col("d12")).as("min_ms_1_2"),
          max(col("d12")).as("max_ms_1_2"),
          count(col("d23")).as("n_step3"),
          round(sum(col("d23")).cast("double") /
            (count(col("d23")) * lit(1000.0)), 2).as("avg_sec_2_3"),
          min(col("d23")).as("min_ms_2_3"),
          max(col("d23")).as("max_ms_2_3"))),

    // FOUR-step funnel (Pinot funnel aggregations take an arbitrary
    // step list; the engine chains one window aggregate per step on the
    // same single exchange): signup -> click -> view -> purchase, with
    // per-step reach counts.
    "q147_funnel_four_steps" -> ((s, d) =>
      perUserStepTimes(ev(s, d),
        steps = Seq("signup", "click", "view", "purchase"))
        .agg(
          count(col("t1")).as("step1_users"),
          count(col("t2")).as("step2_users"),
          count(col("t3")).as("step3_users"),
          count(col("t4")).as("step4_users"))),

    // CORRELATE BY SESSION (Pinot funnel aggs take an arbitrary
    // correlation key): gap-sessionize the step-typed events (30-min
    // gap) with ONE ordered window over the same user_id exchange, then
    // run the identical step chain per (user_id, session_idx) — a funnel
    // that must complete without the user leaving. The cumulative-sum
    // session index uses the default RANGE frame, so same-instant ties
    // share a session index deterministically in both engines.
    "q144_funnel_sessions" -> ((s, d) =>
      perSessionStepTimes(ev(s, d), steps, 30L * 60 * 1000,
        "INTERVAL 2 HOURS")
        .agg(
          count(lit(1)).as("n_sessions"),
          count(col("t1")).as("entered"),
          count(col("t2")).as("reached_step2"),
          count(col("t3")).as("converted")))
  )

  /** q144's engine, parametrized (the FunnelDifferentialSpec hunts it
    * against an independent sessionize-then-fold): gap-sessionize the
    * step-typed events with ONE ordered window over the same user_id
    * exchange, then the step chain per (user_id, session_idx).
    */
  private[queries] def perSessionStepTimes(
      events: DataFrame,
      steps: Seq[String],
      gapMs: Long,
      windowExpr: String,
      strictIncrease: Boolean = true): DataFrame = {
    val e = events
      .filter(col("event_type").isin(steps: _*))
      .select("user_id", "ts", "event_type")
    val wOrd = Window.partitionBy("user_id").orderBy("ts")
    val sess = e
      .withColumn("new_sess",
        when(lag(col("ts"), 1).over(wOrd).isNull ||
          unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(wOrd))
            > gapMs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_sess")).over(
        Window.partitionBy("user_id").orderBy("ts")))
    perKeyStepTimes(sess.select("user_id", "session_idx", "ts", "event_type"),
      Seq("user_id", "session_idx"), steps, windowExpr, strictIncrease)
  }

  val oracleSql: Map[String, String] = Map(
    "q133_funnel_count" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup','view','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS step1_users,
        |       (SELECT count(*) FROM s2) AS step2_users,
        |       (SELECT count(*) FROM s3) AS step3_users,
        |       round((SELECT count(*) FROM s3) * 100.0::DOUBLE
        |             / (SELECT count(*) FROM s1), 2) AS conversion_pct""".stripMargin,

    "q134_funnel_max_step" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup','view','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1)
        |SELECT u.user_id,
        |  CASE WHEN s3.t3 IS NOT NULL THEN 3
        |       WHEN s2.t2 IS NOT NULL THEN 2
        |       WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS max_step,
        |  strftime(s1.t1, '%Y-%m-%d %H:%M:%S') AS step1_ts
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q139_funnel_nonstrict" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('click','view','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts >= s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS step1_users,
        |       (SELECT count(*) FROM s2) AS step2_users,
        |       (SELECT count(*) FROM s3) AS step3_users""".stripMargin,

    "q142_funnel_trend" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup','view','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1)
        |SELECT strftime(date_trunc('week', s1.t1), '%Y-%m-%d') AS week_start,
        |  count(s1.t1) AS entered,
        |  count(s2.t2) AS reached_step2,
        |  count(s3.t3) AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |GROUP BY 1 ORDER BY week_start""".stripMargin,

    "q147_funnel_four_steps" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |     WHERE event_type IN ('signup','click','view','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4
        |       FROM e JOIN s3 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS step1_users,
        |       (SELECT count(*) FROM s2) AS step2_users,
        |       (SELECT count(*) FROM s3) AS step3_users,
        |       (SELECT count(*) FROM s4) AS step4_users""".stripMargin,

    "q143_funnel_step_durations" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup','view','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY 1),
        |d AS (SELECT epoch_ms(s2.t2) - epoch_ms(s1.t1) AS d12,
        |             epoch_ms(s3.t3) - epoch_ms(s2.t2) AS d23
        |      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
        |SELECT count(d12) AS n_step2,
        |  round(CAST(sum(d12) AS DOUBLE) / (count(d12) * 1000.0::DOUBLE), 2)
        |    AS avg_sec_1_2,
        |  min(d12) AS min_ms_1_2, max(d12) AS max_ms_1_2,
        |  count(d23) AS n_step3,
        |  round(CAST(sum(d23) AS DOUBLE) / (count(d23) * 1000.0::DOUBLE), 2)
        |    AS avg_sec_2_3,
        |  min(d23) AS min_ms_2_3, max(d23) AS max_ms_2_3
        |FROM d""".stripMargin,

    "q144_funnel_sessions" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup','view','purchase')),
        |flagged AS (SELECT user_id, ts, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (SELECT user_id, ts, event_type,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts)
        |    AS session_idx FROM flagged),
        |s1 AS (SELECT user_id, session_idx, min(ts) AS t1 FROM sess
        |       WHERE event_type = 'signup' GROUP BY 1, 2),
        |s2 AS (SELECT e.user_id, e.session_idx, min(e.ts) AS t2
        |       FROM sess e JOIN s1 USING (user_id, session_idx)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 2 HOUR GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, e.session_idx, min(e.ts) AS t3
        |       FROM sess e JOIN s2 USING (user_id, session_idx)
        |                   JOIN s1 USING (user_id, session_idx)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s1.t1 + INTERVAL 2 HOUR GROUP BY 1, 2),
        |allsess AS (SELECT DISTINCT user_id, session_idx FROM sess)
        |SELECT (SELECT count(*) FROM allsess) AS n_sessions,
        |       (SELECT count(*) FROM s1) AS entered,
        |       (SELECT count(*) FROM s2) AS reached_step2,
        |       (SELECT count(*) FROM s3) AS converted""".stripMargin
  )
}

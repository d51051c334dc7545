package graft.queries

import graft.Tables
import graft.functions.{KmvSketch, SketchAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch aggregates (Pinot's DataSketches family, absent from the
  * reference connector): frequent-strings heavy hitters and theta-style
  * distinct sketches with set operations. Both run in their EXACT regime
  * at oracle scale (distinct cardinality below the sketch capacity), so
  * the DuckDB hashes gate them fully; the approximate regime is
  * property-tested in SketchAggSpec with its published error bounds.
  */
object Sketches {

  private def ev(s: SparkSession, d: String) = Tables.load(s, d, "events")

  /** 100 distinct props values exist at every SF; 256 keeps Misra–Gries
    * exact (no decrement can ever fire) while still exercising the full
    * sketch machinery (map-side partials, merge, ranked eval).
    */
  private val freqCapacity = 256

  /** Cohort key is the user-day (who did what on which day): ~2.7k
    * distinct at sf0.01, ~27k at sf0.1, ~190k ceiling at sf1. k = 2¹⁸
    * keeps the sketches unsaturated (exact, including intersections)
    * through sf1; beyond that they degrade gracefully to ~0.2% error —
    * which is the point of a sketch. Partials only ever hold the
    * partition-local distinct count, so small scales ship small buffers.
    */
  private val kmvK = 1 << 18

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Heavy hitters: top-10 most frequent props payloads. ONE sketch row
    // leaves each partition regardless of key cardinality.
    "q135_frequent_strings" -> ((s, d) =>
      ev(s, d)
        .agg(SketchAgg.result(col("props"), s"freq$freqCapacity").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
        .orderBy(desc("cnt"), asc("item"))
        .limit(10)),

    // The upsert winner monoid as a PLAIN SQL aggregate: latest_by /
    // earliest_by registered via GraftExtensions — one hash aggregate,
    // no window (the SQL-only form of "last event per user"); the `.v`
    // struct field carries the winner, `.ties`/`.null_cmp` the evidence
    // the upsert view uses for its loud contracts. event_id is unique,
    // so winners are well-defined and the DuckDB arg_max truth
    // hash-gates both directions.
    "q169_latest_by_sql" -> ((s, d) => {
      ev(s, d).createOrReplaceTempView("events_lb")
      s.sql("""
        SELECT user_id,
               latest_by(event_type, event_id).v AS last_event_type,
               earliest_by(event_type, event_id).v AS first_event_type,
               max(event_id) AS last_event_id
        FROM events_lb GROUP BY user_id ORDER BY user_id""")
    }),

    // Theta-sketch cohort algebra over USER-DAYS (who did what on which
    // day): per-event-type sketches, then union/intersection ESTIMATES
    // computed purely on the collapsed sketches (array expressions — the
    // raw events are scanned exactly once).
    "q136_theta_distinct" -> ((s, d) => {
      val sk = ev(s, d)
        .groupBy("event_type")
        .agg(SketchAgg.kmvSketch(
          xxhash64(col("user_id"), to_date(col("ts"))), kmvK).as("sk"))
      val v = sk.filter(col("event_type") === "view").select(col("sk").as("sk_v"))
      val p = sk.filter(col("event_type") === "purchase").select(col("sk").as("sk_p"))
      v.crossJoin(p).select(
        KmvSketch.distinctEstimate(col("sk_v"), kmvK).as("view_userdays"),
        KmvSketch.distinctEstimate(col("sk_p"), kmvK).as("purchase_userdays"),
        KmvSketch.unionEstimate(col("sk_v"), col("sk_p"), kmvK).as("either_userdays"),
        KmvSketch.intersectEstimate(col("sk_v"), col("sk_p"), kmvK).as("both_userdays"))
    }),

    // Exact distinct via Roaring64 bitmaps (Pinot DISTINCT_COUNT_BITMAP):
    // one compressed bitmap per (group, partition) crosses the wire —
    // never the per-(group, value) pair shuffle count(distinct) plans.
    "q141_bitmap_distinct" -> ((s, d) =>
      ev(s, d)
        .groupBy("event_type")
        .agg(
          SketchAgg.result(col("user_id"), "bitmap").as("users"),
          SketchAgg.result(
            col("user_id") * lit(100000L) + datediff(
              to_date(col("ts")), lit("1970-01-01").cast("date")), "bitmap")
            .as("user_days"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // DISTINCT_COUNT_HLL (Pinot's most-used approximate distinct): the
    // grouped distinct users/props per event type through the HLL
    // aggregate's SPARSE phase — exact while each group holds ≤ 2^p/4
    // distinct values (users: ≤15k/type at sf1 < 2^16/4; props: exactly
    // 100 < 2^12/4 at every SF), so the DuckDB truth hash-gates it; the
    // dense phase's 1.04/√m error is property-tested in HllSketchSpec.
    // One ≤(2^p/4 hashes | 2^p registers) summary per group per
    // partition crosses the wire — never the (group, value) pairs.
    // hashes are NULL-GATED: Spark's xxhash64(NULL) returns the seed
    // (42), which would count one phantom distinct where the oracle's
    // count(DISTINCT) ignores NULLs; a NULL-gated hash stays NULL and
    // skips through the aggregate's null path
    "q152_hll_distinct" -> ((s, d) =>
      ev(s, d)
        .groupBy("event_type")
        .agg(
          SketchAgg.result(
            when(col("user_id").isNotNull, xxhash64(col("user_id"))), "hll16")
            .as("users"),
          SketchAgg.result(
            when(col("props").isNotNull, xxhash64(col("props"))), "hll12")
            .as("props_vals"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // Mergeable quantile sketch (Pinot PERCENTILE_KLL): the per-user
    // spend distribution per event type — the inner aggregate sums
    // integer-quantized cents (order-independent, engine-exact), the KLL
    // sketch summarizes users. k = 2¹⁷ keeps the sketch in its EXACT
    // nearest-rank regime through sf1 (~15k users/type at sf1); the
    // saturated regime is property-tested in KllSketchSpec. One ≤O(k)
    // summary per group per partition crosses the wire — never the full
    // value list Spark's exact `percentile` shuffles.
    "q148_kll_user_spend" -> ((s, d) => {
      val perUser = ev(s, d)
        .groupBy("event_type", "user_id")
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      perUser
        .groupBy("event_type")
        .agg(SketchAgg.result(
          col("cents").cast("double"), s"kll${1 << 17}",
          Seq(0.1, 0.5, 0.9, 0.99)).as("qarr"),
          count(lit(1)).as("n_users"))
        .select(col("event_type"),
          element_at(col("qarr"), 1).cast("long").as("p10_cents"),
          element_at(col("qarr"), 2).cast("long").as("p50_cents"),
          element_at(col("qarr"), 3).cast("long").as("p90_cents"),
          element_at(col("qarr"), 4).cast("long").as("p99_cents"),
          col("n_users"))
        .orderBy("event_type")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // nearest-rank percentiles: smallest cents with rank >= ceil(q*n),
    // exactly the sketch's exact-regime estimator; ::DOUBLE keeps the
    // ceil argument in IEEE arithmetic on both engines (DuckDB decimal
    // literals would ceil differently at representable boundaries)
    "q148_kll_user_spend" ->
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM u)
        |SELECT event_type,
        |  min(CASE WHEN rn >= ceil(0.1::DOUBLE * n) THEN cents END) AS p10_cents,
        |  min(CASE WHEN rn >= ceil(0.5::DOUBLE * n) THEN cents END) AS p50_cents,
        |  min(CASE WHEN rn >= ceil(0.9::DOUBLE * n) THEN cents END) AS p90_cents,
        |  min(CASE WHEN rn >= ceil(0.99::DOUBLE * n) THEN cents END) AS p99_cents,
        |  count(*) AS n_users
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q135_frequent_strings" ->
      """SELECT props AS item, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY cnt DESC, item LIMIT 10""".stripMargin,

    "q169_latest_by_sql" ->
      """SELECT user_id, arg_max(event_type, event_id) AS last_event_type,
        |       arg_min(event_type, event_id) AS first_event_type,
        |       max(event_id) AS last_event_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q136_theta_distinct" ->
      """SELECT
        |  (SELECT count(DISTINCT (user_id, CAST(ts AS DATE))) FROM events
        |   WHERE event_type = 'view') AS view_userdays,
        |  (SELECT count(DISTINCT (user_id, CAST(ts AS DATE))) FROM events
        |   WHERE event_type = 'purchase') AS purchase_userdays,
        |  (SELECT count(DISTINCT (user_id, CAST(ts AS DATE))) FROM events
        |   WHERE event_type IN ('view', 'purchase')) AS either_userdays,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events
        |     WHERE event_type = 'view'
        |     INTERSECT
        |     SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events
        |     WHERE event_type = 'purchase')) AS both_userdays""".stripMargin,

    "q141_bitmap_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS users,
        |  count(DISTINCT user_id * 100000
        |    + datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |    AS user_days,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q152_hll_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS users,
        |  count(DISTINCT props) AS props_vals,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin
  )
}

package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Set-operation surface (SURVEY.md §2B B18) + grouping-set/distinct
  * aggregates (B19).
  *
  * Scale notes (100 TB): UNION ALL is shuffle-free (plan concatenation);
  * INTERSECT/EXCEPT/DISTINCT shuffle once on the full row as key —
  * unavoidable semantics. rollup/cube expand to grouping-set rows on the
  * map side then share one shuffle. countDistinct uses Spark's
  * expand+two-phase aggregation; approx_count_distinct (HLL) is the
  * constant-memory path we'd pick at 100 TB.
  */
object SetOps {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // UNION ALL of two projections with a discriminator column.
    "q25_union_all" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"),
          lit("customer").as("src"))
        .unionAll(t(s, d, "supplier")
          .select(col("s_suppkey").as("key"), col("s_acctbal").as("bal"),
            lit("supplier").as("src")))
        .groupBy("src")
        .agg(count(lit(1)).as("cnt"), round(sum("bal"), 2).as("sum_bal"))
        .orderBy("src")),

    // UNION (distinct) over overlapping key sets.
    "q26_union_distinct" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")),

    // INTERSECT: nation keys present among both customers and suppliers.
    "q27_intersect" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // EXCEPT: part keys never shipped.
    "q28_except" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey").as("pk"))
        .except(t(s, d, "lineitem").select(col("l_partkey").as("pk")))
        .orderBy("pk")),

    // ROLLUP over (returnflag, linestatus) with grouping indicator.
    "q29_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls")),

    // CUBE over (orderstatus, orderpriority).
    "q30_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("cnt"))
        .orderBy("st", "pri")),

    // Arbitrary GROUPING SETS (beyond rollup/cube): per-flag, per-status,
    // and grand-total rows in one pass (SQL entry point).
    "q38_grouping_sets" -> ((s, d) => {
      // Same result as GROUP BY GROUPING SETS ((rf), (ls), ()) — but
      // the stock plan EXPANDS the fact table 3× (600k → 1.8M rows at
      // sf0.1, the query's whole cost) before aggregating. count and
      // sum decompose over any partition of the input, so aggregate to
      // the finest grouping ONCE (6 rows) and derive all three sets
      // from the base; exchange reuse keeps it ONE scan + ONE wide
      // exchange (guide §1.2: don't compute rows you throw away —
      // Expand manufactures 1.2M of them). round() stays OUTSIDE the
      // rollup, exactly where the GROUPING SETS plan applied it.
      val base = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("rfk"), col("l_linestatus").as("lsk"))
        .agg(count(lit(1)).as("c"), sum("l_extendedprice").as("sp"))
      // counts wrap in coalesce(sum, 0): GROUPING SETS () yields
      // count(*) = 0 on EMPTY input where sum-over-zero-rows is NULL —
      // the rollup must preserve the original count(*) semantics (and
      // its non-nullable schema) even on a zero-row source
      val byRf = base.groupBy("rfk")
        .agg(coalesce(sum("c"), lit(0L)).as("cnt0"), sum("sp").as("sp0"))
        .select(coalesce(col("rfk"), lit("ALL")).as("rf"),
          lit("ALL").as("ls"), col("cnt0"), col("sp0"))
      val byLs = base.groupBy("lsk")
        .agg(coalesce(sum("c"), lit(0L)).as("cnt0"), sum("sp").as("sp0"))
        .select(lit("ALL").as("rf"),
          coalesce(col("lsk"), lit("ALL")).as("ls"), col("cnt0"), col("sp0"))
      val total = base.agg(coalesce(sum("c"), lit(0L)).as("cnt0"),
          sum("sp").as("sp0"))
        .select(lit("ALL").as("rf"), lit("ALL").as("ls"),
          col("cnt0"), col("sp0"))
      byRf.unionAll(byLs).unionAll(total)
        .select(col("rf"), col("ls"), col("cnt0").as("cnt"),
          round(col("sp0"), 2).as("sum_price"))
        .orderBy("rf", "ls")
    }),

    // DISTINCT aggregates: exact distinct counts per group.
    "q31_distinct_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // HLL sketch at rsd 0.01 accuracy — the 100 TB-scale path. The
    // sketch estimate itself is engine-specific (never output), so the
    // oracled output carries the EXACT distinct count plus an in-query
    // proof that the sketch landed within 5% of it (16k registers ⇒
    // σ ≈ 0.81% ⇒ 5% ≥ 6σ; integer-exact compare). DuckDB emits the
    // same exact count and literal TRUE.
    // Pre-distinct once, then count + sketch over the distinct rows: HLL
    // is duplicate-insensitive, so the estimate is identical to sketching
    // the raw rows, and the plan is a single distinct pass — mixing
    // countDistinct with the sketch in one aggregate would force an
    // Expand-based multi-distinct plan (measured 8× slower at sf0.1).
    // The sketch is the repo's own [[graft.functions.HllSketch]] at
    // p=14 — the SAME 2^14 = 16,384 registers Spark's
    // approx_count_distinct(rsd=0.01) picks (m = next power of two with
    // 1.04/√m ≤ rsd), i.e. the same HLL register-count/accuracy class —
    // but buffered as ONE sketch object instead of HLL++'s 2,731
    // LongType buffer FIELDS, whose flat per-operator setup cost
    // (measured 1.2 s on 600 ROWS at rsd 0.005, paid twice for the
    // partial+final pair) dominated the query at every SF. The sketch is
    // EXACT below 2^14/4 = 4,096 distinct per group (sparse phase), and
    // ≥6σ inside the 5% gate in dense phase — the declared within-5%
    // proof column is unchanged at every SF (oracle-verified).
    "q32_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("exact_parts"),
          graft.functions.SketchAgg.result(
            xxhash64(col("l_partkey")), "hll14").as("approx"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) * 20 <= col("exact_parts"))
            .as("approx_within_5pct"))
        .orderBy("l_returnflag"))
  )

  val oracleSql: Map[String, String] = Map(
    "q25_union_all" ->
      """SELECT src, count(*) AS cnt, round(sum(bal), 2) AS sum_bal FROM (
        |  SELECT c_custkey AS key, c_acctbal AS bal, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, s_acctbal AS bal, 'supplier' AS src FROM supplier)
        |GROUP BY src ORDER BY src""".stripMargin,

    "q26_union_distinct" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,

    "q27_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,

    "q28_except" ->
      """SELECT p_partkey AS pk FROM part
        |EXCEPT
        |SELECT l_partkey AS pk FROM lineitem
        |ORDER BY pk""".stripMargin,

    "q29_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |coalesce(l_linestatus, 'ALL') AS ls,
        |count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q30_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |coalesce(o_orderpriority, 'ALL') AS pri, count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,

    "q38_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin,

    "q31_distinct_agg" ->
      """SELECT l_returnflag,
        |count(DISTINCT l_partkey) AS distinct_parts,
        |count(DISTINCT l_suppkey) AS distinct_supps,
        |count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q32_approx_distinct" ->
      """SELECT l_returnflag,
        |count(DISTINCT l_partkey) AS exact_parts,
        |TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}

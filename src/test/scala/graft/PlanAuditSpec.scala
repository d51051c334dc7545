package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Mechanized `.explain` audit over the whole declared surface: the 100 TB
  * story is the PLAN, not the answer. Catches regressions like a lost
  * broadcast hint, a filter that stopped pushing, or an accidental
  * cartesian product.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  // Queries whose non-equi pair joins are nested-loop BY DESIGN (brute-
  // force similarity baselines; the scale paths are LSH/IVF).
  // q88's cross join builds the gap-fill SPINE: a 1-row (min,max) bounds
  // aggregate × the distinct event types — O(types) rows broadcast, by
  // construction tiny and data-volume-independent
  // q90 = q47's shape: a tiny broadcast probe side joined non-equi
  // against one corpus scan — the intended KNN idiom; q97 crosses a
  // 1-row totals aggregate into a per-domain manifest (O(domains) rows)
  // q112 block-pair join: non-equi over ~48 BLOCK rows (bid_a <= bid_b),
  // not data rows — the nested loop is the point (B² tasks, payloads in
  // arrays, never an n²-row join output)
  // q48b composes q47's and q48's sub-plans verbatim (it IS the recall
  // compare of those two) — same broadcast-probe theta joins and the
  // IVF probe's 10-row × centroid cross, all broadcast-tiny
  private val intendedNestedLoop = Set(
    "q46_cosine_pairs", "q47_knn_brute", "q48_knn_ivf", "q48b_ivf_recall",
    "q48c_knn_ivf_fullprobe", // q48's probe cross at nprobe = nlist
    "q88_gapfill", "q90_quantized_ann", "q97_mixture_weights",
    "q100_pinot_vector", "q112_cosine_pairs_blocked",
    "q128_semdedup_keeper", // q46's theta pair join feeding the keeper
    // scalar-subquery threshold: a ONE-ROW broadcast crossed against the
    // probe side (exactly how Spark executes `> (SELECT avg ...)`)
    "q126_tpch_q22",
    // corpus-count thresholds (tau = f(N)) folded into the job as a
    // ONE-ROW count aggregate crossed into the DF filter / broadcast
    // dictionary — replaces a separate docs.count() driver action
    "q41_dedup_ngram_jaccard", "q73_dedup_components",
    "q163_boilerplate_share", "q46b_tfidf_top_term",
    // theta-sketch set algebra: ONE collapsed sketch row per cohort,
    // crossed 1×1 so the union/intersect estimators see both arrays —
    // the raw events were already reduced by the aggregate
    "q136_theta_distinct",
    // stored-sketch distinct: two single-row merged-sketch aggregates
    // crossed 1×1 into the output row
    "q145_pinot_sketch_distinct",
    // lambda merge: four single-row stored∪delta merged-sketch
    // aggregates crossed 1×1 into the output row
    "q150_pinot_lambda_sketch",
    // SQL lambda merge: two single-row stored∪delta merged-sketch
    // aggregates crossed 1×1 into the output row
    "q156_pinot_sketch_sql",
    // PQ: the ONE-ROW codebook crossed into the encode scan + the q47-
    // style broadcast-probe theta join for candidate ranking
    "q140_knn_pq")

  test("no accidental cartesian / nested-loop joins anywhere") {
    for (name <- SparkEntry.queries.keys if !intendedNestedLoop(name)) {
      val bad = allNodes(finalPlan(name)).filter {
        case _: CartesianProductExec => true
        case _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }
      assert(bad.isEmpty,
        s"$name has an unplanned cartesian/nested-loop join:\n" +
          bad.headOption.map(_.nodeName).getOrElse(""))
    }
  }

  test("filtered parquet scans always push their predicates") {
    for (name <- Seq("q08_filter_range", "q09_filter_string", "q12_tpch_q1",
        "q18_tpch_q3", "q19_tpch_q5")) {
      val scans = finalPlan(name).collectLeaves()
      val pushed = scans.exists(_.toString.contains("PushedFilters: ["))
      assert(pushed, s"$name: no pushed filters in any scan")
      val empty = scans.forall { s =>
        val str = s.toString
        !str.contains("PushedFilters: []") || !str.contains("Filter")
      }
      assert(empty || pushed, s"$name: scans carry empty PushedFilters")
    }
  }

  test("aggregations are two-phase (map-side partial present)") {
    for (name <- Seq("q01_count_star", "q04_agg_global", "q05_group_topk",
        "q11_orders_agg", "q12_tpch_q1")) {
      val aggs = allNodes(finalPlan(name)).collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }
      assert(aggs.length >= 2,
        s"$name: expected partial+final aggregation, found ${aggs.length}")
    }
  }

  test("top-k queries fuse sort+limit (TakeOrderedAndProject)") {
    for (name <- Seq("q05_group_topk", "q06_group_highcard", "q18_tpch_q3",
        "q59_explode_words")) {
      val fused = allNodes(finalPlan(name)).exists {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
        case _ => false
      }
      assert(fused, s"$name: top-k did not fuse into TakeOrderedAndProject")
    }
  }

  test("dimension joins broadcast (no fact-side shuffle for dims)") {
    for (name <- Seq("q13_join_broadcast", "q14_join_multiway",
        "q17_join_outer", "q19_tpch_q5")) {
      val hasBroadcast = allNodes(finalPlan(name)).exists {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
        case _ => false
      }
      assert(hasBroadcast, s"$name: expected a broadcast hash join")
    }
  }

  test("curation ops broadcast their small corpus-statistic sides") {
    // q77: the eval shingle set; q79: the top-5 stopword set (anti-join).
    // Neither may shuffle the corpus against a corpus-sized side.
    for (name <- Seq("q77_decontam", "q79_stopword_scrub")) {
      val hasBroadcast = allNodes(finalPlan(name)).exists {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
        case _ => false
      }
      assert(hasBroadcast, s"$name: expected the small side broadcast")
    }
  }

  test("no single-partition window anywhere in the declared surface") {
    // A WindowExec with an empty partitionSpec moves ALL data to one
    // task — fine on 60k test rows, fatal at 100 TB. The three former
    // offenders (q85/q89 prefix sums, q41's shingle dictionary) now run
    // as two-pass bucket prefix sums / zipWithIndex; this pins that.
    for (name <- SparkEntry.queries.keys) {
      val bad = allNodes(finalPlan(name)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name has a single-partition window: ${bad.headOption.map(_.nodeName)}")
    }
  }

  test("upsert views run as ONE exchange, no window/sort/expand") {
    // the single-pass winner monoid (LatestByAgg) replaces the FULL-mode
    // rank window (exchange + SORT) and the PARTIAL-mode count_distinct
    // tie guard (a second distinct-expand exchange): all three upsert
    // queries must plan as scan → partial agg → ONE exchange → final
    // agg, with no Window, Expand, or aggregation-feeding Sort node
    for (name <- Seq("q161_pinot_upsert", "q162_pinot_partial_upsert",
        "q164_pinot_upsert_delete", "q165_pinot_upsert_catalog_sql")) {
      val nodes = allNodes(finalPlan(name))
      val windows = nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      assert(windows.isEmpty, s"$name: upsert view plans a window")
      val expands = nodes.collect {
        case e: org.apache.spark.sql.execution.ExpandExec => e
      }
      assert(expands.isEmpty, s"$name: upsert view plans a distinct expand")
      val sortAggs = nodes.collect {
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }
      assert(sortAggs.isEmpty, s"$name: upsert view fell back to SortAggregate")
      // exchanges: exactly one hash exchange on the key (the final
      // orderBy plans a range exchange; TakeOrdered fuses it away when
      // a limit is present — allow it, forbid a second HASH exchange)
      val hashEx = nodes.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(hashEx.length <= 1,
        s"$name: ${hashEx.length} hash exchanges — the upsert view must " +
          "shuffle once on the key")
    }
  }

  test("the PARTIAL+delete revive shape: pushed tombstone scan, broadcast join, one merge exchange") {
    // q171 is the one upsert shape that costs a second aggregate (the
    // per-key latest tombstone, needed BEFORE the merge can cut at it).
    // Pin the plan that keeps it cheap at 100 TB:
    //  - the tombstone scan reads ONLY delete rows (the deleted=true
    //    filter reaches the Pinot scan as a skipFilter),
    //  - the tombstone aggregate BROADCASTS to the main scan (dead keys
    //    ≪ rows; the main side never shuffles for the join),
    //  - the merge itself stays the usual partial→exchange→final, so
    //    exactly TWO hash exchanges total (tombstone agg + merge agg),
    //  - and none of the banned shapes sneak back (window / distinct
    //    expand / sort-aggregate).
    val nodes = allNodes(finalPlan("q171_pinot_partial_delete_upsert"))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "q171: revive shape plans a window")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.ExpandExec]),
      "q171: revive shape plans a distinct expand")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
      "q171: revive shape fell back to SortAggregate")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "q171: the tombstone side must broadcast, not shuffle the table")
    val hashEx = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.length <= 2,
      s"q171: ${hashEx.length} hash exchanges — tombstone agg + merge agg only")
    val tombScan = nodes.map(_.toString).find(_.contains(
      "skipFilters=[EqualTo(deleted,true)"))
    assert(tombScan.isDefined,
      "q171: the tombstone aggregate must push deleted=true into its scan")
  }

  test("q17 aggregates the fact side before its broadcast outer join") {
    val nodes = allNodes(finalPlan("q17_join_outer"))
    // the fact table must never shuffle on the 25-value nation key —
    // no sort-merge join may appear
    val smj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "q17 shuffle-joins the fact side")
    // every shuffle moves aggregated partials, not raw customer rows:
    // each exchange's subtree must contain a HashAggregate below it
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      assert(allNodes(e.child).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _ => false
      }, s"q17 shuffles raw fact rows: ${e.child.nodeName}")
    }
  }

  test("q105 rides the dict-id histogram aggregation pushdown") {
    val leaf = finalPlan("q105_pinot_group_topk").collectLeaves().head.toString
    assert(leaf.contains("histogram=true"), leaf)
  }

  test("q115 resolves entirely from segment metadata (metaComplete)") {
    val leaf = finalPlan("q115_pinot_meta_agg").collectLeaves().head.toString
    assert(leaf.contains("metaComplete=true"), leaf)
  }

  test("q116 pushes its top-N into the aggregate scan") {
    val leaf = finalPlan("q116_pinot_topk_pushed").collectLeaves().head.toString
    assert(leaf.contains("pushedTopN=[limit=10"), leaf)
  }

  test("q117 rides the sorted-column doc-range top-N") {
    val leaf = finalPlan("q117_pinot_sorted_topk").collectLeaves().head.toString
    assert(leaf.contains("pushedTopN=[sorted l_orderkey DESC limit=40"), leaf)
  }

  test("q118 pushes its offset into the chained scan") {
    val leaf = finalPlan("q118_pinot_offset").collectLeaves().head.toString
    assert(leaf.contains("pushedOffset=100"), leaf)
  }

  test("q129 routes its json equality probe into the scan") {
    val leaf = finalPlan("q129_pinot_json_index").collectLeaves().head.toString
    assert(leaf.contains("jsonEq=[props $.k=42"), leaf)
  }

  test("q130 routes its json IN-list and exists probes into the scan") {
    val leaf =
      finalPlan("q130_pinot_json_in_exists").collectLeaves().head.toString
    assert(leaf.contains("props2 $.n in(2,5,8)"), leaf)
    assert(leaf.contains("props2 $.k2 exists"), leaf)
  }

  test("q131 routes its json string-range probes into the scan") {
    val leaf =
      finalPlan("q131_pinot_json_range").collectLeaves().head.toString
    assert(leaf.contains("props2 $.n>=3"), leaf)
    assert(leaf.contains("props2 $.n<8"), leaf)
  }

  test("q132 routes its json is-null probe into the scan") {
    val leaf =
      finalPlan("q132_pinot_json_isnull").collectLeaves().head.toString
    assert(leaf.contains("props2 $.k2 isnull"), leaf)
    assert(leaf.contains("props2 $.n=4"), leaf)
  }

  test("q48 queries the persisted IVF index: no k-means job in the plan") {
    val plan = finalPlan("q48_knn_ivf").toString
    // a per-query k-means would show as the centroid construction
    // (posexplode + per-vector assignment window over the full corpus)
    assert(!plan.contains("posexplode"),
      s"q48 recomputes centroids per query:\n${plan.take(1500)}")
    // the corpus side must come from the cluster-partitioned index
    val leaves = finalPlan("q48_knn_ivf").collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("graft_ivf_cache")),
      s"q48 does not read the persisted index:\n${leaves.mkString("\n").take(1000)}")
  }

  test("projection-only queries prune columns at the scan") {
    val df = SparkEntry.queries("q02_projection")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema"), scan)
    assert(!scan.contains("l_extendedprice"),
      s"q02 reads columns it does not project:\n$scan")
  }

  test("q41, q73 and q49 read no RDD: no dictionary round trip, no checkpoint") {
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, QueryExecution, RDDScanExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (name <- Seq("q41_dedup_ngram_jaccard", "q73_dedup_components",
          "q49_dedup_minhash_lsh")) {
        plans.synchronized(plans.clear())
        SparkEntry.queries(name)(spark, sf).collect()
        // listener delivery is async: wait until the plan count settles
        // (q73 runs its pair collect and then its result)
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val n = plans.synchronized(plans.length)
          if (n == last && n > 0) stable += 1 else { stable = 0; last = n }
        }
        val rddScans = plans.synchronized(plans.toVector).flatMap(allNodes)
          .filter {
            case _: RDDScanExec => true
            case _: ExternalRDDScanExec[_] => true
            case _ => false
          }
        assert(rddScans.isEmpty,
          s"$name reads an RDD: ${rddScans.map(_.nodeName).mkString(", ")}")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}

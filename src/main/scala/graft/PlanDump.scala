package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dumps `explain("formatted")` of queries, in one of two modes:
  *
  *  - no arguments (or just `<sfDir>`): the curated flagship plans, at
  *    sf0.001 by default → PLANS.md;
  *  - `<sfDir> <outDir> <suffix> <q1,q2,...|all>`: one file per query,
  *    `<outDir>/<query>_<suffix>.txt`, so a before/after diff shows
  *    exactly what a change did to each plan.
  *
  * Usage: runMain graft.PlanDump [<sfDir> [<outDir> <suffix> <queries|all>]]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // The production session (extensions on: without them the upsert
    // and json-index plans would show RAW-scan shapes that never run)
    // at a fixed 8 cores, so committed plans do not depend on the box.
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args match {
      case Array() | Array(_) => writePlansMd(spark, sfDir)
      case Array(_, outDir, suffix, qs) =>
        val names =
          if (qs == "all") SparkEntry.queries.keys.toSeq.sorted
          else qs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        writePerQuery(spark, sfDir, Paths.get(outDir), suffix, names)
      case _ => throw new IllegalArgumentException(
        "usage: PlanDump [<sfDir> [<outDir> <suffix> <q1,q2,...|all>]]")
    } finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  /** Writes `<outDir>/<name>_<suffix>.txt` per query; a query whose plan
    * fails is reported and skipped. */
  def writePerQuery(spark: SparkSession, sfDir: String, outDir: Path,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    for (name <- names) {
      try {
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
          plan(spark, sfDir, name))
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
  }

  private def writePlansMd(spark: SparkSession, sfDir: String): Unit = {
    val picks = Seq(
      "q01_count_star", "q08_filter_range", "q12_tpch_q1",
      "q13_join_broadcast", "q18_tpch_q3", "q20_window_rank",
      "q41_dedup_ngram_jaccard", "q47_knn_brute", "q65_pinot_roundtrip",
      "q70_pinot_mv_explode", "q74_curation_pipeline",
      "q75_pinot_json_decimal", "q76_split_assign", "q77_decontam",
      "q79_stopword_scrub", "q80_pinot_nullable", "q83_attribution",
      "q84_pinot_hybrid", "q87_upsert_latest", "q88_gapfill",
      "q92_pinot_bloom", "q93_pinot_v1", "q94_pinot_range",
      "q95_pinot_text", "q96_surprisal", "q99_tpch_q6",
      "q100_pinot_vector",
      // round 4: oracled LSH, persisted-IVF query path, distributed
      // prefix sum, histogram group-by pushdown
      "q49_dedup_minhash_lsh", "q48_knn_ivf", "q85_sequence_packing",
      "q105_pinot_group_topk",
      // round 9: widened TPC-H (fact-chain shuffles + broadcast dims,
      // correlated-scalar rewrite, HAVING-IN semi join)
      "q119_tpch_q7", "q124_tpch_q17", "q125_tpch_q18",
      // round 10: funnel window-chain on ONE exchange; sketch partials;
      // grid-cell equi-join geofence; single-scan nearest-region argmin
      "q134_funnel_max_step", "q136_theta_distinct",
      "q137_geofence_count", "q138_nearest_region",
      // round 13: stored/sliced freq heavy hitters, grouped two-tier
      // slice, upsert rank-window (FULL) and strategy-agg (PARTIAL)
      "q155_pinot_group_timeslice", "q158_pinot_freq_stored",
      "q159_pinot_freq_timeslice", "q161_pinot_upsert",
      "q162_pinot_partial_upsert",
      // round 15: PARTIAL+delete revive (tombstone broadcast), grouped
      // bitmap/kmv two-tier slices; q172's plan is stream-side (see
      // StreamNearDupSpec), so its batch twin shape is q49's
      "q171_pinot_partial_delete_upsert",
      "q173_pinot_group_bitmap_timeslice", "q174_pinot_group_kmv_timeslice",
      // round 16: full-probe IVF (the exact regime of the persisted
      // index; q175's per-batch join shape is pinned in
      // StreamNearDupSpec — stream-side, not dumpable here)
      "q48c_knn_ivf_fullprobe")
    val sb = new StringBuilder
    sb ++= "# PLANS — executed physical plans of flagship queries\n\n"
    sb ++= "Generated by `sbt \"runMain graft.PlanDump\"` at sf0.001.\n"
    sb ++= "What to look for: PushedFilters / ReadSchema on scans,\n"
    sb ++= "BroadcastHashJoin for dims, partial+final HashAggregate,\n"
    sb ++= "TakeOrderedAndProject for top-k, WholeStageCodegen spans,\n"
    sb ++= "and PinotScan's pushed limit/skip-filters.\n\n"
    for (name <- picks)
      sb ++= s"## $name\n\n```\n${plan(spark, sfDir, name)}```\n\n"
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
  }
}

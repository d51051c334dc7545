package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differential proof for the r17 prefix-filter candidate pruning in
  * [[TextOps]]'s `jaccardPairs` (q41/q73): the pruned pipeline must
  * produce the EXACT pair set (ids and jaccard values) of the unpruned
  * inverted-index reference join over the same df-filtered shingle
  * universe — on the real sf0.001 corpus AND on a constructed corpus
  * that sits ON the J = 0.8 integer boundary, crosses the ⌊n/5⌋+1
  * prefix-length boundaries, and activates the document-frequency
  * cutoff (none of which sf0.001 alone exercises: its N = 50 keeps
  * tau = 50 ≥ every df).
  *
  * The reference below is the pre-r17 shape: full self-join on the
  * shingle, pair-count aggregate, size join, exact integer threshold.
  */
class PrefixFilterDifferentialSpec extends SparkTestBase {

  import spark.implicits._

  /** The unpruned reference: every co-occurring pair counted. */
  private def referencePairs(s: SparkSession, d: String): DataFrame = {
    val sh0 = TextOps.shingles(s, d)
    val nDocs = graft.Tables.load(s, d, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val keep = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(50L), expr("n_docs div 10")))
      .select("shingle")
    val sh = sh0.join(keep, "shingle").select(col("doc_id"), col("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("za"), col("id_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.doc_id"))
      .withColumn("un", col("za.n") + col("zb.n") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * 8)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("un"), 4).as("jaccard"))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"),
        col("jaccard").cast("double"))
      .as[(Long, Long, Double)].collect().toSet

  test("sf0.001 corpus: pruned pair set == unpruned reference") {
    val pruned = pairSet(
      TextOps.queries("q41_dedup_ngram_jaccard")(spark, sfDir))
    val ref = pairSet(referencePairs(spark, sfDir))
    assert(pruned === ref,
      s"prefix filter changed the pair set: only-pruned=" +
        s"${pruned.diff(ref)} only-ref=${ref.diff(pruned)}")
    assert(ref.nonEmpty, "differential vacuous: the corpus has no pairs")
  }

  test("boundary corpus: exact J=0.8 pairs, prefix-length edges, " +
      "active df cutoff") {
    val work = graft.TestDirs.create("prefix_diff")
    // --- constructed docs ---
    // 1/2: 11 words, last word differs → 9 shingles each, 8 shared →
    //      J = 8/10 = 0.8 EXACTLY (inter*10 == un*8, must be INCLUDED)
    val w11 = (1 to 10).map(i => s"w$i").mkString(" ")
    val d1 = s"$w11 tailA"
    val d2 = s"$w11 tailB"
    // 3: word 10 differs from d1 → 2 shingles off → J = 7/11 (EXCLUDED)
    val d3 = ((1 to 9).map(i => s"w$i") ++ Seq("xx", "tailA")).mkString(" ")
    // 4/5: n=5 vs n=4 shingles, subset relation → J = 4/5 = 0.8 exactly
    //      (prefix lengths 2 and 1 — the n%5 boundary both sides)
    val d4 = (1 to 7).map(i => s"v$i").mkString(" ")   // 5 shingles
    val d5 = (1 to 6).map(i => s"v$i").mkString(" ")   // 4 shingles ⊂ d4's
    // 6/7: identical docs → J = 1.0
    val d6 = "p q r s t u"
    val d7 = d6
    // 8/9: share ONLY one high-df boilerplate shingle (dropped by the
    //      cutoff below) → must NOT pair
    val boiler = "common boiler plate"
    val d8 = s"$boiler aaa bbb ccc"
    val d9 = s"$boiler ddd eee fff"
    // 60 filler docs all carrying the boilerplate shingle → its df = 62
    // > tau = max(50, 69 div 10) = 50 → dropped from the universe
    val fillers = (0 until 60).map(k =>
      (100L + k, s"$boiler f${k}a f${k}b f${k}c"))
    val docs = (Seq(
      (1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5),
      (6L, d6), (7L, d7), (8L, d8), (9L, d9)) ++ fillers)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite")
      .parquet(work.resolve("documents.parquet").toString)
    val d = work.toString

    val pruned = pairSet(
      TextOps.queries("q41_dedup_ngram_jaccard")(spark, d))
    val ref = pairSet(referencePairs(spark, d))
    assert(pruned === ref,
      s"boundary corpus diverged: only-pruned=${pruned.diff(ref)} " +
        s"only-ref=${ref.diff(pruned)}")
    // the known ground truth, independently of the reference impl
    assert(pruned.contains((1L, 2L, 0.8)), "exact-boundary J=0.8 pair lost")
    assert(pruned.contains((4L, 5L, 0.8)), "n%5-boundary subset pair lost")
    assert(pruned.contains((6L, 7L, 1.0)), "identical-doc pair lost")
    assert(!pruned.exists(p => p._1 == 1L && p._2 == 3L),
      "below-threshold pair leaked in")
    assert(!pruned.exists(p => p._1 == 8L && p._2 == 9L),
      "boilerplate-only pair must be cut by the df cutoff")
    // q73's component builder consumes the same pair chain — smoke it
    val roots = TextOps.queries("q73_dedup_components")(spark, d)
      .select(col("doc_id").cast("long"), col("component_root").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(roots(2L) == 1L && roots(7L) == 6L && roots(5L) == 4L,
      s"component roots diverged: $roots")
  }

  test("length filter: 4 vs 5 shingles kept at its edge, 4 vs 6 cut " +
      "though the prefixes share a shingle") {
    val work = graft.TestDirs.create("length_filter")
    // 10/11: 4 vs 5 shingles, subset → J = 4/5 = 0.8 and
    //        min·5 = max·4: the length filter's edge, KEPT
    // 12/13: 4 vs 6 shingles, subset → J = 4/6, min·5 < max·4: CUT. The
    //        fillers 14/15 raise the df of 13's two extra shingles, so
    //        13's prefix (2 tokens) starts with the shingle that is 12's
    //        whole prefix (1 token): without the length filter the pair
    //        would be a candidate
    val docs = Seq(
      (10L, "a1 a2 a3 a4 a5 a6"), (11L, "a1 a2 a3 a4 a5 a6 a7"),
      (12L, "b1 b2 b3 b4 b5 b6"), (13L, "b1 b2 b3 b4 b5 b6 b7 b8"),
      (14L, "b5 b6 b7 b8 c1"), (15L, "b5 b6 b7 b8 c2"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite")
      .parquet(work.resolve("documents.parquet").toString)
    val d = work.toString

    val cand = TextOps.prefixCandidates(TextOps.shingleSets(spark, d))
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((10L, 11L)), s"edge pair not a candidate: $cand")
    assert(!cand.contains((12L, 13L)), s"length filter let 4 vs 6 through: $cand")
    val pruned = pairSet(
      TextOps.queries("q41_dedup_ngram_jaccard")(spark, d))
    assert(pruned === pairSet(referencePairs(spark, d)))
    assert(pruned === Set((10L, 11L, 0.8)))
  }
}

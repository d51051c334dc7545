package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differential proof for q49's exact verification: intersecting the two
  * endpoints' shingle-set rows ([[TextOps.verified]] over
  * [[SketchDedup.signatures]]) must give the pair set of the shingle
  * self-join it replaced, over the same LSH candidates — on the sf0.001
  * corpus and on a constructed corpus holding a pair at J = 0.8 exactly,
  * an identical pair and a pair just below the threshold.
  *
  * The reference below is the replaced shape: the candidate docs'
  * shingles (left-semi to the candidate endpoints), a shingle self-join
  * with a pair count, a left-semi to the candidate pairs, a join to each
  * side's size, the exact integer threshold.
  */
class LshVerifyDifferentialSpec extends SparkTestBase {

  import spark.implicits._

  private def referencePairs(s: SparkSession, d: String): DataFrame = {
    val cand = SketchDedup.lshCandidates(SketchDedup.signatures(s, d))
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val sh = TextOps.shingles(s, d).join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(cand, Seq("id_a", "id_b"), "left_semi")
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

  private def q49(d: String) =
    pairSet(SketchDedup.queries("q49_dedup_minhash_lsh")(spark, d))

  test("sf0.001 corpus: set-row verification == shingle self-join reference") {
    val got = q49(sfDir)
    val ref = pairSet(referencePairs(spark, sfDir))
    assert(got === ref,
      s"only-new=${got.diff(ref)} only-ref=${ref.diff(got)}")
    assert(ref.nonEmpty, "differential vacuous: the corpus has no pairs")
  }

  test("constructed corpus: J = 0.8 exactly, identical docs, J just below") {
    val work = graft.TestDirs.create("lsh_verify_diff")
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    // 1/2: 9 shingles each, 8 shared → J = 8/10 = 0.8 exactly (kept)
    // 3/4: identical → J = 1.0
    // 1/5: word 10 differs → 7 shared of 11 → J = 7/11 (cut)
    val docs = Seq(
      (1L, s"$w tailA"), (2L, s"$w tailB"),
      (3L, "p q r s t u v"), (4L, "p q r s t u v"),
      (5L, (1 to 9).map(i => s"w$i").mkString(" ") + " xx tailA"),
      (6L, "unrelated words only here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite")
      .parquet(work.resolve("documents.parquet").toString)
    val d = work.toString
    val got = q49(d)
    val ref = pairSet(referencePairs(spark, d))
    assert(got === ref,
      s"only-new=${got.diff(ref)} only-ref=${ref.diff(got)}")
    assert(got.contains((1L, 2L, 0.8)), s"exact-boundary J=0.8 pair lost: $got")
    assert(got.contains((3L, 4L, 1.0)), s"identical-doc pair lost: $got")
    assert(!got.exists(p => p._1 == 1L && p._2 == 5L),
      "below-threshold pair leaked in")
  }
}

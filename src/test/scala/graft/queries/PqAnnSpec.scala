package graft.queries

import graft.SparkTestBase

/** Product-quantization search (q140): the pipeline is hash-oracled, so
  * this spec covers what the oracle can't — the QUALITY of the
  * compressed candidate scan against the exact ground truth, and the
  * degenerate-exactness property (when the over-fetch covers the corpus,
  * PQ must equal the exact search bit-for-bit).
  */
class PqAnnSpec extends SparkTestBase {

  private def top5(name: String, dir: String): Set[(Long, Long)] =
    SparkEntry_q(name, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet

  private def SparkEntry_q(name: String, dir: String) =
    Embeddings.queries(name)(spark, dir)

  test("over-fetch covering the corpus degrades PQ to the exact search") {
    // 80 synthetic vectors < the fetch floor of 100: every candidate
    // survives the ADC cut, so the exact re-rank IS q47
    import spark.implicits._
    val dir = graft.TestDirs.create("pq").toString
    (0 until 80).map { v =>
      (v.toLong,
        Array.tabulate(64)(i =>
          (((v * 64L + i) * 2654435761L % 6000L) - 3000L) / 1000.0f),
        v % 4)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pq = SparkEntry_q("q140_knn_pq", dir).collect().toSeq
    val exact = SparkEntry_q("q47_knn_brute", dir)
      .orderBy("q_id", "rank").collect().toSeq
    assert(pq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) ===
      exact.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))))
  }

  test("compressed-scan recall@5 vs exact stays above 0.8 at sf0.01") {
    // this corpus is deliberately ISOTROPIC (within-label cosine ~0.002)
    // — the adversarial case for every pruning ANN (IVF needed
    // multi-assign to clear 0.95 here). K=32 codewords + max(100, n/20)
    // over-fetch measures 0.92; the floor documents honest quality, the
    // hash oracle guarantees the pipeline itself.
    val dir = "/root/testdata/sf0.01"
    val pq = top5("q140_knn_pq", dir)
    val exact = top5("q47_knn_brute", dir)
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@5 fell to $recall")
  }
}

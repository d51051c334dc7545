package graft

import org.apache.spark.sql.Row

/** Specs for the LLM-pipeline operators: dedup (exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding cosine), similarity search (brute +
  * IVF), and text analysis. Runs on sf0.001.
  */
class PipelineOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("exact dedup keeps one representative per digest") {
    val rows = run("q40_dedup_exact").collect()
    val total = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum === total)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
  }

  test("ngram jaccard finds the planted near-dup pairs") {
    val pairs = run("q41_dedup_ngram_jaccard").collect()
    assert(pairs.nonEmpty, "expected planted near-dups in documents")
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("minhash LSH reproduces the exact jaccard pair set") {
    val exact = run("q41_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("q49_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH false positives: ${lsh -- exact}")
    val recall = if (exact.isEmpty) 1.0
      else lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall: missed ${exact -- lsh}")
  }

  test("simhash near-dups cover the jaccard near-dups") {
    val exact = run("q41_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = run("q50_dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val covered = if (exact.isEmpty) 1.0
      else sim.intersect(exact).size.toDouble / exact.size
    assert(covered >= 0.8, s"simhash covered only $covered of exact pairs")
  }

  test("pair-scan guards: quadratic twin refuses >100k, blocked q46 plans it fine") {
    val dir = graft.TestDirs.create("big_emb")
    spark.range(100001).selectExpr("id AS vec_id", "CAST(id % 7 AS INT) AS label",
      "array_repeat(CAST(0.5 AS FLOAT), 4) AS embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.queries.Embeddings.quadraticPairsRaw(spark, dir.toString)
    }
    assert(e.getMessage.contains("refuses"), e.getMessage)
    // the DECLARED q46 is the blocked scan since r11: 100k+1 vectors must
    // plan without a refusal (its own guard sits at 2M)
    SparkEntry.queries("q46_cosine_pairs")(spark, dir.toString)
  }

  test("cosine pair detection is symmetric-free and thresholded") {
    val rows = run("q46_cosine_pairs").collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 - 1e-9)
    }
  }

  test("blocked pair-scan emits exactly the quadratic twin's pair set") {
    import org.apache.spark.sql.functions._
    // q46 IS the blocked plan since r11; the differential oracle is the
    // spec-only quadratic join over the same corpus
    val quad = graft.queries.Embeddings.quadraticPairsRaw(spark, sf)
      .select(col("id_a"), col("id_b"),
        round(col("dot").cast("double") /
          sqrt(col("sa").cast("double") * col("sb").cast("double")),
          4).as("cos_sim"))
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val blocked = run("q46_cosine_pairs").collect().map(_.toSeq).toSeq
    assert(blocked === quad)
    val q112 = run("q112_cosine_pairs_blocked").collect().map(_.toSeq).toSeq
    assert(q112 === quad)
  }

  test("brute-force knn returns 5 ranked neighbors per query") {
    val rows = run("q47_knn_brute").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to 5))
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF knn achieves reasonable recall vs brute force") {
    val brute = run("q47_knn_brute").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = run("q48_knn_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // the committed operating point (MultiAssign=3, NProbe=5) is chosen
    // to deliver >= 0.95 on this isotropic corpus — same bar as the
    // driver-visible q48b gate
    assert(recall >= 0.95, s"IVF recall too low: $recall")
  }

  test("token counts are consistent (bpe >= ws, chars > 0)") {
    run("q44_token_count").collect().foreach { r =>
      assert(r.getInt(1) > 0 && r.getInt(2) >= r.getInt(1) && r.getInt(3) > 0)
    }
  }

  test("quality score is bounded in [0, 1]") {
    run("q43_text_quality").collect().foreach { r =>
      val q = r.getDouble(5)
      assert(q >= 0.0 && q <= 1.0, s"score out of range: $r")
    }
  }

  test("fingerprints are order-sensitive and mostly distinct") {
    val rows = run("q45_fingerprint").collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(_, cnt: Long, distinct: Long, _) =>
      assert(distinct.toDouble / cnt > 0.9)
    }
  }

  test("lang id buckets every document") {
    val total = Tables.load(spark, sf, "documents").count()
    assert(run("q42_lang_id").collect().map(_.getLong(2)).sum === total)
  }
}

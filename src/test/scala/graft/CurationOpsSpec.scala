package graft

import org.apache.spark.sql.functions._

/** Specs for the corpus-curation operators (q76–q79): split assignment,
  * decontamination, domain capping, stopword scrubbing. Runs on sf0.001.
  */
class CurationOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q85/q89 prefix sums handle an EMPTY corpus (no NPE on null bounds)") {
    val dir = graft.TestDirs.create("empty_docs")
    spark.range(0).selectExpr("id AS doc_id", "'x' AS text",
      "'en' AS lang", "'web' AS source", "id AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("q85_sequence_packing")(spark, dir.toString)
      .collect().isEmpty)
    assert(SparkEntry.queries("q89_epoch_shuffle")(spark, dir.toString)
      .collect().isEmpty)
  }

  test("split assignment partitions every document exactly once") {
    val rows = run("q76_split_assign").collect()
    val total = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum === total)
    val bySplit = rows.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // hash buckets 0..79 / 80..89 / 90..99 → roughly 80/10/10
    assert(bySplit("train") > bySplit("val") + bySplit("test"))
    // deterministic: a second run is identical
    assert(run("q76_split_assign").collect().toSeq === rows.toSeq)
  }

  test("decontamination never reports more shared shingles than exist") {
    val rows = run("q77_decontam").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)}: shared > total")
      assert(r.getBoolean(3) === (r.getLong(2) * 5 >= r.getLong(1)))
    }
    // eval docs themselves (doc_id % 20 == 0) are excluded from output
    assert(rows.forall(_.getLong(0) % 20 != 0))
  }

  test("domain cap keeps at most 8 docs per domain, ranks contiguous") {
    val rows = run("q78_domain_cap").collect()
    val byDomain = rows.groupBy(r => (r.getString(0), r.getString(1)))
    byDomain.foreach { case (dom, rs) =>
      assert(rs.length <= 8, s"$dom over cap")
      assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to rs.length),
        s"$dom ranks not contiguous")
    }
    // quality is non-increasing with rank inside a domain
    byDomain.values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(2)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("stopword scrub removes exactly the top-5 DF words, order kept") {
    val docs = Tables.load(spark, sf, "documents")
    val top5 = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("word")).limit(5)
      .collect().map(_.getString(0)).toSet
    val rows = run("q79_stopword_scrub").collect()
    assert(rows.length === docs.count())
    // recompute one doc's scrub directly and compare the digest
    val sample = docs.orderBy("doc_id").select("doc_id", "text")
      .limit(3).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    sample.foreach { s =>
      val clean = s.getString(1).split(" ").filterNot(top5).mkString(" ")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(clean.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val r = byId(s.getLong(0))
      assert(r.getString(3) === digest, s"doc ${s.getLong(0)} digest")
      assert(r.getLong(2) ===
        s.getString(1).split(" ").count(w => !top5(w)).toLong)
    }
  }
}

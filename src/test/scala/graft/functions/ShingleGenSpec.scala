package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the zero-decode byte-offset shingler (r17) to the semantics of
  * the declarative original: `split(text, ' ')` keeping empty tokens,
  * docs with <3 words emit nothing, 3-grams joined by single spaces,
  * first-occurrence distinct (or every occurrence in document order for
  * the q82 `shingles_all` mode). The byte path relies on 0x20 never
  * appearing inside a multi-byte UTF-8 sequence and on each 3-gram being
  * a contiguous byte range of the original string — the multi-byte and
  * empty-token cases below are exactly where those assumptions would
  * break if wrong.
  */
class ShingleGenSpec extends SparkTestBase {

  import spark.implicits._

  // the declarative chain ShingleGen replaced — the semantic reference
  private def referenceDistinct(textCol: String) = expr(
    s"array_distinct(transform(sequence(0, size(split($textCol, ' ')) - 3), " +
      s"i -> concat_ws(' ', slice(split($textCol, ' '), i + 1, 3))))")

  private def referenceAll(textCol: String) = expr(
    s"transform(sequence(0, size(split($textCol, ' ')) - 3), " +
      s"i -> concat_ws(' ', slice(split($textCol, ' '), i + 1, 3)))")

  private val cases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c",
    "a b",                       // < 3 words: nothing
    "a",                         // single word
    "",                          // empty text → one empty token
    "  leading double space",    // empty tokens kept
    "trailing space ",           // trailing empty token
    "a  b  c",                   // interior empty tokens
    "   ",                       // only empty tokens (4 of them)
    "über die straße läuft ein fuchs", // multi-byte UTF-8
    "日本語 の 形態素 解析 テスト",       // CJK multi-byte
    "x y z x y z x y z",         // duplicate shingles
    "a b c d a b c d"            // overlapping repeats
  )

  test("distinct mode matches the declarative reference on every edge case") {
    val df = cases.toDF("text")
    val got = df.select(col("text"),
        ShingleGen.shingles(col("text")).as(Seq("sh")))
      .groupBy("text").agg(collect_list("sh").as("got"))
    val want = df.select(col("text"),
      when(size(split(col("text"), " ")) >= 3,
        referenceDistinct("text")).otherwise(array()).as("want"))
    // docs with <3 words emit NO generator rows, so they are absent
    // from `got` — the join covers exactly the >=3-word cases
    val joined = got.join(want, "text").collect()
    assert(joined.length ==
      cases.distinct.count(_.split(" ", -1).length >= 3))
    joined.foreach { r =>
      val g = r.getSeq[String](1)
      val w = r.getSeq[String](2)
      assert(g == w, s"distinct shingles diverged for ${r.getString(0)}: " +
        s"got $g want $w")
    }
    // docs with <3 words emit NO rows at all (not an empty-string row)
    val rows = df.select(ShingleGen.shingles(col("text")).as(Seq("sh"))).count()
    val expected = cases.map { t =>
      val nw = t.split(" ", -1).length
      if (nw < 3) 0 else t.split(" ", -1).sliding(3).map(_.mkString(" ")).toSeq.distinct.length
    }.sum
    assert(rows == expected)
  }

  test("all-occurrences mode matches the declarative reference (order + dups)") {
    // one partition plus a position column: collect() returns the docs in
    // position order and each doc's generator rows in generation order,
    // so the comparison below pins order as well as duplicates
    val df = cases.zipWithIndex.toDF("text", "pos").coalesce(1)
    val got = df.select(col("pos"),
        ShingleGen.shinglesAll(col("text")).as(Seq("sh")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
    val want = df.orderBy("pos").select(
      when(size(split(col("text"), " ")) >= 3,
        referenceAll("text")).otherwise(array()))
      .collect().map(_.getSeq[String](0))
    for (i <- cases.indices) {
      val g = got.collect { case (`i`, sh) => sh }
      assert(g == want(i), s"all-mode shingles diverged for " +
        s"'${cases(i)}': got $g want ${want(i)}")
    }
  }

  test("null text emits nothing") {
    val df = Seq[Option[String]](None, Some("a b c d")).toDF("text")
    val n = df.select(ShingleGen.shingles(col("text")).as(Seq("sh"))).count()
    assert(n == 2) // only the non-null doc's 2 shingles
  }
}

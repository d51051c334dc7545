package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential proof for the per-document sketch kernel
  * ([[DocSketch]]): `shingle_set`, `minhash_sig` and `simhash` must equal
  * [[DocSketchReference]] (the DuckDB oracles' md5-hex formulas over
  * `split(text, ' ')`) on the tokenizer's edge cases — empty text, empty
  * tokens, under 3 words, multi-byte UTF-8, CJK, repeated shingles —
  * NULL text, and a seeded corpus of the same ingredients.
  */
class DocSketchSpec extends SparkTestBase {

  import spark.implicits._

  private val edgeCases = Seq(
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

  /** Docs of 0–40 tokens drawn from a small vocabulary holding empty,
    * multi-byte and CJK tokens, so shingles and tokens repeat within and
    * across docs (the memo's hit path) and every edge recurs.
    */
  private def seededCorpus(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("", "a", "the", "fox", "über", "straße", "日本語",
      "解析", "x", "y", "lorem", "ipsum", "dolor", "é", "z9")
    Seq.fill(n)(Seq.fill(rnd.nextInt(41))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" "))
  }

  private def assertKernelMatches(texts: Seq[Option[String]]): Unit = {
    val df: DataFrame = texts.zipWithIndex.toDF("text", "pos")
    val rows = df.select(col("pos"), col("text"),
        SketchExprs.shingleSet(col("text")), DocSketchReference.shingleSet("text"),
        SketchExprs.minhashSig(col("text")), DocSketchReference.minhashSig("text"),
        SketchExprs.simhash(col("text")), DocSketchReference.simhash("text"))
      .collect()
    assert(rows.length == texts.length)
    rows.foreach { r =>
      val t = Option(r.getString(1))
      def seq[T](i: Int) = Option(r.getSeq[T](i)).map(_.toList)
      val what = t.fold("NULL text")(s => s"'$s'")
      if (t.isEmpty) {
        assert(seq[String](2).contains(Nil) && r.isNullAt(4) && r.isNullAt(6),
          s"NULL text must give no shingles and NULL sketches: $r")
      } else {
        assert(seq[String](2) == seq[String](3), s"shingle_set diverged for $what")
        assert(seq[Long](4) == seq[Long](5), s"minhash_sig diverged for $what")
        assert(r.get(6) == r.get(7), s"simhash diverged for $what")
      }
    }
  }

  test("kernel == md5-hex reference on every tokenizer edge case and NULL") {
    assertKernelMatches(edgeCases.map(Some(_)) :+ None)
    // the edge cases reach both sides of the 3-word rule
    val sigs = edgeCases.toDF("text")
      .select(SketchExprs.minhashSig(col("text")).isNull).as[Boolean].collect()
    assert(sigs.count(identity) == edgeCases.count(_.split(" ", -1).length < 3))
  }

  test("kernel == md5-hex reference on a seeded corpus") {
    assertKernelMatches(seededCorpus(300, seed = 20261020L).map(Some(_)))
  }
}

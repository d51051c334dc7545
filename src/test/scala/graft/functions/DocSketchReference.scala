package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An independent reference for the [[DocSketch]] kernel: the md5-hex
  * formulas the DuckDB oracles use, written as Spark SQL over
  * `split(text, ' ')` and Spark's own `md5` / `conv`, with no code shared
  * with the kernel (no byte scan, no memo, no bit slicing of the digest).
  */
object DocSketchReference {

  private def words(t: String) = s"split($t, ' ')"

  /** Distinct word 3-grams, first-occurrence order; empty under 3 words. */
  def shingleSet(t: String): Column = expr(
    s"CASE WHEN size(${words(t)}) >= 3 THEN ${shingleSetSql(t)} ELSE array() END")

  /** The 64 Carter–Wegman minima over x = (first 13 + next 13 hex chars
    * of md5) mod p, the DuckDB oracle's formula; NULL under 3 words.
    */
  def minhashSig(t: String): Column = expr(
    s"CASE WHEN size(${words(t)}) >= 3 THEN aggregate(" +
      s"transform(${shingleSetSql(t)}, sh -> " +
      "(CAST(conv(substr(md5(sh), 1, 13), 16, 10) AS BIGINT) + " +
      "CAST(conv(substr(md5(sh), 14, 13), 16, 10) AS BIGINT)) % 2147483647), " +
      "array_repeat(9223372036854775807L, 64), " +
      "(acc, x) -> zip_with(acc, sequence(0, 63), (m, i) -> least(m, " +
      "((1 + ((i + 1) * 1013904223L) % 2147483646L) * x " +
      "+ (i * 2654435761L) % 2147483647L) % 2147483647L))) END")

  private def shingleSetSql(t: String) =
    s"array_distinct(transform(sequence(0, size(${words(t)}) - 3), " +
      s"i -> concat_ws(' ', slice(${words(t)}, i + 1, 3))))"

  /** Bit j set iff more tokens have bit j of their md5 hash set than
    * clear; the hash's 64 bits are read from two 8-hex-char halves, as
    * in the DuckDB oracle.
    */
  def simhash(t: String): Column = expr(
    "aggregate(sequence(0, 63), 0L, (bits, j) -> bits | IF(" +
      s"aggregate(${words(t)}, 0, (acc, w) -> acc + 2 * CAST(IF(j < 32, " +
      "shiftright(CAST(conv(substr(md5(w), 9, 8), 16, 10) AS BIGINT), j), " +
      "shiftright(CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT), j - 32))" +
      " & 1 AS INT) - 1) > 0, shiftleft(1L, j), 0L))")

  /** The (doc_id, band, sig) rows of `docs` (doc_id, text): 16 bands of
    * 4 minima, sig = md5 of the band's minima joined by commas.
    */
  def bands(docs: DataFrame): DataFrame =
    docs.withColumn("sig_vec", minhashSig("text"))
      .filter(col("sig_vec").isNotNull)
      .withColumn("band", explode(expr("sequence(0, 15)")))
      .withColumn("sig", md5(concat_ws(",", expr(
        "transform(slice(sig_vec, band * 4 + 1, 4), x -> CAST(x AS STRING))"))))
      .select("doc_id", "band", "sig")
}

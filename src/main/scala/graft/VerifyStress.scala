package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Dev-only determinism stress: Verify with adversarial partitioning. */
object VerifyStress {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder(8)
      .config("spark.sql.shuffle.partitions", "13") // odd, non-default
      .config("spark.sql.files.maxPartitionBytes", "262144") // 256 KB
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    val idxFails = IndexStress.run(spark)
    spark.stop()
    if (idxFails > 0) sys.exit(1)
  }
}

/** Adversarial-value stress for the secondary-index family: every index
  * kind gets a fixture loaded with the pruning hazards past reviews
  * flagged (−0.0/0.0, NaN, ±Inf, empty strings, an ALL-NULL window,
  * single-value and single-row segments), written twice — indexed and
  * plain — and probed with identical predicates. The plain table is the
  * oracle: an index may only skip IO, never change answers. Runs inside
  * VerifyStress so the hazards stay fixed by test, not by review.
  */
object IndexStress {
  import graft.pinot.{SegmentWriter, VarByteChunkV4}
  import org.apache.spark.sql.{DataFrame, functions => F}
  import org.apache.spark.sql.functions.col

  def run(spark: SparkSession): Int = {
    val root = Files.createTempDirectory("graft_idx_stress")
    var fails = 0

    def check(label: String, idx: DataFrame, plain: DataFrame): Unit = {
      val a = idx.collect().map(_.toString).sorted.toSeq
      val b = plain.collect().map(_.toString).sorted.toSeq
      if (a == b) println(s"[stress] $label OK (${a.length} rows)")
      else {
        fails += 1
        System.err.println(s"[stress] $label FAIL: indexed=${a.length} " +
          s"plain=${b.length}; first diff: " +
          (a.toSet -- b.toSet).headOption.orElse((b.toSet -- a.toSet).headOption))
      }
    }

    // ---- numeric fixture: range + bloom + metadata min/max pruning ----
    val n = 20000 // > 2 full 8192-row windows
    val metric = Array.tabulate(n) { i =>
      if (i % 97 == 0) Double.NaN
      else if (i < 4096) { if (i % 2 == 0) -0.0 else 0.0 }
      else if (i >= 8192 && i < 9000) 5e6 + i // incident cluster
      else if (i == n - 1) Double.PositiveInfinity
      else if (i == n - 2) Double.NegativeInfinity
      else (i * 2654435761L % 100000).toDouble
    }
    // the SECOND full window (8192..16383) is entirely null → null-vector
    // pruning must not resurrect or drop rows
    val nulls = Array.range(8192, 16384)
    def writeNum(dir: java.nio.file.Path, indexed: Boolean): Unit = {
      SegmentWriter.write(dir.resolve("seg0"), "m", "seg0", Seq(
        SegmentWriter.DoubleRawCol("m", metric),
        SegmentWriter.IntCol("k", Array.tabulate(n)(identity))),
        nullVectors = Map("m" -> nulls),
        rangeCols = if (indexed) Set("m") else Set.empty,
        bloomCols = if (indexed) Set("m") else Set.empty)
      // single-value and single-row segments (degenerate stats)
      SegmentWriter.write(dir.resolve("seg1"), "m", "seg1", Seq(
        SegmentWriter.DoubleRawCol("m", Array.fill(100)(-0.0)),
        SegmentWriter.IntCol("k", Array.tabulate(100)(i => n + i))),
        rangeCols = if (indexed) Set("m") else Set.empty,
        bloomCols = if (indexed) Set("m") else Set.empty)
      SegmentWriter.write(dir.resolve("seg2"), "m", "seg2", Seq(
        SegmentWriter.DoubleRawCol("m", Array(Double.NaN)),
        SegmentWriter.IntCol("k", Array(n + 100))),
        rangeCols = if (indexed) Set("m") else Set.empty,
        bloomCols = if (indexed) Set("m") else Set.empty)
    }
    val numIdx = root.resolve("mi_OFFLINE"); writeNum(numIdx, indexed = true)
    val numPlain = root.resolve("mp_OFFLINE"); writeNum(numPlain, indexed = false)
    def ni: DataFrame = spark.read.format("pinot").load(numIdx.toString)
    def np: DataFrame = spark.read.format("pinot").load(numPlain.toString)
    val numProbes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "range >4e6" -> (df => df.filter(col("m") > 4000000d)),
      "range >=0.0" -> (df => df.filter(col("m") >= 0.0)),
      "range <0.0" -> (df => df.filter(col("m") < 0.0)),
      "eq 0.0 (matches -0.0)" -> (df => df.filter(col("m") === 0.0)),
      "eq -0.0" -> (df => df.filter(col("m") === -0.0)),
      "eq NaN" -> (df => df.filter(col("m") === Double.NaN)),
      "eq +Inf" -> (df => df.filter(col("m") === Double.PositiveInfinity)),
      "bloom absent-in-range" -> (df => df.filter(col("m") === 12345.5)),
      "isnull (all-null window)" -> (df => df.filter(col("m").isNull)),
      "isnotnull" -> (df => df.filter(col("m").isNotNull)))
    numProbes.foreach { case (label, p) =>
      check(s"num/$label", p(ni).select("k", "m"), p(np).select("k", "m"))
    }

    // ---- string fixture: inverted + text + bloom + prefix pruning ----
    val sn = 20000
    val tag = Array.tabulate(sn) { i =>
      if (i == 0 || i == sn - 1 || i == 9001) s"needle zebra$i end"
      else if (i < 2000) "" // empty strings
      else if (i >= 8192 && i < 16384) "filler common words only"
      else s"tok${i % 311} common filler"
    }
    def writeStr(dir: java.nio.file.Path, indexed: Boolean): Unit = {
      SegmentWriter.write(dir.resolve("seg0"), "t", "seg0", Seq(
        SegmentWriter.StringDictCol("tag", tag),
        SegmentWriter.StringRawCol("body", tag,
          VarByteChunkV4.Lz4LengthPrefixed, 4096),
        SegmentWriter.IntCol("k", Array.tabulate(sn)(identity))),
        invertedCols = if (indexed) Set("tag") else Set.empty,
        textCols = if (indexed) Set("body") else Set.empty,
        bloomCols = if (indexed) Set("tag") else Set.empty)
      SegmentWriter.write(dir.resolve("seg1"), "t", "seg1", Seq(
        SegmentWriter.StringDictCol("tag", Array.fill(50)("")),
        SegmentWriter.StringRawCol("body", Array.fill(50)(""),
          VarByteChunkV4.Lz4LengthPrefixed, 4096),
        SegmentWriter.IntCol("k", Array.tabulate(50)(i => sn + i))),
        invertedCols = if (indexed) Set("tag") else Set.empty,
        textCols = if (indexed) Set("body") else Set.empty,
        bloomCols = if (indexed) Set("tag") else Set.empty)
    }
    val strIdx = root.resolve("ti_OFFLINE"); writeStr(strIdx, indexed = true)
    val strPlain = root.resolve("tp_OFFLINE"); writeStr(strPlain, indexed = false)
    def si: DataFrame = spark.read.format("pinot").load(strIdx.toString)
    def sp: DataFrame = spark.read.format("pinot").load(strPlain.toString)
    val strProbes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "inv eq empty" -> (df => df.filter(col("tag") === "")),
      "inv eq boundary doc" -> (df => df.filter(col("tag") === "needle zebra0 end")),
      "inv in set" -> (df => df.filter(col("tag").isin("needle zebra9001 end", "tok7 common filler"))),
      "text contains needle" -> (df => df.filter(col("body").contains("zebra9001"))),
      "text contains last doc" -> (df => df.filter(col("body").contains(s"zebra${sn - 1}"))),
      "text contains absent" -> (df => df.filter(col("body").contains("unicorn"))),
      "prefix startswith" -> (df => df.filter(col("tag").startsWith("needle"))),
      "endswith" -> (df => df.filter(col("body").endsWith("end"))))
    strProbes.foreach { case (label, p) =>
      check(s"str/$label", p(si).select("k", "tag"), p(sp).select("k", "tag"))
    }

    // ---- stop-analyzer twin: stop-word-laden corpus; the index must
    // refuse stop-substring probes (falling to the scan) and stay exact
    // on everything else ----
    val stopN = 10000
    val stopBody = Array.tabulate(stopN) { i =>
      if (i % 977 == 3) s"the needle zebra$i of these"
      else if (i % 7 == 0) "" // empties interleave
      else s"the tok${i % 211} and their filler theory"
    }
    def writeStop(dir: java.nio.file.Path, indexed: Boolean): Unit =
      SegmentWriter.write(dir.resolve("seg0"), "w", "seg0", Seq(
        SegmentWriter.StringRawCol("body", stopBody,
          VarByteChunkV4.Lz4LengthPrefixed, 4096),
        SegmentWriter.IntCol("k", Array.tabulate(stopN)(identity))),
        textCols = if (indexed) Set("body") else Set.empty,
        textAnalyzer = graft.pinot.TextIndexSection.AnalyzerStandardStop)
    val stopIdx = root.resolve("wsi_OFFLINE"); writeStop(stopIdx, indexed = true)
    val stopPlain = root.resolve("wsp_OFFLINE"); writeStop(stopPlain, indexed = false)
    def wi: DataFrame = spark.read.format("pinot").load(stopIdx.toString)
    def wp: DataFrame = spark.read.format("pinot").load(stopPlain.toString)
    val stopProbes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "stop substring 'the'" -> (df => df.filter(col("body").contains("the"))),
      "stop substring 'he'" -> (df => df.filter(col("body").contains("he"))),
      "stop word cased 'THE'" -> (df => df.filter(col("body").contains("THE"))),
      "stop-containing token 'theory'" ->
        (df => df.filter(col("body").contains("theory"))),
      "indexed needle" -> (df => df.filter(col("body").contains("zebra4888"))),
      "absent token" -> (df => df.filter(col("body").contains("unicorn"))),
      "their (stop) via endswith" ->
        (df => df.filter(col("body").endsWith("of these"))))
    stopProbes.foreach { case (label, p) =>
      check(s"stop/$label", p(wi).select("k", "body"), p(wp).select("k", "body"))
    }

    println(s"[stress] index family: ${if (fails == 0) "ALL OK" else s"$fails FAILURES"}")
    fails
  }
}

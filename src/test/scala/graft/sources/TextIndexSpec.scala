package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{SegmentReader, SegmentWriter, TextIndexSection, VarByteChunkV4}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{StringContains, StringEndsWith, StringStartsWith}

/** Text index (EXTENSION — the capability of Pinot's `textIndexColumns`,
  * sans Lucene): token-vocabulary postings serving substring predicates
  * on document columns.
  */
class TextIndexSpec extends SparkTestBase {

  private def firstSegDir(dir: String): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_)).next() // skip manifest
  }

  test("section: postings exact per token; whitespace probes refuse") {
    val docs = Array("alpha beta gamma", "beta delta", "gamma alpha", "epsilon")
    val sec = TextIndexSection.deserialize(TextIndexSection.build(docs.iterator))
    assert(sec.tokens.toSeq === Seq("alpha", "beta", "delta", "epsilon", "gamma"))
    assert(sec.matchBitmap("beta").get.toArray.toSeq === Seq(0, 1))
    assert(sec.matchBitmap("alph").get.toArray.toSeq === Seq(0, 2)) // substring
    assert(sec.matchBitmap("zeta").get.isEmpty)
    assert(sec.matchBitmap("a bet").isEmpty, "whitespace probe must refuse")
    assert(sec.matchBitmap("").isEmpty)
  }

  test("standard analyzer folds case and splits punctuation; v1 keeps whitespace semantics") {
    val docs = Array("Alpha-Beta GAMMA!", "beta,delta", "plain gamma alpha")
    val sec = TextIndexSection.deserialize(TextIndexSection.build(docs.iterator))
    assert(sec.analyzer === TextIndexSection.AnalyzerStandard)
    // punctuation splits tokens; vocabulary is case-folded
    assert(sec.tokens.toSeq === Seq("alpha", "beta", "delta", "gamma", "plain"))
    // probes fold too: any case variant finds every case variant
    assert(sec.matchBitmap("ALPHA").get.toArray.toSeq === Seq(0, 2))
    assert(sec.matchBitmap("Beta").get.toArray.toSeq === Seq(0, 1))
    assert(sec.matchBitmap("amm").get.toArray.toSeq === Seq(0, 2)) // substring
    // a punctuated probe could straddle tokens → must refuse
    assert(sec.matchBitmap("Alpha-Beta").isEmpty)
    assert(sec.matchBitmap("a b").isEmpty)

    // hand-built v1 section: no analyzer field → whitespace, case-exact
    val s1 = TextIndexSection.deserialize(
      buildV1(Array("Alpha beta", "beta delta")))
    assert(s1.analyzer === TextIndexSection.AnalyzerWhitespace)
    assert(s1.tokens.toSeq === Seq("Alpha", "beta", "delta"))
    assert(s1.matchBitmap("Alpha").get.toArray.toSeq === Seq(0))
    assert(s1.matchBitmap("alpha").get.isEmpty, "v1 stays case-exact")
    assert(s1.matchBitmap("a b").isEmpty)
  }

  /** The pre-upgrade v1 layout: magic | version=1 | numTokens | tokens |
    * offsets | bitmaps — whitespace tokens, case kept.
    */
  private def buildV1(values: Array[String]): Array[Byte] = {
    val postings = scala.collection.mutable.LinkedHashMap
      .empty[String, org.roaringbitmap.RoaringBitmap]
    values.zipWithIndex.foreach { case (v, doc) =>
      v.split("\\s+").filter(_.nonEmpty).distinct.foreach { t =>
        postings.getOrElseUpdate(t, new org.roaringbitmap.RoaringBitmap)
          .add(doc)
      }
    }
    val tokens = postings.keys.toArray.sorted
    val encoded = tokens.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val header = 8 + 4 + 4 + encoded.map(_.length + 4).sum + 4 * (tokens.length + 1)
    val body = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(body)
    val offsets = new Array[Int](tokens.length + 1)
    offsets(0) = header
    tokens.zipWithIndex.foreach { case (t, i) =>
      postings(t).serialize(out)
      offsets(i + 1) = header + body.size()
    }
    val buf = java.nio.ByteBuffer.allocate(header + body.size())
    buf.putLong(graft.pinot.PinotDictionary.MagicMarker)
    buf.putInt(1)
    buf.putInt(tokens.length)
    encoded.foreach { e => buf.putInt(e.length); buf.put(e) }
    offsets.foreach(buf.putInt)
    buf.put(body.toByteArray)
    buf.array()
  }

  test("substring filters decode only windows holding candidate tokens") {
    val root = graft.TestDirs.create("pinot_text")
    val tdir = root.resolve("docs_OFFLINE")
    val docs = 40000
    val needleAt = Set(3, 20001, 39998)
    val text = Array.tabulate(docs)(i =>
      if (needleAt(i)) s"common words here zebrafish$i trailing"
      else "common words here filler trailing")
    SegmentWriter.write(tdir.resolve("seg0"), "docs", "seg0", Seq(
      SegmentWriter.StringRawCol("body", text,
        VarByteChunkV4.Lz4LengthPrefixed, 4096),
      SegmentWriter.IntCol("id", Array.tabulate(docs)(identity))),
      textCols = Set("body"))
    def decodedRows(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val r = new graft.sources.pinot.PinotColumnarReader(
        s"$tdir/seg0/v3", Array("body", "id"), filters, None)
      var rows = 0
      while (r.next()) rows += r.get().numRows()
      rows
    }
    // 'zebrafish' occurs in 3 scattered docs → ≤3 windows decode
    val hits = decodedRows(Array(StringContains("body", "zebrafish")))
    assert(hits <= 3 * 8192, s"expected ≤3 windows, decoded $hits rows")
    assert(decodedRows(Array(StringContains("body", "nosuchtoken"))) === 0)
    // a whitespace probe cannot use the index → full decode, still correct
    assert(decodedRows(Array(StringContains("body", "words here"))) === docs)
    // e2e: exact results through the source (residual filter decides)
    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.filter(col("body").contains("zebrafish")).count() === 3)
    assert(df.filter(col("body").contains("zebrafish20001")).count() === 1)
    assert(df.filter(col("body").startsWith("common")).count() === docs)
    assert(df.filter(col("body").endsWith("trailing")).count() === docs)
    assert(df.filter(col("body").contains("words here")).count() === docs)
  }

  test("DSv2 option + metadata flag + v1 file + compaction carry it") {
    val root = graft.TestDirs.create("pinot_text_e2e")
    val dir = root.resolve("d_OFFLINE").toString
    import spark.implicits._
    (0 until 5000).map(i =>
      (i, s"tok${i % 997} filler words tok${(i * 31) % 997}"))
      .toDF("id", "body")
      .repartition(2)
      .write.format("pinot").option("textIndexColumns", "body")
      .mode("append").save(dir)
    val seg = firstSegDir(dir)
    assert(SegmentReader.open(seg).metadata.columns("body").hasTextIndex)
    assert(SegmentReader.open(seg).textIndex("body").isDefined)
    val back = spark.read.format("pinot").load(dir)
    val expect = (0 until 5000).count(i =>
      i % 997 == 42 || (i * 31) % 997 == 42)
    assert(back.filter(col("body").contains("tok42 ") ||
      col("body").endsWith("tok42")).count() === expect)
    val v1 = root.resolve("v1seg")
    graft.pinot.PinotCompact.convert(seg.toString, v1.toString, 1)
    assert(Files.exists(v1.resolve("body.text.inv")))
    assert(SegmentReader.open(v1).textIndex("body").isDefined)
    val merged = graft.pinot.PinotCompact.compact(dir)
    assert(SegmentReader.open(merged).textIndex("body").isDefined)
  }

  test("stop analyzer: stop tokens dropped; stop-substring probes refuse; others sound") {
    val docs = Array(
      "The theory of the matter", "an answer and a question",
      "plain words only", "These are not stopwords: theory answers")
    val sec = TextIndexSection.deserialize(TextIndexSection.build(
      docs.iterator, TextIndexSection.AnalyzerStandardStop))
    assert(sec.analyzer === TextIndexSection.AnalyzerStandardStop)
    // stop words are not in the vocabulary; containing words are
    assert(!sec.tokens.contains("the") && !sec.tokens.contains("an") &&
      !sec.tokens.contains("these") && !sec.tokens.contains("are"))
    assert(sec.tokens.contains("theory") && sec.tokens.contains("answer"))
    // probes that are substrings of ANY stop word must refuse — a match
    // could hide inside a dropped token ("he" ⊆ "the"/"these"/"their")
    for (p <- Seq("the", "he", "an", "a", "THE", "es", "t"))
      assert(sec.matchBitmap(p).isEmpty, s"probe '$p' must refuse")
    // non-stop-substring probes keep the standard superset argument
    assert(sec.matchBitmap("theory").get.toArray.toSeq === Seq(0, 3))
    assert(sec.matchBitmap("eor").get.toArray.toSeq === Seq(0, 3))
    assert(sec.matchBitmap("answ").get.toArray.toSeq === Seq(1, 3))
    assert(sec.matchBitmap("stopword").get.toArray.toSeq === Seq(3))
    // seeded-random soundness: candidates ⊇ exact matches for every
    // eligible probe over a random corpus
    val rnd = new scala.util.Random(4207)
    val vocab = Seq("the", "and", "theory", "band", "other", "thesis",
      "answer", "plain", "word", "toThem", "Байкал")
    val corpus = Array.fill(300)(
      Array.fill(rnd.nextInt(8) + 1)(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val s2 = TextIndexSection.deserialize(TextIndexSection.build(
      corpus.iterator, TextIndexSection.AnalyzerStandardStop))
    for (probe <- Seq("the", "heo", "ban", "nd", "theor", "байкал", "wor",
        "answer", "o", "es", "is")) {
      s2.matchBitmap(probe).foreach { bm =>
        val cand = bm.toArray.toSet
        def fold(x: String) = x.toCharArray.map(Character.toLowerCase).mkString
        val fp = fold(probe)
        corpus.zipWithIndex.foreach { case (doc, i) =>
          if (fold(doc).contains(fp))
            assert(cand.contains(i),
              s"probe '$probe': doc $i matches but is not a candidate")
        }
      }
    }
  }

  test("stop analyzer end-to-end: DSv2 write option, pushdown stays exact") {
    val root = graft.TestDirs.create("pinot_text_stop")
    val dir = root.resolve("d_OFFLINE").toString
    import spark.implicits._
    val rows = (0 until 3000).map(i =>
      (i, s"the tok${i % 97} and filler theory${(i * 7) % 13}"))
    rows.toDF("id", "body")
      .write.format("pinot")
      .option("textIndexColumns", "body")
      .option("textIndexAnalyzer", "standard_stop")
      .mode("append").save(dir)
    val seg = firstSegDir(dir)
    val idx = SegmentReader.open(seg).textIndex("body")
    assert(idx.isDefined)
    assert(idx.get.analyzer === TextIndexSection.AnalyzerStandardStop)
    assert(!idx.get.tokens.contains("the") && !idx.get.tokens.contains("and"))
    val back = spark.read.format("pinot").load(dir)
    // indexed-token predicate: exact through the index
    assert(back.filter(col("body").contains("tok42")).count() ===
      rows.count(_._2.contains("tok42")))
    // stop-substring predicate: index refuses, residual scan stays exact
    assert(back.filter(col("body").contains("the")).count() === 3000)
    // size: dropping the two universal stop tokens shrinks the section
    val stdDir = root.resolve("std_OFFLINE").toString
    rows.toDF("id", "body")
      .write.format("pinot").option("textIndexColumns", "body")
      .mode("append").save(stdDir)
    val stdSeg = firstSegDir(stdDir)
    assert(SegmentReader.open(stdSeg).textIndex("body").get.numTokens ===
      idx.get.numTokens + 2)
    // maintenance ops preserve a unanimous analyzer
    val v1 = root.resolve("v1stop")
    graft.pinot.PinotCompact.convert(seg.toString, v1.toString, 1)
    assert(SegmentReader.open(v1).textIndex("body").get.analyzer ===
      TextIndexSection.AnalyzerStandardStop)
    rows.toDF("id", "body").write.format("pinot")
      .option("textIndexColumns", "body")
      .option("textIndexAnalyzer", "standard_stop")
      .mode("append").save(dir) // second segment, same analyzer
    val merged = graft.pinot.PinotCompact.compact(dir)
    val mIdx = SegmentReader.open(merged).textIndex("body").get
    assert(mIdx.analyzer === TextIndexSection.AnalyzerStandardStop)
    assert(!mIdx.tokens.contains("the"))
  }
}

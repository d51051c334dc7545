package graft.sources


import graft.SparkTestBase
import graft.pinot.{JsonIndexSection, SegmentWriter, VarByteChunkV4}
import org.apache.spark.sql.functions._

/** JSON index (EXTENSION — the capability of Pinot's `jsonIndexColumns`):
  * flattened path=value postings serving pushed `get_json_object`
  * equality probes as an advisory superset (segment prune + window
  * skip; residual filter authoritative).
  */
class JsonIndexSpec extends SparkTestBase {

  test("section: verbatim literals, nested paths, refusals, odd docs") {
    val docs = Array(
      """{"k": 42, "cat": "red"}""",                    // 0
      """{"k": 42.0, "cat": "blue"}""",                 // 1: distinct literal
      """{"k": 7, "meta": {"region": "EU", "tier": 2}}""", // 2: nested
      """{"cat": "red", "flag": true}""",               // 3
      """{"esc": "a\"b\nc"}""",                         // 4: escapes decode
      """{"k": null}""",                                // 5: null never indexed
      """{"arr": [1, 2, 3], "k": 42}""",                // 6: array path refused
      """not json at all""",                            // 7: odd
      """{"dup": 1, "dup": 2}""",                       // 8: odd (dup key)
      """{"weird key!": 1}""",                          // 9: odd (key alphabet)
      null)                                             // 10: absent
    val sec = JsonIndexSection.deserialize(JsonIndexSection.build(docs.iterator))
    assert(sec.numOddDocs === 3)
    val odd = Seq(7, 8, 9)
    def m(path: String, v: String): Seq[Int] =
      sec.matchBitmap(path, v).get.toArray.toSeq
    // number literals verbatim: 42 and 42.0 are different keys
    assert(m("$.k", "42") === (Seq(0, 6) ++ odd).sorted)
    assert(m("$.k", "42.0") === (Seq(1) ++ odd).sorted)
    assert(m("$.cat", "red") === (Seq(0, 3) ++ odd).sorted)
    // nested dotted path
    assert(m("$.meta.region", "EU") === (Seq(2) ++ odd).sorted)
    assert(m("$.meta.tier", "2") === (Seq(2) ++ odd).sorted)
    assert(m("$.flag", "true") === (Seq(3) ++ odd).sorted)
    // escapes decode to the rendered string
    assert(m("$.esc", "a\"b\nc") === (Seq(4) ++ odd).sorted)
    // absent pair: only the odd docs remain candidates
    assert(m("$.k", "9999") === odd)
    assert(m("$.nosuch", "1") === odd)
    // refusals (None = index must not answer)
    assert(sec.matchBitmap("$.meta", "x").isEmpty, "object leaf refuses")
    assert(sec.matchBitmap("$.arr", "x").isEmpty, "array leaf refuses")
    assert(sec.matchBitmap("$.arr[0]", "1").isEmpty, "bracket path refuses")
    assert(sec.matchBitmap("$.k", "null").isEmpty, "probe 'null' refuses")
    assert(sec.matchBitmap("$", "x").isEmpty)
    assert(sec.matchBitmap("k", "x").isEmpty)
    assert(sec.matchBitmap("$.k", "x" * 300).isEmpty, "long value refuses")

    // IN-list probes: union of the value postings; one ineligible value
    // refuses the whole probe
    def anyM(path: String, vs: String*): Option[Seq[Int]] =
      sec.matchAnyBitmap(path, vs).map(_.toArray.toSeq)
    assert(anyM("$.k", "42", "7") === Some((Seq(0, 2, 6) ++ odd).sorted))
    assert(anyM("$.cat", "red", "nosuch") === Some((Seq(0, 3) ++ odd).sorted))
    assert(anyM("$.k", "42", "null").isEmpty, "'null' in list refuses")
    assert(anyM("$.k", "42", "x" * 300).isEmpty, "long value in list refuses")
    assert(anyM("$.meta", "x", "y").isEmpty, "refused path refuses IN too")
    assert(anyM("$.cat") === Some(odd), "empty IN: only odd docs remain")

    // exists probes: union of every posting under the path
    def ex(path: String): Option[Seq[Int]] =
      sec.existsBitmap(path).map(_.toArray.toSeq)
    assert(ex("$.cat") === Some((Seq(0, 1, 3) ++ odd).sorted))
    assert(ex("$.meta.region") === Some((Seq(2) ++ odd).sorted))
    assert(ex("$.nosuch") === Some(odd))
    assert(ex("$.k").isEmpty,
      "a path with an explicit JSON null leaf refuses exists")
    assert(ex("$.meta").isEmpty, "object-leaf path refuses exists")
    assert(ex("$.arr").isEmpty, "array-leaf path refuses exists")
    assert(ex("$.arr[0]").isEmpty, "bracket path refuses exists")

    // string-range probes: byte-order interval over the path's postings
    def rg(path: String, lo: Option[String], loInc: Boolean,
        hi: Option[String], hiInc: Boolean): Option[Seq[Int]] =
      sec.rangeBitmap(path, lo, loInc, hi, hiInc).map(_.toArray.toSeq)
    assert(rg("$.cat", Some("blue"), true, Some("red"), false) ===
      Some((Seq(1) ++ odd).sorted), "[blue, red) keeps only blue")
    assert(rg("$.cat", Some("blue"), false, None, false) ===
      Some((Seq(0, 3) ++ odd).sorted), "(blue, ∞) keeps red")
    assert(rg("$.cat", None, false, Some("blue"), true) ===
      Some((Seq(1) ++ odd).sorted))
    assert(rg("$.cat", Some("z"), false, None, false) === Some(odd))
    assert(rg("$.k", Some("1"), true, None, false).isEmpty,
      "a path with unposted leaves refuses ranges (exists-grade)")
    assert(rg("$.meta", None, false, Some("z"), true).isEmpty,
      "object-leaf path refuses ranges")

    // IS-NULL support: the PROVABLY-non-null union (no odd docs, no
    // refusals — a posting is a proof; the scan complements it)
    def nn(path: String): Seq[Int] =
      sec.notNullBitmap(path).toArray.toSeq
    assert(nn("$.cat") === Seq(0, 1, 3))
    assert(nn("$.k") === Seq(0, 1, 2, 6), "null leaf in doc 5 NOT proven")
    assert(nn("$.meta.region") === Seq(2))
    assert(nn("$.meta") === Nil, "object leaves are never posted")
    assert(nn("$.nosuch") === Nil)
  }

  test("exists refuses on over-long leaves; v1 sections refuse exists") {
    val docs = Array(
      s"""{"pad": "${"y" * 300}", "n": 1}""", // long leaf on $.pad
      """{"pad": "short", "n": 2}""",
      """{"n": 3}""")
    val sec = JsonIndexSection.deserialize(JsonIndexSection.build(docs.iterator))
    // $.pad held an unposted (over-long) leaf in doc 0: exists must
    // refuse — doc 0 WOULD satisfy IS NOT NULL but has no posting
    assert(sec.existsBitmap("$.pad").isEmpty)
    // $.n is fully posted: exists answers
    assert(sec.existsBitmap("$.n").map(_.toArray.toSeq) === Some(Seq(0, 1, 2)))
    // equality probing is unaffected (long probes refuse by length)
    assert(sec.matchBitmap("$.pad", "short").map(_.toArray.toSeq) ===
      Some(Seq(1)))

    // hand-built v1 section (no unposted-leaf record): equality works,
    // exists refuses — the set is unknown there
    val v2 = JsonIndexSection.build(Array("""{"a": 1}""").iterator)
    val v1 = craftV1(Map("$.a" + JsonIndexSection.Sep + "1" -> Seq(0)))
    val sec1 = JsonIndexSection.deserialize(v1)
    assert(sec1.matchBitmap("$.a", "1").map(_.toArray.toSeq) === Some(Seq(0)))
    assert(sec1.existsBitmap("$.a").isEmpty, "v1: exists must refuse")
    // and the v2 bytes of the same docs DO answer exists
    assert(JsonIndexSection.deserialize(v2).existsBitmap("$.a")
      .map(_.toArray.toSeq) === Some(Seq(0)))
  }

  /** Serializes a minimal VERSION-1 json-index section (the pre-r10
    * layout: no unposted-leaf-paths block) so the reader's
    * backward-compat path is exercised without checked-in binaries.
    */
  private def craftV1(postings: Map[String, Seq[Int]]): Array[Byte] = {
    import java.io.ByteArrayOutputStream
    import java.nio.ByteBuffer
    import java.nio.charset.StandardCharsets.UTF_8
    def bmBytes(docs: Seq[Int]): Array[Byte] = {
      val bm = new org.roaringbitmap.RoaringBitmap
      docs.foreach(bm.add)
      bm.runOptimize()
      val bos = new ByteArrayOutputStream()
      bm.serialize(new java.io.DataOutputStream(bos))
      bos.toByteArray
    }
    val keys = postings.keys.toArray.sorted
    val keyBytes = keys.map(_.getBytes(UTF_8))
    val oddBytes = bmBytes(Nil)
    val bodies = keys.map(k => bmBytes(postings(k)))
    val header = 8 + 4 + 4 + 4 + oddBytes.length +
      4 + keyBytes.map(_.length + 4).sum + 4 * (keys.length + 1)
    val buf = ByteBuffer.allocate(header + bodies.map(_.length).sum)
    buf.putLong(graft.pinot.PinotDictionary.MagicMarker)
    buf.putInt(1) // version 1
    buf.putInt(0) // no refused paths
    buf.putInt(oddBytes.length)
    buf.put(oddBytes)
    buf.putInt(keys.length)
    keyBytes.foreach { b => buf.putInt(b.length); buf.put(b) }
    var off = header
    buf.putInt(off)
    bodies.foreach { b => off += b.length; buf.putInt(off) }
    bodies.foreach(buf.put)
    buf.array()
  }

  test("candidate superset covers every Spark get_json_object match") {
    // soundness against the engine the predicate actually runs on:
    // whatever Spark says matches MUST be in the index's candidate set
    val docs = Array(
      """{"k": 1}""", """{"k": 1.0}""", """{"k": "1"}""",
      """{"k": {"j": 1}}""", """{"k": [1]}""", """{"k": true}""",
      """{"k": 1e2}""", """{"k": -0.5}""", """{"x": 3}""", """broken{""")
    val sec = JsonIndexSection.deserialize(JsonIndexSection.build(docs.iterator))
    import spark.implicits._
    val df = docs.toSeq.toDF("j")
    for (probe <- Seq("1", "1.0", "true", "1e2", "-0.5", "100", "3")) {
      val sparkMatches = df.withColumn("i", monotonically_increasing_id())
        .filter(get_json_object(col("j"), "$.k") === probe)
        .collect().map(_.getLong(1).toInt).toSet
      sec.matchBitmap("$.k", probe).foreach { bm =>
        val cand = bm.toArray.toSet
        assert(sparkMatches.subsetOf(cand),
          s"probe $probe: spark matches $sparkMatches not in candidates $cand")
      }
    }
  }

  test("exists candidates cover every Spark IS NOT NULL match") {
    // including docs with explicit JSON nulls and over-long leaves:
    // whatever Spark keeps under `get_json_object(...).isNotNull` MUST
    // be in the candidate set whenever the index answers at all
    val docs = Array(
      """{"a": 1, "b": "x"}""", """{"a": "s"}""", """{"b": true}""",
      """{"a": null}""", s"""{"a": "${"z" * 300}"}""", """{"a": 0.5}""",
      """broken{""", """{"c": {"d": 1}}""")
    val sec = JsonIndexSection.deserialize(JsonIndexSection.build(docs.iterator))
    import spark.implicits._
    val df = docs.toSeq.toDF("j")
    for (path <- Seq("$.a", "$.b", "$.c", "$.c.d", "$.nosuch")) {
      val sparkNn = df.withColumn("i", monotonically_increasing_id())
        .filter(get_json_object(col("j"), path).isNotNull)
        .collect().map(_.getLong(1).toInt).toSet
      sec.existsBitmap(path) match {
        case Some(bm) =>
          val cand = bm.toArray.toSet
          assert(sparkNn.subsetOf(cand),
            s"exists $path: spark $sparkNn not in candidates $cand")
        case None =>
          // refusal is always allowed; $.a MUST refuse (null + long
          // leaves), $.c MUST refuse (object leaf)
          ()
      }
      // IS NULL: Spark's null rows must all lie in the complement of
      // the provably-non-null union (always answered, never refused)
      val sparkNull = df.withColumn("i", monotonically_increasing_id())
        .filter(get_json_object(col("j"), path).isNull)
        .collect().map(_.getLong(1).toInt).toSet
      val nullCand = docs.indices.toSet -- sec.notNullBitmap(path)
        .toArray.toSet
      assert(sparkNull.subsetOf(nullCand),
        s"isnull $path: spark $sparkNull not in candidates $nullCand")
    }
    assert(sec.existsBitmap("$.a").isEmpty, "$.a holds unposted leaves")
    assert(sec.existsBitmap("$.c").isEmpty, "$.c is an object leaf")
    assert(sec.existsBitmap("$.b").nonEmpty, "$.b is fully posted")
    assert(sec.existsBitmap("$.c.d").nonEmpty)

    // range candidates cover every Spark comparison match (byte order)
    for (bound <- Seq("a", "t", "true", "u", "x", "z");
         (loInc, hiSide) <- Seq((true, false), (false, false),
           (false, true), (true, true))) {
      val g = get_json_object(col("j"), "$.b")
      val pred = (hiSide, loInc) match {
        case (false, true) => g >= bound
        case (false, false) => g > bound
        case (true, true) => g <= bound
        case (true, false) => g < bound
      }
      val sparkM = df.withColumn("i", monotonically_increasing_id())
        .filter(pred).collect().map(_.getLong(1).toInt).toSet
      val bm =
        if (hiSide) sec.rangeBitmap("$.b", None, loInc = false,
          Some(bound), loInc)
        else sec.rangeBitmap("$.b", Some(bound), loInc, None, hiInc = false)
      bm.foreach { m =>
        val cand = m.toArray.toSet
        assert(sparkM.subsetOf(cand),
          s"range $$.b ${if (hiSide) "<" else ">"}${if (loInc) "=" else ""} " +
            s"$bound: spark $sparkM not in $cand")
      }
      assert(bm.nonEmpty, "$.b must answer ranges (fully posted)")
    }
  }

  test("json equality probes decode only windows holding candidates") {
    val root = graft.TestDirs.create("pinot_json")
    val tdir = root.resolve("docs_OFFLINE")
    val docs = 40000
    val needleAt = Set(3, 20001, 39998)
    val rareAt = Set(7, 31007) // docs carrying the `rare` key at all
    val js = Array.tabulate(docs)(i =>
      if (needleAt(i)) s"""{"k": $i, "cat": "needle"}"""
      else if (rareAt(i)) s"""{"k": $i, "cat": "rarecat$i", "rare": "r$i"}"""
      else s"""{"k": $i, "cat": "common${i % 911}"}""")
    SegmentWriter.write(tdir.resolve("seg0"), "docs", "seg0", Seq(
      SegmentWriter.StringRawCol("props", js,
        VarByteChunkV4.Lz4LengthPrefixed, 4096),
      SegmentWriter.IntCol("id", Array.tabulate(docs)(identity))),
      jsonIdxCols = Set("props"))
    def decodedRows(jsonEq: Seq[graft.sources.pinot.PinotScan.JsonProbe])
        : Int = {
      val r = new graft.sources.pinot.PinotColumnarReader(
        s"$tdir/seg0/v3", Array("props", "id"), Array.empty, None,
        jsonEq = jsonEq)
      var rows = 0
      while (r.next()) rows += r.get().numRows()
      rows
    }
    def eq(c: String, p: String, v: String*)
        : graft.sources.pinot.PinotScan.JsonProbe =
      graft.sources.pinot.PinotScan.JsonEqProbe(c, p, v.toSeq)
    // 3 scattered candidate docs → ≤3 windows decode
    val hits = decodedRows(Seq(eq("props", "$.cat", "needle")))
    assert(hits <= 3 * 8192, s"expected ≤3 windows, decoded $hits rows")
    // absent value → segment pruned outright
    assert(decodedRows(Seq(eq("props", "$.cat", "nosuchvalue"))) === 0)
    // refused probe (bracket path) → full decode, still correct
    assert(decodedRows(Seq(eq("props", "$.cat[0]", "x"))) === docs)
    // IN-list: candidates = union of both values' windows (3 + 1 docs)
    val inHits = decodedRows(Seq(eq("props", "$.cat", "needle", "rarecat7")))
    assert(inHits <= 4 * 8192 && inHits > 0,
      s"IN probe decoded $inHits rows")
    // exists probe: only the windows holding the 2 docs with the key
    val exHits = decodedRows(Seq(
      graft.sources.pinot.PinotScan.JsonExistsProbe("props", "$.rare")))
    assert(exHits <= 2 * 8192, s"exists probe decoded $exHits rows")
    // exists on a universal key: no skip, full decode
    assert(decodedRows(Seq(
      graft.sources.pinot.PinotScan.JsonExistsProbe("props", "$.k"))) === docs)
    // IS NULL on a universal key: every doc proven non-null → segment
    // pruned outright
    assert(decodedRows(Seq(
      graft.sources.pinot.PinotScan.JsonNullProbe("props", "$.k"))) === 0)
    // range probe: only windows whose values fall in the byte-order
    // interval — rarecat7/rarecat31007 sort between "rarecat" and
    // "rarecau", needle and common* fall outside
    val rgHits = decodedRows(Seq(
      graft.sources.pinot.PinotScan.JsonRangeProbe("props", "$.cat",
        Some("rarecat"), loInc = true, Some("rarecau"), hiInc = false)))
    assert(rgHits <= 2 * 8192, s"range probe decoded $rgHits rows")

    // e2e through the optimizer rule: predicate stays residual (exact
    // rows), scan description shows the routed probe
    val df = spark.read.format("pinot").load(tdir.toString)
      .filter(get_json_object(col("props"), "$.cat") === "needle")
    assert(df.count() === 3)
    assert(df.select(sum("id")).collect()(0).getLong(0) ===
      needleAt.map(_.toLong).sum)
    val leaf = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("jsonEq=[props $.cat=needle]"),
      s"json probe not routed into the scan:\n$leaf")
    // reversed operand order routes too
    val df2 = spark.read.format("pinot").load(tdir.toString)
      .filter(lit("needle") === get_json_object(col("props"), "$.cat"))
    assert(df2.count() === 3)

    // IN-list + IS NOT NULL probes route through the rule, stay exact
    val df3 = spark.read.format("pinot").load(tdir.toString)
      .filter(get_json_object(col("props"), "$.cat")
          .isin("needle", "rarecat7") &&
        get_json_object(col("props"), "$.rare").isNotNull)
    assert(df3.count() === 1) // only doc 7 carries both
    val leaf3 = df3.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf3.contains("$.cat in(needle,rarecat7)"), leaf3)
    assert(leaf3.contains("$.rare exists"), leaf3)
    // a 13-value list converts to InSet past Spark's threshold and
    // still routes
    val many = (0 until 12).map(i => s"zz$i") :+ "needle"
    val df4 = spark.read.format("pinot").load(tdir.toString)
      .filter(get_json_object(col("props"), "$.cat").isin(many: _*))
    assert(df4.count() === 3)
    val leaf4 = df4.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf4.contains("$.cat in("), leaf4)

    // string-range probes route and stay exact (both operand orders)
    val df5 = spark.read.format("pinot").load(tdir.toString)
      .filter(get_json_object(col("props"), "$.cat") >= "rarecat" &&
        lit("rarecau") > get_json_object(col("props"), "$.cat"))
    assert(df5.count() === 2)
    val leaf5 = df5.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf5.contains("$.cat>=rarecat"), leaf5)
    assert(leaf5.contains("$.cat<rarecau"), leaf5)

    // IS NULL routes and stays exact: every doc except the two `rare`
    // carriers lacks the key
    val df6 = spark.read.format("pinot").load(tdir.toString)
      .filter(get_json_object(col("props"), "$.rare").isNull)
    assert(df6.count() === docs - 2)
    val leaf6 = df6.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf6.contains("$.rare isnull"), leaf6)
  }

  test("index absent: probes route but never prune (full decode, exact)") {
    val root = graft.TestDirs.create("pinot_json_plain")
    val tdir = root.resolve("docs_OFFLINE")
    val js = Array.tabulate(1000)(i => s"""{"k": ${i % 10}}""")
    SegmentWriter.write(tdir.resolve("seg0"), "docs", "seg0", Seq(
      SegmentWriter.StringRawCol("props", js,
        VarByteChunkV4.Lz4LengthPrefixed, 4096),
      SegmentWriter.IntCol("id", Array.tabulate(1000)(identity))))
    val df = spark.read.format("pinot").load(tdir.toString)
      .filter(get_json_object(col("props"), "$.k") === "7")
    assert(df.count() === 100)
  }
}

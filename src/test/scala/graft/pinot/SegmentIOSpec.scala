package graft.pinot

import java.nio.file.Files

import graft.SparkTestBase

/** [[SegmentIO]] — the remote-IO seam under [[SegmentReader]]. The same
  * fully-indexed segment must decode byte-identically through
  *
  *  - [[LocalSegmentIO]] (java.nio — the default),
  *  - [[HadoopSegmentIO]] over a `file://` URI (the real Hadoop
  *    FileSystem stack — the exact code path object-store schemes take),
  *  - an in-memory SegmentIO double (no java.nio at all — proves the
  *    reader performs ZERO filesystem calls outside the interface).
  */
class SegmentIOSpec extends SparkTestBase {

  private val n = 2000
  private val rnd = new scala.util.Random(7)
  private val ids = Array.tabulate(n)(i => i.toLong)
  private val team = Array.fill(n)(s"T${rnd.nextInt(16)}")
  private val name = Array.tabulate(n)(i => f"name$i%05d")
  private val score = Array.fill(n)(rnd.nextDouble() * 100)
  private val metric = Array.fill(n)(rnd.nextInt(100000))
  private val body = Array.tabulate(n)(i => s"alpha bravo doc$i charlie")
  private val tagsCol = Array.tabulate(n)(i => Array(s"t${i % 7}", s"t${i % 3}"))

  private def writeSeg(dir: java.nio.file.Path, version: Int): Unit =
    SegmentWriter.write(dir, "iot", "seg0", Seq(
      SegmentWriter.LongCol("id", ids),
      SegmentWriter.StringDictCol("team", team),
      SegmentWriter.StringRawCol("name", name,
        VarByteChunkV4.Lz4LengthPrefixed, 1024),
      SegmentWriter.DoubleCol("score", score),
      SegmentWriter.IntCol("metric", metric),
      SegmentWriter.StringDictCol("body", body),
      SegmentWriter.StringMVCol("tags", tagsCol)),
      invertedCols = Set("team"),
      nullVectors = Map("score" -> Array(2, 5, 8)),
      bloomCols = Set("name"),
      rangeCols = Set("metric"),
      textCols = Set("body"),
      formatVersion = version)

  /** Serves every file of `root` from memory, captured once up front.
    * Any java.nio call the reader makes outside SegmentIO would read the
    * REAL directory — so we delete it after capture, making such a call
    * impossible to survive.
    */
  private final class InMemorySegmentIO(files: Map[String, Array[Byte]])
      extends SegmentIO {
    private def norm(p: String) = p.stripSuffix("/")
    override def exists(p: String): Boolean = files.contains(norm(p))
    override def isDirectory(p: String): Boolean = {
      val prefix = norm(p) + "/"
      !files.contains(norm(p)) && files.keys.exists(_.startsWith(prefix))
    }
    override def listAll(dir: String): Seq[String] = {
      val prefix = norm(dir) + "/"
      files.keys.filter(_.startsWith(prefix))
        .map(k => prefix + k.drop(prefix.length).takeWhile(_ != '/'))
        .toSeq.distinct
    }
    override def size(p: String): Long = files(norm(p)).length.toLong
    override def mtimeMillis(p: String): Long = 1234567890L
    override def readFully(p: String): Array[Byte] = files(norm(p))
    override def listFiles(dir: String): Seq[String] = {
      val prefix = norm(dir) + "/"
      files.keys.filter(k =>
        k.startsWith(prefix) && !k.drop(prefix.length).contains('/')).toSeq
    }
    override def openRange(p: String): SegmentIO.RangeReader = {
      val bytes = files(norm(p))
      new SegmentIO.RangeReader {
        override def pread(pos: Long, len: Int): Array[Byte] = {
          if (pos + len > bytes.length) throw new PinotFormatException(
            s"$p truncated at $pos (wanted $len bytes)")
          java.util.Arrays.copyOfRange(bytes, pos.toInt, pos.toInt + len)
        }
        override def close(): Unit = ()
      }
    }
    override def resolve(dir: String, child: String): String =
      norm(dir) + "/" + child
    override def fileName(p: String): String =
      norm(p).substring(norm(p).lastIndexOf('/') + 1)
  }

  private def capture(root: java.nio.file.Path): Map[String, Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.readAllBytes(p)).toMap
    finally walk.close()
  }

  private def assertSameDecode(a: SegmentReader, b: SegmentReader): Unit = {
    assert(a.readLongColumn("id").toSeq === b.readLongColumn("id").toSeq)
    assert(a.readStringColumn("team").toSeq === b.readStringColumn("team").toSeq)
    assert(a.readStringColumn("name").toSeq === b.readStringColumn("name").toSeq)
    assert(a.readDoubleColumn("score").toSeq === b.readDoubleColumn("score").toSeq)
    assert(a.readIntColumn("metric").toSeq === b.readIntColumn("metric").toSeq)
    assert(a.readStringMVColumn("tags").map(_.toSeq).toSeq ===
      b.readStringMVColumn("tags").map(_.toSeq).toSeq)
    // secondary indexes + null vectors resolve through the same seam
    assert(b.invertedIndex("team").isDefined)
    assert(b.invertedIndex("team").get.map(_.getCardinality).sum === n)
    assert(b.bloomFilter("name").isDefined)
    assert(b.bloomFilter("name").get.mightContain(name(77)))
    assert(b.rangeIndex("metric").isDefined)
    assert(b.textIndex("body").isDefined)
    assert(b.textIndexAnalyzer("body") === a.textIndexAnalyzer("body"))
    assert(b.nullVector("score").get.toArray.toSeq === Seq(2, 5, 8))
  }

  test("whole TABLE reads through a file:// URI: DSv2 discovery, schema, " +
      "pushdowns — identical to the local read") {
    import org.apache.spark.sql.functions._
    val root = graft.TestDirs.create("segio_table")
    val tableDir = root.resolve("iot_OFFLINE")
    // mixed layouts: v3 + v1 segment in one table, both indexed
    writeSeg(tableDir.resolve("seg0"), 3)
    SegmentWriter.write(tableDir.resolve("seg1"), "iot", "seg1", Seq(
      SegmentWriter.LongCol("id", ids.map(_ + n)),
      SegmentWriter.StringDictCol("team", team.reverse),
      SegmentWriter.StringRawCol("name", name.map("x" + _),
        VarByteChunkV4.Lz4LengthPrefixed, 1024),
      SegmentWriter.DoubleCol("score", score),
      SegmentWriter.IntCol("metric", metric),
      SegmentWriter.StringDictCol("body", body),
      SegmentWriter.StringMVCol("tags", tagsCol)),
      invertedCols = Set("team"),
      bloomCols = Set("name"),
      rangeCols = Set("metric"),
      textCols = Set("body"),
      formatVersion = 1)
    val uri = tableDir.toUri.toString // file:///…
    assert(uri.startsWith("file:"), s"fixture URI should have a scheme: $uri")
    val local = spark.read.format("pinot").load(tableDir.toString)
    val remote = spark.read.format("pinot").load(uri)
    assert(remote.schema === local.schema)
    // full scan parity
    assert(remote.count() === 2L * n)
    assert(remote.select("id", "team", "name").collect().map(_.toString).sorted
      === local.select("id", "team", "name").collect().map(_.toString).sorted)
    // pushdown paths run through the remote IO too: metadata COUNT,
    // indexed equality, range, group-by, limit
    assert(remote.filter(col("team") === "T7").count() ===
      local.filter(col("team") === "T7").count())
    assert(remote.filter(col("metric") > 50000).count() ===
      local.filter(col("metric") > 50000).count())
    assert(remote.groupBy("team").count().collect().map(_.toString).sorted
      === local.groupBy("team").count().collect().map(_.toString).sorted)
    assert(remote.select("name").limit(7).count() === 7)
    // MV + nullable overlay survive the remote path
    assert(remote.select(explode(col("tags"))).count() === 4L * n)
    assert(remote.filter(col("score").isNull).count() === 3) // seg0 only
  }

  test("filesystem catalog over a file:// data_dir: discovery + SQL") {
    val root = graft.TestDirs.create("segio_catalog")
    writeSeg(root.resolve("iot_OFFLINE").resolve("seg0"), 3)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.pinot_uri",
      "graft.sources.pinot.PinotCatalog")
    s2.conf.set("spark.sql.catalog.pinot_uri.data_dir", root.toUri.toString)
    val tables = s2.sql("SHOW TABLES IN pinot_uri.default").collect()
      .map(_.getString(1))
    assert(tables.toSeq === Seq("iot"))
    assert(s2.sql("SELECT count(*) AS c FROM pinot_uri.default.iot")
      .head().getLong(0) === n)
    assert(s2.sql(
      "SELECT count(*) AS c FROM pinot_uri.default.iot WHERE team = 'T7'")
      .head().getLong(0) === team.count(_ == "T7"))
  }

  test("cold DSv2 table open budget: ONE listing + one parallel GET per " +
      "segment, zero per-segment stat probes") {
    val root = graft.TestDirs.create("segio_budget")
    val tableDir = root.resolve("bud_OFFLINE")
    val nSegs = 12
    (0 until nSegs).foreach { s =>
      SegmentWriter.write(tableDir.resolve(f"seg$s%02d"), "bud", f"seg$s%02d",
        Seq(
          SegmentWriter.LongCol("id", Array.tabulate(50)(i => (s * 50 + i).toLong)),
          SegmentWriter.IntCol("metric", Array.tabulate(50)(i => i % 7))))
    }
    val counting = new CountingSegmentIO(LocalSegmentIO)
    val prefix = tableDir.toString
    SegmentIO.withOverride(_.startsWith(prefix), counting) {
      val df = spark.read.format("pinot").load(tableDir.toString)
      assert(df.schema.fieldNames.toSeq === Seq("id", "metric"))
      // Cold-open budget (discovery + fingerprint + schema + metadata
      // prefetch): exactly nSegs metadata GETs, no per-segment
      // existence/stat round-trips. Spark's DSv2 load resolves the
      // table twice (infer + getTable) — the second resolution is a
      // warm catalog-cache hit costing one listing + one stat, so the
      // listing/stat budget is ≤2 and the GET budget stays nSegs.
      assert(counting.count("readFully") === nSegs, counting.calls)
      assert(counting.count("listTree") <= 2, counting.calls)
      assert(counting.count("exists") === 0, counting.calls)
      assert(counting.count("listFiles") === 0, counting.calls)
      assert(counting.count("listAll") === 0, counting.calls)
      assert(counting.count("size") === 0, counting.calls)
      assert(counting.count("isDirectory") <= 2, counting.calls)
      assert(counting.count("mtime") <= 2, counting.calls)
      // planning with min/max pruning + execution still answer correctly
      // through the same IO
      import org.apache.spark.sql.functions.col
      assert(df.count() === 50L * nSegs)
      assert(df.filter(col("id") < 50L).count() === 50L)
      // warm re-open: fingerprint check only — one more listing + stat,
      // ZERO additional metadata GETs (execution-side section reads are
      // openRange/size, counted separately)
      val metaGets = counting.count("readFully")
      val df2 = spark.read.format("pinot").load(tableDir.toString)
      assert(df2.schema === df.schema)
      assert(counting.count("readFully") === metaGets,
        s"warm re-open re-fetched metadata: ${counting.calls}")
    }
  }

  test("manifest cold open: ONE listing + ONE GET for the whole table; " +
      "stale manifest falls back to the per-segment prefetch") {
    import org.apache.spark.sql.functions.col
    // the DSv2 writer rebuilds `_graft_manifest.v1` at commit
    import spark.implicits._
    val root = graft.TestDirs.create("segio_manifest")
    val dir = root.resolve("m_OFFLINE").toString
    (0 until 4).foreach { s =>
      (s * 100 until (s + 1) * 100).map(i => (i.toLong, i % 7))
        .toDF("id", "metric")
        .write.format("pinot").mode("append")
        .option("table", "m").save(dir)
    }
    assert(Files.exists(java.nio.file.Paths.get(dir, TableManifest.FileName)))
    val segCount = graft.sources.pinot.PinotSegments.discover(dir).length
    assert(segCount >= 4, s"expected >=4 segments, got $segCount")

    val counting = new CountingSegmentIO(LocalSegmentIO)
    SegmentIO.withOverride(_.startsWith(dir), counting) {
      val df = spark.read.format("pinot").load(dir)
      assert(df.schema.fieldNames.toSeq === Seq("id", "metric"))
      // manifest path: ONE readFully (the manifest itself), zero
      // per-segment metadata GETs
      assert(counting.count("readFully") === 1, counting.calls)
      assert(counting.count("listTree") <= 2, counting.calls)
      assert(counting.count("exists") === 0, counting.calls)
      assert(df.count() === 400L)
      assert(df.filter(col("id") < 100L).count() === 100L)
    }

    // the same table through the HADOOP stack over a file:// URI: the
    // manifest's relative paths must re-anchor against the QUALIFIED
    // listing spelling ("file:/…") — still one listing + one GET
    val uri = "file://" + dir
    val countingH = new CountingSegmentIO(
      new HadoopSegmentIO(spark.sparkContext.hadoopConfiguration))
    SegmentIO.withOverride(
      p => p.stripPrefix("file://").stripPrefix("file:").startsWith(dir),
      countingH) {
      val df = spark.read.format("pinot").load(uri)
      assert(df.schema.fieldNames.toSeq === Seq("id", "metric"))
      assert(countingH.count("readFully") === 1, countingH.calls)
      assert(df.count() === 400L)
    }

    // doctor one segment's metadata in place (foreign rewrite): stamps
    // no longer match the manifest → wholesale fallback, correct schema
    // and answers via the per-segment prefetch
    val seg = graft.sources.pinot.PinotSegments.discover(dir).head
    val mp = seg.resolve("metadata.properties")
    Files.write(mp, (new String(Files.readAllBytes(mp), "UTF-8") + "\n#x\n")
      .getBytes("UTF-8"))
    val counting2 = new CountingSegmentIO(LocalSegmentIO)
    SegmentIO.withOverride(_.startsWith(dir), counting2) {
      val df = spark.read.format("pinot").load(dir)
      assert(df.schema.fieldNames.toSeq === Seq("id", "metric"))
      // manifest GET + one GET per segment (invalidated wholesale)
      assert(counting2.count("readFully") === 1L + segCount, counting2.calls)
      assert(df.count() === 400L)
    }
  }

  test("scheme-less path discovers through HadoopSegmentIO " +
      "(fs.defaultFS routing qualifies the root like the listing)") {
    val root = graft.TestDirs.create("segio_noscheme")
    val tableDir = root.resolve("iot_OFFLINE")
    writeSeg(tableDir.resolve("seg0"), 3)
    val hio = new HadoopSegmentIO(spark.sparkContext.hadoopConfiguration)
    // raw local path, no scheme: listFiles returns fully-qualified
    // "file:/…" URIs, so the resolve/parent-derived root must qualify
    // the same way or string-matched discovery finds nothing
    val segs = graft.sources.pinot.PinotSegments
      .discoverDirs(tableDir.toString, hio)
    assert(segs.size === 1, segs)
    assert(segs.head.endsWith("/v3"), segs)
  }

  for (version <- Seq(3, 1))
    test(s"v$version segment decodes byte-identically through Hadoop file:// IO") {
      val root = graft.TestDirs.create(s"segio_h_v$version")
      val seg = root.resolve("seg0")
      writeSeg(seg, version)
      val local = SegmentReader.open(seg)
      val hio = new HadoopSegmentIO(spark.sparkContext.hadoopConfiguration)
      val hadoop = SegmentReader.open(seg.toUri.toString, hio)
      try assertSameDecode(local, hadoop)
      finally { local.close(); hadoop.close() }
    }

  for (version <- Seq(3, 1))
    test(s"v$version segment decodes from a pure in-memory SegmentIO " +
        "(directory deleted after capture)") {
      val root = graft.TestDirs.create(s"segio_m_v$version")
      val seg = root.resolve("seg0")
      writeSeg(seg, version)
      val local = SegmentReader.open(seg)
      // decode the baseline FIRST (local reader lazily opens its file),
      // then capture + delete the real directory
      val baseIds = local.readLongColumn("id")
      val mem = new InMemorySegmentIO(capture(root))
      local.close()
      PinotCompact.deleteRecursively(root)
      assert(!Files.exists(seg), "fixture must be gone for the proof to hold")
      val r = SegmentReader.open(seg.toString, mem)
      try {
        assert(r.readLongColumn("id").toSeq === baseIds.toSeq)
        assert(r.readStringColumn("team").toSeq === team.toSeq)
        assert(r.readStringColumn("name").toSeq === name.toSeq)
        assert(r.readDoubleColumn("score").toSeq === score.toSeq)
        assert(r.readIntColumn("metric").toSeq === metric.toSeq)
        assert(r.readStringMVColumn("tags").map(_.toSeq).toSeq ===
          tagsCol.map(_.toSeq).toSeq)
        assert(r.invertedIndex("team").isDefined)
        assert(r.bloomFilter("name").isDefined)
        assert(r.rangeIndex("metric").isDefined)
        assert(r.textIndex("body").isDefined)
        assert(r.nullVector("score").get.toArray.toSeq === Seq(2, 5, 8))
      } finally r.close()
    }

  test("hybrid cold open budget: one manifest GET per side, zero " +
      "per-segment probes (controller/hybrid budget, r10)") {
    import spark.implicits._
    val root = graft.TestDirs.create("segio_hybrid")
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "ts")
    // batch writes refresh the manifest at commit on BOTH sides
    mk(0 until 100).repartition(1).write.format("pinot").mode("append")
      .option("timeColumn", "ts").save(root.resolve("hv_OFFLINE").toString)
    mk(80 until 150).repartition(1).write.format("pinot").mode("append")
      .option("timeColumn", "ts").save(root.resolve("hv_REALTIME").toString)
    val counting = new CountingSegmentIO(LocalSegmentIO)
    SegmentIO.withOverride(_.startsWith(root.toString), counting) {
      val df = graft.sources.pinot.PinotHybrid.load(spark, root.toString, "hv")
      // both sides open cold through the manifest: exactly 2 metadata
      // GETs (one manifest per side), no per-segment round trips, and
      // the boundary comes from cached metadata only
      assert(counting.count("readFully") === 2, counting.calls)
      assert(counting.count("exists") === 0, counting.calls)
      assert(counting.count("listFiles") === 0, counting.calls)
      assert(counting.count("listAll") === 0, counting.calls)
      // time-boundary dedup still exact through the counted stack
      // (execution-side segment opens legitimately read their own
      // sections — only the PLANNING budget is pinned above)
      assert(df.count() === 150)
      import org.apache.spark.sql.functions.sum
      assert(df.agg(sum("id")).collect()(0).getLong(0) ===
        (0 until 150).map(_.toLong).sum)
    }
  }
}

package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{SegmentWriter, VarByteChunkV4}
import org.apache.spark.sql.functions._

/** End-to-end DSv2 tests over synthetic segments (≙ reference tier 2/3,
  * query_tests.rs + catalog_tests.rs, with generated fixtures instead of the
  * Pinot-quickstart Docker dependency).
  */
class PinotSourceSpec extends SparkTestBase {

  private val n = 5000
  private val rnd = new scala.util.Random(1)
  private val hits = Array.fill(n)(rnd.nextInt(263))
  private val homeRuns = Array.fill(n)(rnd.nextInt(60))
  private val teamID = Array.fill(n)(s"T${rnd.nextInt(25)}")
  private val playerID = Array.tabulate(n)(i => f"player$i%05d")
  private val salary = Array.fill(n)(rnd.nextInt(100000).toDouble / 4)

  /** A 3-segment table dir <tmp>/baseballStats_OFFLINE/{seg0,seg1,seg2}/v3. */
  private lazy val dataDir: String = {
    val root = graft.TestDirs.create("pinot_data")
    val tableDir = root.resolve("baseballStats_OFFLINE")
    val per = n / 3
    (0 until 3).foreach { s =>
      val from = s * per
      val to = if (s == 2) n else (s + 1) * per
      SegmentWriter.write(tableDir.resolve(s"seg$s"), "baseballStats", s"seg$s", Seq(
        SegmentWriter.IntCol("hits", hits.slice(from, to)),
        SegmentWriter.IntCol("homeRuns", homeRuns.slice(from, to)),
        SegmentWriter.StringDictCol("teamID", teamID.slice(from, to)),
        SegmentWriter.StringRawCol("playerID", playerID.slice(from, to),
          VarByteChunkV4.Lz4LengthPrefixed, 1024),
        SegmentWriter.DoubleCol("salary", salary.slice(from, to))))
    }
    // decoys the discovery must skip
    Files.createDirectory(tableDir.resolve("tmp"))
    Files.createDirectory(root.resolve("not_a_table"))
    root.toString
  }

  private lazy val tablePath = s"$dataDir/baseballStats_OFFLINE"

  test("scan reads all segments with full fidelity") {
    val df = spark.read.format("pinot").load(tablePath)
    assert(df.count() === n)
    assert(df.schema.fieldNames.toSeq ===
      Seq("hits", "homeRuns", "teamID", "playerID", "salary"))
    assert(df.schema.fields.forall(!_.nullable), "pinot columns are non-nullable")
    val got = df.select("playerID", "hits").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got.size === n)
    assert(got(playerID(0)) === hits(0))
    assert(got(playerID(n - 1)) === hits(n - 1))
  }

  test("aggregates match directly-computed values") {
    val df = spark.read.format("pinot").load(tablePath)
    val row = df.agg(
      sum("hits").as("s"), max("homeRuns").as("m"), count(lit(1)).as("c")).head()
    assert(row.getLong(0) === hits.map(_.toLong).sum)
    assert(row.getInt(1) === homeRuns.max)
    assert(row.getLong(2) === n)
  }

  test("group-by top-k over a dict string column") {
    val df = spark.read.format("pinot").load(tablePath)
    val got = df.groupBy("teamID").agg(sum("hits").as("total_hits"))
      .orderBy(desc("total_hits"), asc("teamID")).limit(5).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = teamID.zip(hits).groupBy(_._1)
      .map { case (t, xs) => (t, xs.map(_._2.toLong).sum) }.toSeq
      .sortBy { case (t, s) => (-s, t) }.take(5)
    assert(got.toSeq === expected)
  }

  test("column pruning reaches the scan (only projected columns decoded)") {
    val df = spark.read.format("pinot").load(tablePath).select("hits")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("columns=hits"))
    assert(!scans.head.scan.description().contains("playerID"))
  }

  test("COUNT(*) pushes down completely: answered from metadata, no decode") {
    val df = spark.read.format("pinot").load(tablePath)
    val agg = df.groupBy().count()
    val leaf = agg.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PinotAggScan(complete=true"),
      s"COUNT(*) not fully pushed:\n$leaf")
    assert(agg.head().getLong(0) === n)
  }

  test("global MIN/MAX answers from metadata bounds (r8: incl. double)") {
    val df = spark.read.format("pinot").load(tablePath)
    val agg = df.agg(min("hits").as("mn"), max("salary").as("mx"),
      count(lit(1)).as("c"))
    val leaf = agg.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("metaComplete=true"),
      s"MIN/MAX not metadata-answered:\n$leaf")
    val r = agg.head()
    assert(r.getInt(0) === hits.min)
    assert(r.getDouble(1) === salary.max)
    assert(r.getLong(2) === n)
  }

  test("MIN/MAX on bound-less segments falls back to per-segment partials") {
    // simulate foreign segments whose metadata lacks min/max bounds
    // (another writer, or bounds dropped by the properties `safe()`
    // filter): the per-segment dictionary-row partial path must carry
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = graft.TestDirs.create("pinot_nobounds")
    val src = JPaths.get(tablePath)
    val dst = root.resolve("nb_OFFLINE")
    JFiles.createDirectory(dst)
    JFiles.list(src).forEach { seg =>
      val v3 = seg.resolve("v3")
      val segDir = if (JFiles.exists(v3)) v3 else seg
      // skip decoys (e.g. the fixture's `tmp` dir) — real segments only
      if (JFiles.isDirectory(seg) &&
          JFiles.exists(segDir.resolve("metadata.properties"))) {
        val outSeg = dst.resolve(seg.getFileName)
        val outDir = if (JFiles.exists(v3)) outSeg.resolve("v3") else outSeg
        JFiles.createDirectories(outDir)
        JFiles.list(segDir).forEach { f =>
          JFiles.copy(f, outDir.resolve(f.getFileName))
        }
        val mp = outDir.resolve("metadata.properties")
        val stripped = new String(JFiles.readAllBytes(mp), "UTF-8")
          .linesIterator
          .filterNot(l => l.contains(".minValue=") || l.contains(".maxValue="))
          .mkString("\n")
        JFiles.write(mp, stripped.getBytes("UTF-8"))
      }
    }
    val df = spark.read.format("pinot").load(dst.toString)
    val agg = df.agg(min("hits").as("mn"), max("salary").as("mx"),
      count(lit(1)).as("c"))
    val leaf = agg.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PinotAggScan(complete=false"),
      s"expected the partial path:\n$leaf")
    val r = agg.head()
    assert(r.getInt(0) === hits.min)
    assert(r.getDouble(1) === salary.max)
    assert(r.getLong(2) === n)
  }

  test("DISTINCT pushes down: dictionary values only, no forward index") {
    val df = spark.read.format("pinot").load(tablePath)
    val dis = df.select("teamID").distinct()
    val leaf = dis.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PinotAggScan(complete=false"),
      s"DISTINCT not pushed:\n$leaf")
    assert(dis.collect().map(_.getString(0)).sorted.toSeq ===
      teamID.distinct.sorted.toSeq)
    // multi-column distinct pushes via the composite-id HISTOGRAM (the
    // dictionary cross-product alone would be wrong — pairs must
    // actually co-occur; the histogram proves occupancy)
    val two = df.select("teamID", "hits").distinct()
    val leaf2 = two.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf2.contains("histogram=true"), s"expected histogram:\n$leaf2")
    assert(two.count() ===
      teamID.zip(hits).map(p => (p._1, p._2)).distinct.length)
  }

  test("MIN/MAX on RAW numerics answers from recorded metadata bounds") {
    val root = graft.TestDirs.create("pinot_rawmm")
    val tdir = root.resolve("metrics_OFFLINE")
    val vals = Array.tabulate(3000)(i => (i * 37) % 2999) // high-card ints
    SegmentWriter.write(tdir.resolve("seg0"), "metrics", "seg0", Seq(
      SegmentWriter.IntRawCol("m", vals),
      SegmentWriter.StringDictCol("g", Array.fill(3000)("x"))))
    val df = spark.read.format("pinot").load(tdir.toString)
    val agg = df.agg(min("m").as("mn"), max("m").as("mx"))
    val leaf = agg.queryExecution.executedPlan.collectLeaves().head.toString
    // integral global MIN/MAX with recorded bounds answers COMPLETELY
    // from metadata (r8 — no forward-index read at all)
    assert(leaf.contains("PinotAggScan(") && leaf.contains("metaComplete=true"),
      s"RAW numeric MIN/MAX not pushed:\n$leaf")
    val r = agg.head()
    assert(r.getInt(0) === vals.min && r.getInt(1) === vals.max)
  }

  test("GROUP BY on a key-pure column pushes down: metadata-only rows") {
    // partitionBy-shaped table: each segment holds exactly one tenant
    val root = graft.TestDirs.create("pinot_gby")
    val tdir = root.resolve("tenants_OFFLINE")
    val perTenant = Map("acme" -> 1200, "bix" -> 800, "cori" -> 500)
    perTenant.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((t, cnt), i) =>
      SegmentWriter.write(tdir.resolve(s"seg$i"), "tenants", s"seg$i", Seq(
        SegmentWriter.StringDictCol("tenant", Array.fill(cnt)(t)),
        SegmentWriter.IntCol("v", Array.tabulate(cnt)(identity))))
    }
    val df = spark.read.format("pinot").load(tdir.toString)
    val agg = df.groupBy("tenant").count()
    val leaf = agg.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PinotAggScan(complete=false"),
      s"group-by COUNT not pushed:\n$leaf")
    val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === perTenant.view.mapValues(_.toLong).toMap)
    // MIN/MAX on a dict numeric column rides along
    val agg2 = df.groupBy("tenant").agg(
      count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
    val leaf2 = agg2.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf2.contains("PinotAggScan(complete=false"), leaf2)
    val r2 = agg2.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getInt(2), r.getInt(3))).toMap
    perTenant.foreach { case (t, cnt) =>
      assert(r2(t) === ((cnt.toLong, 0, cnt - 1)))
    }
    // a NON-key-pure dict group column pushes via the dict-id HISTOGRAM
    // path: per-segment (key, partial) rows from packed ids, no per-row
    // key materialization
    val mixed = spark.read.format("pinot").load(tablePath)
      .groupBy("teamID").count()
    val leaf3 = mixed.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf3.contains("histogram=true"), s"expected histogram agg:\n$leaf3")
    assert(mixed.collect().map(_.getLong(1)).sum === n)
  }

  test("aggregate pushdown is refused when a filter is present") {
    val df = spark.read.format("pinot").load(tablePath)
      .filter(col("hits") > 100).groupBy().count()
    val leaf = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PinotScan("), s"expected plain scan:\n$leaf")
    assert(df.head().getLong(0) === hits.count(_ > 100))
  }

  test("aggregate pushdown is refused for MIN/MAX on RAW or string columns") {
    val df = spark.read.format("pinot").load(tablePath)
      .agg(min("playerID").as("mn"), max("teamID").as("mx"))
    val leaf = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PinotScan("), s"expected plain scan:\n$leaf")
    val r = df.head()
    assert(r.getString(0) === playerID.min)
    assert(r.getString(1) === teamID.max)
  }

  test("empty projection emits rows-only batches (reader level)") {
    val r = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array.empty)
    var rows = 0L
    while (r.next()) { assert(r.get().numCols() === 0); rows += r.get().numRows() }
    assert(rows === n / 3)
  }

  test("tiny segments group into one task; splitTargetBytes=0 restores 1:1") {
    // three KB-sized segments share a task under default planning (the
    // 100 TB story: a million tiny segments must not launch a million
    // tasks) — strict per-segment planning stays available
    val df = spark.read.format("pinot").load(tablePath)
    assert(df.rdd.getNumPartitions === 1, "tiny segments should group")
    assert(df.count() === n)
    val strict = spark.read.format("pinot")
      .option("splitTargetBytes", "0").load(tablePath)
    assert(strict.rdd.getNumPartitions === 3, "strict mode: 1 per segment")
  }

  test("single-segment path load works") {
    val df = spark.read.format("pinot").load(s"$tablePath/seg1")
    assert(df.count() === n / 3)
  }

  test("limit pushdown caps per-partition decode and keeps results correct") {
    val df = spark.read.format("pinot").load(tablePath)
      .select("playerID", "hits").limit(7)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("limit=7"), s"limit not pushed:\n$scan")
    assert(df.count() === 7)
    // reader-level: a capped reader decodes at most `limit` rows
    val r = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"), Array.empty, Some(5))
    assert(r.next())
    assert(r.get().numRows() === 5)
    assert(!r.next())
    // FULLY-pushed limit: one chained partition, Spark's Limit gone
    val full = spark.read.format("pinot").load(tablePath)
      .select("playerID").limit(7)
    val plan = full.queryExecution.executedPlan.toString
    assert(!plan.contains("CollectLimit") && !plan.contains("GlobalLimit"),
      s"limit not fully pushed:\n$plan")
    assert(full.count() === 7)
    // a limit LARGER than the first segment chains into the next ones
    // (exactly `limit` rows total, distinct because playerID is unique)
    val chain = spark.read.format("pinot").load(tablePath)
      .select("playerID").limit(n / 3 + 500)
    assert(chain.count() === n / 3 + 500)
    assert(chain.distinct().count() === n / 3 + 500)
    // and a limit beyond the table returns every row, once
    assert(spark.read.format("pinot").load(tablePath)
      .select("playerID").limit(n + 999).count() === n)
  }

  test("dictionary pruning skips segments that cannot match an equality") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    // playerID is RAW (no dictionary) → no dictionary pruning; a value
    // inside the recorded [min,max] range must keep the segment even
    // though it is absent from the data (only Spark's residual filter
    // may reject it)
    val raw = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(EqualTo("playerID", "player00000a")), None)
    assert(raw.next(), "RAW equality within [min,max] must not prune")
    // ... while a value outside the range prunes even on a RAW column
    val rawOut = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(EqualTo("playerID", "nobody")), None)
    assert(!rawOut.next(), "RAW equality outside [min,max] prunes")
    // teamID is dict-encoded; a value outside the dictionary prunes all
    val pruned = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(EqualTo("teamID", "NO_SUCH_TEAM")), None)
    assert(!pruned.next(), "segment should be skipped entirely")
    // IN with one present value keeps the segment
    val kept = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(In("teamID", Array("NO_SUCH_TEAM", teamID(0)))), None)
    assert(kept.next())
    // end-to-end: results stay correct because filters remain residual
    val df = spark.read.format("pinot").load(tablePath)
      .filter(col("teamID") === "NO_SUCH_TEAM")
    assert(df.count() === 0)
    val one = spark.read.format("pinot").load(tablePath)
      .filter(col("teamID") === teamID(0))
    val expected = teamID.count(_ == teamID(0))
    assert(one.count() === expected)
  }

  test("min/max range pruning skips segments without decoding") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan, GreaterThanOrEqual}
    // hits ∈ [0, 262]: a range above the max prunes the whole segment
    val pruned = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(GreaterThan("hits", 1000)), None)
    assert(!pruned.next(), "segment above-max range should be skipped")
    val prunedLow = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(LessThan("hits", hits.slice(0, n / 3).min)), None)
    assert(!prunedLow.next(), "segment below-min range should be skipped")
    // a satisfiable range keeps the segment
    val kept = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(GreaterThanOrEqual("hits", hits.slice(0, n / 3).max)), None)
    assert(kept.next())
    // equality outside [min,max] prunes even when the value parses
    val eqPruned = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(org.apache.spark.sql.sources.EqualTo("hits", -5)), None)
    assert(!eqPruned.next())
    // string ranges prune too (ASCII min/max recorded by the writer)
    val strPruned = new graft.sources.pinot.PinotColumnarReader(
      s"$tablePath/seg0/v3", Array("hits"),
      Array(GreaterThan("teamID", "ZZZ")), None)
    assert(!strPruned.next())
    // end-to-end: q08-shape range filter through the source stays correct
    // (filters remain residual — pruning can only skip, never change rows)
    val df = spark.read.format("pinot").load(tablePath)
      .filter(col("hits") > 100 && col("hits") <= 200)
    assert(df.count() === hits.count(h => h > 100 && h <= 200))
    val none = spark.read.format("pinot").load(tablePath)
      .filter(col("hits") > 1000)
    assert(none.count() === 0)
  }

  test("runtime (DPP) filters prune whole segments at the driver") {
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.types.{StructType, StructField, StringType, IntegerType}
    // playerID is tabulated and sliced per segment → the three segments
    // have DISJOINT [min,max] ranges: a runtime In() with values from one
    // segment's range must keep exactly that segment
    val segs = (0 until 3).map(s => s"$tablePath/seg$s")
    val schema = StructType(Seq(
      StructField("playerID", StringType, nullable = false),
      StructField("hits", IntegerType, nullable = false)))
    // strict per-segment planning so partition counts read as segment
    // counts (DPP pruning happens before split/group planning)
    def scan() = new graft.sources.pinot.PinotScan(
      segs, schema, Array.empty, graft.sources.pinot.RowCap.NoCap,
      splitTargetBytes = 0)
    val s0 = scan()
    assert(s0.planInputPartitions().length === 3)
    assert(s0.filterAttributes().map(_.fieldNames().head).toSet
      === Set("playerID", "hits"))
    // values inside seg1's range only (docs n/3 .. 2n/3)
    val mid = playerID(n / 2)
    val s1 = scan()
    s1.filter(Array[org.apache.spark.sql.sources.Filter](
      In("playerID", Array(mid))))
    assert(s1.planInputPartitions().length === 1, "one segment survives")
    // a value per segment keeps all three
    val s2 = scan()
    s2.filter(Array[org.apache.spark.sql.sources.Filter](
      In("playerID", Array(playerID(0), playerID(n / 2), playerID(n - 1)))))
    assert(s2.planInputPartitions().length === 3)
    // no matching value anywhere → zero partitions, no tasks at all
    val s3 = scan()
    s3.filter(Array[org.apache.spark.sql.sources.Filter](
      In("playerID", Array("zzz_nobody"))))
    assert(s3.planInputPartitions().length === 0)
    // unprunable filter types never drop segments
    val s4 = scan()
    s4.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.StringContains("playerID", "x")))
    assert(s4.planInputPartitions().length === 3)

    // end-to-end: a selective broadcast-dim join over the DSv2 source
    // stays correct with DPP enabled (the runtime filter is advisory —
    // the join remains authoritative)
    val fact = spark.read.format("pinot").load(tablePath)
    val dim = spark.createDataFrame(
      Seq((playerID(7), "keep"), (playerID(n - 3), "keep"))
    ).toDF("pid", "tag")
    val joined = fact.join(broadcast(dim), col("playerID") === col("pid"))
      .select("playerID", "hits", "tag")
    assert(joined.count() === 2)
    val got = joined.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got(playerID(7)) === hits(7))
    assert(got(playerID(n - 3)) === hits(n - 3))
  }

  test("prefix filters prune segments and range sorted string columns") {
    import org.apache.spark.sql.sources.StringStartsWith
    val root = graft.TestDirs.create("pinot_sorted_str")
    val tdir = root.resolve("sortedids_OFFLINE")
    // sorted dict string column (time-ordered-id shape) + a payload col
    val ids = Array.tabulate(5000)(i => f"id$i%05d")
    val pay = Array.tabulate(5000)(identity)
    SegmentWriter.write(tdir.resolve("seg0"), "sortedids", "seg0", Seq(
      SegmentWriter.StringDictCol("sid", ids),
      SegmentWriter.IntCol("pay", pay)))
    // segment-level: a prefix outside [min,max] prunes without decoding
    val pruned = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("pay"),
      Array(StringStartsWith("sid", "zz")), None)
    assert(!pruned.next(), "prefix above max prunes the segment")
    // sorted sub-segment ranging: only the [prefix, next) doc slice decodes
    val sliced = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("sid", "pay"),
      Array(StringStartsWith("sid", "id001")), None)
    var rows = 0
    while (sliced.next()) rows += sliced.get().numRows()
    assert(rows === 100, "exactly the id001xx slice decodes")
    // range filters on the sorted string column slice too
    val ranged = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("pay"),
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("sid", "id04990")), None)
    var rrows = 0
    while (ranged.next()) rrows += ranged.get().numRows()
    assert(rrows === 10)
    // end-to-end correctness through the source
    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.filter(col("sid").startsWith("id001")).count() === 100)
    assert(df.filter(col("sid").startsWith("id00199")).count() === 1)
    assert(df.filter(col("sid").startsWith("zz")).count() === 0)
    assert(df.filter(col("sid") >= "id04990").agg(sum("pay")).head().getLong(0)
      === (4990 until 5000).sum.toLong)
  }

  test("TIMESTAMP columns prune and range like the time series they are") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    val root = graft.TestDirs.create("pinot_tscol")
    val tdir = root.resolve("tsev_OFFLINE")
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    // ascending event times, 1 minute apart → isSorted recorded
    val ms = Array.tabulate(2000)(i => base + i * 60000L)
    SegmentWriter.write(tdir.resolve("seg0"), "tsev", "seg0", Seq(
      SegmentWriter.TimestampCol("ts", ms),
      SegmentWriter.IntCol("v", Array.tabulate(2000)(identity))))
    def tsv(m: Long) = new java.sql.Timestamp(m)
    // segment-level: a range entirely after the segment prunes it
    val pruned = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("v"),
      Array(GreaterThan("ts", tsv(ms.last + 1))), None)
    assert(!pruned.next(), "range above segment max prunes")
    // sorted sub-segment ranging: only the in-window slice decodes
    val sliced = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("ts", "v"),
      Array(GreaterThan("ts", tsv(ms(99))), LessThan("ts", tsv(ms(200)))), None)
    var rows = 0
    while (sliced.next()) rows += sliced.get().numRows()
    assert(rows === 100, "exactly docs 100..199 decode")
    // java.time.Instant probes (Java-8 datetime API) work identically
    val inst = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("v"),
      Array(GreaterThan("ts",
        java.time.Instant.ofEpochMilli(ms.last + 1))), None)
    assert(!inst.next())
    // end-to-end through the source: time-window filters stay correct
    val df = spark.read.format("pinot").load(tdir.toString)
    val cnt = df.filter(col("ts") >= lit(tsv(ms(500))) &&
      col("ts") < lit(tsv(ms(600)))).count()
    assert(cnt === 100)
    assert(df.filter(col("ts") > lit(tsv(ms.last))).count() === 0)
  }

  test("inverted index: EqualTo/In decode only windows holding matches") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val root = graft.TestDirs.create("pinot_inv")
    val tdir = root.resolve("tagged_OFFLINE")
    val docs = 40000
    // 'needle' appears at three scattered docs; everything else 'common'
    val needleAt = Set(7, 21000, 38000)
    val tags = Array.tabulate(docs)(i =>
      if (needleAt(i)) "needle" else if (i % 7 == 0) "other" else "common")
    SegmentWriter.write(tdir.resolve("seg0"), "tagged", "seg0", Seq(
      SegmentWriter.StringDictCol("tag", tags),
      SegmentWriter.IntCol("v", Array.tabulate(docs)(identity))),
      invertedCols = Set("tag"))
    // direct reader: rows decoded are bounded by matching windows, not docs
    def decodedRows(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val r = new graft.sources.pinot.PinotColumnarReader(
        s"$tdir/seg0/v3", Array("tag", "v"), filters, None)
      var rows = 0
      while (r.next()) rows += r.get().numRows()
      rows
    }
    val eqRows = decodedRows(Array(EqualTo("tag", "needle")))
    assert(eqRows <= 3 * 8192, s"expected ≤3 windows, decoded $eqRows rows")
    assert(eqRows < docs / 2, "index should skip most of the segment")
    // IN with a second sparse value still window-skips; AND of two
    // indexable filters intersects (empty intersection → nothing decodes)
    assert(decodedRows(Array(In("tag", Array("needle")))) === eqRows)
    assert(decodedRows(Array(
      EqualTo("tag", "needle"), EqualTo("tag", "other"))) === 0)
    // e2e through the source: results stay exact (residual filter applies)
    val df = spark.read.format("pinot").load(tdir.toString)
    val got = df.filter(col("tag") === "needle").select("v").collect()
      .map(_.getInt(0)).sorted
    assert(got.toSeq === needleAt.toSeq.sorted)
    assert(df.filter(col("tag").isin("needle", "other")).count() ===
      (needleAt.size + (0 until docs).count(i => i % 7 == 0 && !needleAt(i))))
    // DSv2 writer plumbs the option: hasInvertedIndex lands in metadata
    val wdir = root.resolve("written_OFFLINE")
    import spark.implicits._
    (0 until 1000).map(i => (if (i == 500) "rare" else s"t${i % 3}", i))
      .toDF("tag", "v")
      .repartition(1)
      .write.format("pinot").option("invertedIndexColumns", "tag")
      .mode("append").save(wdir.toString)
    val seg = {
      import scala.jdk.CollectionConverters._
      Files.list(wdir).iterator().asScala
        .filter(Files.isDirectory(_)).next() // skip the table manifest file
    }
    val meta = graft.pinot.SegmentReader.open(seg).metadata
    assert(meta.column("tag").hasInvertedIndex, "written index flag")
    val wdf = spark.read.format("pinot").load(wdir.toString)
    assert(wdf.filter(col("tag") === "rare").select("v").collect()
      .map(_.getInt(0)).toSeq === Seq(500))
  }

  test("nullable columns: null-value vector roundtrip, IS NULL pruning") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_null")
    val tdir = root.resolve("nully_OFFLINE")
    // score is null for every 7th row; name never null
    (0 until 5000).map(i =>
      (i, if (i % 7 == 0) None else Some(i * 2.5), s"n${i % 40}"))
      .toDF("id", "score", "name")
      .repartition(2)
      .write.format("pinot").option("nullableColumns", "score")
      .mode("append").save(tdir.toString)
    val df = spark.read.format("pinot").load(tdir.toString)
    assert(df.schema("score").nullable, "null-vector column reads nullable")
    assert(!df.schema("name").nullable)
    // exact null semantics through aggregation and filters
    val expNulls = (0 until 5000).count(_ % 7 == 0)
    assert(df.filter(col("score").isNull).count() === expNulls)
    assert(df.filter(col("score").isNotNull).count() === 5000 - expNulls)
    val r = df.agg(count(lit(1)).as("all"), count(col("score")).as("nn"),
      sum("score").as("s")).collect()(0)
    assert(r.getLong(0) === 5000 && r.getLong(1) === (5000 - expNulls))
    assert(r.getDouble(2) ===
      (0 until 5000).filter(_ % 7 != 0).map(_ * 2.5).sum)
    // null rows keep their OTHER columns intact
    assert(df.filter(col("score").isNull).agg(sum("id")).collect()(0)
      .getLong(0) === (0 until 5000 by 7).sum.toLong)
    // COUNT(score) pushes down COMPLETELY and answers docs − nullCount
    // from metadata (the writer records the null-vector cardinality)
    val cntColDf = df.agg(count(col("score")).as("nn"))
    val cntCol = cntColDf.queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(cntCol.contains("PinotAggScan"), cntCol)
    assert(cntColDf.collect()(0).getLong(0) === (5000 - expNulls).toLong)
    val cntStar = df.groupBy().count().queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(cntStar.contains("PinotAggScan"), cntStar)
    // MIN/MAX on the nullable column still refuses (dict holds defaults)
    val mm = df.agg(min("score")).queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(!mm.contains("PinotAggScan"), mm)
    assert(df.agg(min("score")).collect()(0).getDouble(0) === 2.5)
    // IS NULL on a column with NO null vector prunes the whole segment
    val pruned = new graft.sources.pinot.PinotColumnarReader(
      {
        import scala.jdk.CollectionConverters._
        Files.list(tdir).iterator().asScala
          .filter(Files.isDirectory(_)).next().resolve("v3").toString
      },
      Array("id"), Array(org.apache.spark.sql.sources.IsNull("name")), None)
    assert(!pruned.next(), "IS NULL on never-null column prunes")
    // clustered nulls: IS NULL clamps the scan to the null run itself
    val cdir = root.resolve("clustered_OFFLINE")
    SegmentWriter.write(cdir.resolve("seg0"), "clustered", "seg0", Seq(
      SegmentWriter.IntCol("a", Array.tabulate(10000)(identity)),
      SegmentWriter.LongCol("b", Array.tabulate(10000)(_.toLong))),
      nullVectors = Map("b" -> (100 until 200).toArray))
    val rdr = new graft.sources.pinot.PinotColumnarReader(
      cdir.resolve("seg0").resolve("v3").toString, Array("a", "b"),
      Array(org.apache.spark.sql.sources.IsNull("b")), None)
    var got = 0
    while (rdr.next()) got += rdr.get().numRows()
    assert(got === 100, s"IS NULL should decode only the null run, got $got")
  }

  test("hybrid OFFLINE+REALTIME read dedups at the time boundary") {
    import spark.implicits._
    val root = graft.TestDirs.create("pinot_hybrid")
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "ts")
    // offline ids 0..99; realtime ids 80..149 → 80..99 live in BOTH
    mk(0 until 100).repartition(1).write.format("pinot").mode("append")
      .option("timeColumn", "ts").save(root.resolve("ev_OFFLINE").toString)
    mk(80 until 150).repartition(1).write.format("pinot").mode("append")
      .option("timeColumn", "ts").save(root.resolve("ev_REALTIME").toString)
    val df = graft.sources.pinot.PinotHybrid.load(spark, root.toString, "ev")
    assert(df.count() === 150, "overlap rows must count exactly once")
    assert(df.agg(sum("id")).collect()(0).getLong(0) ===
      (0 until 150).map(_.toLong).sum)
    // single-side fallback (reference behavior)
    mk(0 until 5).repartition(1).write.format("pinot").mode("append")
      .option("timeColumn", "ts").save(root.resolve("solo_OFFLINE").toString)
    assert(graft.sources.pinot.PinotHybrid
      .load(spark, root.toString, "solo").count() === 5)
  }

  test("pruning respects Spark float semantics: -0.0 == 0.0, NaN = NaN") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    // a segment whose recorded max is -0.0: Spark treats -0.0 = 0.0, so
    // x >= 0.0 and x = 0.0 must NOT prune it (Double.compare alone would)
    val root = graft.TestDirs.create("pinot_zero")
    val tdir = root.resolve("zeroes_OFFLINE")
    SegmentWriter.write(tdir.resolve("seg0"), "zeroes", "seg0", Seq(
      SegmentWriter.IntCol("k", Array(1, 2)),
      SegmentWriter.DoubleCol("v", Array(-0.0, -1.5))))
    val keptGe = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("k"),
      Array(GreaterThanOrEqual("v", 0.0)), None)
    assert(keptGe.next(), "max=-0.0 must survive v >= 0.0")
    val keptEq = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("k"),
      Array(EqualTo("v", 0.0)), None)
    assert(keptEq.next(), "dict containing -0.0 must survive v = 0.0")
    // NaN equality: Spark's EqualTo(NaN) is true for stored NaN — the
    // dictionary probe must not prune a segment that holds NaN
    val ndir = root.resolve("nans_OFFLINE")
    SegmentWriter.write(ndir.resolve("seg0"), "nans", "seg0", Seq(
      SegmentWriter.IntCol("k", Array(1, 2)),
      SegmentWriter.DoubleCol("v", Array(Double.NaN, 7.5))))
    val keptNaN = new graft.sources.pinot.PinotColumnarReader(
      s"$ndir/seg0/v3", Array("k"),
      Array(EqualTo("v", Double.NaN)), None)
    assert(keptNaN.next(), "dict containing NaN must survive v = NaN")
    // ... while a NaN probe against a NaN-free dictionary still prunes
    val prunedNaN = new graft.sources.pinot.PinotColumnarReader(
      s"$tdir/seg0/v3", Array("k"),
      Array(EqualTo("v", Double.NaN)), None)
    assert(!prunedNaN.next(), "NaN-free dict prunes v = NaN")
  }

  test("storage-partitioned join: co-partitioned tables join with no Exchange") {
    import graft.pinot.SegmentWriter
    val root = graft.TestDirs.create("pinot_spj")
    val rnd2 = new scala.util.Random(5)
    // two tables, both with one segment per region_id value 0..3
    def writeTable(table: String, rows: Int, valCol: String): Unit = {
      val dir = root.resolve(s"${table}_OFFLINE")
      (0 until 4).foreach { r =>
        SegmentWriter.write(dir.resolve(s"seg$r"), table, s"seg$r", Seq(
          SegmentWriter.IntCol("region_id", Array.fill(rows)(r)),
          SegmentWriter.IntCol(valCol, Array.fill(rows)(rnd2.nextInt(100)))))
      }
    }
    writeTable("facts", 800, "amount")
    writeTable("dims", 200, "weight")

    val conf = spark.conf
    // NOTE: restore is UNSET, not set-to-captured: conf.get with a
    // fallback reads Spark's registered default through the fallback
    // string, and "restoring" that explicitly disabled v2 bucketing for
    // every later suite on the shared session (r14: flaked the upsert
    // ZERO-exchange plan pin). The shared test session never sets this
    // key, so unset IS the prior state.
    val prevThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = spark.read.format("pinot").load(s"$root/facts_OFFLINE")
      val dims = spark.read.format("pinot").load(s"$root/dims_OFFLINE")
      val joined = facts.join(dims, "region_id")
        .groupBy("region_id")
        .agg(count(lit(1)).as("cnt"), sum("amount").as("sa"), sum("weight").as("sw"))
      val plan = joined.queryExecution.executedPlan
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.inputPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allNodes(q.plan)
        case other => other +: other.children.flatMap(allNodes)
      }
      val joinShuffles = {
        // find the join node, count exchanges BELOW it (the final groupBy
        // may still shuffle above — the claim is about the join inputs)
        val join = allNodes(plan).find(n =>
          n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        join.toSeq.flatMap(allNodes).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      }
      assert(joinShuffles === 0,
        s"expected storage-partitioned join with no Exchange below the join:\n$plan")
      // correctness: 4 regions, each 800×200 joined rows
      val rows = joined.orderBy("region_id").collect()
      assert(rows.length === 4)
      assert(rows.forall(_.getLong(1) === 800L * 200))
    } finally {
      conf.unset("spark.sql.sources.v2.bucketing.enabled")
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("sorted-column range filters decode only the matching doc slice") {
    import graft.pinot.{SegmentWriter, VarByteChunkV4 => V4}
    import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual}
    val root = graft.TestDirs.create("pinot_sorted")
    val dir = root.resolve("ts_OFFLINE")
    val nrows = 20000
    val ts = Array.tabulate(nrows)(i => 1700000000L + i * 10L) // sorted
    val vals = Array.tabulate(nrows)(i => i % 997)
    val tags = Array.tabulate(nrows)(i => f"tag$i%05d")
    SegmentWriter.write(dir.resolve("seg0"), "ts", "seg0", Seq(
      SegmentWriter.LongCol("ts", ts),
      SegmentWriter.IntCol("v", vals),
      SegmentWriter.StringRawCol("tag", tags, V4.Lz4LengthPrefixed, 2048)))

    // reader level: the scan itself emits ONLY the matching slice —
    // proof that decode work is bounded by the range, not the segment
    val lo = ts(5000)
    val hi = ts(5999)
    val r = new graft.sources.pinot.PinotColumnarReader(
      s"$dir/seg0/v3", Array("ts", "v", "tag"),
      Array(GreaterThan("ts", lo), LessThanOrEqual("ts", hi)), None)
    var rows = 0
    var firstTag: String = null
    while (r.next()) {
      val b = r.get()
      if (firstTag == null && b.numRows() > 0)
        firstTag = b.column(2).getUTF8String(0).toString
      rows += b.numRows()
    }
    assert(rows === 999, "exactly the (lo, hi] docs decode")
    assert(firstTag === tags(5001), "slice is positioned correctly")

    // end-to-end through the source: results identical to full semantics
    val df = spark.read.format("pinot").load(dir.toString)
      .filter(col("ts") > lo && col("ts") <= hi)
      .agg(count(lit(1)).as("c"), sum("v").as("s"))
    val exp = (5001 to 5999)
    assert(df.head().getLong(0) === exp.size.toLong)
    assert(df.head().getLong(1) === exp.map(i => (i % 997).toLong).sum)
    // an unsatisfiable range over the sorted column decodes nothing
    val none = new graft.sources.pinot.PinotColumnarReader(
      s"$dir/seg0/v3", Array("ts"),
      Array(GreaterThan("ts", ts.last)), None)
    assert(!none.next())

    // a RAW fixed-byte sorted column drives the same sub-segment ranging
    val dirRaw = root.resolve("tsraw_OFFLINE")
    SegmentWriter.write(dirRaw.resolve("seg0"), "tsraw", "seg0", Seq(
      SegmentWriter.LongRawCol("ts", ts, V4.Lz4LengthPrefixed, 1024),
      SegmentWriter.IntCol("v", vals)))
    val rr = new graft.sources.pinot.PinotColumnarReader(
      s"$dirRaw/seg0/v3", Array("ts", "v"),
      Array(GreaterThan("ts", lo), LessThanOrEqual("ts", hi)), None)
    var rawRows = 0
    while (rr.next()) rawRows += rr.get().numRows()
    assert(rawRows === 999, "RAW sorted column ranges the decode too")
  }

  test("scan reports row-count statistics from segment metadata") {
    val scan = new graft.sources.pinot.PinotScan(
      Seq(s"$tablePath/seg0/v3", s"$tablePath/seg1/v3", s"$tablePath/seg2/v3"),
      spark.read.format("pinot").load(tablePath).schema,
      Array.empty, graft.sources.pinot.RowCap.NoCap)
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong === n)
    assert(stats.sizeInBytes().getAsLong > 0)

    // CBO-grade per-column statistics, all from cached metadata
    val cs = stats.columnStats()
    val byName = cs.entrySet().iterator()
    var found = Map.empty[String,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]
    while (byName.hasNext) {
      val e = byName.next()
      found += e.getKey.fieldNames()(0) -> e.getValue
    }
    val h = found("hits")
    assert(h.nullCount().getAsLong === 0L)
    assert(h.min().get() === Int.box(hits.min))
    assert(h.max().get() === Int.box(hits.max))
    assert(h.distinctCount().getAsLong > 0)
    assert(h.distinctCount().getAsLong <= 263)
    val t = found("teamID")
    assert(t.min().get() ===
      org.apache.spark.unsafe.types.UTF8String.fromString(teamID.min))
    assert(t.max().get() ===
      org.apache.spark.unsafe.types.UTF8String.fromString(teamID.max))
    val s = found("salary")
    assert(s.min().get() === Double.box(salary.min))
    assert(s.max().get() === Double.box(salary.max))
  }

  test("catalog: discovery, case-insensitive lookup, qualified SQL") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.pinot", "graft.sources.pinot.PinotCatalog")
    s2.conf.set("spark.sql.catalog.pinot.data_dir", dataDir)
    val tables = s2.sql("SHOW TABLES IN pinot.default").collect().map(_.getString(1))
    assert(tables.toSeq === Seq("baseballStats"))
    assert(s2.sql("SELECT count(*) AS c FROM pinot.default.baseballStats")
      .head().getLong(0) === n)
    // unquoted identifiers lowercase; lookup must still resolve
    assert(s2.sql("SELECT count(*) AS c FROM pinot.default.baseballstats")
      .head().getLong(0) === n)
    val top = s2.sql(
      """SELECT teamID, SUM(hits) AS total_hits
        |FROM pinot.default.baseballStats
        |GROUP BY teamID ORDER BY total_hits DESC, teamID LIMIT 1""".stripMargin).head()
    val expected = teamID.zip(hits).groupBy(_._1)
      .map { case (t, xs) => (t, xs.map(_._2.toLong).sum) }.toSeq
      .sortBy { case (t, s) => (-s, t) }.head
    assert((top.getString(0), top.getLong(1)) === expected)
  }
}

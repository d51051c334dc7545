package graft.sources


import graft.SparkTestBase
import graft.pinot.SegmentWriter
import org.apache.spark.sql.functions._

/** Dictionary-id histogram GROUP BY pushdown: per-segment partials
  * computed straight over packed dictionary ids (counts[gid]++ — the id
  * IS the hash slot), merged by Spark's final aggregate. The group-topk
  * shape of the reference benchmark (`SELECT teamID, count(*), sum(hits)
  * ... GROUP BY teamID ORDER BY ... LIMIT 10`, README.md:137-148) runs
  * through this path.
  */
class HistAggSpec extends SparkTestBase {

  private val n = 9000
  private val rnd = new scala.util.Random(7)
  private val team = Array.fill(n)(s"T${rnd.nextInt(17)}")
  private val hits = Array.fill(n)(rnd.nextInt(263))           // dict int
  private val score = Array.fill(n)(rnd.nextDouble() * 100)    // dict double
  private val bal = Array.fill(n)(rnd.nextLong() % 100000)     // RAW long
  private val temp = Array.fill(n)(rnd.nextFloat() * 40 - 10)  // dict float

  private lazy val tdir: String = {
    val root = graft.TestDirs.create("pinot_hist")
    val t = root.resolve("h_OFFLINE")
    val per = n / 3
    (0 until 3).foreach { s =>
      val from = s * per
      val to = if (s == 2) n else (s + 1) * per
      SegmentWriter.write(t.resolve(s"seg$s"), "h", s"seg$s", Seq(
        SegmentWriter.StringDictCol("team", team.slice(from, to)),
        SegmentWriter.IntCol("hits", hits.slice(from, to)),
        SegmentWriter.DoubleCol("score", score.slice(from, to)),
        SegmentWriter.LongRawCol("bal", bal.slice(from, to)),
        SegmentWriter.FloatCol("temp", temp.slice(from, to))))
    }
    t.toString
  }

  private def leafOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().head.toString

  test("count/sum/min/max over dict + RAW metrics match direct computation") {
    val df = spark.read.format("pinot").load(tdir)
    val agg = df.groupBy("team").agg(
      count(lit(1)).as("c"), sum("hits").as("sh"),
      sum("score").as("ss"), sum("bal").as("sb"),
      min("hits").as("mnh"), max("hits").as("mxh"),
      min("temp").as("mnt"), max("score").as("mxs"))
    assert(leafOf(agg).contains("histogram=true"), leafOf(agg))

    val got = agg.collect().map(r => r.getString(0) -> r).toMap
    val byTeam = (0 until n).groupBy(team)
    assert(got.keySet === byTeam.keySet)
    byTeam.foreach { case (t, is) =>
      val r = got(t)
      assert(r.getLong(1) === is.length.toLong, s"$t count")
      assert(r.getLong(2) === is.map(hits(_).toLong).sum, s"$t sum hits")
      assert(math.abs(r.getDouble(3) - is.map(score(_)).sum) < 1e-6, s"$t sum score")
      assert(r.getLong(4) === is.map(bal(_)).sum, s"$t sum bal (RAW)")
      assert(r.getInt(5) === is.map(hits(_)).min, s"$t min hits")
      assert(r.getInt(6) === is.map(hits(_)).max, s"$t max hits")
      assert(r.getFloat(7) === is.map(temp(_)).min, s"$t min temp (float)")
      assert(r.getDouble(8) === is.map(score(_)).max, s"$t max score")
    }
  }

  test("group-topk plan: histogram scan + final agg + fused top-k") {
    val df = spark.read.format("pinot").load(tdir)
    val topk = df.groupBy("team")
      .agg(count(lit(1)).as("games"), sum("hits").as("th"))
      .orderBy(desc("th")).limit(5)
    assert(leafOf(topk).contains("histogram=true"))
    val got = topk.collect().map(r => (r.getString(0), r.getLong(2)))
    val want = (0 until n).groupBy(team).view
      .mapValues(_.map(hits(_).toLong).sum).toSeq
      .sortBy(-_._2).take(5)
    assert(got.map(_._2).toSeq === want.map(_._2))
  }

  test("avg rewrites to pushed sum+count partials") {
    val df = spark.read.format("pinot").load(tdir)
    val a = df.groupBy("team").agg(avg("hits").as("ah"))
    // Spark translates AVG into SUM+COUNT for partial pushdown
    assert(leafOf(a).contains("histogram=true"), leafOf(a))
    val got = a.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    (0 until n).groupBy(team).foreach { case (t, is) =>
      assert(math.abs(got(t) - is.map(hits(_)).sum.toDouble / is.length) < 1e-9)
    }
  }

  test("GLOBAL SUM/AVG/MIN/MAX push via the synthetic single group") {
    val df = spark.read.format("pinot").load(tdir)
    // multi-segment: one partial row per segment, merged by Spark
    val g = df.agg(sum("hits").as("s"), sum("score").as("ss"),
      min("bal").as("mn"), max("bal").as("mx"), count(lit(1)).as("c"))
    assert(leafOf(g).contains("histogram=true"), leafOf(g))
    val r = g.head()
    assert(r.getLong(0) === hits.map(_.toLong).sum)
    assert(math.abs(r.getDouble(1) - score.sum) < 1e-6)
    assert(r.getLong(2) === bal.min)
    assert(r.getLong(3) === bal.max)
    assert(r.getLong(4) === n.toLong)

    // single segment: COMPLETE — no HashAggregate at all, AVG whole
    val root = graft.TestDirs.create("pinot_hist_g1")
    val t1 = root.resolve("g_OFFLINE")
    SegmentWriter.write(t1.resolve("seg0"), "g", "seg0", Seq(
      SegmentWriter.IntCol("hits", hits.take(4000)),
      SegmentWriter.DoubleCol("score", score.take(4000))))
    val df1 = spark.read.format("pinot").load(t1.toString)
    val a1 = df1.agg(sum("hits").as("s"), avg("score").as("a"))
    assert(leafOf(a1).contains("histFinal=true"), leafOf(a1))
    assert(!a1.queryExecution.executedPlan.toString.contains("HashAggregate"))
    val r1 = a1.head()
    assert(r1.getLong(0) === hits.take(4000).map(_.toLong).sum)
    assert(math.abs(r1.getDouble(1) - score.take(4000).sum / 4000) < 1e-9)

    // empty table: no partial rows → Spark's default values
    val rEmpty = spark.read.format("pinot").load(tdir)
      .filter(lit(false)).agg(count(lit(1))).head()
    assert(rEmpty.getLong(0) === 0L)
  }

  test("single-segment complete pushdown: no final aggregate, AVG pushed whole") {
    val root = graft.TestDirs.create("pinot_hist_one")
    val t1 = root.resolve("o_OFFLINE")
    SegmentWriter.write(t1.resolve("seg0"), "o", "seg0", Seq(
      SegmentWriter.StringDictCol("team", team.take(3000)),
      SegmentWriter.IntCol("hits", hits.take(3000))))
    val df = spark.read.format("pinot").load(t1.toString)
    val a = df.groupBy("team").agg(avg("hits").as("ah"), count(lit(1)).as("c"))
    assert(leafOf(a).contains("histFinal=true"), leafOf(a))
    // complete pushdown: no HashAggregate above the scan
    val aggNodes = a.queryExecution.executedPlan.toString
    assert(!aggNodes.contains("HashAggregate"), aggNodes)
    val got = a.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    (0 until 3000).groupBy(team).foreach { case (t, is) =>
      val (ah, c) = got(t)
      assert(c === is.length.toLong)
      assert(math.abs(ah - is.map(hits(_)).sum.toDouble / is.length) < 1e-9)
    }
    // the multi-segment table keeps the partial form (final agg present)
    val multi = spark.read.format("pinot").load(tdir)
      .groupBy("team").agg(sum("hits").as("s"))
    assert(leafOf(multi).contains("histFinal=false"), leafOf(multi))
    assert(multi.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  test("RAW string group column: slot-map histogram, single- and multi-segment") {
    val root = graft.TestDirs.create("pinot_hist_raw")
    val t1 = root.resolve("r_OFFLINE")
    val m = 4000
    val player = Array.tabulate(m)(i => f"p${i % 700}%04d") // repeats
    val h = hits.take(m)
    SegmentWriter.write(t1.resolve("seg0"), "r", "seg0", Seq(
      SegmentWriter.StringRawCol("player", player,
        graft.pinot.VarByteChunkV4.Lz4LengthPrefixed, 1024),
      SegmentWriter.IntCol("hits", h)))
    val df = spark.read.format("pinot").load(t1.toString)
    val a = df.groupBy("player").agg(avg("hits").as("ah"))
    assert(leafOf(a).contains("histFinal=true"), leafOf(a))
    val got = a.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = (0 until m).groupBy(player).view
      .mapValues(is => is.map(h(_)).sum.toDouble / is.length)
    assert(got.size === want.size)
    want.foreach { case (p, w) => assert(math.abs(got(p) - w) < 1e-9, p) }

    // two segments: per-segment slots emit VALUES, so partials merge in
    // Spark's final aggregate — a 100 TB table is never one segment
    val t2 = root.resolve("r2_OFFLINE")
    (0 until 2).foreach { s =>
      SegmentWriter.write(t2.resolve(s"seg$s"), "r2", s"seg$s", Seq(
        SegmentWriter.StringRawCol("player", player.slice(s * 2000, (s + 1) * 2000),
          graft.pinot.VarByteChunkV4.Lz4LengthPrefixed, 1024),
        SegmentWriter.IntCol("hits", h.slice(s * 2000, (s + 1) * 2000))))
    }
    val df2 = spark.read.format("pinot").load(t2.toString)
    val a2 = df2.groupBy("player").agg(
      count(lit(1)).as("c"), sum("hits").as("sh"))
    assert(leafOf(a2).contains("histogram=true"), leafOf(a2))
    assert(leafOf(a2).contains("histFinal=false"), leafOf(a2))
    val got2 = a2.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want2 = (0 until m).groupBy(player)
    assert(got2.keySet === want2.keySet)
    want2.foreach { case (p, is) =>
      assert(got2(p) === ((is.length.toLong, is.map(h(_).toLong).sum)), p)
    }

    // RAW DISTINCT pushes through the same slot histogram
    val d2 = df2.select("player").distinct()
    assert(leafOf(d2).contains("histogram=true"), leafOf(d2))
    assert(d2.count() === player.distinct.length.toLong)
  }

  test("mixed dict + RAW group keys compose slots into composite ids") {
    val root = graft.TestDirs.create("pinot_hist_mixed")
    val t = root.resolve("mx_OFFLINE")
    val m = 6000
    val player = Array.tabulate(m)(i => f"p${i % 97}%03d") // RAW string
    val tm = Array.tabulate(m)(i => s"T${i % 11}")         // dict string
    val h = hits.take(m)
    (0 until 2).foreach { s =>
      val from = s * (m / 2); val to = (s + 1) * (m / 2)
      SegmentWriter.write(t.resolve(s"seg$s"), "mx", s"seg$s", Seq(
        SegmentWriter.StringDictCol("team", tm.slice(from, to)),
        SegmentWriter.StringRawCol("player", player.slice(from, to),
          graft.pinot.VarByteChunkV4.Lz4LengthPrefixed, 1024),
        SegmentWriter.IntCol("hits", h.slice(from, to))))
    }
    val df = spark.read.format("pinot").load(t.toString)
    val a = df.groupBy("team", "player")
      .agg(count(lit(1)).as("c"), sum("hits").as("sh"),
        min("hits").as("mn"), max("hits").as("mx"))
    assert(leafOf(a).contains("histogram=true"), leafOf(a))
    val got = a.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5)))).toMap
    val want = (0 until m).groupBy(i => (tm(i), player(i)))
    assert(got.keySet === want.keySet)
    want.foreach { case (k, is) =>
      assert(got(k) === ((is.length.toLong, is.map(h(_).toLong).sum,
        is.map(h(_)).min, is.map(h(_)).max)), s"$k")
    }
    // mixed-key DISTINCT rides the same path
    val d = df.select("team", "player").distinct()
    assert(leafOf(d).contains("histogram=true"), leafOf(d))
    assert(d.count() === (0 until m).map(i => (tm(i), player(i))).distinct.length.toLong)
  }

  test("multi-column GROUP BY composes dict ids by stride arithmetic") {
    val df = spark.read.format("pinot").load(tdir)
    // second group key: hits % buckets — hits itself is a dict int col;
    // group directly by (team, hits) to keep both keys dictionary-backed
    val a = df.groupBy("team", "hits")
      .agg(count(lit(1)).as("c"), sum("bal").as("s"))
    assert(leafOf(a).contains("histogram=true"), leafOf(a))
    val got = a.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val want = (0 until n).groupBy(i => (team(i), hits(i)))
    assert(got.keySet === want.keySet)
    want.foreach { case (k, is) =>
      assert(got(k) === ((is.length.toLong, is.map(bal(_)).sum)), s"$k")
    }
    // a RAW (non-dict) column in a multi-column group refuses pushdown
    // (composite ids need dictionaries on every key) — engine-side agg
    // stays correct
    val big = df.groupBy("team", "bal").count()
    assert(!leafOf(big).contains("PinotAggScan"), leafOf(big))
    assert(big.collect().map(_.getLong(2)).sum === n.toLong)
  }

  test("global aggregate over an empty single segment returns its mandatory row") {
    val root = graft.TestDirs.create("pinot_hist_empty")
    val t1 = root.resolve("e_OFFLINE")
    SegmentWriter.write(t1.resolve("seg0"), "e", "seg0", Seq(
      SegmentWriter.IntCol("v", Array.empty[Int])))
    val df = spark.read.format("pinot").load(t1.toString)
    // SQL semantics: one row, SUM = NULL, COUNT = 0 — complete pushdown
    // must refuse here (no partial rows would mean no row at all)
    val r = df.agg(sum("v").as("s"), count(lit(1)).as("c")).head()
    assert(r.isNullAt(0), "SUM over empty input must be NULL")
    assert(r.getLong(1) === 0L)
    // group-by over the empty segment is correctly empty
    assert(df.groupBy("v").count().collect().isEmpty)
  }

  test("multi-column DISTINCT pushes via occupied composite ids") {
    val df = spark.read.format("pinot").load(tdir)
    val d = df.select("team", "hits").distinct()
    assert(leafOf(d).contains("histogram=true"), leafOf(d))
    val got = d.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val want = (0 until n).map(i => (team(i), hits(i))).toSet
    assert(got === want, "composite DISTINCT must emit exactly the co-occurring pairs")
    // single-column DISTINCT keeps the dictionary-only path (no
    // forward-index read)
    val d1 = spark.read.format("pinot").load(tdir).select("team").distinct()
    assert(leafOf(d1).contains("histogram=false"), leafOf(d1))
    assert(d1.count() === team.distinct.length.toLong)
  }

  test("BOOLEAN and TIMESTAMP group keys translate through the histogram") {
    val root = graft.TestDirs.create("pinot_hist_bt")
    val t1 = root.resolve("bt_OFFLINE")
    val m = 3000
    val flag = Array.tabulate(m)(i => i % 3 == 0)
    val ts = Array.tabulate(m)(i => 1704067200000L + (i % 4) * 3600000L)
    val v = Array.tabulate(m)(i => i % 100)
    SegmentWriter.write(t1.resolve("seg0"), "bt", "seg0", Seq(
      SegmentWriter.BoolCol("flag", flag),
      SegmentWriter.TimestampCol("ts", ts),
      SegmentWriter.IntCol("v", v)))
    val df = spark.read.format("pinot").load(t1.toString)
    val byFlag = df.groupBy("flag").agg(sum("v").as("s"))
    assert(leafOf(byFlag).contains("histogram=true"), leafOf(byFlag))
    val gotF = byFlag.collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    (0 until m).groupBy(flag).foreach { case (f, is) =>
      assert(gotF(f) === is.map(v(_).toLong).sum, s"flag=$f")
    }
    val byTs = df.groupBy("ts").agg(count(lit(1)).as("c"))
    assert(leafOf(byTs).contains("histogram=true"), leafOf(byTs))
    val gotT = byTs.collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    (0 until m).groupBy(ts).foreach { case (t, is) =>
      assert(gotT(t) === is.length.toLong, s"ts=$t")
    }
    // the dictionary-DISTINCT path translates the same key types
    val dFlag = df.select("flag").distinct()
    assert(leafOf(dFlag).contains("PinotAggScan") &&
      leafOf(dFlag).contains("histogram=false"), leafOf(dFlag))
    assert(dFlag.collect().map(_.getBoolean(0)).toSet === flag.toSet)
    val dTs = df.select("ts").distinct()
    assert(leafOf(dTs).contains("PinotAggScan") &&
      leafOf(dTs).contains("histogram=false"), leafOf(dTs))
    assert(dTs.collect().map(_.getTimestamp(0).getTime).toSet === ts.toSet)
  }

  test("limit above a pushed COMPLETE aggregate is preserved") {
    // Spark 4.1.2's pushDownLimit has no pushedAggregate guard: for a
    // complete pushdown the plan is Limit(Project(holder)), and if
    // pushLimit accepted with isPartiallyPushed=false Spark would DELETE
    // its Limit node while the agg scan ignores the limit — so pushLimit
    // must refuse whenever an aggregation was pushed.
    val root = graft.TestDirs.create("pinot_hist_lim")
    val t1 = root.resolve("l_OFFLINE")
    SegmentWriter.write(t1.resolve("seg0"), "l", "seg0", Seq(
      SegmentWriter.StringDictCol("team", Array("a", "b", "c", "d", "e", "a", "b")),
      SegmentWriter.IntCol("hits", Array(1, 2, 3, 4, 5, 6, 7))))
    val df = spark.read.format("pinot").load(t1.toString)
    // single-col DISTINCT complete (dictionary is the final answer)
    assert(df.select("team").distinct().limit(2).collect().length === 2)
    // histFinal complete group-by
    assert(df.groupBy("team").count().limit(2).collect().length === 2)
    assert(df.groupBy("team").agg(sum("hits").as("s")).limit(3)
      .collect().length === 3)
    // multi-column DISTINCT (composite-id histogram, complete)
    assert(df.select("team", "hits").distinct().limit(4).collect().length === 4)
    // plain scan limit still fully pushes (unchanged fast path)
    assert(df.limit(2).collect().length === 2)
  }

  test("large lone segment: complete histogram yields to sliced partials") {
    // With the threshold lowered to 65,536 for the test, the 70,000-doc
    // lone segment must refuse the one-task complete path so the
    // partial path slices the decode across cores — and the per-slice
    // partials (dict ids AND per-slice RAW slot maps) must merge back
    // to exact results. (Production default is ~1M docs: below that the
    // partial plan's extra merge stage costs more than the saved
    // decode.)
    System.setProperty("graft.pinot.completeAggMaxDocs", "65536")
    try largeLoneSegmentBody()
    finally System.clearProperty("graft.pinot.completeAggMaxDocs")
  }

  private def largeLoneSegmentBody(): Unit = {
    val m = 70000
    val rnd2 = new scala.util.Random(23)
    val tm = Array.fill(m)(s"T${rnd2.nextInt(13)}")
    val city = Array.fill(m)(s"c${rnd2.nextInt(29)}") // RAW string key
    val h = Array.fill(m)(rnd2.nextInt(501))
    val root = graft.TestDirs.create("pinot_hist_slice")
    val t = root.resolve("s_OFFLINE")
    SegmentWriter.write(t.resolve("seg0"), "s", "seg0", Seq(
      SegmentWriter.StringDictCol("team", tm),
      SegmentWriter.StringRawCol("city", city),
      SegmentWriter.IntCol("hits", h)))
    val df = spark.read.format("pinot").load(t.toString)

    val agg = df.groupBy("team").agg(count(lit(1)).as("c"), sum("hits").as("s"))
    val leaf = leafOf(agg)
    assert(leaf.contains("histogram=true") && leaf.contains("histFinal=false"),
      leaf)
    val unwrapped = agg.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = unwrapped.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.inputPartitions.length > 1,
      s"70k-doc lone segment should slice: ${scan.inputPartitions.length}")
    val got = agg.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0 until m).groupBy(tm).foreach { case (k, is) =>
      assert(got(k) === ((is.length.toLong, is.map(h(_).toLong).sum)), s"team=$k")
    }

    // RAW-key grouping: each slice builds its OWN slot map; partial rows
    // carry decoded values, so cross-slice merge must still be exact
    val aggRaw = df.groupBy("city").agg(count(lit(1)).as("c"),
      min("hits").as("mn"), max("hits").as("mx"))
    assert(leafOf(aggRaw).contains("histogram=true"))
    val gotR = aggRaw.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3)))).toMap
    (0 until m).groupBy(city).foreach { case (k, is) =>
      assert(gotR(k) ===
        ((is.length.toLong, is.map(h(_)).min, is.map(h(_)).max)), s"city=$k")
    }

    // multi-col DISTINCT over the big lone segment routes through the
    // sliced partial histogram too (Spark dedups above the scan)
    val d = df.select("team", "city").distinct()
    assert(d.count() === (0 until m).map(i => (tm(i), city(i))).distinct.length.toLong)

    // planner unit: slices tile [0, docs) on window boundaries
    val parts = graft.sources.pinot.PinotScan.planAggSlices(
      Seq(t.resolve("seg0").toString))
    val slices = parts.collect {
      case graft.sources.pinot.PinotSplit(Seq(r)) if !r.isWhole => r }
    assert(slices.length === parts.length && slices.length > 1, parts.toSeq.toString)
    assert(slices.forall(_.path == t.resolve("seg0").toString))
    assert(slices.head.start === 0 && slices.last.end === m)
    slices.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.end === b.start, "slices must tile contiguously")
        assert(b.start % 8192 === 0, "window-aligned")
      case _ => ()
    }
  }

  test("refusals: nullable metric, string metric, filters, high card stay engine-side") {
    // nullable metric: stored defaults must not enter partials
    val root = graft.TestDirs.create("pinot_hist_nul")
    val t2 = root.resolve("n_OFFLINE")
    SegmentWriter.write(t2.resolve("seg0"), "n", "seg0", Seq(
      SegmentWriter.StringDictCol("k", Array("a", "a", "b")),
      SegmentWriter.IntCol("v", Array(5, 0, 7))),
      nullVectors = Map("v" -> Array(1)))
    val dfn = spark.read.format("pinot").load(t2.toString)
    val aggn = dfn.groupBy("k").agg(sum("v").as("s"))
    assert(!leafOf(aggn).contains("PinotAggScan"), leafOf(aggn))
    assert(aggn.collect().map(r => r.getString(0) -> r.get(1)).toMap
      === Map("a" -> 5L, "b" -> 7L))

    val df = spark.read.format("pinot").load(tdir)
    // string aggregate target refuses
    val s = df.groupBy("team").agg(max("team"))
    assert(!leafOf(s).contains("PinotAggScan"), leafOf(s))
    // filters keep aggregation engine-side (residual filters must see rows)
    val f = df.filter(col("hits") > 100).groupBy("team").count()
    assert(!leafOf(f).contains("PinotAggScan"), leafOf(f))
    assert(f.collect().map(_.getLong(1)).sum ===
      hits.count(_ > 100).toLong)
  }

  test("row-unique key: merge-free COMPLETE plan slices; union of slices is exact") {
    // > 3 * AggSliceRows docs so planAggSlices yields multiple slices;
    // every key distinct (cardinality == totalDocs) → the no-merge
    // invariant must hold across slice boundaries: exactly one output
    // row per input row, no duplicates, no drops, values exact.
    val root = graft.TestDirs.create("pinot_hist_unique")
    val t1 = root.resolve("u_OFFLINE")
    val m = 60000
    val ids = Array.tabulate(m)(i => f"id$i%06d")
    val h = Array.tabulate(m)(i => (i * 2654435761L % 263).toInt)
    SegmentWriter.write(t1.resolve("seg0"), "u", "seg0", Seq(
      SegmentWriter.StringRawCol("id", ids,
        graft.pinot.VarByteChunkV4.Lz4LengthPrefixed, 4096),
      SegmentWriter.IntCol("hits", h)))
    val df = spark.read.format("pinot").load(t1.toString)
    val a = df.groupBy("id")
      .agg(avg("hits").as("ah"), count(lit(1)).as("c"), sum("hits").as("s"))
    assert(leafOf(a).contains("histFinal=true"), leafOf(a))
    assert(!a.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "merge-free plan must have no final aggregate")
    val parts = a.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputRDD.getNumPartitions
    assert(parts > 1, s"expected multiple slices, got $parts")
    val rows = a.collect()
    assert(rows.length === m, s"${rows.length} groups for $m unique keys")
    val got = rows.map(r => r.getString(0) ->
      ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size === m, "duplicate group keys across slices")
    var i = 0
    while (i < m) {
      val (ah, c, sm) = got(ids(i))
      assert(c === 1L && sm === h(i).toLong && ah === h(i).toDouble,
        s"row $i: got ($ah, $c, $sm), hits ${h(i)}")
      i += 1
    }
  }
}

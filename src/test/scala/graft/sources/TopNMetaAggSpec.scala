package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{SegmentWriter, VarByteChunkV4}
import org.apache.spark.sql.functions._

/** Round-8 pushdown pair:
  *
  * 1. ORDER BY … LIMIT over a COMPLETE histogram aggregate pushes as a
  *    partial top-N ([[graft.sources.pinot.PinotScanBuilder.pushTopN]]):
  *    the reader bounded-heap-selects its best `limit` groups instead of
  *    emitting the whole histogram, and Spark's TakeOrderedAndProject
  *    stays authoritative over the ≤ k×partitions survivors. At cluster
  *    scale a 1000-segment top-10 moves 10 rows per task, not each
  *    task's group table.
  *
  * 2. Global SUM/AVG over non-nullable integral columns answer from the
  *    writer-recorded exact `sumValue` metadata, MIN/MAX from the
  *    min/max bounds — `metaComplete=true`, no forward-index read at
  *    all (≙ Pinot's metadata-based aggregations, extended to SUM/AVG).
  */
class TopNMetaAggSpec extends SparkTestBase {

  private val n = 8000
  private val rnd = new scala.util.Random(21)
  private val team = Array.fill(n)(s"T${rnd.nextInt(19)}")
  private val hits = Array.fill(n)(rnd.nextInt(263))
  private val bal = Array.fill(n)(rnd.nextLong() % 1000000)
  private val temp = Array.fill(n)(rnd.nextFloat() * 40 - 10)
  private val player = Array.tabulate(n)(i => f"p$i%05d")

  /** Single segment — the histFinal (complete histogram) shape. */
  private lazy val oneSeg: String = {
    val root = graft.TestDirs.create("pinot_topn")
    val t = root.resolve("one_OFFLINE")
    SegmentWriter.write(t.resolve("seg0"), "one", "seg0", Seq(
      SegmentWriter.StringDictCol("team", team),
      SegmentWriter.IntCol("hits", hits),
      SegmentWriter.LongRawCol("bal", bal),
      SegmentWriter.FloatCol("temp", temp),
      SegmentWriter.StringRawCol("player", player,
        VarByteChunkV4.Lz4LengthPrefixed, 1024)))
    t.toString
  }

  /** Three segments — partial histogram, top-N must refuse. */
  private lazy val threeSeg: String = {
    val root = graft.TestDirs.create("pinot_topn3")
    val t = root.resolve("three_OFFLINE")
    val per = n / 3
    (0 until 3).foreach { s =>
      val from = s * per
      val to = if (s == 2) n else (s + 1) * per
      SegmentWriter.write(t.resolve(s"seg$s"), "three", s"seg$s", Seq(
        SegmentWriter.StringDictCol("team", team.slice(from, to)),
        SegmentWriter.IntCol("hits", hits.slice(from, to)),
        SegmentWriter.LongRawCol("bal", bal.slice(from, to)),
        SegmentWriter.FloatCol("temp", temp.slice(from, to))))
    }
    t.toString
  }

  private def one = spark.read.format("pinot").load(oneSeg)
  private def three = spark.read.format("pinot").load(threeSeg)

  private def leafOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().head.toString

  /** The expected DataFrame built from the raw arrays (no connector). */
  private def twin = {
    import spark.implicits._
    (0 until n).map(i => (team(i), hits(i), bal(i), player(i), temp(i)))
      .toDF("team", "hits", "bal", "player", "temp")
  }

  // ---- top-N pushdown ----

  test("group-by top-k pushes topN and matches the unpushed answer") {
    val q = one.groupBy("team")
      .agg(count(lit(1)).as("c"), sum("hits").as("sh"))
      .orderBy(desc("sh")).limit(5)
    assert(leafOf(q).contains("pushedTopN=[limit=5"), leafOf(q))
    val exp = twin.groupBy("team")
      .agg(count(lit(1)).as("c"), sum("hits").as("sh"))
      .orderBy(desc("sh")).limit(5)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  test("top-k over a RAW unique key (avg, ascending) matches") {
    val q = one.groupBy("player").agg(avg("hits").as("ah"))
      .orderBy(asc("ah"), asc("player")).limit(7)
    assert(leafOf(q).contains("pushedTopN=[limit=7"), leafOf(q))
    val exp = twin.groupBy("player").agg(avg("hits").as("ah"))
      .orderBy(asc("ah"), asc("player")).limit(7)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  test("top-k sorted on the group column itself matches") {
    val q = one.groupBy("team").agg(sum("bal").as("sb"))
      .orderBy(desc("team")).limit(3)
    assert(leafOf(q).contains("pushedTopN"), leafOf(q))
    val exp = twin.groupBy("team").agg(sum("bal").as("sb"))
      .orderBy(desc("team")).limit(3)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  test("ties at the boundary keep the sort-value multiset exact") {
    // avg over a tiny value domain forces ties; compare the sorted sort
    // values only (tied rows may legitimately differ)
    val q = one.groupBy("team").agg(min("hits").as("mh"))
      .orderBy(asc("mh")).limit(6)
    assert(leafOf(q).contains("pushedTopN"), leafOf(q))
    val exp = twin.groupBy("team").agg(min("hits").as("mh"))
      .orderBy(asc("mh")).limit(6)
    assert(q.collect().map(_.getInt(1)).toSeq ===
      exp.collect().map(_.getInt(1)).toSeq)
  }

  test("multi-segment group-by refuses the topN push but stays correct") {
    val q = three.groupBy("team").agg(sum("hits").as("sh"))
      .orderBy(desc("sh")).limit(4)
    assert(!leafOf(q).contains("pushedTopN"), leafOf(q))
    val exp = twin.groupBy("team").agg(sum("hits").as("sh"))
      .orderBy(desc("sh")).limit(4)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  test("filtered top-k is never pushed and stays correct") {
    val q = one.filter(col("hits") > 100).groupBy("team")
      .agg(sum("hits").as("sh")).orderBy(desc("sh")).limit(5)
    assert(!q.queryExecution.executedPlan.toString.contains("pushedTopN"))
    val exp = twin.filter(col("hits") > 100).groupBy("team")
      .agg(sum("hits").as("sh")).orderBy(desc("sh")).limit(5)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  test("DISTINCT + ORDER BY + LIMIT over the composite histogram matches") {
    val q = one.select("team", "hits").distinct()
      .orderBy(desc("team"), asc("hits")).limit(9)
    val exp = twin.select("team", "hits").distinct()
      .orderBy(desc("team"), asc("hits")).limit(9)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  test("sliced unique-key top-k (multi-partition partial) matches") {
    // tiny split target forces the merge-free unique-key slices; each
    // slice emits its local top-k and Spark's TakeOrdered merges
    val q = spark.read.format("pinot").option("splitTargetBytes", 16384)
      .load(oneSeg).groupBy("player").agg(sum("hits").as("sh"))
      .orderBy(desc("sh"), asc("player")).limit(8)
    val exp = twin.groupBy("player").agg(sum("hits").as("sh"))
      .orderBy(desc("sh"), asc("player")).limit(8)
    assert(q.collect().toSeq === exp.collect().toSeq)
  }

  // ---- sorted-column plain-scan top-N ----

  /** Two segments, each sorted by `ts` (unique, interleaved ranges so
    * the cross-segment merge matters), plus a deliberately unsorted `v`.
    */
  private lazy val sortedSeg: String = {
    val root = graft.TestDirs.create("pinot_sorted")
    val t = root.resolve("s_OFFLINE")
    (0 until 2).foreach { s =>
      val ts = Array.tabulate(3000)(i => (i * 2 + s).toLong) // sorted, unique
      val v = ts.map(x => ((x * 2654435761L) % 1000).toInt)  // unsorted, dup
      val u = ts.map(x => x * 37 % 6000)  // unsorted, globally UNIQUE
      val name = ts.map(x => f"doc${(x * 37 % 6000)}%04d")   // unique strings
      SegmentWriter.write(t.resolve(s"seg$s"), "s", s"seg$s", Seq(
        SegmentWriter.LongRawCol("ts", ts),
        SegmentWriter.IntCol("v", v),
        SegmentWriter.LongRawCol("u", u),
        SegmentWriter.StringRawCol("name", name,
          VarByteChunkV4.Lz4LengthPrefixed, 1024)))
    }
    t.toString
  }

  private def sortedTwin = {
    import spark.implicits._
    (0 until 2).flatMap { s =>
      (0 until 3000).map { i =>
        val ts = (i * 2 + s).toLong
        (ts, ((ts * 2654435761L) % 1000).toInt, ts * 37 % 6000,
          f"doc${(ts * 37 % 6000)}%04d")
      }
    }.toDF("ts", "v", "u", "name")
  }

  test("ORDER BY sorted column LIMIT pushes a doc-range top-N") {
    val df = spark.read.format("pinot").load(sortedSeg)
    for (ord <- Seq(asc("ts"), desc("ts"))) {
      val q = df.orderBy(ord).limit(13)
      assert(leafOf(q).contains("pushedTopN=[sorted"), leafOf(q))
      assert(q.collect().toSeq ===
        sortedTwin.orderBy(ord).limit(13).collect().toSeq)
    }
  }

  test("sorted top-N holds under sub-segment slicing and tiny-seg grouping") {
    for (target <- Seq(4096L, 1L << 20)) {
      val q = spark.read.format("pinot").option("splitTargetBytes", target)
        .load(sortedSeg).orderBy(desc("ts")).limit(9)
      assert(q.collect().toSeq ===
        sortedTwin.orderBy(desc("ts")).limit(9).collect().toSeq,
        s"splitTargetBytes=$target")
    }
  }

  test("value-mode top-N over an UNSORTED column decodes k docs and matches") {
    val df = spark.read.format("pinot").load(sortedSeg)
    for (ord <- Seq(asc("u"), desc("u"))) {
      val q = df.orderBy(ord).limit(11)
      assert(leafOf(q).contains("pushedTopN=[value u"), leafOf(q))
      assert(q.collect().toSeq ===
        sortedTwin.orderBy(ord).limit(11).collect().toSeq)
    }
  }

  test("value-mode top-N on a RAW string key matches Spark's byte order") {
    val df = spark.read.format("pinot").load(sortedSeg)
    val q = df.orderBy(desc("name")).limit(7)
    assert(leafOf(q).contains("pushedTopN=[value name DESC"), leafOf(q))
    assert(q.collect().toSeq ===
      sortedTwin.orderBy(desc("name")).limit(7).collect().toSeq)
  }

  test("value-mode top-N holds under slicing, and duplicate keys keep the multiset") {
    for (target <- Seq(4096L, 1L << 20)) {
      val q = spark.read.format("pinot").option("splitTargetBytes", target)
        .load(sortedSeg).orderBy(asc("u")).limit(9)
      assert(q.collect().toSeq ===
        sortedTwin.orderBy(asc("u")).limit(9).collect().toSeq,
        s"splitTargetBytes=$target")
    }
    // duplicate sort values (v): tied rows may differ, the value
    // multiset may not
    val q = spark.read.format("pinot").load(sortedSeg)
      .orderBy(desc("v")).limit(25)
    assert(leafOf(q).contains("pushedTopN=[value v DESC"), leafOf(q))
    assert(q.collect().map(_.getInt(1)).toSeq ===
      sortedTwin.orderBy(desc("v")).limit(25).collect().map(_.getInt(1)).toSeq)
  }

  test("value-mode top-N orders float/double like Spark (NaN, ±0.0)") {
    val root = graft.TestDirs.create("pinot_topn_f")
    val t = root.resolve("f_OFFLINE")
    val f = Array(1.5f, -2.25f, Float.NaN, 0.0f, -0.0f,
      Float.PositiveInfinity, Float.NegativeInfinity, 3.75f)
    val dd = Array(2.5, Double.NaN, -0.0, 0.0, -1e300, 1e300, 7.125, -2.5)
    val id = Array.tabulate(8)(i => i.toLong)
    SegmentWriter.write(t.resolve("seg0"), "f", "seg0", Seq(
      SegmentWriter.LongRawCol("id", id),
      SegmentWriter.FloatRawCol("f", f),
      SegmentWriter.DoubleRawCol("dd", dd)))
    val df = spark.read.format("pinot").load(t.toString)
    import spark.implicits._
    val twin = (0 until 8).map(i => (id(i), f(i), dd(i))).toDF("id", "f", "dd")
    for (c <- Seq("f", "dd"); ord <- Seq(asc(c), desc(c))) {
      val q = df.orderBy(ord).limit(4)
      assert(leafOf(q).contains("pushedTopN=[value"), leafOf(q))
      // unique per-column values except the ±0.0 pair, which Spark
      // treats as equal — compare the sort-column multiset
      def canon(v: Any): String = v match {
        // ±0.0 are EQUAL under Spark's comparator (x == y short-circuit
        // in SQLOrderingUtil) — a tie either side may keep
        case x: Float if x == 0.0f => "0.0"
        case x: Double if x == 0.0d => "0.0"
        case x => String.valueOf(x)
      }
      val got = q.collect().map(_.getAs[Any](if (c == "f") 1 else 2)).toSeq
      val exp = twin.orderBy(ord).limit(4).collect()
        .map(_.getAs[Any](if (c == "f") 1 else 2)).toSeq
      assert(got.map(canon).sorted === exp.map(canon).sorted,
        s"col=$c ord=$ord")
    }
  }

  test("sorted top-N refusal cases stay correct (unsorted/multi-key/filter)") {
    val df = spark.read.format("pinot").load(sortedSeg)
    val unsorted = df.orderBy(asc("v"), asc("ts")).limit(5)
    assert(!leafOf(unsorted).contains("pushedTopN"), leafOf(unsorted))
    assert(unsorted.collect().toSeq ===
      sortedTwin.orderBy(asc("v"), asc("ts")).limit(5).collect().toSeq)
    val multiKey = df.orderBy(asc("ts"), asc("v")).limit(5)
    assert(!leafOf(multiKey).contains("pushedTopN"), leafOf(multiKey))
    val filtered = df.filter(col("v") > 100).orderBy(asc("ts")).limit(5)
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("pushedTopN"))
    assert(filtered.collect().toSeq === sortedTwin.filter(col("v") > 100)
      .orderBy(asc("ts")).limit(5).collect().toSeq)
  }

  // ---- pushed OFFSET (pagination) ----

  /** Expected rows in the chain's deterministic order: seg0's docs then
    * seg1's (sorted segment names, doc order within).
    */
  private def chainRows: Seq[(Long, Int)] =
    (0 until 2).flatMap { s =>
      (0 until 3000).map { i =>
        val ts = (i * 2 + s).toLong
        (ts, ((ts * 2654435761L) % 1000).toInt)
      }
    }

  test("offset + limit push fully: rows [offset, limit+offset) of the chain") {
    val df = spark.read.format("pinot").load(sortedSeg).select("ts", "v")
    val q = df.offset(7).limit(5)
    val leaf = leafOf(q)
    assert(leaf.contains("pushedOffset=7"), leaf)
    val got = q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === chainRows.slice(7, 12))
  }

  test("offset crossing a segment boundary skips the first segment by metadata") {
    val df = spark.read.format("pinot").load(sortedSeg).select("ts", "v")
    val q = df.offset(3100).limit(4)
    assert(leafOf(q).contains("pushedOffset=3100"), leafOf(q))
    assert(q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      chainRows.slice(3100, 3104))
  }

  test("bare offset emits the remainder; past-the-end offset is empty") {
    val df = spark.read.format("pinot").load(sortedSeg).select("ts", "v")
    val q = df.offset(5995)
    assert(leafOf(q).contains("pushedOffset=5995"), leafOf(q))
    assert(q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      chainRows.slice(5995, 6000))
    assert(df.offset(99999).collect().isEmpty)
  }

  test("limit-then-offset (OffsetAndLimit shape) stays exact") {
    val df = spark.read.format("pinot").load(sortedSeg).select("ts", "v")
    val q = df.limit(20).offset(6)
    val got = q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === chainRows.slice(6, 20))
  }

  test("filtered offset refuses the push and stays correct") {
    val df = spark.read.format("pinot").load(sortedSeg)
    val q = df.filter(col("v") >= 0).select("ts", "v").offset(5998)
    assert(!q.queryExecution.executedPlan.toString.contains("pushedOffset"))
    assert(q.collect().length === 2) // v >= 0 keeps all 6000 rows
  }

  // ---- metadata-complete global aggregates ----

  test("global SUM/AVG/MIN/MAX over integral columns is metaComplete") {
    val q = one.agg(sum("hits").as("sh"), avg("hits").as("ah"),
      min("hits").as("mn"), max("hits").as("mx"), sum("bal").as("sb"),
      count(lit(1)).as("c"))
    assert(leafOf(q).contains("metaComplete=true"), leafOf(q))
    val r = q.collect().head
    assert(r.getLong(0) === hits.map(_.toLong).sum)
    assert(r.getDouble(1) === hits.map(_.toDouble).sum / n)
    assert(r.getInt(2) === hits.min)
    assert(r.getInt(3) === hits.max)
    assert(r.getLong(4) === bal.sum)
    assert(r.getLong(5) === n.toLong)
  }

  test("multi-segment metadata sums fold across segments") {
    val q = three.agg(sum("hits").as("sh"), avg("bal").as("ab"),
      max("bal").as("mx"))
    assert(leafOf(q).contains("metaComplete=true"), leafOf(q))
    val r = q.collect().head
    assert(r.getLong(0) === hits.map(_.toLong).sum)
    assert(r.getDouble(1) === bal.map(BigInt(_)).sum.toDouble / n)
    assert(r.getLong(2) === bal.max)
  }

  test("float SUM refuses metadata and still matches Spark") {
    val q = one.agg(sum("temp").as("st"))
    assert(!leafOf(q).contains("metaComplete=true"), leafOf(q))
    // double-accumulated either way; compare to a tolerance
    val got = q.collect().head.getDouble(0)
    val exp = temp.foldLeft(0.0)(_ + _.toDouble)
    assert(math.abs(got - exp) < 1e-6 * math.max(1.0, math.abs(exp)))
  }

  test("nullable column refuses the metadata sum and stays exact") {
    val root = graft.TestDirs.create("pinot_nullsum")
    val t = root.resolve("ns_OFFLINE")
    val v = Array.tabulate(100)(i => i)
    SegmentWriter.write(t.resolve("seg0"), "ns", "seg0", Seq(
      SegmentWriter.IntCol("v", v)),
      nullVectors = Map("v" -> Array(3, 7)))
    val df = spark.read.format("pinot").load(t.toString)
    val q = df.agg(sum("v").as("s"))
    assert(!leafOf(q).contains("metaComplete=true"), leafOf(q))
    // nulls excluded from the sum (stored defaults must not leak in)
    assert(q.collect().head.getLong(0) ===
      v.zipWithIndex.filterNot(x => x._2 == 3 || x._2 == 7).map(_._1.toLong).sum)
  }

  test("overflowing totals refuse the metadata sum and throw like ANSI Spark") {
    // each per-segment sum fits in long, the exact total does not: the
    // metadata path must refuse (metaSumTotalFits) and the fallback must
    // reproduce the session's ANSI overflow error, not a silent wrap
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val big = Array.fill(4)(Long.MaxValue / 2 + 17)
    val root = graft.TestDirs.create("pinot_wrap")
    val t = root.resolve("w_OFFLINE")
    (0 until 2).foreach(s =>
      SegmentWriter.write(t.resolve(s"seg$s"), "w", s"seg$s", Seq(
        SegmentWriter.LongRawCol("v", big.slice(s * 2, s * 2 + 2)))))
    val df = spark.read.format("pinot").load(t.toString)
    val q = df.agg(sum("v").as("s"))
    assert(!leafOf(q).contains("metaComplete=true"), leafOf(q))
    import spark.implicits._
    val twinBig = big.toSeq.toDF("v").agg(sum("v"))
    intercept[Exception](twinBig.collect()) // ANSI Spark throws
    val e = intercept[Exception](q.collect()) // ...and so does the pushed plan
    // same ERROR CLASS as the unpushed plan, not a bare
    // ArithmeticException: code matching on getCondition must not see
    // the pushdown (the SparkThrowable sits somewhere in the task
    // failure's cause chain)
    def conditions(t: Throwable): List[String] = if (t == null) Nil
      else (t match {
        case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
          List(st.getCondition)
        case _ => Nil
      }) ::: conditions(t.getCause)
    assert(conditions(e).contains("ARITHMETIC_OVERFLOW"),
      s"cause chain: ${conditions(e)} / $e")
  }

  test("pushed top-N over a unique RAW key plans ONE task below the " +
      "slice crossover (no TakeOrdered shuffle stage)") {
    // `player` is pairwise-distinct (unique-slot fast path) and the
    // segment is far below completeAggMaxDocs: doc-range slicing would
    // force Spark's TakeOrderedAndProject to shuffle the per-slice
    // survivors into an extra stage — single task is strictly faster
    // multi-window fixture: 20k rows (> 2 windows) so slicing is even
    // possible — `one` at 8k rows fits a single 8192-row window
    val root = graft.TestDirs.create("pinot_topn_slice")
    val t = root.resolve("sl_OFFLINE")
    val m = 20000
    SegmentWriter.write(t.resolve("seg0"), "sl", "seg0", Seq(
      SegmentWriter.StringRawCol("doc", Array.tabulate(m)(i => f"d$i%06d"),
        VarByteChunkV4.Lz4LengthPrefixed, 1024),
      SegmentWriter.IntCol("hits", Array.tabulate(m)(i => i % 263))))
    val df = spark.read.format("pinot").load(t.toString)
    def scanOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    val q = df.groupBy("doc").agg(avg("hits").as("a"))
      .orderBy(desc("a")).limit(7)
    assert(scanOf(q).inputPartitions.length === 1,
      scanOf(q).inputPartitions.toSeq)
    // ...and without a top-N the unique-key final histogram still slices
    val plain = df.groupBy("doc").agg(avg("hits").as("a"))
    assert(scanOf(plain).inputPartitions.length > 1,
      scanOf(plain).inputPartitions.toSeq)
  }

  test("primitive top-N selection matches the boxed comparator on every " +
      "aggregate key (ties, negatives, asc+desc)") {
    val P = "graft.pinot.disablePrimTopNSelect"
    // hits has heavy ties (263 distinct over 8k rows); bal is signed;
    // temp is float (double view); avg exercises the division view
    val keys = Seq(
      ("cnt", (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy("player").agg(count(lit(1)).as("k"))),
      ("sum", (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy("player").agg(sum("bal").as("k"))),
      ("avg", (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy("player").agg(avg("hits").as("k"))),
      ("min", (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy("player").agg(min("temp").as("k"))),
      ("max", (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy("player").agg(max("hits").as("k"))))
    for ((label, agg) <- keys; descending <- Seq(true, false)) {
      def sel(df: org.apache.spark.sql.DataFrame) = {
        val o = if (descending) desc("k") else asc("k")
        agg(df).orderBy(o).limit(9)
      }
      // the KEY multiset is the contract (group choice at the boundary
      // tie is free, exactly as in Spark's own TakeOrdered)
      def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
        sel(df).collect().map(r => String.valueOf(r.get(1))).sorted.toSeq
      System.clearProperty(P)
      val prim = try keysOf(one) finally System.setProperty(P, "true")
      val boxed = try keysOf(one) finally System.clearProperty(P)
      assert(prim === boxed, s"$label desc=$descending diverged")
      assert(prim === keysOf(twin), s"$label desc=$descending vs Spark twin")
    }
  }

  test("unparsable foreign bounds refuse the complete MIN/MAX push") {
    val root = graft.TestDirs.create("pinot_badbounds")
    val t = root.resolve("bb_OFFLINE")
    val v = Array(5, 2, 9, 4)
    SegmentWriter.write(t.resolve("seg0"), "bb", "seg0", Seq(
      SegmentWriter.IntCol("v", v)))
    // doctor the recorded INT bounds into float-spelled strings, as a
    // foreign writer might: planning must REFUSE the complete push
    // (instead of NumberFormatException at execution) and the partial
    // path must still answer exactly
    val mp = t.resolve("seg0").resolve("v3").resolve("metadata.properties")
    val txt = new String(Files.readAllBytes(mp), "UTF-8")
      .replace("column.v.minValue=2", "column.v.minValue=2.0")
      .replace("column.v.maxValue=9", "column.v.maxValue=9.0")
    assert(txt.contains("column.v.minValue=2.0"), "fixture: bound not doctored")
    Files.write(mp, txt.getBytes("UTF-8"))
    val df = spark.read.format("pinot").load(t.toString)
    val q = df.agg(min("v").as("mn"), max("v").as("mx"))
    assert(!leafOf(q).contains("metaComplete=true"), leafOf(q))
    val r = q.collect().head
    assert(r.getInt(0) === 2 && r.getInt(1) === 9)
  }

  test("large in-range totals stay metaComplete and exact") {
    val big = Array.fill(4)(Long.MaxValue / 8)
    val root = graft.TestDirs.create("pinot_bigok")
    val t = root.resolve("b_OFFLINE")
    (0 until 2).foreach(s =>
      SegmentWriter.write(t.resolve(s"seg$s"), "b", s"seg$s", Seq(
        SegmentWriter.LongRawCol("v", big.slice(s * 2, s * 2 + 2)))))
    val df = spark.read.format("pinot").load(t.toString)
    val q = df.agg(sum("v").as("s"))
    assert(leafOf(q).contains("metaComplete=true"), leafOf(q))
    assert(q.collect().head.getLong(0) === big.sum)
  }

  test("float/double/timestamp MIN/MAX answer from metadata bounds") {
    val root = graft.TestDirs.create("pinot_fbounds")
    val t = root.resolve("fb_OFFLINE")
    val f = Array(3.5f, -0.25f, Float.NaN, 7.125f)
    val dd = Array(2.5, -17.75, 1e300, -1e300)
    val ms = Array(1700000000000L, 1700000500000L, 1699999999000L)
    SegmentWriter.write(t.resolve("seg0"), "fb", "seg0", Seq(
      SegmentWriter.FloatCol("f", f),
      SegmentWriter.DoubleCol("dd", dd.take(4)),
      SegmentWriter.TimestampCol("ts", Array(ms(0), ms(1), ms(2), ms(0)))))
    val df = spark.read.format("pinot").load(t.toString)
    val q = df.agg(min("f").as("mnf"), max("f").as("mxf"),
      min("dd").as("mnd"), max("dd").as("mxd"),
      min("ts").as("mnt"), max("ts").as("mxt"))
    assert(leafOf(q).contains("metaComplete=true"), leafOf(q))
    val r = q.collect().head
    assert(r.getFloat(0) === -0.25f)
    assert(r.getFloat(1).isNaN) // Spark orders NaN greatest, like the writer
    assert(r.getDouble(2) === -1e300 && r.getDouble(3) === 1e300)
    assert(r.getTimestamp(4).getTime === ms(2))
    assert(r.getTimestamp(5).getTime === ms(1))
    // must agree with the unpushed answer
    import spark.implicits._
    val twinF = f.toSeq.toDF("f").agg(min("f"), max("f")).collect().head
    assert(twinF.getFloat(0) === r.getFloat(0))
    assert(twinF.getFloat(1).isNaN === r.getFloat(1).isNaN)
  }

  test("key-pure segments push partial SUM from metadata") {
    // one tag per segment (partitionBy-written ingest shape): SUM per
    // tag comes straight from each segment's recorded sum
    val root = graft.TestDirs.create("pinot_keypure")
    val t = root.resolve("kp_OFFLINE")
    val tags = Seq("a", "b", "c")
    val vals = Map("a" -> Array(1, 2, 3), "b" -> Array(10, 20),
      "c" -> Array(100, 200, 300, 400))
    tags.zipWithIndex.foreach { case (tag, s) =>
      SegmentWriter.write(t.resolve(s"seg$s"), "kp", s"seg$s", Seq(
        SegmentWriter.StringDictCol("tag", Array.fill(vals(tag).length)(tag)),
        SegmentWriter.IntCol("v", vals(tag))))
    }
    val df = spark.read.format("pinot").load(t.toString)
    val q = df.groupBy("tag").agg(sum("v").as("s"), count(lit(1)).as("c"))
    val leaf = leafOf(q)
    assert(leaf.contains("SUM(v)") && !leaf.contains("histogram=true"), leaf)
    val got = q.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map("a" -> ((6L, 3L)), "b" -> ((30L, 2L)),
      "c" -> ((1000L, 4L))))
  }
}

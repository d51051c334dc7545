package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{SegmentWriter, VarByteChunkV4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded randomized DIFFERENTIAL testing of the pinot source: the same
  * rows are written once through the segment writer (with every
  * secondary index enabled, so random predicates exercise the pruning
  * paths) and once as plain parquet (Spark's native source = the
  * oracle); then hundreds of randomly composed filter / projection /
  * aggregate / distinct / top-k / limit queries must agree between the
  * two sources.
  *
  * Every random choice is drawn BEFORE the query builds, into a plain
  * `DataFrame => DataFrame`, so the identical operator tree applies to
  * both sides — no plan surgery. This is breadth cover for the
  * pushdown-INTERACTION bug class r4 shipped (fully-pushed limit ×
  * segment pruning): q106-q110 pin the known-dangerous shapes; the
  * generator explores the neighborhood. Seed fixed → failures
  * reproduce; raise [[Rounds]] locally for a deeper sweep.
  */
class PinotDifferentialSpec extends SparkTestBase {

  private val Rounds = 250
  // override locally with GRAFT_DIFF_SEED=<n> for a fresh hunt; the
  // committed default keeps CI deterministic (8 seeds × 250 queries ran
  // divergence-free when this spec landed)
  private val rnd = new scala.util.Random(
    sys.env.get("GRAFT_DIFF_SEED").flatMap(s =>
      scala.util.Try(s.toLong).toOption.orElse {
        fail(s"GRAFT_DIFF_SEED must be a long, got '$s'")
      }).getOrElse(420714L))

  // fixture: 3 segments of differing sizes; values engineered so
  // min/max pruning, dictionary pruning, bloom/range/text/inverted
  // indexes, null vectors, and sorted-key ranging all have bite
  private val segSizes = Seq(9000, 4000, 120)

  private lazy val (pinotDir, parquetDir) = {
    val root = graft.TestDirs.create("pinot_diff")
    val pdir = root.resolve("d_OFFLINE")
    var base = 0
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Option[Double], String, String, Boolean,
        java.sql.Timestamp, String)]
    segSizes.zipWithIndex.foreach { case (n, s) =>
      val k = Array.tabulate(n)(i => base + i) // sorted, disjoint ranges
      val v = Array.tabulate(n)(i => ((base + i) * 2654435761L) % 10000 - 5000)
      val m = Array.tabulate(n) { i =>
        if ((base + i) % 251 == 0) Double.NaN
        else if ((base + i) % 449 == 0) -0.0
        else ((base + i) * 97 % 1000) / 8.0
      }
      val tag = Array.tabulate(n)(i => s"g${(base + i) % 37}")
      val body = Array.tabulate(n) { i =>
        if ((base + i) % 1009 == 7) s"needle zeta${base + i} tail"
        else if ((base + i) % 13 == 0) ""
        else s"tok${(base + i) % 101} filler common"
      }
      val nulls = Array.range(0, n).filter(i => (base + i) % 173 == 0)
      val b = Array.tabulate(n)(i => (base + i) % 3 == 0)
      val tsMillis = Array.tabulate(n)(i => 1700000000000L + (base + i) * 1000L)
      // json column with every shape the index must survive: nested
      // objects (refused path), malformed docs (odd), over-long and
      // explicit-null leaves (unposted → exists refuses), keys present
      // only in some docs — random eq/IN/exists draws then hunt the
      // posting, refusal, AND odd-doc paths against Spark's own
      // get_json_object on the parquet twin
      val js = Array.tabulate(n) { i =>
        val id = base + i
        (id % 11) match {
          case 0 => s"""{"a": ${id % 23}, "deep": {"z": "s${id % 7}"}}"""
          case 1 => "broken{"
          case 2 => s"""{"pad": "${"y" * 300}", "a": ${id % 23}}"""
          case 3 => """{"a": null}"""
          case 4 => s"""{"b": "t${id % 13}"}"""
          case _ => s"""{"a": ${id % 23}, "b": "t${id % 13}"}"""
        }
      }
      SegmentWriter.write(pdir.resolve(s"seg$s"), "d", s"seg$s", Seq(
        SegmentWriter.IntCol("k", k),
        SegmentWriter.LongRawCol("v", v),
        SegmentWriter.DoubleRawCol("m", m),
        SegmentWriter.StringDictCol("tag", tag),
        SegmentWriter.StringRawCol("body", body,
          VarByteChunkV4.Lz4LengthPrefixed, 4096),
        SegmentWriter.BoolCol("b", b),
        SegmentWriter.TimestampCol("ts", tsMillis),
        SegmentWriter.StringRawCol("js", js,
          VarByteChunkV4.Lz4LengthPrefixed, 4096)),
        invertedCols = Set("tag"),
        nullVectors = Map("m" -> nulls),
        bloomCols = Set("v"), rangeCols = Set("v"), textCols = Set("body"),
        jsonIdxCols = Set("js"))
      val nullSet = nulls.toSet
      (0 until n).foreach { i =>
        rows += ((k(i), v(i), if (nullSet(i)) None else Some(m(i)), tag(i),
          body(i), b(i), new java.sql.Timestamp(tsMillis(i)), js(i)))
      }
      base += n
    }
    import spark.implicits._
    val pq = root.resolve("twin_parquet").toString
    rows.toSeq.toDF("k", "v", "m", "tag", "body", "b", "ts", "js").coalesce(2)
      .write.parquet(pq)
    (pdir.toString, pq)
  }

  // dim-side fixture for the join generator: one segment, tag-keyed,
  // with attributes; tags g37..g41 exist here but NOT in the fact table
  // (and g36 only in the fact) so outer/semi/anti shapes have bite
  private lazy val (dimPinotDir, dimParquetDir) = {
    val root = graft.TestDirs.create("pinot_diff_dim")
    val pdir = root.resolve("t_OFFLINE")
    val nTags = 42
    val tag = Array.tabulate(nTags)(i => s"g$i")
    val weight = Array.tabulate(nTags)(i => (i * 37 % 19).toLong - 9)
    val region = Array.tabulate(nTags)(i => s"r${i % 5}")
    val active = Array.tabulate(nTags)(i => i % 4 != 0)
    SegmentWriter.write(pdir.resolve("seg0"), "t", "seg0", Seq(
      SegmentWriter.StringDictCol("tag", tag),
      SegmentWriter.LongCol("weight", weight),
      SegmentWriter.StringDictCol("region", region),
      SegmentWriter.BoolCol("active", active)),
      invertedCols = Set("region"))
    import spark.implicits._
    val pq = root.resolve("dim_parquet").toString
    tag.indices.map(i => (tag(i), weight(i), region(i), active(i))).toDF(
      "tag", "weight", "region", "active").coalesce(1).write.parquet(pq)
    (pdir.toString, pq)
  }

  private def pinot: DataFrame = spark.read.format("pinot").load(pinotDir)
  private def parquet: DataFrame = spark.read.parquet(parquetDir)
    .select("k", "v", "m", "tag", "body", "b", "ts", "js") // pinot col order
  private def pinotDim: DataFrame =
    spark.read.format("pinot").load(dimPinotDir)
  private def parquetDim: DataFrame = spark.read.parquet(dimParquetDir)
    .select("tag", "weight", "region", "active")

  // --- random query generator: all choices drawn up front ---
  private def randPredicate(): Column = {
    def leaf(): Column = {
      val (a, b, c, d) = (rnd.nextInt(14000), rnd.nextInt(10000) - 5000,
        rnd.nextInt(42), rnd.nextInt(110))
      rnd.nextInt(17) match {
        case 0 => col("k") > a
        case 1 => col("k") <= a
        case 2 => col("v") === b.toLong
        case 3 => col("v") > b.toLong
        case 4 => col("m") >= (a % 125).toDouble
        case 5 => col("m").isNull
        case 6 => col("tag") === s"g$c" // g37..g41 are absent on purpose
        case 7 =>
          val set = Seq.fill(rnd.nextInt(3) + 1)(s"g${rnd.nextInt(42)}")
          col("tag").isin(set: _*)
        case 8 =>
          val probe = if (rnd.nextBoolean()) s"zeta$a" else s"tok$d"
          col("body").contains(probe)
        case 9 => col("b") === rnd.nextBoolean()
        case 10 =>
          col("ts") > lit(new java.sql.Timestamp(1700000000000L + a * 1000L))
        case 11 =>
          col("ts") <= lit(new java.sql.Timestamp(1700000000000L + a * 1000L))
        case 12 => // json equality: hits posting, miss, refused ("null",
          // over-long) and odd-doc paths of the json index
          val (path, value) = rnd.nextInt(6) match {
            case 0 => ("$.a", s"${rnd.nextInt(25)}")
            case 1 => ("$.b", s"t${rnd.nextInt(15)}")
            case 2 => ("$.deep.z", s"s${rnd.nextInt(8)}")
            case 3 => ("$.deep", "s1") // refused path: residual decides
            case 4 => ("$.a", "null") // refused value: residual decides
            case _ => ("$.pad", "y" * 300) // over-long: refused
          }
          get_json_object(col("js"), path) === value
        case 13 => // json IN-list (union of postings, or refusal)
          val vs = Seq.fill(rnd.nextInt(3) + 1)(s"${rnd.nextInt(25)}")
          get_json_object(col("js"), "$.a").isin(vs: _*)
        case 14 => // json path-exists / is-null; $.a/$.pad/$.deep refuse
          // exists (null / long / object leaves), $.b and $.deep.z
          // answer; IS NULL always answers via the proven-non-null
          // complement
          val path = Seq("$.a", "$.b", "$.deep.z", "$.deep", "$.pad",
            "$.nosuch")(rnd.nextInt(6))
          val g = get_json_object(col("js"), path)
          if (rnd.nextBoolean()) g.isNotNull else g.isNull
        case 15 => // json string range (UTF-8 byte-order compare vs the
          // index's posting scan; $.a refuses → residual-only)
          val (path, bound) = rnd.nextInt(3) match {
            case 0 => ("$.b", s"t${rnd.nextInt(15)}")
            case 1 => ("$.deep.z", s"s${rnd.nextInt(8)}")
            case _ => ("$.a", s"${rnd.nextInt(25)}")
          }
          val g = get_json_object(col("js"), path)
          rnd.nextInt(4) match {
            case 0 => g > bound
            case 1 => g >= bound
            case 2 => g < bound
            case _ => g <= bound
          }
        case _ =>
          col("body").startsWith(if (rnd.nextBoolean()) "needle" else "tok1")
      }
    }
    rnd.nextInt(4) match {
      case 0 => leaf()
      case 1 => leaf() && leaf()
      case 2 => leaf() || leaf()
      case _ => !leaf()
    }
  }

  /** (query applied identically to both sides, rows-count-only compare?) */
  private def randQuery(): (DataFrame => DataFrame, Boolean) = {
    val pred: Option[Column] =
      if (rnd.nextInt(5) == 0) None else Some(randPredicate())
    def base(df: DataFrame): DataFrame =
      pred.fold(df)(df.filter(_))
    rnd.nextInt(7) match {
      case 0 =>
        val cols = rnd.shuffle(Seq("k", "v", "m", "tag", "body", "b", "ts",
          "js")).take(rnd.nextInt(5) + 1).map(col)
        val lim = if (rnd.nextBoolean()) Some(rnd.nextInt(40) + 1) else None
        // filterless draws with an offset hit the r8 pushed-offset chain;
        // row CONTENT is order-dependent either way, so these stay
        // rows-count-only compares
        val off = if (lim.isDefined && rnd.nextInt(3) == 0)
          Some(rnd.nextInt(13200)) else None
        (df => {
          val p = base(df).select(cols: _*)
          val o = off.fold(p)(p.offset)
          lim.fold(o)(o.limit)
        }, lim.isDefined || off.isDefined)
      case 1 => // filterless draws hit the r8 metadata SUM/AVG/MIN/MAX path
        (df => base(df).agg(count(lit(1)).as("c"), sum("v").as("sv"),
          avg("v").as("av"), min("k").as("mk"), max("v").as("xv")), false)
      case 2 => // histogram / partial-agg pushdown candidate
        (df => base(df).groupBy("tag").agg(count(lit(1)).as("c"),
          sum("v").as("sv"), avg("k").as("ak")), false)
      case 3 => // DISTINCT (dictionary pushdown candidate)
        (df => base(df).select("tag").distinct(), false)
      case 4 => // deterministic top-k. Single-key draws on unique k hit
        // the r8 plain-scan value top-N (filterless) — multi-key draws
        // exercise the refusal path
        val n = rnd.nextInt(25) + 1
        if (rnd.nextBoolean())
          (df => base(df).select("k", "v", "tag")
            .orderBy(desc("v"), asc("k")).limit(n), false)
        else {
          val ord = if (rnd.nextBoolean()) asc("k") else desc("k")
          (df => base(df).select("k", "v", "tag").orderBy(ord).limit(n),
            false)
        }
      case 5 => // grouped top-k: the r8 pushed-top-N shape (filterless,
        // single-segment draws push; tag tie-break keeps it total)
        val n = rnd.nextInt(8) + 1
        val ord =
          if (rnd.nextBoolean()) Seq(desc("sv"), asc("tag"))
          else Seq(asc("c"), desc("tag"))
        (df => base(df).groupBy("tag").agg(count(lit(1)).as("c"),
          sum("v").as("sv")).orderBy(ord: _*).limit(n), false)
      case _ => // SINGLE-aggregate-key grouped top-k — the r9 primitive
        // selection path (long and double views). Only the sort KEY
        // survives the limit, so the compared multiset is deterministic
        // even with ties at the boundary (which group carries a tied key
        // is free, exactly as in Spark's own TakeOrdered).
        val n = rnd.nextInt(8) + 1
        val aggc = rnd.nextInt(5) match {
          case 0 => count(lit(1))
          case 1 => sum("v")
          case 2 => avg("k")
          case 3 => min("v")
          case _ => max("k")
        }
        val groupCol = if (rnd.nextBoolean()) "tag" else "k"
        val dir = if (rnd.nextBoolean()) desc("a") else asc("a")
        (df => base(df).groupBy(groupCol).agg(aggc.as("a"))
          .orderBy(dir).limit(n).select("a"), false)
    }
  }

  // --- random JOIN / WINDOW generator (r8): two-table and windowed
  // shapes exercise pushdown interactions the single-table generator
  // cannot reach — column pruning beneath a join, filters pushed
  // through join keys, windows over segment-backed scans, pinot×pinot
  // joins (q102's shape) ---
  private def randJoinWindowQuery(): (DataFrame, DataFrame) => DataFrame = {
    val pred: Option[Column] =
      if (rnd.nextInt(4) == 0) None else Some(randPredicate())
    def base(df: DataFrame): DataFrame = pred.fold(df)(df.filter(_))
    rnd.nextInt(5) match {
      case 0 => // fact × dim, random join type
        val jt = Seq("inner", "left_outer", "left_semi", "left_anti")(
          rnd.nextInt(4))
        val dimPred: Option[Column] =
          if (rnd.nextBoolean()) Some(col("region") === s"r${rnd.nextInt(6)}")
          else None
        (fact, dim) => {
          val d = dimPred.fold(dim)(dim.filter(_))
          val j = base(fact).select("k", "v", "tag").join(d, Seq("tag"), jt)
          if (jt == "left_semi" || jt == "left_anti") j
          else j.select(col("k"), col("v"), col("tag"), col("weight"))
        }
      case 1 => // join then aggregate by dim attribute
        (fact, dim) =>
          base(fact).select("k", "v", "tag").join(dim, Seq("tag"))
            .groupBy("region").agg(count(lit(1)).as("c"), sum("v").as("sv"),
              min("k").as("mk"))
      case 2 => // window over the connector scan: analytics per tag
        val wcol = rnd.nextInt(4)
        (fact, _) => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("tag").orderBy(asc("k"))
          val c = wcol match {
            case 0 => row_number().over(w)
            case 1 => lag("v", 1).over(w)
            case 2 => sum("v").over(w)
            case _ => avg("m").over(w.rowsBetween(-2, 0))
          }
          base(fact).select("k", "v", "m", "tag").withColumn("wc", c)
        }
      case 3 => // per-group top-k via window filter (rank pushup hazard)
        val n = rnd.nextInt(4) + 1
        (fact, _) => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("tag").orderBy(desc("v"), asc("k"))
          base(fact).select("k", "v", "tag")
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= n)
        }
      case _ => // pinot × pinot self-join on unique k with shifted filters
        val lo = rnd.nextInt(12000)
        (fact, _) => {
          val a = base(fact).select(col("k"), col("v"))
          val b2 = fact.filter(col("k") > lo)
            .select(col("k"), col("tag"))
          a.join(b2, Seq("k")).select("k", "v", "tag")
        }
    }
  }

  test(s"$Rounds random JOIN/WINDOW queries agree with the parquet twin " +
      "(seed fixed)") {
    (1 to Rounds).foreach { round =>
      val q = randJoinWindowQuery()
      val a = q(pinot, pinotDim).collect().map(_.toString).sorted.toSeq
      val b = q(parquet, parquetDim).collect().map(_.toString).sorted.toSeq
      assert(a === b, s"round $round: join/window diverged — pinot " +
        s"${a.length} rows vs parquet ${b.length}; first pinot-only: " +
        (a.toSet -- b.toSet).headOption +
        "; first parquet-only: " + (b.toSet -- a.toSet).headOption)
    }
  }

  test(s"$Rounds random queries agree with the parquet twin (seed fixed)") {
    (1 to Rounds).foreach { round =>
      val (q, rowChoiceFree) = randQuery()
      if (rowChoiceFree) {
        // a bare LIMIT may return ANY n rows — only the COUNT is
        // deterministic (min(n, matching rows)); row choice is free
        val got = q(pinot).count()
        val cnt = q(parquet).count()
        assert(got === cnt,
          s"round $round: limited-shape row count diverged ($got vs $cnt)")
      } else {
        val a = q(pinot).collect().map(_.toString).sorted.toSeq
        val b = q(parquet).collect().map(_.toString).sorted.toSeq
        assert(a === b, s"round $round: diverged — pinot ${a.length} " +
          s"rows vs parquet ${b.length}; first pinot-only: " +
          (a.toSet -- b.toSet).headOption +
          "; first parquet-only: " + (b.toSet -- a.toSet).headOption)
      }
    }
  }

  test("random queries through the COUNTED Hadoop IO stack agree with " +
      "the parquet twin (remote-path parity, seed fixed)") {
    // The same generator, but the pinot side reads a `file://` URI whose
    // every byte flows through a counted HadoopSegmentIO — catalog open,
    // plan-time metadata/pruning, and executor decode all take the
    // remote code path, composing the full pushdown family with remote
    // IO (the local-only blind spot the r8 review named). The counter
    // doubles as the round-trip regression gate: metadata GETs happen
    // once at cold open, never per query.
    val counting = new graft.pinot.CountingSegmentIO(
      new graft.pinot.HadoopSegmentIO(spark.sparkContext.hadoopConfiguration))
    def local(p: String): String =
      p.stripPrefix("file://").stripPrefix("file:")
    graft.pinot.SegmentIO.withOverride(
      p => local(p).startsWith(pinotDir), counting) {
      val remote = spark.read.format("pinot").load("file://" + pinotDir)
      assert(remote.schema === pinot.schema)
      val coldGets = counting.count("readFully")
      assert(coldGets >= segSizes.length, counting.calls) // metadata prefetch
      (1 to 60).foreach { round =>
        val (q, rowChoiceFree) = randQuery()
        if (rowChoiceFree) {
          val got = q(remote).count()
          val cnt = q(parquet).count()
          assert(got === cnt,
            s"remote round $round: limited-shape count diverged ($got vs $cnt)")
        } else {
          val a = q(remote).collect().map(_.toString).sorted.toSeq
          val b = q(parquet).collect().map(_.toString).sorted.toSeq
          assert(a === b, s"remote round $round: diverged — pinot " +
            s"${a.length} rows vs parquet ${b.length}; first pinot-only: " +
            (a.toSet -- b.toSet).headOption +
            "; first parquet-only: " + (b.toSet -- a.toSet).headOption)
        }
      }
      // plan-time metadata stayed cached across all rounds: every
      // readFully after cold open is an executor-side section read of
      // columns.psf / per-index files, never metadata.properties
      assert(counting.count("listTree") <= 2 + 60, counting.calls)
    }
  }

  test("random queries under manifest mutations (fresh / stale / foreign " +
      "/ missing) agree with the parquet twin (seed fixed)") {
    // Hunts the manifest's wholesale-fallback path, not just spec'd
    // cases: every state mutates a segment's metadata.properties in
    // place (fingerprint churn forces a COLD re-open through the table
    // cache) and then leaves the manifest current, stale, foreign, or
    // absent — 15 random queries per state must stay parquet-identical.
    val dir = java.nio.file.Paths.get(pinotDir)
    val manifest = dir.resolve(graft.pinot.TableManifest.FileName)
    def doctorSeg(): Unit = {
      val seg = graft.sources.pinot.PinotSegments.discover(pinotDir).head
      val mp = seg.resolve("metadata.properties")
      Files.write(mp,
        (new String(Files.readAllBytes(mp), "UTF-8") + "\n#mut\n")
          .getBytes("UTF-8"))
    }
    val states: Seq[(String, () => Unit)] = Seq(
      "fresh" -> (() => { doctorSeg()
        graft.pinot.TableManifest.refresh(dir) }),       // one-GET path
      "stale" -> (() => { graft.pinot.TableManifest.refresh(dir)
        doctorSeg() }),                                   // stamp mismatch
      "foreign" -> (() => { doctorSeg()
        Files.write(manifest,
          "graft-manifest-v1\nnot|a|valid|line\n".getBytes("UTF-8")) }),
      "missing" -> (() => { doctorSeg()
        Files.deleteIfExists(manifest); () }))
    states.foreach { case (label, mutate) =>
      mutate()
      val df = spark.read.format("pinot").load(pinotDir)
      (1 to 15).foreach { round =>
        val (q, rowChoiceFree) = randQuery()
        if (rowChoiceFree) {
          val got = q(df).count()
          val cnt = q(parquet).count()
          assert(got === cnt,
            s"manifest[$label] round $round: count diverged ($got vs $cnt)")
        } else {
          val a = q(df).collect().map(_.toString).sorted.toSeq
          val b = q(parquet).collect().map(_.toString).sorted.toSeq
          assert(a === b, s"manifest[$label] round $round: diverged — " +
            s"pinot ${a.length} rows vs parquet ${b.length}; " +
            "first pinot-only: " + (a.toSet -- b.toSet).headOption +
            "; first parquet-only: " + (b.toSet -- a.toSet).headOption)
        }
      }
    }
  }
}

package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generators of the olap_point tables. Every value is a pure function of
  * (seed, row), shared by the rows Spark generates and the expected
  * answers the benchmark computes. */
object OlapGen {
  val BaseRows = 97889
  val Teams = 30
  val Players = 5000
  val Countries = 25
  val Devices = Array("desktop", "mobile", "tablet", "tv")
  val Needles = 32
  val TsBase = 1700000000000L

  def hits(s: Long, i: Int): Int = Rng.below(s, 1, i, 263)
  def homeRuns(s: Long, i: Int): Int = Rng.below(s, 2, i, 60)
  def strikeouts(s: Long, i: Int): Int = Rng.below(s, 3, i, 200)
  def teamID(s: Long, i: Int): String = "T" + Rng.below(s, 4, i, Teams)
  def playerName(s: Long, i: Int): String = "name" + Rng.below(s, 5, i, Players)
  def playerID(i: Int): String = f"player$i%06d"

  def baseRow(s: Long, i: Int): Row = Row(hits(s, i), homeRuns(s, i), strikeouts(s, i),
    teamID(s, i), playerName(s, i), playerID(i))
  val baseSchema: StructType = StructType(Seq(
    StructField("hits", IntegerType, false), StructField("homeRuns", IntegerType, false),
    StructField("strikeouts", IntegerType, false), StructField("teamID", StringType, false),
    StructField("playerName", StringType, false), StructField("playerID", StringType, false)))

  def userId(s: Long, i: Int, n: Int): Int = Rng.below(s, 11, i, math.max(1, n / 4))
  // skewed: country k has weight ~ 1/(k+1)
  def country(s: Long, i: Int): String =
    f"C${math.min(Countries - 1, (math.pow(Countries + 1.0, Rng.unit(s, 12, i)) - 1).toInt)}%02d"
  def device(s: Long, i: Int): String = Devices(Rng.below(s, 13, i, Devices.length))
  def clicks(s: Long, i: Int): Int = Rng.below(s, 14, i, 100)
  /** Even values only, so any odd value inside [min, max] is a bloom miss. */
  def metric(s: Long, i: Int): Long = 2L * Rng.below(s, 15, i, 1000000000)
  def needle(k: Int): String = f"zqx$k%02dq"
  def body(s: Long, i: Int): String = {
    val b = new StringBuilder
    var t = 0
    while (t < 6) {
      if (t > 0) b += ' '
      b ++= "w" + Rng.below(s, 16, i * 8L + t, 5000)
      t += 1
    }
    if (Rng.below(s, 17, i, 4096) == 0) b ++= " " + needle(Rng.below(s, 18, i, Needles))
    b.toString
  }
  /** Unique and increasing in the row number. */
  def ts(s: Long, i: Int): Long = TsBase + i * 10L + Rng.below(s, 19, i, 10)

  def eventRow(s: Long, i: Int, n: Int): Row = Row(userId(s, i, n), country(s, i), device(s, i),
    clicks(s, i), metric(s, i), body(s, i), ts(s, i))
  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", IntegerType, false), StructField("country", StringType, false),
    StructField("device", StringType, false), StructField("clicks", IntegerType, false),
    StructField("metric", LongType, false), StructField("body", StringType, false),
    StructField("ts", LongType, false)))

  val eventOptions: Map[String, String] = Map(
    "invertedIndexColumns" -> "user_id",
    "bloomFilterColumns" -> "metric",
    "rangeIndexColumns" -> "metric",
    "textIndexColumns" -> "body",
    "sortedColumn" -> "ts",
    "starTree" -> "country,device:SUM(clicks),MAX(metric)")
}

/** The benchmark's own copy of the generated tables, for expected answers. */
final class OlapData(val seed: Long, val n: Int) {
  import OlapGen._
  val nb: Int = BaseRows
  val hits: Array[Int] = Array.tabulate(nb)(OlapGen.hits(seed, _))
  val homeRuns: Array[Int] = Array.tabulate(nb)(OlapGen.homeRuns(seed, _))
  val strikeouts: Array[Int] = Array.tabulate(nb)(OlapGen.strikeouts(seed, _))
  val teamID: Array[String] = Array.tabulate(nb)(OlapGen.teamID(seed, _))
  val playerName: Array[String] = Array.tabulate(nb)(OlapGen.playerName(seed, _))
  val playerID: Array[String] = Array.tabulate(nb)(OlapGen.playerID)

  val userId: Array[Int] = Array.tabulate(n)(OlapGen.userId(seed, _, n))
  val country: Array[String] = Array.tabulate(n)(OlapGen.country(seed, _))
  val device: Array[String] = Array.tabulate(n)(OlapGen.device(seed, _))
  val clicks: Array[Int] = Array.tabulate(n)(OlapGen.clicks(seed, _))
  val metric: Array[Long] = Array.tabulate(n)(OlapGen.metric(seed, _))
  val body: Array[String] = Array.tabulate(n)(OlapGen.body(seed, _))
  val ts: Array[Long] = Array.tabulate(n)(OlapGen.ts(seed, _))

  /** Base rows by (hits desc, playerID asc): the group_topk_raw answer. */
  lazy val byHitsDesc: Array[Int] =
    (0 until nb).sortBy(i => (-hits(i), playerID(i))).toArray

  lazy val baseBytes: Long = (0 until nb).map(i => 12L + Util.utf8Len(teamID(i)) +
    Util.utf8Len(playerName(i)) + Util.utf8Len(playerID(i))).sum
  lazy val eventBytes: Long = (0 until n).map(i => 4L + 4 + 8 + 8 + Util.utf8Len(country(i)) +
    Util.utf8Len(device(i)) + Util.utf8Len(body(i))).sum

  def digest: String = {
    val d = new Digest
    (0 until nb).foreach { i =>
      d.long(hits(i)); d.long(homeRuns(i)); d.long(strikeouts(i))
      d.string(teamID(i)); d.string(playerName(i)); d.string(playerID(i))
    }
    (0 until n).foreach { i =>
      d.long(userId(i)); d.string(country(i)); d.string(device(i)); d.long(clicks(i))
      d.long(metric(i)); d.string(body(i)); d.long(ts(i))
    }
    d.hex
  }
}

/** A request shape: the query over a table, given the request number, and
  * its expected answer from the generated arrays. */
final case class Shape(name: String, onEvents: Boolean,
    build: (DataFrame, Long) => DataFrame,
    check: (OlapData, Long) => Answers.Rows => Option[String])

object Shapes {
  import OlapGen._

  private def exact(want: Answers.Rows, ordered: Boolean)(got: Answers.Rows): Option[String] =
    if (Answers.equal(got, want, ordered)) None
    else Some(s"got ${got.take(5)} (${got.length} rows), want ${want.take(5)} (${want.length} rows)")

  private def exactly(ordered: Boolean)(want: (OlapData, Long) => Answers.Rows) =
    (d: OlapData, r: Long) => exact(want(d, r), ordered) _

  private def p(seed: Long, r: Long, k: Int, n: Int): Int = Rng.below(seed, 100 + k, r, n)
  private def sumOrNull(xs: Iterable[Long]): Any = if (xs.isEmpty) null else xs.sum

  /** The reference's seven shapes over the baseball table, then the
    * pushdown shapes over the indexed events table. */
  def all(seed: Long, n: Int): Seq[Shape] = Seq(
    Shape("count_star", false,
      (t, _) => t.agg(count(lit(1)).as("c")),
      exactly(true)((d, _) => Seq(Seq(d.nb.toLong)))),
    Shape("scan_dict_cols", false,
      (t, r) => t.filter(col("hits") === p(seed, r, 1, 263))
        .select("playerName", "hits", "homeRuns"),
      exactly(false) { (d, r) =>
        val h = p(seed, r, 1, 263)
        (0 until d.nb).filter(d.hits(_) == h)
          .map(i => Seq(d.playerName(i), h.toLong, d.homeRuns(i).toLong))
      }),
    Shape("scan_raw_col", false,
      (t, r) => t.filter(col("homeRuns") === p(seed, r, 2, 60) &&
        col("strikeouts") < p(seed, r, 3, 200)).select("playerID", "hits"),
      exactly(false) { (d, r) =>
        val (hr, so) = (p(seed, r, 2, 60), p(seed, r, 3, 200))
        (0 until d.nb).filter(i => d.homeRuns(i) == hr && d.strikeouts(i) < so)
          .map(i => Seq(d.playerID(i), d.hits(i).toLong))
      }),
    Shape("agg_sum_avg_max", false,
      (t, r) => t.filter(col("teamID") === s"T${p(seed, r, 4, Teams)}")
        .agg(sum("hits"), avg("homeRuns"), max("strikeouts")),
      exactly(true) { (d, r) =>
        val team = s"T${p(seed, r, 4, Teams)}"
        val rows = (0 until d.nb).filter(d.teamID(_) == team)
        if (rows.isEmpty) Seq(Seq(null, null, null))
        else Seq(Seq[Any](rows.map(d.hits(_).toLong).sum,
          rows.map(d.homeRuns(_).toDouble).sum / rows.length,
          rows.map(d.strikeouts(_).toLong).max))
      }),
    Shape("group_topk_dict", false,
      (t, r) => t.groupBy("teamID")
        .agg(count(lit(1)).as("games"), sum("hits").as("total_hits"))
        .orderBy(desc("total_hits"), asc("teamID")).limit(3 + p(seed, r, 5, 8)),
      exactly(true) { (d, r) =>
        (0 until d.nb).groupBy(d.teamID(_)).toSeq
          .map { case (t, rows) => (t, rows.length.toLong, rows.map(d.hits(_).toLong).sum) }
          .sortBy { case (t, _, s) => (-s, t) }.take(3 + p(seed, r, 5, 8))
          .map { case (t, c, s) => Seq(t, c, s) }
      }),
    Shape("group_topk_raw", false,
      (t, r) => t.groupBy("playerID").agg(avg("hits").as("avg_hits"))
        .orderBy(desc("avg_hits"), asc("playerID")).limit(3 + p(seed, r, 6, 8)),
      exactly(true) { (d, r) =>
        d.byHitsDesc.take(3 + p(seed, r, 6, 8)).toSeq
          .map(i => Seq(d.playerID(i), d.hits(i).toDouble))
      }),
    Shape("projection_limit", false,
      (t, r) => t.select("playerID", "hits").limit(5 + p(seed, r, 7, 20)),
      (d, r) => got => {
        val k = 5 + p(seed, r, 7, 20)
        val bad = got.filterNot {
          case Seq(id: String, h: Long) =>
            id.startsWith("player") && id.length == 12 && {
              val i = id.substring(6).toInt
              i < d.nb && d.hits(i) == h
            }
          case _ => false
        }
        if (got.length != k) Some(s"limit $k returned ${got.length} rows")
        else if (bad.nonEmpty) Some(s"rows not in the table: ${bad.take(3)}")
        else if (got.map(_.head).distinct.length != k) Some("duplicate rows")
        else None
      }),
    Shape("inverted_eq", true,
      (t, r) => t.filter(col("user_id") === p(seed, r, 8, math.max(1, n / 4)))
        .agg(count(lit(1)).as("c"), sum("clicks").as("s")),
      exactly(true) { (d, r) =>
        val u = p(seed, r, 8, math.max(1, n / 4))
        val rows = (0 until d.n).filter(d.userId(_) == u)
        Seq(Seq(rows.length.toLong, sumOrNull(rows.map(d.clicks(_).toLong))))
      }),
    Shape("bloom_miss", true,
      (t, r) => t.filter(col("metric") === 2L * p(seed, r, 9, 1000000000) + 1)
        .agg(count(lit(1)).as("c"), sum("clicks").as("s")),
      exactly(true)((_, _) => Seq(Seq(0L, null)))),
    Shape("range", true,
      (t, r) => {
        val lo = 2L * p(seed, r, 10, 1000000000)
        t.filter(col("metric") >= lo && col("metric") <= lo + 100000L)
          .agg(count(lit(1)).as("c"), sum("clicks").as("s"))
      },
      exactly(true) { (d, r) =>
        val lo = 2L * p(seed, r, 10, 1000000000)
        val rows = (0 until d.n).filter(i => d.metric(i) >= lo && d.metric(i) <= lo + 100000L)
        Seq(Seq(rows.length.toLong, sumOrNull(rows.map(d.clicks(_).toLong))))
      }),
    Shape("text_match", true,
      (t, r) => t.filter(col("body").contains(needle(p(seed, r, 11, Needles))))
        .agg(count(lit(1)).as("c")),
      exactly(true) { (d, r) =>
        val w = needle(p(seed, r, 11, Needles))
        Seq(Seq(d.body.count(_.contains(w)).toLong))
      }),
    Shape("startree_group", true,
      (t, r) => t.groupBy("country").agg(sum("clicks").as("s"))
        .orderBy(desc("s"), asc("country")).limit(3 + p(seed, r, 12, 8)),
      exactly(true) { (d, r) =>
        (0 until d.n).groupBy(d.country(_)).toSeq
          .map { case (c, rows) => (c, rows.map(d.clicks(_).toLong).sum) }
          .sortBy { case (c, s) => (-s, c) }.take(3 + p(seed, r, 12, 8))
          .map { case (c, s) => Seq(c, s) }
      }),
    Shape("meta_count", true,
      (t, _) => t.agg(count(lit(1)).as("c")),
      exactly(true)((d, _) => Seq(Seq(d.n.toLong)))),
    Shape("sorted_topn", true,
      (t, r) => t.select("ts", "user_id").orderBy("ts").limit(5 + p(seed, r, 13, 20)),
      exactly(true) { (d, r) =>
        (0 until 5 + p(seed, r, 13, 20)).map(i => Seq(d.ts(i), d.userId(i).toLong))
      }),
    Shape("sorted_offset", true,
      (t, r) => t.select("ts", "user_id").orderBy("ts")
        .offset(p(seed, r, 14, 1000)).limit(5 + p(seed, r, 15, 20)),
      exactly(true) { (d, r) =>
        val m = p(seed, r, 14, 1000)
        (m until math.min(d.n, m + 5 + p(seed, r, 15, 20))).map(i => Seq(d.ts(i), d.userId(i).toLong))
      }))
}

/** olap_point: interactive requests over a baseball-shaped segment, an
  * indexed multi-segment events table and a 1-row floor table. */
final class Olap(ctx: Ctx) extends Workload {
  import OlapGen._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val nEvents = if (ctx.smoke) 40000 else 120000
  private val eventSegments = 4
  /** Requests cycle through a few seeded parameter sets per shape. Spark
    * compiles a new class for each distinct literal, so the warm-up runs
    * every set and timed requests never wait on the code generator. */
  private val ParamSets = 3
  private val shapes = Shapes.all(seed, nEvents)

  private var data: OlapData = _
  private var baseDir, eventDir, floorDir: Path = _
  private var round = 0L
  private var stored = 0L

  override def minQueries: Int = 100 // p90 with at least ten samples beyond it

  def prepare(): Unit = {
    data = new OlapData(seed, nEvents)
    val root = ctx.freshDir("olap")
    baseDir = root.resolve("baseball_OFFLINE")
    eventDir = root.resolve("events_OFFLINE")
    floorDir = root.resolve("floor_OFFLINE")
    val (s, n) = (seed, nEvents)
    val sc = spark.sparkContext
    val base = spark.createDataFrame(sc.parallelize(0 until BaseRows, 1).map(baseRow(s, _)), baseSchema)
    val events = spark.createDataFrame(
      sc.parallelize(0 until n, eventSegments).map(eventRow(s, _, n)), eventSchema)
    val floorRow = Row.fromSeq(baseRow(s, 0).toSeq ++ eventRow(s, 0, n).toSeq)
    val floor = spark.createDataFrame(sc.parallelize(Seq(floorRow), 1),
      StructType(baseSchema.fields ++ eventSchema.fields))
    ctx.load("load_tables", userBytes) {
      ctx.pinotAppend(base, baseDir, data.baseBytes)
      ctx.pinotAppend(events, eventDir, data.eventBytes, eventOptions)
      ctx.pinotAppend(floor, floorDir, 0L)
    }
    stored = Util.diskBytes(baseDir) + Util.diskBytes(eventDir)
  }

  /** Every parameter set twice: latency keeps falling for several rounds
    * while the JIT settles. */
  def warmUp(): Unit = (1 to 2 * ParamSets).foreach(_ => unit())

  /** One round: every shape once, in a fixed order, with the next of the
    * seeded parameter sets. */
  def unit(): Unit = {
    round += 1
    val r = round % ParamSets
    shapes.foreach { sh =>
      val want = sh.check(data, r)
      val (dir, rows) = if (sh.onEvents) (eventDir, nEvents) else (baseDir, BaseRows)
      ctx.query(sh.name, rows)(sh.build(ctx.pinotTable(dir), r))(want)
    }
  }

  def traceExtras(out: mutable.Map[String, Double]): Unit = {
    // the same shapes over the 1-row table: Spark's per-query floor
    val t = spark.read.format("pinot").load(floorDir.toString)
    val floors = (1 to 5).flatMap(_ => shapes.map { sh =>
      val t0 = System.nanoTime()
      sh.build(t, 1L).collect()
      Util.ms(t0)
    })
    out("spark.floor_ms") = Util.median(floors)
    Codec.probe(ctx, Seq(baseDir, eventDir), data.userId.map(_.toLong),
      data.body, data.playerName, out)
  }

  def inputDigest: String = data.digest
  def userBytes: Long = data.baseBytes + data.eventBytes
  def storedBytes: Long = stored
}

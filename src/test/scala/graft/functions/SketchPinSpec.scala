package graft.functions

import java.nio.file.Path
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.pinot.{PinotCompact, SegmentReader, SegmentWriter}

/** Pins the bytes and answers of every sketch kind (kmv, bitmap, kll,
  * hll, freq) on fixed inputs, in each kind's exact regime (8 rows over
  * 4 distinct values: below every k, p and capacity used here) and in
  * its saturated regime (600 rows over 200 distinct values):
  *
  *  - the payload SHA-256 of the three ways a payload is built: the
  *    segment writer's `sketchColumns`, a rollup's `sketchMetrics`, and
  *    `sketch_build` over the same rows in 1 and in 7 partitions;
  *  - the result of each of the 11 sketch SQL functions over the same
  *    rows in 1 and in 7 partitions (merge functions over per-group
  *    `sketch_build` payloads), and each result's type and nullability.
  *
  * Stored sections and cached fixtures stay readable only while these
  * bytes stay the same.
  */
class SketchPinSpec extends SparkTestBase {

  private val specs = Seq("kmv16", "bitmap", "kll8", "hll4", "freq4")
  private val regimes = Seq("exact" -> (8, 4), "saturated" -> (600, 200))
  private val qs = "0.0, 0.25, 0.5, 0.9, 1.0"

  /** Columns each kind accepts, in the writer's and the rollup's terms. */
  private def columnsFor(spec: String, withFloat: Boolean): Seq[String] =
    spec.takeWhile(_.isLetter) match {
      case "kll" => Seq("l", "i", "t", "d") ++ (if (withFloat) Seq("f") else Nil)
      case "freq" => Seq("s")
      case _ => Seq("l", "i", "t", "s")
    }

  private final case class Rows(l: Array[Long], i: Array[Int],
      t: Array[Long], s: Array[String], d: Array[Double], f: Array[Float])

  private def rows(n: Int, distinct: Int): Rows = {
    val idx = (0 until n).toArray
    Rows(
      idx.map(r => (r * 37L % distinct) * 1000003L - 5L),
      idx.map(r => (r * 13 % distinct) - 2),
      idx.map(r => 1700000000000L + (r * 7 % distinct) * 1000L),
      idx.map(r => if (r % 3 == 0) "hot" else s"v${r * 11 % (distinct - 1)}"),
      idx.map(r => (r * 17 % distinct) / 4.0 - 3.5),
      idx.map(r => (r * 19 % distinct) / 8.0f))
  }

  private def columnData(r: Rows, names: Seq[String]): Seq[SegmentWriter.ColumnData] =
    names.map {
      case "l" => SegmentWriter.LongCol("l", r.l)
      case "i" => SegmentWriter.IntCol("i", r.i)
      case "t" => SegmentWriter.TimestampCol("t", r.t)
      case "s" => SegmentWriter.StringDictCol("s", r.s)
      case "d" => SegmentWriter.DoubleCol("d", r.d)
      case "f" => SegmentWriter.FloatCol("f", r.f)
    }

  private def frame(r: Rows): DataFrame = {
    import spark.implicits._
    r.l.indices.map { k =>
      (k.toLong, r.l(k), r.i(k), new java.sql.Timestamp(r.t(k)), r.s(k), r.d(k))
    }.toDF("id", "l", "i", "t", "s", "d")
      // one all-NULL row: every aggregate skips it
      .union(Seq((-1L, None: Option[Long], None: Option[Int],
        None: Option[java.sql.Timestamp], None: Option[String],
        None: Option[Double])).toDF("id", "l", "i", "t", "s", "d"))
  }

  /** The value each kind stores, as a SQL expression over column `c`. */
  private def input(spec: String, c: String): String =
    (spec.takeWhile(_.isLetter), c) match {
      case ("kll", "t") => "CAST(unix_millis(t) AS DOUBLE)"
      case ("kll", _) => s"CAST($c AS DOUBLE)"
      case ("freq", _) => c
      case ("bitmap", "s") => "CASE WHEN s IS NOT NULL THEN xxhash64(s) END"
      case ("bitmap", "t") => "unix_millis(t)"
      case ("bitmap", _) => s"CAST($c AS BIGINT)"
      case (_, _) => s"CASE WHEN $c IS NOT NULL THEN xxhash64($c) END"
    }

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString.take(16)

  private def shaOf(payloads: Seq[Array[Byte]]): String =
    sha(payloads.flatMap(p => BigInt(p.length).toByteArray ++ p).toArray)

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => "0x" + sha(b)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case o => o.toString
  }

  private def pinned(v: Any): String = {
    val r = render(v)
    if (r.length <= 48) r else "sha:" + sha(r.getBytes("UTF-8"))
  }

  private def writerPayloads(r: Rows, spec: String): Seq[Array[Byte]] = {
    val cols = columnsFor(spec, withFloat = true)
    val dir = graft.TestDirs.create("pin_writer").resolve("seg0")
    SegmentWriter.write(dir, "pin", "seg0", columnData(r, cols),
      sketchCols = cols.map(_ -> spec).toMap)
    val rd = SegmentReader.open(dir.toString)
    try cols.map(c => rd.sketchBytes(c).get) finally rd.close()
  }

  private def rollupPayloads(r: Rows, spec: String): Seq[Array[Byte]] = {
    val cols = columnsFor(spec, withFloat = false)
    val table: Path = graft.TestDirs.create("pin_rollup").resolve("pin_OFFLINE")
    val n = r.l.length
    val g = (0 until n).map(k => s"g${k % 3}").toArray
    // two segments (first half, second half): the rollup reads both
    Seq(0 -> n / 2, n / 2 -> n).zipWithIndex.foreach { case ((lo, hi), seg) =>
      def cut[T: scala.reflect.ClassTag](a: Array[T]) = a.slice(lo, hi)
      val part = Rows(cut(r.l), cut(r.i), cut(r.t), cut(r.s), cut(r.d), cut(r.f))
      SegmentWriter.write(table.resolve(s"seg$seg"), "pin", s"seg$seg",
        Seq(SegmentWriter.StringDictCol("g", cut(g)),
          SegmentWriter.IntCol("cnt", Array.fill(hi - lo)(1))) ++
          columnData(part, cols))
    }
    PinotCompact.rollup(table.toString, dims = Seq("g"), metrics = Seq("cnt"),
      sketchMetrics = cols.map(_ -> spec).toMap)
    val rolled = spark.read.format("pinot").load(table.toString)
      .orderBy("g").collect()
    cols.flatMap(c => rolled.map(_.getAs[Array[Byte]](c)))
  }

  private def buildPayloads(df: DataFrame, spec: String): Seq[Array[Byte]] =
    columnsFor(spec, withFloat = false).map { c =>
      df.selectExpr(s"sketch_build(${input(spec, c)}, '$spec')")
        .head().getAs[Array[Byte]](0)
    }

  /** The 11 SQL functions, each over `df`'s rows or over per-group
    * `sketch_build` payloads of them.
    */
  private def sqlResults(df: DataFrame, parts: Int): Seq[(String, Any, String)] = {
    df.createOrReplaceTempView("pin_rows")
    spark.sql(
      s"""SELECT id % 5 AS grp,
         |  sketch_build(${input("kmv", "l")}, 'kmv16') AS kmv,
         |  sketch_build(${input("bitmap", "l")}, 'bitmap') AS bitmap,
         |  sketch_build(${input("kll", "d")}, 'kll8') AS kll,
         |  sketch_build(${input("hll", "s")}, 'hll4') AS hll,
         |  sketch_build(s, 'freq4') AS freq
         |FROM pin_rows GROUP BY id % 5""".stripMargin)
      .repartition(parts).createOrReplaceTempView("pin_payloads")
    val onRows = Seq(
      "freq_items" -> "freq_items(s, 4)",
      "bitmap_distinct" -> s"bitmap_distinct(${input("bitmap", "l")})",
      "bitmap_distinct_str" -> s"bitmap_distinct(${input("bitmap", "s")})",
      "kll_quantiles" -> s"kll_quantiles(d, 8, $qs)",
      "kmv_sketch" -> s"kmv_sketch(${input("kmv", "l")}, 16)",
      "hll_distinct" -> s"hll_distinct(${input("hll", "s")}, 4)",
      "sketch_build" -> s"sketch_build(${input("hll", "l")}, 'hll4')")
    val onPayloads = Seq(
      "bitmap_merge_distinct" -> "bitmap_merge_distinct(bitmap)",
      "kll_merge_quantiles" -> s"kll_merge_quantiles(kll, 8, $qs)",
      "kmv_merge_estimate" -> "kmv_merge_estimate(kmv, 16)",
      "hll_merge_estimate" -> "hll_merge_estimate(hll, 4)",
      "freq_merge_items" -> "freq_merge_items(freq, 4)")
    def run(view: String)(fn: (String, String)) = {
      val res = spark.sql(s"SELECT ${fn._2} AS r FROM $view")
      val f = res.schema.head
      (fn._1, res.head().get(0), s"${f.dataType.simpleString}/${f.nullable}")
    }
    onRows.map(run("pin_rows")) ++ onPayloads.map(run("pin_payloads"))
  }

  private def observed(): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    regimes.foreach { case (regime, (n, distinct)) =>
      val r = rows(n, distinct)
      specs.foreach { spec =>
        out += s"writer/$regime/$spec" -> shaOf(writerPayloads(r, spec))
        out += s"rollup/$regime/$spec" -> shaOf(rollupPayloads(r, spec))
      }
      Seq(1, 7).foreach { parts =>
        val df = frame(r).repartition(parts)
        specs.foreach { spec =>
          out += s"sketch_build/$regime/$parts/$spec" ->
            shaOf(buildPayloads(df, spec))
        }
        sqlResults(df, parts).foreach { case (fn, v, tpe) =>
          out += s"sql/$regime/$parts/$fn" -> pinned(v)
          out += s"type/$fn" -> tpe
        }
      }
    }
    out.result()
  }

  test("sketch payload bytes and sketch SQL answers stay pinned") {
    val got = observed()
    val diff = (got.keySet ++
      SketchPinSpec.Expected.keySet).toSeq.sorted.flatMap { k =>
      val (g, w) = (got.get(k), SketchPinSpec.Expected.get(k))
      if (g == w) None else Some(s"$k: got ${g.orNull}, pinned ${w.orNull}")
    }
    assert(diff.isEmpty, diff.mkString("\n", "\n", ""))
  }
}

object SketchPinSpec {
  val Expected: Map[String, String] = Map(
    "rollup/exact/bitmap" -> "b50f79d8357e3717",
    "rollup/exact/freq4" -> "c9b1d3a70229a5f6",
    "rollup/exact/hll4" -> "66e72fd06ce25b22",
    "rollup/exact/kll8" -> "ab1f39b086907b21",
    "rollup/exact/kmv16" -> "2e1b3485a5f4669c",
    "rollup/saturated/bitmap" -> "d41183ea7faa1811",
    "rollup/saturated/freq4" -> "a5ed170541d44b32",
    "rollup/saturated/hll4" -> "98d9eff313d3bed3",
    "rollup/saturated/kll8" -> "39dd07be4a92d05f",
    "rollup/saturated/kmv16" -> "1dd37accc23b0549",
    "sketch_build/exact/1/bitmap" -> "91c9500486854cc9",
    "sketch_build/exact/1/freq4" -> "a36ec2a48261cd8e",
    "sketch_build/exact/1/hll4" -> "62e3de8619ed335f",
    "sketch_build/exact/1/kll8" -> "ac674f3bc94992c0",
    "sketch_build/exact/1/kmv16" -> "08328542e54cc89b",
    "sketch_build/exact/7/bitmap" -> "61f581073da03849",
    "sketch_build/exact/7/freq4" -> "a36ec2a48261cd8e",
    "sketch_build/exact/7/hll4" -> "62e3de8619ed335f",
    "sketch_build/exact/7/kll8" -> "c5ee8b062bf20a90",
    "sketch_build/exact/7/kmv16" -> "08328542e54cc89b",
    "sketch_build/saturated/1/bitmap" -> "b1fc7a94c4b49b3e",
    "sketch_build/saturated/1/freq4" -> "3a074a551d74c35c",
    "sketch_build/saturated/1/hll4" -> "2f67ab558b55b578",
    "sketch_build/saturated/1/kll8" -> "ad1d7fc73ec59f24",
    "sketch_build/saturated/1/kmv16" -> "21e6a8eaf1d0785f",
    "sketch_build/saturated/7/bitmap" -> "ac5fe8007f3ca3b4",
    "sketch_build/saturated/7/freq4" -> "7da91681647ff44f",
    "sketch_build/saturated/7/hll4" -> "2f67ab558b55b578",
    "sketch_build/saturated/7/kll8" -> "e5955d229999e577",
    "sketch_build/saturated/7/kmv16" -> "21e6a8eaf1d0785f",
    "sql/exact/1/bitmap_distinct" -> "4",
    "sql/exact/1/bitmap_distinct_str" -> "3",
    "sql/exact/1/bitmap_merge_distinct" -> "4",
    "sql/exact/1/freq_items" -> "[(hot,3),(v2,3),(v1,2)]",
    "sql/exact/1/freq_merge_items" -> "[(hot,3),(v2,3),(v1,2)]",
    "sql/exact/1/hll_distinct" -> "3",
    "sql/exact/1/hll_merge_estimate" -> "3",
    "sql/exact/1/kll_merge_quantiles" -> "[-3.5,-3.5,-3.25,-2.75,-2.75]",
    "sql/exact/1/kll_quantiles" -> "[-3.5,-3.5,-3.25,-2.75,-2.75]",
    "sql/exact/1/kmv_merge_estimate" -> "4",
    "sql/exact/1/kmv_sketch" -> "sha:0ca6cd3c36977f52",
    "sql/exact/1/sketch_build" -> "0xda66d8ddd6a9db9b",
    "sql/exact/7/bitmap_distinct" -> "4",
    "sql/exact/7/bitmap_distinct_str" -> "3",
    "sql/exact/7/bitmap_merge_distinct" -> "4",
    "sql/exact/7/freq_items" -> "[(hot,3),(v2,3),(v1,2)]",
    "sql/exact/7/freq_merge_items" -> "[(hot,3),(v2,3),(v1,2)]",
    "sql/exact/7/hll_distinct" -> "3",
    "sql/exact/7/hll_merge_estimate" -> "3",
    "sql/exact/7/kll_merge_quantiles" -> "[-3.5,-3.5,-3.25,-2.75,-2.75]",
    "sql/exact/7/kll_quantiles" -> "[-3.5,-3.5,-3.25,-2.75,-2.75]",
    "sql/exact/7/kmv_merge_estimate" -> "4",
    "sql/exact/7/kmv_sketch" -> "sha:0ca6cd3c36977f52",
    "sql/exact/7/sketch_build" -> "0xda66d8ddd6a9db9b",
    "sql/saturated/1/bitmap_distinct" -> "200",
    "sql/saturated/1/bitmap_distinct_str" -> "200",
    "sql/saturated/1/bitmap_merge_distinct" -> "200",
    "sql/saturated/1/freq_items" -> "[(hot,100)]",
    "sql/saturated/1/freq_merge_items" -> "[(hot,100)]",
    "sql/saturated/1/hll_distinct" -> "199",
    "sql/saturated/1/hll_merge_estimate" -> "199",
    "sql/saturated/1/kll_merge_quantiles" -> "[0.25,7.5,19.0,40.25,43.0]",
    "sql/saturated/1/kll_quantiles" -> "[-3.0,6.75,18.0,36.0,42.5]",
    "sql/saturated/1/kmv_merge_estimate" -> "189",
    "sql/saturated/1/kmv_sketch" -> "sha:cb56892617fe7bdd",
    "sql/saturated/1/sketch_build" -> "0x97ad90f01f3a3440",
    "sql/saturated/7/bitmap_distinct" -> "200",
    "sql/saturated/7/bitmap_distinct_str" -> "200",
    "sql/saturated/7/bitmap_merge_distinct" -> "200",
    "sql/saturated/7/freq_items" -> "[(hot,118)]",
    "sql/saturated/7/freq_merge_items" -> "[(hot,105)]",
    "sql/saturated/7/hll_distinct" -> "199",
    "sql/saturated/7/hll_merge_estimate" -> "199",
    "sql/saturated/7/kll_merge_quantiles" -> "[-2.25,5.75,19.25,41.5,43.5]",
    "sql/saturated/7/kll_quantiles" -> "[1.0,8.5,24.0,41.25,44.0]",
    "sql/saturated/7/kmv_merge_estimate" -> "189",
    "sql/saturated/7/kmv_sketch" -> "sha:cb56892617fe7bdd",
    "sql/saturated/7/sketch_build" -> "0x97ad90f01f3a3440",
    "type/bitmap_distinct" -> "bigint/false",
    "type/bitmap_distinct_str" -> "bigint/false",
    "type/bitmap_merge_distinct" -> "bigint/false",
    "type/freq_items" -> "array<struct<item:string,cnt:bigint>>/false",
    "type/freq_merge_items" -> "array<struct<item:string,cnt:bigint>>/false",
    "type/hll_distinct" -> "bigint/false",
    "type/hll_merge_estimate" -> "bigint/false",
    "type/kll_merge_quantiles" -> "array<double>/false",
    "type/kll_quantiles" -> "array<double>/false",
    "type/kmv_merge_estimate" -> "bigint/false",
    "type/kmv_sketch" -> "array<bigint>/false",
    "type/sketch_build" -> "binary/false",
    "writer/exact/bitmap" -> "8cca9eed81d1aa68",
    "writer/exact/freq4" -> "a36ec2a48261cd8e",
    "writer/exact/hll4" -> "62e3de8619ed335f",
    "writer/exact/kll8" -> "f9a9f84983bfbf40",
    "writer/exact/kmv16" -> "08328542e54cc89b",
    "writer/saturated/bitmap" -> "a97a6fb5320dd2af",
    "writer/saturated/freq4" -> "3a074a551d74c35c",
    "writer/saturated/hll4" -> "2f67ab558b55b578",
    "writer/saturated/kll8" -> "f8c111614a336d0e",
    "writer/saturated/kmv16" -> "21e6a8eaf1d0785f")
}

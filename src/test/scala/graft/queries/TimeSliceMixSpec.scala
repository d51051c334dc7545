package graft.queries

import java.nio.file.Files

import graft.SparkTestBase
import graft.pinot.{PinotCompact, SegmentIO, SegmentReader}
import graft.sources.pinot.{PinotSegments, PinotSketches}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The time-sliced reads of q153/q154 (`timeSliced`) and of the grouped
  * two-tier family (`groupedTimeSliced`) over the tier-1 events table,
  * with slices that split the segments into inside, boundary and outside
  * ones. The queries' own slices hold no rows at sf0.001 (its events table
  * has 1,000 rows), so their runs there only reach the all-pruned merge.
  */
class TimeSliceMixSpec extends SparkTestBase {

  /** The events subset with q153's dense time column (rank of event_id). */
  private def ranked: DataFrame =
    graft.Tables.load(spark, sfDir, "events")
      .withColumn("ts_ms", row_number().over(Window.orderBy("event_id"))
        .cast("long"))

  /** Each segment of `table` as inside, boundary or outside [lo, hi] of
    * `timeCol`, from its min/max metadata.
    */
  private def classes(table: String, timeCol: String, lo: Long,
      hi: Long): Seq[String] =
    PinotSegments.discoverDirs(table, SegmentIO.forPath(table)).map { d =>
      val r = SegmentReader.open(d)
      try {
        val cm = r.metadata.column(timeCol)
        val (mn, mx) = (cm.minValue.get.toLong, cm.maxValue.get.toLong)
        if (mn >= lo && mx <= hi) "inside"
        else if (mx < lo || mn > hi) "outside"
        else "boundary"
      } finally r.close()
    }

  /** The nearest-rank quantile of the q154 oracle. */
  private def nearestRank(sorted: IndexedSeq[Double], q: Double): Double =
    sorted(math.ceil(q * sorted.size).toInt - 1)

  test("timeSliced over inside + boundary segments: bitmap distinct, " +
      "row count and kll quantiles equal the raw twin") {
    val table = graft.TestDirs.create("slice_mix").resolve("sl_OFFLINE")
      .toString
    // q153's fixture: 4 range segments with stored bitmap + kll sections
    ranked.select(col("event_id"), col("user_id"), col("value"),
        col("ts_ms"))
      .repartitionByRange(4, col("ts_ms"))
      .write.format("pinot").mode("append")
      .option("sketchColumns", "user_id:bitmap,value:kll32768")
      .save(table)
    val (lo, hi) = (300L, 800L)
    val seen = classes(table, "ts_ms", lo, hi)
    assert(seen.count(_ == "inside") >= 1 && seen.count(_ == "boundary") >= 1,
      s"the slice must mix inside and boundary segments, got $seen")
    val sliced = ranked.filter(col("ts_ms").between(lo, hi))
    val distinct = PinotSketches.timeSliced(spark, table, "user_id",
      "bitmap", "ts_ms", lo, hi).head()
    assert(distinct.getLong(0) === sliced.select("user_id").distinct().count())
    assert(distinct.getLong(1) === sliced.count())
    val qs = Seq(0.5, 0.9, 0.99)
    val got = PinotSketches.timeSliced(spark, table, "value", "kll32768",
      "ts_ms", lo, hi, qs).head()
    val values = sliced.select("value").collect().map(_.getDouble(0))
      .sorted.toIndexedSeq
    assert(got.getSeq[Double](0) === qs.map(nearestRank(values, _)))
    assert(got.getLong(1) === values.size)
  }

  test("groupedTimeSliced over rolled inside/outside buckets and raw " +
      "inside + boundary segments equals the raw twin") {
    val root = graft.TestDirs.create("group_slice_mix")
    val cold = Files.createDirectories(root.resolve("cold_OFFLINE"))
    val raw = root.resolve("raw_OFFLINE").toString
    val base = ranked.select(col("event_type"), col("user_id"),
      col("ts_ms"))
    // q155's two tiers: ts 1..600 rolled per 100-wide bucket, the rest raw
    (0 until 6).foreach { b =>
      val lo = b * 100L + 1
      val build = root.resolve("build_OFFLINE")
      base.filter(col("ts_ms").between(lo, lo + 99))
        .select(col("event_type"), lit(lo).as("bucket_start"),
          col("user_id"), lit(1).as("cnt"))
        .coalesce(1).write.format("pinot").mode("append")
        .save(build.toString)
      val seg = PinotCompact.rollup(build.toString,
        dims = Seq("event_type", "bucket_start"), metrics = Seq("cnt"),
        sketchMetrics = Map("user_id" -> "bitmap"))
      Files.move(seg, cold.resolve(s"bucket$b"))
      PinotCompact.deleteRecursively(build)
    }
    base.filter(col("ts_ms") > 600L)
      .repartitionByRange(2, col("ts_ms"))
      .write.format("pinot").mode("append").save(raw)
    val (lo, hi) = (201L, 850L)
    assert(classes(cold.toString, "bucket_start", lo, hi).toSet ===
      Set("inside", "outside"))
    assert(classes(raw, "ts_ms", lo, hi).sorted === Seq("boundary", "inside"),
      "the raw tier must hold one inside and one boundary segment")
    val got = PinotSketches.groupedTimeSliced(spark, cold.toString, raw,
      "event_type", "user_id", "bitmap", "bucket_start", 100L, "cnt",
      "ts_ms", lo, hi, as = "du", rowsAs = "rows")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = base.filter(col("ts_ms").between(lo, hi))
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("du"), count(lit(1)).as("rows"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got === want)
  }
}

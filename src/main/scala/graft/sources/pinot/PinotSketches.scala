package graft.sources.pinot

import graft.functions.{Sketch, SketchAgg}
import graft.pinot.{PinotFormatException, SegmentIO, SegmentMetadata, SegmentReader, SketchSection}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Query-time merge of SEGMENT-STORED sketches (written via
  * `.option("sketchColumns", ...)` or a rollup's `sketchMetrics` — see
  * [[graft.pinot.SketchSection]]): the analog of Pinot answering
  * DISTINCT_COUNT_THETA_SKETCH / DISTINCT_COUNT_BITMAP / DISTINCT_COUNT_HLL
  * / PERCENTILE_KLL / FREQUENT_STRINGS from ingestion-time sketches by
  * merging stored summaries, never re-scanning raw rows. One reader per
  * shape — whole table, time slice, grouped two-tier time slice — each
  * taking the sketch `spec` (`bitmap`, `kmv<k>`, `hll<p>`, `kll<k>` with
  * fractions `qs`, `freq<c>`) and answering with that kind's merge
  * aggregate ([[graft.functions.SketchAgg.merge]]): a distinct count,
  * an `array<double>` of quantiles, or an `array<struct<item, cnt>>` of
  * heavy hitters (cnt desc, item asc). Distinct kinds are exact while
  * unsaturated (bitmap always; kmv below k; hll while sparse, ≤ 2^p/4),
  * kll is exact nearest-rank below k, and freq counts are exact while
  * the distinct cardinality stays ≤ c (the Agarwal et al.
  * mergeable-summaries bound, estimate ∈ [true − n/(c+1), true], holds
  * beyond it).
  *
  * Plan shape at 100 TB: ONE task per segment opens the segment's
  * metadata + index map and range-reads ONLY the few-KB sketch section
  * (the forward index — the petabyte part — is never touched;
  * SketchSectionSpec counts the IO to prove it), then a single partial
  * aggregate merges: one bounded summary per partition crosses the
  * wire. Against a year of segments this is KBs of IO per segment
  * instead of a full-column scan.
  */
object PinotSketches {

  private def segDirs(tableDir: String): Seq[String] = {
    val dirs = PinotSegments.discoverDirs(tableDir, SegmentIO.forPath(tableDir))
    if (dirs.isEmpty)
      throw new PinotFormatException(s"no segments under $tableDir")
    dirs
  }

  /** Per-segment metadata for a table, through the SAME plan-time LRU
    * cache + bounded-parallel prefetch the DSv2 scan uses
    * ([[PinotScan.prefetchMetas]]): a warm session classifies a year of
    * remote segments from memory; a cold one costs ONE 32-way parallel
    * sweep of `metadata.properties` GETs — never a sequential
    * open-per-segment loop. Fails loudly on an unreadable segment: a
    * silently skipped segment would under-count.
    */
  private def metasOf(tableDir: String): Seq[(String, SegmentMetadata)] = {
    val io = SegmentIO.forPath(tableDir)
    val dirs = segDirs(tableDir)
    PinotScan.prefetchMetas(dirs, io)
    dirs.map { dir =>
      val m = PinotScan.segmentMetaVia(dir, io)
      if (m == null) throw new PinotFormatException(
        s"unreadable segment metadata for $dir (required for sketch reads)")
      (dir, m)
    }
  }

  /** Per-segment stored sketch payloads for `column`, one row per
    * segment: (segment, sketch bytes). Fails loudly if any segment lacks
    * the sketch — a silent partial merge would under-count.
    */
  def segmentSketches(s: SparkSession, tableDir: String,
      column: String): DataFrame =
    sketchesOf(s, segDirs(tableDir), column)

  /** Register the per-segment stored sketch payloads of (`tableDir`,
    * `column`) as a temp view, so a SQL-ONLY user reaches the
    * stored-sketch read path with the registered merge aggregates:
    * {{{
    *   PinotSketches.registerSketchView(s, dir, "user_id", "user_sk")
    *   spark.sql("SELECT bitmap_merge_distinct(sketch) FROM user_sk")
    * }}}
    * The view has columns (segment STRING, sketch BINARY); it composes
    * with query-time `sketch_build(...)` payloads by `UNION ALL` (the
    * lambda merge, q156).
    */
  def registerSketchView(s: SparkSession, tableDir: String,
      column: String, viewName: String): Unit =
    segmentSketches(s, tableDir, column).createOrReplaceTempView(viewName)

  private def sketchesOf(s: SparkSession, dirs: Seq[String],
      column: String): DataFrame = {
    import s.implicits._
    val slices = math.max(1, math.min(dirs.size,
      4 * s.sparkContext.defaultParallelism))
    s.sparkContext.parallelize(dirs, slices)
      .map { dir =>
        val r = SegmentReader.open(dir, SegmentIO.forPath(dir))
        try {
          val bytes = r.sketchBytes(column).getOrElse(
            throw new PinotFormatException(
              s"segment $dir has no stored sketch for column $column"))
          (dir, bytes)
        } finally r.close()
      }
      .toDF("segment", "sketch")
  }

  /** Segment classification against an inclusive time slice on an
    * integral time column, from CACHED METADATA alone (min/max recorded
    * per column at write time — no segment opens, no column data):
    * (fully-inside dirs, boundary dirs, total docs of the inside set).
    *
    * Rejects a nullable slice column (any segment with a null-value
    * vector on `timeCol`): fully-inside segments would contribute
    * metadata `totalDocs` — which counts null-time docs — while boundary
    * scans' BETWEEN filter excludes them, a silent over-count. Mirrors
    * the writer's non-nullable timeColumn rule.
    */
  private def classifyByTime(tableDir: String, timeCol: String,
      loMs: Long, hiMs: Long): (Seq[String], Seq[String], Long) = {
    var insideDocs = 0L
    val inside = Seq.newBuilder[String]
    val boundary = Seq.newBuilder[String]
    metasOf(tableDir).foreach { case (dir, m) =>
      val cm = m.column(timeCol)
      if (cm.nullCount > 0) throw new PinotFormatException(
        s"time slice: segment $dir has ${cm.nullCount} null values in " +
          s"$timeCol — slice columns must be non-nullable (inside " +
          "segments count docs from metadata; a BETWEEN-filtered boundary " +
          "scan would drop null-time rows, silently over-counting)")
      val (mn, mx) = (for {
        a <- cm.minValue; b <- cm.maxValue
        al <- a.toLongOption; bl <- b.toLongOption
      } yield (al, bl)).getOrElse(throw new PinotFormatException(
        s"time slice: segment $dir has no integral min/max metadata " +
          s"for $timeCol (integral time columns only)"))
      if (mn >= loMs && mx <= hiMs) {
        inside += dir
        insideDocs += m.totalDocs
      } else if (mx >= loMs && mn <= hiMs) {
        boundary += dir
      } // else: fully outside — pruned from metadata alone
    }
    (inside.result(), boundary.result(), insideDocs)
  }

  /** `spec`'s merge result over every segment's stored payload of
    * `column`, one row `as`. Fails loudly if a segment lacks the sketch.
    */
  def wholeTable(s: SparkSession, tableDir: String, column: String,
      spec: String, qs: Seq[Double] = Nil, as: String = "result"): DataFrame =
    segmentSketches(s, tableDir, column)
      .agg(SketchAgg.merge(col("sketch"), spec, qs).as(as))

  /** TIME-SLICED lambda merge (the production read path for "DISTINCT /
    * p99 / top pages over the last N days" against a year of segments):
    * `spec`'s result over rows of `column` with `timeCol` ∈ [loMs, hiMs],
    * where
    *
    *  - segments fully INSIDE the slice answer from their stored sketch
    *    sections (KB-scale reads, zero forward-index IO — the q145/q150
    *    path) and contribute their metadata `totalDocs` to the row count
    *    without any IO at all;
    *  - segments fully OUTSIDE prune from min/max metadata alone;
    *  - only BOUNDARY segments scan rows — ONCE, through the normal DSv2
    *    read with the time filter PUSHED (min/max + sorted pruning apply
    *    inside the segment), folded into a single aggregate producing
    *    both the query-time `sketch_build` payload and the slice row
    *    count.
    *
    * One merge aggregate folds stored and query-time payloads (the
    * xxhash64-seed-42 contract); output: (`as`, `rowsAs` — the exact row
    * count over the slice). An all-pruned slice merges zero payloads:
    * 0 distinct, NULL quantiles, no heavy hitters, 0 rows. At 100 TB
    * with daily segments, a 30-day slice reads 30 sketch sections, scans
    * at most 2 boundary segments, and never touches the other 335 days.
    */
  def timeSliced(s: SparkSession, tableDir: String, column: String,
      spec: String, timeCol: String, loMs: Long, hiMs: Long,
      qs: Seq[Double] = Nil, as: String = "result",
      rowsAs: String = "slice_rows"): DataFrame = {
    require(loMs <= hiMs, s"time slice: lo $loMs > hi $hiMs")
    val (inside, boundary, insideDocs) = classifyByTime(
      tableDir, timeCol, loMs, hiMs)
    // stored rows carry cnt 0 (their docs are counted from metadata);
    // an all-pruned slice keeps the empty stored input, so the merge
    // answers over zero payloads
    val stored = Option.when(inside.nonEmpty || boundary.isEmpty)(
      sketchesOf(s, inside, column).select(col("sketch"), lit(0L).as("cnt")))
    val delta = boundary
      .map(d => s.read.format("pinot").load(d)
        .filter(col(timeCol) >= loMs && col(timeCol) <= hiMs))
      .reduceOption(_ union _)
      .map(rows => rows.agg(build(rows, column, spec).as("sketch"),
        count(lit(1)).as("cnt")))
    (stored ++ delta).reduce(_ union _).agg(
      SketchAgg.merge(col("sketch"), spec, qs).as(as),
      (coalesce(sum(col("cnt")), lit(0L)) + lit(insideDocs)).as(rowsAs))
  }

  /** The query-time `sketch_build` of `column` of `df` under `spec`, fed
    * the writer's value rule ([[graft.functions.Sketch.input]]) so the
    * payload composes exactly with stored sections.
    */
  private def build(df: DataFrame, column: String, spec: String) = {
    val parsed = SketchSection.parseSpec(spec)
    SketchAgg.build(
      Sketch.input(parsed, col(column), df.schema(column).dataType), spec)
  }

  /** GROUPED time-sliced merge ("distinct users / p99 of spend / top
    * pages over the last N days PER event_type") composing a ROLLED-UP
    * cold table with a RAW hot table — the two-tier layout
    * MergeRollupTask produces in production (raw segments roll up per
    * time bucket as they age, then retire):
    *
    *  - `rollupDir`: per-bucket rolled segments (q146/q151 shape —
    *    [[graft.pinot.PinotCompact.rollup]] with dims (`groupCol`,
    *    `bucketCol`), a summed `cntCol`, and `column` aggregated to one
    *    `spec` payload per group per bucket). `bucketCol` holds each
    *    bucket's START in the raw time unit; a bucket spans
    *    [start, start + bucketWidth). Segments fully outside the slice
    *    PRUNE from min/max metadata through the pushed bucket filter
    *    (zero IO); overlapping segments read only the few (group,
    *    bucket) payload rows inside.
    *  - `rawDir`: raw event segments covering everything NEWER than the
    *    rolled range; outside segments prune from metadata, the rest
    *    scan with the time filter pushed into a per-group query-time
    *    `sketch_build` payload.
    *
    * One union + ONE hash exchange on `groupCol` merges both tiers;
    * output (`groupCol`, `as`, `rowsAs`).
    *
    * Loud-failure contracts (validated from CACHED metadata before any
    * row IO): slice edges falling strictly inside the rolled range must
    * align to the bucket grid (a mid-bucket edge is unanswerable once
    * raw rows are gone — silent truncation would under-count); a slice
    * spanning past the rolled range requires the raw table to start
    * exactly one unit after it (no coverage gap); the tiers must not
    * overlap (double count).
    */
  def groupedTimeSliced(s: SparkSession, rollupDir: String,
      rawDir: String, groupCol: String, column: String, spec: String,
      bucketCol: String, bucketWidth: Long, cntCol: String,
      rawTimeCol: String, loMs: Long, hiMs: Long, qs: Seq[Double] = Nil,
      as: String = "result", rowsAs: String = "slice_rows"): DataFrame = {
    require(loMs <= hiMs, s"time slice: lo $loMs > hi $hiMs")
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val bucketBounds = metasOf(rollupDir).map { case (dir, m) =>
      val cm = m.column(bucketCol)
      (for {
        a <- cm.minValue; b <- cm.maxValue
        al <- a.toLongOption; bl <- b.toLongOption
      } yield (al, bl)).getOrElse(throw new PinotFormatException(
        s"grouped time slice: segment $dir has no integral min/max " +
          s"metadata for bucket column $bucketCol"))
    }
    val rolledLo = bucketBounds.map(_._1).min
    val rolledHiEnd = bucketBounds.map(_._2).max + bucketWidth - 1
    if (loMs > rolledLo && loMs <= rolledHiEnd)
      require((loMs - rolledLo) % bucketWidth == 0,
        s"grouped time slice: lo $loMs falls mid-bucket in the rolled " +
          s"range (grid start $rolledLo, width $bucketWidth) — raw rows " +
          "are gone; a truncated bucket would silently under-count")
    if (hiMs < rolledHiEnd)
      require((hiMs + 1 - rolledLo) % bucketWidth == 0,
        s"grouped time slice: hi $hiMs falls mid-bucket in the rolled " +
          s"range (grid start $rolledLo, width $bucketWidth)")
    val needRaw = hiMs > rolledHiEnd
    if (needRaw) {
      val rawMin = metasOf(rawDir).map { case (dir, m) =>
        val cm = m.column(rawTimeCol)
        cm.minValue.flatMap(_.toLongOption).getOrElse(
          throw new PinotFormatException(
            s"grouped time slice: segment $dir has no integral min " +
              s"metadata for $rawTimeCol"))
      }.min
      require(rawMin == rolledHiEnd + 1,
        s"grouped time slice: raw table starts at $rawMin but the rolled " +
          s"range ends at $rolledHiEnd — a gap or overlap between the " +
          "tiers would mis-count the slice")
    }
    val rolled = s.read.format("pinot").load(rollupDir)
      .filter(col(bucketCol) >= loMs &&
        col(bucketCol) <= hiMs - bucketWidth + 1)
      .select(col(groupCol).as("g"), col(column).as("sketch"),
        col(cntCol).cast(LongType).as("cnt"))
    val merged =
      if (!needRaw) rolled
      else {
        val raw = s.read.format("pinot").load(rawDir)
          .filter(col(rawTimeCol) >= loMs && col(rawTimeCol) <= hiMs)
        rolled.union(raw.groupBy(col(groupCol).as("g")).agg(
          build(raw, column, spec).as("sketch"), count(lit(1)).as("cnt")))
      }
    merged
      .groupBy("g")
      .agg(
        SketchAgg.merge(col("sketch"), spec, qs).as(as),
        sum(col("cnt")).as(rowsAs))
      .withColumnRenamed("g", groupCol)
  }
}

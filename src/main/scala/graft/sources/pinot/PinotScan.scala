package graft.sources.pinot

import graft.pinot.{PinotDictionary, PinotType, SegmentReader}
import org.apache.spark.sql.connector.expressions.{NamedReference, aggregate}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.buffer.MutableRoaringBitmap

import scala.util.control.NonFatal

/** Scan pipeline: the segment is the base unit of parallelism
  * (reference: exec.rs:41,52), refined by sub-segment task planning —
  * large segments split into window-aligned doc-range slices, tiny
  * segments group into shared tasks ([[PinotScan.planSplits]]; SURVEY
  * §4's "per-segment splits grouped into tasks"). Column pruning pushes
  * down (reference accepts projection indices, table.rs:161), and an
  * empty projection takes a row-count path for `COUNT(*)`
  * (reference: exec.rs:92-95,157-162).
  *
  * Scale note: at 100 TB a table is many thousands of segments; Spark
  * schedules the split/grouped partitions across executors, so the design
  * parallelizes linearly in data volume AND saturates a cluster even when
  * segment sizes are skewed — no driver-side materialization anywhere.
  * A table within the planner's per-task row floor (16 windows, ~131k
  * rows) is the exception: it plans as ONE task whatever its on-disk
  * bytes (which count index files the scan never reads), and Spark then
  * plans no exchange above it — for an interactive query one task beats
  * a second stage.
  */
class PinotScanBuilder(segmentPaths: Seq[String], fullSchema: StructType,
    tableDir: Option[String] = None,
    splitTargetBytes: Long = PinotScan.DefaultSplitTargetBytes,
    jsonEq: Seq[PinotScan.JsonProbe] = Nil,
    rawUpsertView: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownOffset
    with SupportsPushDownAggregates {

  import PushedFunc._

  private var projected: StructType = fullSchema
  private var skipFilters: Array[Filter] = Array.empty
  private var sawFilters = false
  // Spark accepted complete pushdown (it plans no final aggregate). Spark
  // asks before pushAggregation, which then picks who answers.
  private var complete = false
  private var pushed: Option[(Aggregation, AggPlan)] = None
  private var rowCap: RowCap = RowCap.NoCap

  /** Every segment's metadata, read once. None on an empty table or when
    * any segment's metadata is unreadable: every gate then refuses.
    */
  private lazy val metas: Option[Seq[graft.pinot.SegmentMetadata]] = {
    val ms = segmentPaths.map(PinotScan.segmentMeta)
    if (ms.isEmpty || ms.contains(null)) None else Some(ms)
  }

  private def allSegments(p: graft.pinot.SegmentMetadata => Boolean): Boolean =
    metas.exists(_.forall(p))

  /** `col` exists in every segment and `p` holds for it there. */
  private def everySegment(col: String)(
      p: graft.pinot.ColumnMetadata => Boolean): Boolean =
    allSegments(_.columns.get(col).exists(p))

  // Catalyst's ColumnPruning hands us the required columns; we keep their
  // names and decode only those (≙ SupportsPushDownRequiredColumns).
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (pushed.isEmpty) projected = requiredSchema

  /** Equality/IN/range filters are accepted as ADVISORY: each partition
    * consults the segment's per-column dictionary (equality/IN) and its
    * metadata `minValue`/`maxValue` (ranges — extends A4's dictionary
    * pruning with the min/max the writer records, ≙ the `isSorted`/range
    * metadata the reference parses and drops, metadata.rs:166-168) and
    * skips the whole segment when no row can match. Every filter is also
    * returned as residual, so Spark still evaluates it — pruning can only
    * skip, never change results.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters = filters.nonEmpty
    skipFilters = filters.filter {
      case _: EqualTo | _: In => true
      case _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual => true
      // prefix filters prune by [min,max] too: LIKE 'abc%' can only
      // match inside [abc, abd)
      case _: StringStartsWith => true
      // substring predicates: text-index token postings (advisory — a
      // column without a text index simply ignores them)
      case _: StringContains | _: StringEndsWith => true
      case _ => false
    }
    filters // all residual: engine-side FilterExec remains authoritative
  }

  override def pushedFilters(): Array[Filter] = skipFilters

  /** Limit pushdown, FULLY pushed (`isPartiallyPushed = false` — Spark
    * drops its Limit nodes entirely): the scan plans ONE partition that
    * chains segments until the limit fills, so a bare `LIMIT 10` over a
    * 100 TB table is a single task reading one window of one segment —
    * no per-segment tasks, no CollectLimit shuffle stage (Pinot's
    * selection short-circuit). Refused with filters in play: every
    * pushed filter stays residual, and Spark 4.1 offers a limit only
    * when no Filter stays above the scan.
    *
    * REFUSED outright when an aggregation was already pushed: Spark
    * 4.1.2's pushDownLimit has no pushedAggregate guard, so accepting
    * here (with `isPartiallyPushed = false`) would make Spark DELETE its
    * Limit node above a complete aggregate scan — e.g.
    * `distinct().limit(2)` returning every distinct value. Aggregate
    * pushdown runs before limit pushdown, so `pushed` is final here.
    */
  override def pushLimit(l: Int): Boolean = {
    if (pushed.isDefined || sawFilters) return false
    rowCap = RowCap.Budget(0, Some(l))
    true
  }

  // shared by SupportsPushDownLimit and SupportsPushDownTopN: only a
  // global budget (a pushed limit) is FULLY pushed; a
  // pushed top-N is ALWAYS partial — each partition emits its local
  // top-k and Spark's TakeOrderedAndProject stays authoritative over
  // ≤ k×partitions rows (correct under sub-segment slicing and ties, and
  // exactly the shape that scales: a 1000-segment ORDER BY ... LIMIT 10
  // moves 10 rows per task instead of each task's whole histogram)
  override def isPartiallyPushed(): Boolean = !rowCap.isInstanceOf[RowCap.Budget]

  /** OFFSET pushdown (Spark offers it only after a FULLY pushed limit,
    * or bare): accepted on the plain filterless scan, where the chained
    * single partition emits exactly rows [offset, pushedLimit) in
    * deterministic segment-chain order — whole segments before the
    * target skip via metadata doc counts alone. Refused with a top-N in
    * play (per-partition top-k and a global row skip don't compose).
    */
  override def pushOffset(o: Int): Boolean = rowCap match {
    case RowCap.NoCap | _: RowCap.Budget
        if o > 0 && !sawFilters && pushed.isEmpty =>
      rowCap = RowCap.Budget(o, rowCap.pushedLimit)
      true
    case _ => false
  }

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean =
    if (l <= 0 || l > PinotScan.TopNPushCap) false
    else pushed match {
      case None => pushScanTopN(orders, l)
      case Some((agg, h @ AggPlan.Histogram(true, _))) =>
        pushHistTopN(agg, h, orders, l)
      case _ => false
    }

  private def descending(
      o: org.apache.spark.sql.connector.expressions.SortOrder): Boolean =
    o.direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING

  /** PLAIN scan, single sort key on a column every segment stores
    * SORTED (non-nullable, single-value): the partition's top-k is its
    * first (ASC) or last (DESC) k docs — a doc-range slice, decoding
    * NOTHING for the sort itself (Pinot's selection-order
    * short-circuit; `ORDER BY ts LIMIT k` over a 100 TB time-ordered
    * table reads k docs per task). Partial push only, so ties at the
    * boundary stay Spark's arbitrary choice exactly as unpushed — the
    * first/last-k value MULTISET is exact for a single key, which is
    * why multi-key orders must refuse (a key2 tie-break could prefer a
    * doc outside the first k of key1 ties).
    */
  private def pushScanTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    if (sawFilters || rowCap != RowCap.NoCap || orders.length != 1)
      return false
    val colName = fieldName(orders(0).expression()) match {
      case Some(c) => c
      case None => return false
    }
    def everywhere(p: graft.pinot.ColumnMetadata => Boolean): Boolean =
      everySegment(colName)(cm =>
        cm.isSingleValue && !cm.hasNullVector && p(cm))
    // sorted mode: numeric/boolean/timestamp only — the writer's
    // isSorted uses JVM orderings, which agree with Spark's for these
    // types; STRING is excluded (UTF-16 vs UTF8-byte order can
    // disagree off-ASCII)
    val sortedEverywhere = everywhere(cm => cm.isSorted &&
      (cm.dataType match {
        case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
             PinotType.PDouble | PinotType.PBoolean |
             PinotType.PTimestamp => true
        case _ => false
      }))
    // value mode: any orderable single-value non-null column — the
    // reader compares DECODED values with Spark's own orderings, so
    // STRING is safe here (UTF8String.compareTo IS Spark's order)
    val valueOrderable = everywhere(cm => cm.dataType match {
      case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
           PinotType.PDouble | PinotType.PBoolean |
           PinotType.PTimestamp | PinotType.PString => true
      case _ => false
    })
    if (!sortedEverywhere && !valueOrderable) return false
    rowCap = ScanTopN(colName, descending(orders(0)), l,
      sorted = sortedEverywhere)
    true
  }

  /** ORDER BY + LIMIT over a COMPLETE histogram aggregate: the reader
    * bounded-heap-selects its top `limit` groups instead of emitting the
    * whole histogram. Accepted only when every sort key is one of the
    * scan's own output columns (group columns by name, aggregates as
    * `agg_i`) — Spark rewrites the Sort's expressions into exactly those
    * names through the Project it collapsed. Sort keys are non-nullable
    * by construction on this path (group columns refuse null vectors;
    * aggregates of occupied groups are never null), so null-ordering is
    * vacuous. Filtered queries never reach here: Spark only attempts a
    * top-N push with no Filter above the scan, and every graft filter is
    * residual.
    */
  private def pushHistTopN(agg: Aggregation, hist: AggPlan.Histogram,
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    val groupCols = agg.groupByExpressions.flatMap(fieldName)
    if (groupCols.length != agg.groupByExpressions.length) return false
    // Spark rewrites sort attributes over a pushed aggregate back into
    // the TRANSLATED aggregate expression (pushedAggOutputMap), so an
    // ORDER BY on an aggregate output arrives as e.g. `SUM(hits)` — match
    // it against the pushed function list by canonical form. Duplicate
    // identical functions resolve to the first slot: their output
    // columns are value-identical, so sorting by either is the same.
    val aggSlots: Map[String, Int] = agg.aggregateExpressions.zipWithIndex
      .foldLeft(Map.empty[String, Int]) { case (m, (f, i)) =>
        if (m.contains(f.toString)) m
        else m + (f.toString -> (groupCols.length + i))
      }
    val keys = orders.map { o =>
      fieldName(o.expression()).filter(groupCols.contains)
        .map(groupCols.indexOf(_))
        .orElse(aggSlots.get(o.expression().toString))
        .map(TopNKey(_, descending(o)))
    }
    if (keys.exists(_.isEmpty)) return false
    pushed = Some(agg -> hist.copy(topN = Some((keys.flatten, l))))
    true
  }

  /** Complete pushdown (Spark plans no final aggregate) for two shapes.
    *
    * A filterless global aggregate the driver answers from cached
    * metadata (see [[driverAnswers]]): no task touches column data and
    * one row comes back.
    *
    * Any aggregate over a lone segment that the segment answers finally
    * ([[loneSegmentFinal]]) — exactly how a lone Pinot server answers a
    * group-by, so the query is one stage: scan → top-k. Multi-segment
    * tables fall back to parallel per-segment partials.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    complete = !sawFilters && PushedFunc.all(agg).exists(funcs =>
      (agg.groupByExpressions.isEmpty && driverAnswers(funcs)) ||
        loneSegmentFinal(agg, funcs))
    complete
  }

  /** A global aggregate answered on the DRIVER from segment metadata:
    * COUNT(*) = Σ `segment.total.docs`, COUNT(col) = Σ (docs −
    * `nullValueCount`) — exact even for nullable columns because the
    * writer records the null-vector cardinality — SUM/AVG from
    * writer-recorded exact sums and MIN/MAX from the min/max metadata
    * (integral, non-nullable, every segment).
    */
  private def driverAnswers(funcs: Array[PushedFunc]): Boolean =
    funcs.forall {
      case Count(c) => c.isEmpty || metaCountable(c)
      case Sum(c) => metaSummable(c) && metaSumTotalFits(c)
      case Avg(c) => metaAvgExact(c)
      case Min(c) => metaMinMaxable(c)
      case Max(c) => metaMinMaxable(c)
    }

  /** One segment's histogram, dictionary or occupied-key set IS the
    * final answer. Complete pushdown also receives AVG un-rewritten; the
    * histogram answers it as sum/count at emit. pushAggregation may still
    * pick a cheaper answerer (key-pure metadata, the star-tree): a lone
    * segment's rows are final whoever computes them.
    */
  private def loneSegmentFinal(agg: Aggregation,
      funcs: Array[PushedFunc]): Boolean = {
    val gOpt = agg.groupByExpressions.map(fieldName(_))
    if (gOpt.exists(_.isEmpty) || segmentPaths.length != 1) return false
    val groupCols = gOpt.flatten
    // single-segment DISTINCT is final by construction: the dictionary
    // (single col) / the occupied composite-id set (multi col) each
    // emit every present key exactly once — Spark plans no dedup. The
    // dictionary-only single-col DISTINCT stays size-independent.
    if (funcs.isEmpty && groupCols.nonEmpty)
      (groupCols.length == 1 && isDictDistinctable(groupCols.head)) ||
        (!loneTooBigToFinal(groupCols) && histGroupable(groupCols))
    // an empty segment emits NO partial rows, but a GLOBAL aggregate
    // must still return its mandatory single row (SUM = NULL,
    // COUNT = 0) — only Spark's final aggregate can produce it, so
    // complete pushdown refuses and the partial path takes over.
    // (Group-by over an empty segment is correctly empty either way.)
    else !loneTooBigToFinal(groupCols) &&
      histCovers(groupCols, funcs, allowAvg = true) &&
      (groupCols.nonEmpty || metas.exists(_.head.totalDocs > 0))
  }

  /** Complete histogram paths read the lone segment's FORWARD INDEXES
    * in ONE task (no final aggregate exists to merge slices). Past
    * `CompleteAggMaxDocs` AND when groups are much fewer than rows,
    * partial mode + doc-range slices win despite the extra merge stage —
    * refuse so pushAggregation takes over and planInputPartitions
    * slices. High-cardinality keys stay complete: each slice would emit
    * ~cardinality partial rows into a shuffle, costing more than the
    * saved decode.
    */
  private def loneTooBigToFinal(groupCols: Array[String]): Boolean =
    splitTargetBytes > 0 && metas.exists { ms =>
      val m = ms.head
      m.totalDocs > PinotScan.CompleteAggMaxDocs &&
        groupSlots(m, groupCols) <= m.totalDocs / 4
    }

  /** Histogram slots `cols` need in segment `m` (saturating). */
  private def groupSlots(m: graft.pinot.SegmentMetadata,
      cols: Array[String]): Long =
    PinotHistAgg.groupSlots(cols.map(c =>
      m.columns.get(c).fold(Int.MaxValue.toLong)(_.cardinality.toLong)))

  /** Partial pushdown picks who answers; complete pushdown, accepted just
    * before, picks too and keeps its answer final.
    *
    * Per-segment metadata / dictionaries: each task answers from its own
    * segment's metadata + dictionary (cardinality entries, never the
    * forward index), and Spark merges the per-segment rows. Distributed —
    * at 100 TB the tiny dictionary reads happen on executors, not the
    * driver. GROUP BY pushes down this way when every group column is
    * KEY-PURE (each segment's metadata records min == max — how
    * partitionBy-written ingest lands): each segment task emits ONE
    * (key…, partials) row. A per-tenant COUNT over a key-partitioned
    * 100 TB table becomes a metadata-only query.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (sawFilters || rowCap != RowCap.NoCap) return false
    val groupColsOpt = agg.groupByExpressions.map(fieldName)
    if (groupColsOpt.exists(_.isEmpty)) return false
    pushed = PushedFunc.all(agg)
      .flatMap(choosePlan(groupColsOpt.flatten, _)).map(agg -> _)
    pushed.isDefined
  }

  private def choosePlan(groupCols: Array[String],
      funcs: Array[PushedFunc]): Option[AggPlan] =
    // metadata-complete global aggregate, validated by
    // supportCompletePushDown just before this call (SUM/AVG would fail
    // the per-segment partial checks below — they are answered on the
    // DRIVER from cached metadata, not by tasks)
    if (groupCols.isEmpty && complete && driverAnswers(funcs))
      Some(AggPlan.DriverRow)
    // DISTINCT pushdown (no aggregate functions, one dict group column):
    // each segment's dictionary IS its distinct value set, so the scan
    // emits cardinality rows per segment — SELECT DISTINCT col over a
    // 100 TB table reads dictionaries only, never a forward index.
    // Multi-column or RAW DISTINCT: dictionaries alone cannot answer
    // it (a key PAIR must actually co-occur; RAW columns have no
    // dictionary), but the composite-id/slot histogram can — each
    // segment emits its occupied key set and Spark dedups the merge.
    else if (funcs.isEmpty) {
      if (groupCols.length == 1 && isDictDistinctable(groupCols.head))
        Some(AggPlan.SegmentMeta(complete))
      else if (groupCols.nonEmpty && histGroupable(groupCols))
        Some(AggPlan.Histogram(complete))
      else None
    }
    else if (groupCols.forall(isKeyPure) && funcs.forall {
        // COUNT(col) = docs − nullCount per segment (exact from
        // metadata); MIN/MAX refuse nullable columns — their
        // dictionaries hold the stored DEFAULT at null docs
        case Count(c) => c.isEmpty || metaCountable(c)
        case Min(c) => minMaxPushable(c)
        case Max(c) => minMaxPushable(c)
        // partial SUM straight from each segment's writer-recorded sum
        // (integral, non-nullable) — Spark's final aggregate merges;
        // AVG arrives here already rewritten to SUM+COUNT by Spark's
        // partial-pushdown translation, so key-pure AVG rides along.
        case Sum(c) => metaSummable(c)
        case Avg(_) => false
      }) Some(AggPlan.SegmentMeta(complete))
    // Star-tree fallback: when EVERY segment carries a star-tree whose
    // dims cover the group columns and whose metrics cover every
    // aggregate (COUNT/SUM/MIN/MAX incl. SUM, which no other pushdown
    // path answers), each task rolls its pre-aggregated records up to
    // the requested dims — a GROUP BY over a 100 TB table reads
    // |combos| records per segment instead of the forward index.
    else if (starTreeCovers(groupCols, funcs)) Some(AggPlan.StarTree(complete))
    // Dictionary-id histogram fallback: each segment task aggregates over
    // packed ids in one pass (cardinality-sized arrays, the id IS the
    // hash slot) and emits per-key partials. Reads forward indexes
    // (unlike key-pure/star-tree) but never materializes per-row keys,
    // and only |dictionary| rows cross the scan boundary.
    else if (histCovers(groupCols, funcs, allowAvg = complete))
      Some(AggPlan.Histogram(complete))
    else None

  /** Group columns compose into one histogram id by stride arithmetic.
    * Each may be dict-encoded (ids off the packed stream) OR a RAW string
    * with a writer-recorded exact cardinality (per-SEGMENT slot map over
    * decoded values — partial rows carry the VALUES, so slots merge
    * correctly across segments in Spark's final aggregate). Per-task
    * arrays are O(Π cardinalities × aggs): the PRODUCT is capped in
    * every segment at [[PinotHistAgg.GroupCap]].
    */
  private def histGroupable(groupCols: Array[String]): Boolean =
    groupCols.forall(c => isDictDistinctable(c) || isRawStringGroupable(c)) &&
      allSegments(groupSlots(_, groupCols) <= PinotHistAgg.GroupCap)

  /** Histogram-aggregable: groupable columns, and every aggregate a COUNT
    * over non-nullable data or SUM/MIN/MAX of a non-nullable single-value
    * numeric column (dict or RAW fixed-byte). An EMPTY group list is the
    * global-aggregate case: one synthetic group, one partial row per
    * segment — this is what pushes global SUM/AVG that metadata cannot
    * answer. Nullable metrics refuse: the forward index holds stored
    * DEFAULTS at null docs, which must not enter partials.
    */
  private def histCovers(groupCols: Array[String], funcs: Array[PushedFunc],
      allowAvg: Boolean): Boolean = {
    def numericReadable(col: String): Boolean = everySegment(col)(cm =>
      cm.isSingleValue && !cm.hasNullVector && (cm.dataType match {
        case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
             PinotType.PDouble => true
        case _ => false
      }))
    funcs.nonEmpty && histGroupable(groupCols) && funcs.forall {
      case Count(c) => c.isEmpty || everySegment(c)(!_.hasNullVector)
      case Sum(c) => numericReadable(c)
      case Min(c) => numericReadable(c)
      case Max(c) => numericReadable(c)
      case Avg(c) => allowAvg && numericReadable(c)
    }
  }

  /** Every segment has a star-tree covering the requested group columns
    * (as dims, dict-encoded non-nullable) and every aggregate function
    * (as its `FUNC__column` metric; COUNT(col) maps to COUNT__* only for
    * provably non-nullable columns).
    */
  private def starTreeCovers(groupCols: Array[String],
      funcs: Array[PushedFunc]): Boolean = allSegments { m =>
    val mets = m.starTreeMetrics.toSet
    m.starTreeDims.nonEmpty &&
      groupCols.forall(c => m.starTreeDims.contains(c) &&
        m.columns.get(c).exists(cm => cm.hasDictionary &&
          cm.isSingleValue && !cm.hasNullVector)) &&
      funcs.forall(f => f.starMetric.exists(mt => mets.contains(mt.key)) &&
        (f match {
          case Count(c) => c.isEmpty || m.columns.get(c).exists(!_.hasNullVector)
          case _ => true
        }))
  }

  /** COUNT(col) answerable from metadata alone: every segment's metadata
    * is readable and carries the column (nullCount is then exact — zero
    * without a null vector, the recorded bitmap cardinality with one).
    */
  private def metaCountable(col: String): Boolean = everySegment(col)(_ => true)

  /** SUM(col) answerable from metadata alone: every non-empty segment
    * recorded an exact writer sum, fitting in a long, for a non-nullable
    * single-value INTEGRAL column. (Float/double sums are
    * order-dependent in Spark's double accumulation — excluded so
    * results stay bit-identical with the unpushed plan. A per-segment
    * sum outside the long range refuses too: the partial row is typed
    * long, and the session's own overflow semantics — ANSI throw or
    * legacy wrap — must come from Spark's execution, not a silent
    * metadata wrap.)
    */
  private def metaSummable(col: String): Boolean = {
    // ANSI parity for TRANSIENT overflow too: an unpushed ANSI Sum can
    // throw when a running row-order sum leaves the long range even
    // though the total fits. A same-sign segment (min ≥ 0 or max ≤ 0)
    // is monotone — its running sum is bounded by the fitting total and
    // can never transiently overflow; mixed signs additionally require
    // Σ|v| ≤ rows × max(|min|,|max|) to fit, which bounds every prefix.
    def noTransientOverflow(cm: graft.pinot.ColumnMetadata,
        rows: Int): Boolean = bounds(cm).exists { case (mn, mx) =>
      mn.signum >= 0 || mx.signum <= 0 ||
        (mn.abs.max(mx.abs) * rows).isValidLong
    }
    allSegments(m => m.totalDocs == 0 ||
      m.columns.get(col).exists(cm => cm.isSingleValue &&
        !cm.hasNullVector && cm.sumValue.exists(_.isValidLong) &&
        noTransientOverflow(cm, m.totalDocs) &&
        (cm.dataType == PinotType.PInt || cm.dataType == PinotType.PLong)))
  }

  /** A column's metadata [min, max] as integers, when both parse. */
  private def bounds(cm: graft.pinot.ColumnMetadata): Option[(BigInt, BigInt)] =
    for (mn <- cm.minValue.flatMap(v => scala.util.Try(BigInt(v)).toOption);
         mx <- cm.maxValue.flatMap(v => scala.util.Try(BigInt(v)).toOption))
    yield (mn, mx)

  /** The exact TOTAL sum fits in a long — required for the COMPLETE
    * metadata answer (the overflowing case defers to execution so ANSI
    * mode throws exactly as an unpushed plan would).
    */
  private def metaSumTotalFits(col: String): Boolean =
    metas.exists(_.foldLeft(BigInt(0)) { (acc, m) =>
      if (m.totalDocs == 0) acc
      else acc + m.columns.get(col).flatMap(_.sumValue).getOrElse(BigInt(0))
    }.isValidLong)

  /** AVG(col) from metadata is exact only while Spark's own
    * double-accumulated sum is exact: every running partial sum must
    * stay within 2^53. `rows × max(|min|,|max|)` bounds every partial,
    * so the gate is conservative — outside it the histogram path
    * answers instead (bit-identical by construction, just not free).
    */
  private def metaAvgExact(col: String): Boolean = metaSummable(col) &&
    metas.exists(_.foldLeft(BigInt(0)) { (acc, m) =>
      if (m.totalDocs == 0) acc
      else m.columns.get(col).flatMap(bounds)
        .fold(acc + BigInt(2).pow(60)) { case (mn, mx) =>
          acc + mn.abs.max(mx.abs) * m.totalDocs }
    } <= BigInt(2).pow(53))

  /** MIN/MAX(col) answerable from metadata bounds alone: numeric or
    * timestamp, non-nullable, min/max recorded in every non-empty
    * segment. Float/double are safe here (unlike SUM): the writer's
    * TotalOrdering bounds match Spark's NaN-largest compare, and
    * `toString → parse` is a lossless roundtrip. STRING stays excluded
    * (the writer's `safe()` filter can drop bounds, and UTF-16 ordering
    * diverges from UTF8 bytes off-ASCII).
    */
  private def metaMinMaxable(col: String): Boolean = {
    // Bounds must PARSE in the column's type (and fit its range) before
    // the complete push is accepted: a foreign writer recording e.g.
    // "1.0" for an INT column would otherwise pass planning here and
    // throw NumberFormatException at execution instead of falling back
    // to the partial path. Same try-parse discipline metaSummable uses.
    def parsable(cm: graft.pinot.ColumnMetadata, v: String): Boolean =
      cm.dataType match {
        case PinotType.PInt =>
          scala.util.Try(BigInt(v)).toOption.exists(_.isValidInt)
        case PinotType.PLong =>
          scala.util.Try(BigInt(v)).toOption.exists(_.isValidLong)
        case PinotType.PFloat => scala.util.Try(v.toFloat).isSuccess
        case PinotType.PDouble => scala.util.Try(v.toDouble).isSuccess
        case PinotType.PTimestamp => scala.util.Try(v.toLong).toOption
          // stored millis surface as micros via multiplyExact(…, 1000)
          .exists(l => l >= Long.MinValue / 1000 && l <= Long.MaxValue / 1000)
        case _ => false
      }
    allSegments(m => m.totalDocs == 0 ||
      m.columns.get(col).exists(cm => cm.isSingleValue &&
        !cm.hasNullVector &&
        cm.minValue.exists(parsable(cm, _)) &&
        cm.maxValue.exists(parsable(cm, _))))
  }

  /** RAW (dictionary-less) single-value non-nullable STRING column with
    * a writer-recorded exact cardinality in EVERY segment — the
    * preconditions for the per-segment slot-map group path.
    */
  private def isRawStringGroupable(col: String): Boolean =
    everySegment(col)(cm =>
      !cm.hasDictionary && cm.isSingleValue && !cm.hasNullVector &&
        cm.dataType == PinotType.PString && cm.cardinality > 0)

  /** Dictionary-encoded single-value non-nullable column of a scalar type
    * in EVERY segment — the preconditions for dictionary-as-distinct-set.
    * (A null vector breaks it: the stored default sits in the dictionary
    * whether or not any non-null row carries it.)
    */
  private def isDictDistinctable(col: String): Boolean =
    everySegment(col)(cm =>
      cm.hasDictionary && cm.isSingleValue && !cm.hasNullVector &&
        (cm.dataType match {
          case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
               PinotType.PDouble | PinotType.PString |
               PinotType.PBoolean | PinotType.PTimestamp => true
          case _ => false
        }))

  /** min == max recorded in EVERY segment, with a typed key form. */
  private def isKeyPure(col: String): Boolean =
    everySegment(col)(cm =>
      !cm.hasNullVector && cm.isSingleValue && cm.minValue.isDefined &&
        cm.minValue == cm.maxValue &&
        (cm.dataType match {
          case PinotType.PInt | PinotType.PLong | PinotType.PString => true
          case _ => false
        }))

  /** MIN/MAX answerable without a forward-index read in EVERY segment:
    * a non-nullable numeric column with a dictionary (sorted entries), or
    * RAW whose writer-recorded metadata min/max both survived (r3 — Pinot
    * answers these from column metadata the same way).
    */
  private def minMaxPushable(col: String): Boolean =
    everySegment(col)(cm => cm.isSingleValue && !cm.hasNullVector &&
      (cm.dataType match {
        case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
             PinotType.PDouble => true
        case _ => false
      }) &&
      (cm.hasDictionary || (cm.minValue.isDefined && cm.maxValue.isDefined)))

  override def build(): Scan = pushed match {
    case Some((agg, plan)) =>
      new PinotAggScan(segmentPaths, agg, plan, fullSchema, splitTargetBytes)
    case None =>
      new PinotScan(segmentPaths, projected, skipFilters, rowCap, tableDir,
        splitTargetBytes, jsonEq, rawUpsertView)
  }
}

class PinotScan(segmentPaths: Seq[String], projected: StructType,
    skipFilters: Array[Filter], rowCap: RowCap = RowCap.NoCap,
    tableDir: Option[String] = None,
    splitTargetBytes: Long = PinotScan.DefaultSplitTargetBytes,
    jsonEq: Seq[PinotScan.JsonProbe] = Nil,
    rawUpsertView: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering {

  // a fully pushed limit/offset: one split answers the query alone
  private def global: Boolean = rowCap.isInstanceOf[RowCap.Budget]

  override def readSchema(): StructType = projected

  /** Runtime (dynamic-partition-pruning) filters: Spark hands the scan
    * the build side's join-key values after planning — whole segments
    * whose metadata [min,max] excludes every value are dropped before a
    * single task launches. At 100 TB this is the difference between
    * scanning thousands of segments and the handful a selective dim
    * join actually touches. Driver cost is one cached
    * metadata.properties read per segment (no dictionary/column IO).
    * Sound by construction: pruning can only skip segments that
    * provably contain no matching rows — the join itself remains
    * authoritative for row-level filtering.
    */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    // a fully-pushed limit opts out of runtime filtering: Spark removed
    // its Limit node, so the chained single partition must answer the
    // query alone, unrestricted by join-side pruning
    if (global) Array.empty
    else projected.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
  }

  /** Segments surviving runtime pruning. The storage-partitioned (keyed)
    * case is left unpruned: KeyGroupedPartitioning's key list is fixed at
    * planning, and SPJ tables are already co-located by the join key.
    */
  private def effectiveSegments: Seq[String] =
    if (runtimeFilters.isEmpty || partitionInfo.isDefined) segmentPaths
    else segmentPaths.filter { p =>
      val m = PinotScan.segmentMeta(p)
      m == null || runtimeFilters.forall(PinotScan.metaMayMatch(m, _))
    }

  /** Streaming read: tail the table directory for newly-committed
    * segments — each micro-batch processes exactly the segments that
    * appeared since the last offset (segments are immutable, so a
    * segment list IS a consistent offset). This is how a _REALTIME
    * table's ingest is consumed incrementally; the reference is
    * batch-only.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val dir = tableDir.getOrElse(throw new graft.pinot.PinotFormatException(
      "streaming read requires a table directory path"))
    // upsert tables: a plain readStream would silently surface every
    // superseded version — the same trap UpsertViewRule closes for
    // batch reads. The streaming view is PinotUpsert.latestStream
    // (which reads the raw tail explicitly); segment-level tails need
    // the same explicit escape hatch as batch raw reads.
    if (!rawUpsertView &&
        PinotUpsert.tryConfig(dir, graft.pinot.SegmentIO.forPath(dir))
          .isDefined)
      throw new graft.pinot.PinotFormatException(
        s"$dir is an upsert table: a raw stream would surface superseded " +
          "versions. Use PinotUpsert.latestStream for the upsert view, " +
          """or .option("upsertView", "raw") for the raw segment tail""")
    new PinotMicroBatchStream(dir, projected.fieldNames, skipFilters)
  }

  /** Segment-aligned partition column: a projected dict SV column whose
    * metadata records min == max in EVERY segment — i.e. each segment
    * holds exactly one value of it (how key-partitioned ingest lands).
    * Reported as [[KeyGroupedPartitioning]] so an equi-join of two such
    * tables on that column becomes a storage-partitioned join with NO
    * Exchange on either side. Detection is metadata-only and cached per
    * segment path.
    */
  private lazy val partitionInfo: Option[(String, Array[Any])] = {
    val metas = segmentPaths.map(PinotScan.segmentMeta)
    if (metas.isEmpty || metas.exists(_ == null)) None
    else {
      val candidates = metas.head.columns.values.toSeq.filter { cm =>
        cm.hasDictionary && cm.isSingleValue &&
          projected.fieldNames.contains(cm.name) &&
          (cm.dataType match {
            case PinotType.PInt | PinotType.PLong | PinotType.PString => true
            case _ => false
          })
      }
      candidates.view.flatMap { cm =>
        val perSeg = metas.map { m =>
          m.columns.get(cm.name).filter(c =>
            c.minValue.isDefined && c.minValue == c.maxValue)
            .flatMap(c => PinotValues.catalystBound(cm.dataType, c.minValue.get))
        }
        if (perSeg.forall(_.isDefined))
          Some(cm.name -> perSeg.map(_.get).toArray)
        else None
      }.headOption
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (global)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(1)
    else partitionInfo match {
      case Some((col, _)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity(col)),
          segmentPaths.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          segmentPaths.length)
    }

  /** Row counts come free from segment metadata (`segment.total.docs`) —
    * feeds Catalyst's CBO (e.g. auto-broadcast decisions) without
    * touching column data. Totals are cached per segment path (segments
    * are immutable), so repeated queries over a many-thousand-segment
    * table do not re-read metadata on the driver each time.
    *
    * Per-COLUMN statistics (min/max/distinct/null) also come from the
    * same cached metadata: distinctCount = max per-segment dictionary
    * cardinality (a sound lower bound), min/max folded across segments
    * in the column's own type, nullCount = 0 (Pinot columns are
    * non-nullable). With CBO enabled these flow into Catalyst
    * `ColumnStat` via `transformV2Stats` and sharpen join-size and
    * filter-selectivity estimates — all driver-side metadata, no IO.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val rows: Long = segmentPaths.map(PinotScan.segmentDocs).sum
    private lazy val width: Long = projected.fields.map(_.dataType match {
      case org.apache.spark.sql.types.StringType => 24L
      case dt => math.max(dt.defaultSize.toLong, 4L)
    }).sum.max(8L)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * width)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val metas = segmentPaths.map(PinotScan.segmentMeta)
      if (metas.nonEmpty && !metas.exists(_ == null)) {
        projected.fieldNames.foreach { name =>
          val cms = metas.flatMap(_.columns.get(name))
          if (cms.length == metas.length && cms.forall(_.isSingleValue)) {
            val tpe = cms.head.dataType
            val distinct = cms.map(_.cardinality.toLong).max
            def fold(pick: graft.pinot.ColumnMetadata => Option[String],
                wantMin: Boolean): Option[Object] = {
              val bounds = cms.map(pick(_).flatMap(PinotValues.bound(tpe, _)))
              if (bounds.exists(_.isEmpty)) None
              else bounds.flatten.reduceOption((a, b) =>
                if ((PinotValues.compare(a, b) <= 0) == wantMin) a else b)
                .map(PinotValues.catalyst(_).asInstanceOf[Object])
            }
            val minV = fold(_.minValue, wantMin = true)
            val maxV = fold(_.maxValue, wantMin = false)
            // exact: segments without a null vector have zero nulls;
            // those with one record the bitmap cardinality in metadata
            val nulls = cms.map(_.nullCount.toLong).sum
            out.put(
              org.apache.spark.sql.connector.expressions.Expressions.column(name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(distinct)
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(nulls)
                override def min(): java.util.Optional[Object] =
                  minV.fold(java.util.Optional.empty[Object]())(
                    java.util.Optional.of[Object])
                override def max(): java.util.Optional[Object] =
                  maxV.fold(java.util.Optional.empty[Object]())(
                    java.util.Optional.of[Object])
              })
          }
        }
      }
      out
    }
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"PinotScan(segments=${segmentPaths.length}, " +
      s"columns=${projected.fieldNames.mkString(",")}, " +
      s"skipFilters=[${skipFilters.mkString(",")}], " +
      s"limit=${rowCap.pushedLimit.getOrElse(-1)}, splitTarget=$splitTargetBytes" +
      (if (jsonEq.isEmpty) ""
       else ", jsonEq=[" + jsonEq.map {
         case PinotScan.JsonEqProbe(c, p, Seq(v)) => s"$c $p=$v"
         case PinotScan.JsonEqProbe(c, p, vs) =>
           s"$c $p in(${vs.mkString(",")})"
         case PinotScan.JsonExistsProbe(c, p) => s"$c $p exists"
         case PinotScan.JsonNullProbe(c, p) => s"$c $p isnull"
         case PinotScan.JsonRangeProbe(c, p, lo, loInc, hi, hiInc) =>
           val l = lo.fold("")(v => if (loInc) s">=$v" else s">$v")
           val h = hi.fold("")(v => if (hiInc) s"<=$v" else s"<$v")
           s"$c $p$l$h"
       }.mkString(",") + "]") +
      (rowCap match {
        case RowCap.Budget(o, _) if o > 0 => s", pushedOffset=$o"
        case t: ScanTopN =>
          s", pushedTopN=[${if (t.sorted) "sorted" else "value"} ${t.column}" +
            s" ${if (t.descending) "DESC" else "ASC"} limit=${t.limit}]"
        case _ => ""
      }) + ")"

  override def planInputPartitions(): Array[InputPartition] =
    if (global)
      Array(PinotSplit.wholeSegments(segmentPaths))
    else partitionInfo match {
      case Some((_, keys)) =>
        // storage-partitioned join: the 1-segment == 1-key contract is
        // load-bearing (HasPartitionKey) — never split or group here
        segmentPaths.zip(keys).map { case (p, k) =>
          PinotKeyedPartition(p,
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array(k))): InputPartition
        }.toArray
      case None =>
        PinotScan.planSplits(effectiveSegments, splitTargetBytes)
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new PinotReaderFactory(projected.fieldNames, skipFilters, rowCap,
      PinotScan.expectedTypes(projected), jsonEq)
}

/** Scan for a pushed-down aggregation, answered as its [[AggPlan]] says:
  *
  *  - `DriverRow`: one partition emits the final single row, computed
  *    on the driver from cached per-segment metadata — zero column I/O,
  *    no final aggregate in the plan.
  *  - `SegmentMeta`: each task emits one row per segment from its
  *    metadata (key-pure groups; COUNT from doc and null counts, SUM from
  *    writer sums, MIN/MAX from the dictionary) or, for DISTINCT, one row
  *    per dictionary entry; the forward index is never read.
  *  - `StarTree`: each task rolls its segments' star-tree records up to
  *    the group columns.
  *  - `Histogram`: each task aggregates the forward indexes over
  *    dictionary-id (or RAW-slot) histograms, optionally keeping only a
  *    pushed top-N of groups.
  *
  * Unless the plan is complete, Spark's final aggregate merges the
  * per-task rows.
  */
class PinotAggScan(segmentPaths: Seq[String], agg: Aggregation,
    plan: AggPlan, fullSchema: StructType,
    splitTargetBytes: Long = PinotScan.DefaultSplitTargetBytes)
    extends Scan with Batch {

  import PushedFunc._

  // builder-validated: every function translates, every group column
  // is a plain column
  private val funcs: Array[PushedFunc] = PushedFunc.all(agg).get
  private val groupCols: Array[String] =
    agg.groupByExpressions().flatMap(fieldName)

  private def colType(c: String) = fullSchema(c).dataType

  // per the SupportsPushDownAggregates contract, group columns lead.
  // SUM partials carry Spark's sum result type (long for integral
  // columns, double for fractional) so the final merge is type-exact.
  override def readSchema(): StructType = StructType(
    groupCols.map(c => StructField(c, colType(c), nullable = false)) ++
      funcs.zipWithIndex.map { case (f, i) =>
        val dt = f match {
          case Count(_) => LongType
          case Min(c) => colType(c)
          case Max(c) => colType(c)
          case Sum(c) => colType(c) match {
            case org.apache.spark.sql.types.FloatType |
                 org.apache.spark.sql.types.DoubleType =>
              org.apache.spark.sql.types.DoubleType
            case _ => LongType
          }
          case Avg(_) => org.apache.spark.sql.types.DoubleType
        }
        StructField(s"agg_$i", dt, nullable = !f.isInstanceOf[Count])
      })

  override def toBatch: Batch = this

  // "complete" means ANY path Spark planned with no final aggregate
  // above the scan; "histFinal" a complete plan accepted by the lone-
  // segment gate, other than the driver row and dictionary DISTINCT
  override def description(): String = {
    val (histFinal, topN) = plan match {
      case AggPlan.Histogram(c, t) => (c, t)
      case AggPlan.StarTree(c) => (c, None)
      case AggPlan.SegmentMeta(c) => (c && funcs.nonEmpty, None)
      case AggPlan.DriverRow => (false, None)
    }
    s"PinotAggScan(complete=${plan.complete}, " +
      s"metaComplete=${plan == AggPlan.DriverRow}, " +
      s"starTree=${plan.isInstanceOf[AggPlan.StarTree]}, " +
      s"histogram=${plan.isInstanceOf[AggPlan.Histogram]}, " +
      s"histFinal=$histFinal, " +
      s"funcs=[${agg.aggregateExpressions.mkString(", ")}], " +
      s"segments=${segmentPaths.length}" +
      topN.fold("")(t => s", pushedTopN=[limit=${t._2}, keys=" +
        t._1.map(k => s"${k.outIdx}${if (k.descending) " DESC" else ""}")
          .mkString(",") + "]") + ")"
  }

  /** Histogram PARTIAL tasks read forward indexes, so they slice into
    * doc ranges like the plain scan (each slice emits its own partials;
    * Spark's final aggregate merges) — a huge lone-segment GROUP BY
    * saturates the cluster instead of decoding on one core. A complete
    * histogram plans no final aggregate, so normally it must stay one
    * task — EXCEPT when the single group column is row-unique in the
    * segment (writer-recorded exact cardinality == totalDocs, the GROUP
    * BY doc-id / dedup-key shape): then no group can span two doc-range
    * slices, every slice's histogram rows are already final (the emit
    * loop skips zero-count slots), and the union of slices IS the
    * answer — so the merge-free plan parallelizes too. Metadata/
    * dictionary/star-tree paths never read the forward index — nothing
    * to slice.
    *
    * Every other path plans one partition per segment, except that a
    * table within the one-task row floor ([[PinotScan.fitsOneTask]])
    * plans ONE partition over all its segments: the per-segment
    * partials then merge in the same task, and with one partition
    * Spark needs no exchange before its final aggregate.
    */
  override def planInputPartitions(): Array[InputPartition] = plan match {
    case AggPlan.DriverRow => Array(PinotSplit(Nil))
    case AggPlan.Histogram(false, _) if splitTargetBytes > 0 =>
      PinotScan.planAggSlices(segmentPaths)
    case AggPlan.Histogram(true, topN) if splitTargetBytes > 0 &&
        uniqueKeyGroups &&
        // With a pushed top-N, >1 slice makes Spark's
        // TakeOrderedAndProject SHUFFLE the survivors into one partition
        // — a whole extra stage with on-disk shuffle files. Below the
        // measured extra-stage crossover (completeAggMaxDocs, the same
        // constant that prices partial-vs-complete) one task decoding
        // the lone segment is strictly faster; past it, parallel slice
        // decode amortizes the stage (each slice emits ≤ k rows).
        (topN.isEmpty || segmentPaths.exists(p =>
          PinotScan.segmentDocs(p) > PinotScan.CompleteAggMaxDocs)) =>
      PinotScan.planAggSlices(segmentPaths)
    case _ if splitTargetBytes > 0 && PinotScan.fitsOneTask(segmentPaths) =>
      Array(PinotSplit.wholeSegments(segmentPaths))
    case _ =>
      segmentPaths.map(p => PinotSplit.wholeSegments(Seq(p)): InputPartition).toArray
  }

  /** The lone group column's values are pairwise-distinct in every
    * segment, so doc-range slices partition the GROUPS as well as the
    * docs. (Multi-column keys are excluded: per-column cardinalities
    * can't establish composite uniqueness without a scan. Float/Double
    * keys are excluded too: the writer's distinct count uses boxed
    * equality where -0.0 != 0.0, while Spark normalizes both zeros into
    * one group — a segment holding both would pass the cardinality gate
    * yet need a merge for that group.)
    */
  private def uniqueKeyGroups: Boolean =
    groupCols.length == 1 && segmentPaths.forall { p =>
      val m = PinotScan.segmentMeta(p)
      m != null && m.totalDocs > 0 &&
        m.columns.get(groupCols.head).exists { cm =>
          cm.cardinality == m.totalDocs &&
            cm.dataType != graft.pinot.PinotType.PFloat &&
            cm.dataType != graft.pinot.PinotType.PDouble
        }
    }

  override def createReaderFactory(): PartitionReaderFactory = plan match {
    case AggPlan.StarTree(_) => new PinotStarTreeReaderFactory(groupCols, funcs)
    case AggPlan.Histogram(_, topN) =>
      new PinotHistAggReaderFactory(groupCols, funcs, topN,
        ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    case AggPlan.SegmentMeta(_) => new PinotAggReaderFactory(funcs, groupCols)
    case AggPlan.DriverRow => new PinotDriverRowFactory(driverRow)
  }

  /** The driver-answered row, from cached metadata: COUNT(*) = Σ docs,
    * COUNT(col) = Σ (docs − nullCount), SUM/AVG from writer-recorded
    * exact sums (builder-gated to non-nullable integral columns whose
    * exact totals FIT IN LONG, so `.longValue` below never wraps —
    * overflowing totals refused the push and keep Spark's own
    * ANSI/legacy overflow semantics), MIN/MAX from the per-segment
    * bounds.
    */
  private def driverRow: Array[Any] = {
    val metas = segmentPaths.map(PinotScan.segmentMeta)
    val live = metas.filter(m => m != null && m.totalDocs > 0)
    val docsTotal = metas.map(m => if (m == null) 0L else m.totalDocs.toLong).sum
    def sumBig(c: String): BigInt =
      live.foldLeft(BigInt(0))((acc, m) => acc + m.columns(c).sumValue.get)
    def bound(c: String, isMin: Boolean): Any =
      if (live.isEmpty) null
      else {
        val raw = live.map { m =>
          val cm = m.columns(c)
          if (isMin) cm.minValue.get else cm.maxValue.get
        }
        // typed reduce: float/double fold with java compare (NaN
        // largest, matching Spark); timestamps are stored millis and
        // surface as Catalyst micros
        colType(c) match {
          case org.apache.spark.sql.types.IntegerType =>
            val vs = raw.map(BigInt(_))
            (if (isMin) vs.min else vs.max).toInt
          case org.apache.spark.sql.types.FloatType =>
            raw.map(_.toFloat).reduce((a, b) =>
              if ((java.lang.Float.compare(a, b) <= 0) == isMin) a else b)
          case org.apache.spark.sql.types.DoubleType =>
            raw.map(_.toDouble).reduce((a, b) =>
              if ((java.lang.Double.compare(a, b) <= 0) == isMin) a else b)
          case org.apache.spark.sql.types.TimestampType =>
            val vs = raw.map(_.toLong)
            Math.multiplyExact(if (isMin) vs.min else vs.max, 1000L)
          case _ =>
            val vs = raw.map(BigInt(_))
            (if (isMin) vs.min else vs.max).toLong
        }
      }
    funcs.map {
      case Count(c) =>
        metas.map(m => if (m == null) 0L
          else (m.totalDocs - m.columns.get(c).fold(0)(_.nullCount)).toLong)
          .sum: Any
      case Sum(c) => if (live.isEmpty) null else sumBig(c).longValue: Any
      case Avg(c) =>
        if (live.isEmpty) null else sumBig(c).toDouble / docsTotal: Any
      case Min(c) => bound(c, isMin = true)
      case Max(c) => bound(c, isMin = false)
    }
  }
}

/** Who answers a pushed aggregate, chosen once by the builder.
  * `complete`: Spark accepted complete pushdown and plans no final
  * aggregate, so the scan's rows are the answer.
  */
sealed trait AggPlan { def complete: Boolean }

object AggPlan {
  /** The driver computes the one final row from cached metadata. */
  case object DriverRow extends AggPlan { val complete = true }
  /** Each segment answers from its metadata (key-pure groups) or its
    * dictionary (single-column DISTINCT). Complete only for a lone
    * segment, whose rows are final.
    */
  final case class SegmentMeta(complete: Boolean) extends AggPlan
  /** Each segment rolls its star-tree records up to the group columns. */
  final case class StarTree(complete: Boolean) extends AggPlan
  /** Each task aggregates forward indexes over group-id histograms;
    * `topN` (sort keys over the scan's output layout, limit) keeps only
    * the best groups, and is pushed only over a complete histogram.
    */
  final case class Histogram(complete: Boolean,
      topN: Option[(Array[TopNKey], Int)] = None) extends AggPlan
}

/** One pushed aggregate function, translated once from Spark's
  * [[AggregateFunc]]; every reader decodes this type. `Count("")` is
  * COUNT(*); COUNT(col) reaches a reader only where its null count is
  * known (metadata) or zero (histogram, star-tree).
  */
sealed trait PushedFunc {
  def column: String

  /** The star-tree metric that answers this function, if any. COUNT of
    * a (builder-validated non-nullable) column is COUNT(*).
    */
  def starMetric: Option[graft.pinot.StarTree.Metric] = this match {
    case PushedFunc.Count(_) => Some(graft.pinot.StarTree.Metric("COUNT", ""))
    case PushedFunc.Sum(c) => Some(graft.pinot.StarTree.Metric("SUM", c))
    case PushedFunc.Min(c) => Some(graft.pinot.StarTree.Metric("MIN", c))
    case PushedFunc.Max(c) => Some(graft.pinot.StarTree.Metric("MAX", c))
    case PushedFunc.Avg(_) => None
  }
}

object PushedFunc {
  final case class Count(column: String) extends PushedFunc
  final case class Sum(column: String) extends PushedFunc
  final case class Min(column: String) extends PushedFunc
  final case class Max(column: String) extends PushedFunc
  /** Only under complete pushdown: partial pushdown sees AVG rewritten
    * to SUM+COUNT by Spark.
    */
  final case class Avg(column: String) extends PushedFunc

  def fieldName(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }

  /** None for DISTINCT variants, other functions and non-column inputs. */
  def of(f: AggregateFunc): Option[PushedFunc] = f match {
    case _: aggregate.CountStar => Some(Count(""))
    case c: aggregate.Count if !c.isDistinct => fieldName(c.column()).map(Count)
    case s: aggregate.Sum if !s.isDistinct => fieldName(s.column()).map(Sum)
    case a: aggregate.Avg if !a.isDistinct => fieldName(a.column()).map(Avg)
    case m: aggregate.Min => fieldName(m.column()).map(Min)
    case m: aggregate.Max => fieldName(m.column()).map(Max)
    case _ => None
  }

  /** Every function of `agg`, or None when one does not translate. */
  def all(agg: Aggregation): Option[Array[PushedFunc]] = {
    val fs = agg.aggregateExpressions.map(of)
    if (fs.forall(_.isDefined)) Some(fs.map(_.get)) else None
  }
}

/** One pushed sort key over the aggregate scan's output layout:
  * `outIdx` indexes the (group columns ++ aggregates) row. Nullability
  * is impossible on the accepting path, so only direction is carried.
  */
case class TopNKey(outIdx: Int, descending: Boolean)

/** How many rows a plain scan returns, chosen once by the builder. */
sealed trait RowCap {
  /** The LIMIT Spark pushed, if any (it includes a pushed offset). */
  def pushedLimit: Option[Int] = None
}

object RowCap {
  case object NoCap extends RowCap
  /** Fully pushed, with no filters: the split emits rows
    * `[offset, limit)` in range order under one global budget; `limit`
    * None is a bare OFFSET.
    */
  final case class Budget(offset: Int, limit: Option[Int]) extends RowCap {
    override def pushedLimit: Option[Int] = limit
  }
}

/** A pushed single-key ORDER BY + LIMIT over a plain scan, applied per
  * range. `sorted` — the column is stored sorted in every segment, so
  * the range's top-k is a doc-range slice (no sort-column decode);
  * otherwise the reader decodes the sort column, heap-selects the k best
  * docs, and decodes the remaining columns only for those.
  */
case class ScanTopN(column: String, descending: Boolean, limit: Int,
    sorted: Boolean) extends RowCap

/** The driver-answered aggregate: one precomputed row. */
class PinotDriverRowFactory(row: Array[Any]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    PinotScan.rowReader(Iterator.single(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        row.clone())))
}

/** Per-segment rows from metadata and dictionaries (`AggPlan.SegmentMeta`). */
class PinotAggReaderFactory(funcs: Array[PushedFunc],
    groupCols: Array[String] = Array.empty)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    PinotScan.rowReader(
      PinotScan.wholeSegmentPaths(partition).flatMap(segmentRows))

  /** One segment's partial rows. */
  private def segmentRows(path: String)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import PushedFunc._
    val reader = SegmentReader.open(path)
    val docs = reader.metadata.totalDocs
    // every branch below materializes eagerly (dictionary arrays,
    // metadata scalars), so the channel can be released before the
    // iterator is handed to Spark — no fd outlives createReader
    try if (groupCols.nonEmpty && funcs.isEmpty) {
      // DISTINCT pushdown: the segment's dictionary IS its distinct
      // value set (Pinot builds dictionaries from the segment's own
      // values) — emit one row per entry, never touch the forward
      // index; Spark's final aggregate dedups across segments
      if (docs == 0) Iterator.empty
      else {
        val col = groupCols(0)
        val dict = reader.dictionary(col)
        val valueAt = PinotScan.dictValueAt(dict,
          reader.metadata.column(col).dataType, col)
        Array.tabulate(dict.size)(id =>
          new GenericInternalRow(Array(valueAt(id))): InternalRow).iterator
      }
    } else if (docs == 0 && groupCols.nonEmpty) {
      Iterator.empty // no key → no group row
    } else {
      // key-pure group columns: the segment's single key value comes
      // straight from metadata (min == max, builder-validated)
      val keys: Array[Any] = groupCols.map { c =>
        val cm = reader.metadata.column(c)
        PinotValues.catalystBound(cm.dataType, cm.minValue.get).get
      }
      val values: Array[Any] = funcs.map {
        // COUNT(col) on a nullable column: docs − nullCount (exact)
        case Count(c) =>
          (docs - reader.metadata.columns.get(c).fold(0)(_.nullCount)).toLong
        case _ if docs == 0 => null
        // writer-recorded exact sum, builder-gated to integral columns
        // whose per-segment sums fit in long — Spark's final merge owns
        // any cross-segment overflow semantics
        case Sum(c) =>
          reader.metadata.column(c).sumValue.getOrElse(
            throw new graft.pinot.PinotFormatException(
              s"SUM pushdown without recorded sum for $c")).longValue
        case Min(c) => dictMinMax(reader, c, isMin = true)
        case Max(c) => dictMinMax(reader, c, isMin = false)
        case f => throw new IllegalStateException(s"unexpected partial agg $f")
      }
      Iterator.single(new GenericInternalRow(keys ++ values))
    } finally reader.close()
  }

  /** MIN/MAX over the segment's dictionary values (all dictionary entries
    * are present in the column — Pinot builds dictionaries from the
    * segment's own values). Falls back to a full column decode only if a
    * segment unexpectedly lacks the dictionary. Float/double use
    * `j.l.{Float,Double}.compare`, matching Spark's NaN-is-largest order.
    */
  private def dictMinMax(reader: SegmentReader, col: String, isMin: Boolean): Any = {
    val cm = reader.metadata.column(col)
    def reduceI(a: Array[Int]) = if (isMin) a.min else a.max
    def reduceL(a: Array[Long]) = if (isMin) a.min else a.max
    def reduceF(a: Array[Float]) =
      a.reduce((x, y) => if ((java.lang.Float.compare(x, y) <= 0) == isMin) x else y)
    def reduceD(a: Array[Double]) =
      a.reduce((x, y) => if ((java.lang.Double.compare(x, y) <= 0) == isMin) x else y)
    if (cm.hasDictionary) reader.dictionary(col) match {
      case PinotDictionary.Ints(v) => reduceI(v)
      case PinotDictionary.Longs(v) => reduceL(v)
      case PinotDictionary.Floats(v) => reduceF(v)
      case PinotDictionary.Doubles(v) => reduceD(v)
      case other => throw new graft.pinot.PinotFormatException(
        s"MIN/MAX pushdown on unsupported dictionary $other")
    } else {
      // RAW numeric: writer-recorded metadata bounds answer exactly
      // (String.valueOf → parse is a lossless roundtrip for numerics);
      // a full decode is only the defensive fallback
      val bound = (if (isMin) cm.minValue else cm.maxValue)
        .flatMap(PinotValues.bound(cm.dataType, _))
      (bound, cm.dataType) match {
        case (Some(b), PinotType.PInt | PinotType.PLong | PinotType.PFloat |
            PinotType.PDouble) => b
        case (None, PinotType.PInt) => reduceI(reader.readIntColumn(col))
        case (None, PinotType.PLong) => reduceL(reader.readLongColumn(col))
        case (None, PinotType.PFloat) => reduceF(reader.readFloatColumn(col))
        case (None, PinotType.PDouble) => reduceD(reader.readDoubleColumn(col))
        case (_, other) => throw new graft.pinot.PinotFormatException(
          s"MIN/MAX pushdown on RAW ${other.name} column $col")
      }
    }
  }
}

/** Per-segment star-tree rollup: reads the pre-aggregated records, folds
  * them to the requested group columns (dims not grouped roll up — the
  * star-node semantics, executed in the task instead of materialized on
  * disk), translates dict ids through the dims' dictionaries, and emits
  * one partial row per surviving combo. Spark's final aggregate merges
  * across segments. The forward index is NEVER read.
  */
class PinotStarTreeReaderFactory(groupCols: Array[String],
    funcs: Array[PushedFunc]) extends PartitionReaderFactory {

  import graft.pinot.StarTree

  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    PinotScan.rowReader(
      PinotScan.wholeSegmentPaths(partition).flatMap(segmentRows))

  /** One segment's rolled-up partial rows. */
  private def segmentRows(path: String)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

    val reader = SegmentReader.open(path)
    // the star-tree sections and dim dictionaries are fully materialized
    // below (keyLookup closes over decoded arrays), so the channel is
    // released before the lazy row iterator escapes
    try if (reader.metadata.totalDocs == 0) Iterator.empty
    else {
      val tree = reader.starTree.getOrElse(
        throw new graft.pinot.PinotFormatException(
          s"segment $path lost its star-tree after planning"))
      val colType: String => PinotType =
        c => reader.metadata.column(c).dataType
      val treeDbl = tree.metrics.map(StarTree.isDouble(_, colType))
      val dimIdx = groupCols.map { c =>
        val i = tree.dims.indexOf(c)
        if (i < 0) throw new graft.pinot.PinotFormatException(
          s"star-tree of $path lacks dim $c")
        i
      }
      val wanted = funcs.map(f => f.starMetric.getOrElse(
        throw new IllegalStateException(s"unexpected star agg $f")))
      val metricIdx = wanted.map { w =>
        val i = tree.metrics.indexWhere(_.key == w.key)
        if (i < 0) throw new graft.pinot.PinotFormatException(
          s"star-tree of $path lacks metric ${w.key}")
        i
      }
      // roll leaf records up to the requested dims
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[scala.collection.immutable.ArraySeq[Int], Array[Long]]
      var r = 0
      while (r < tree.dimIds.length) {
        val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(
          dimIdx.map(tree.dimIds(r)(_)))
        acc.get(key) match {
          case None => acc(key) = metricIdx.map(tree.values(r)(_))
          case Some(cur) =>
            var i = 0
            while (i < cur.length) {
              val mi = metricIdx(i)
              cur(i) = StarTree.mergeBits(tree.metrics(mi), treeDbl(mi),
                cur(i), tree.values(r)(mi))
              i += 1
            }
        }
        r += 1
      }
      // dict id → Catalyst value, per group column
      val keyLookup: Array[Int => Any] = groupCols.map(c =>
        PinotScan.dictValueAt(reader.dictionary(c), colType(c), c))
      // metric bits → Catalyst value in the readSchema's field type
      val valLookup: Array[Long => Any] = wanted.zip(metricIdx).map {
        case (w, mi) =>
          val dbl = treeDbl(mi)
          w.func match {
            case "COUNT" => (bits: Long) => bits: Any
            case "SUM" =>
              if (dbl) (bits: Long) => java.lang.Double.longBitsToDouble(bits): Any
              else (bits: Long) => bits: Any
            case _ => // MIN/MAX surface in the column's own type
              colType(w.column) match {
                case PinotType.PInt => (bits: Long) => bits.toInt: Any
                case PinotType.PLong => (bits: Long) => bits: Any
                case PinotType.PFloat =>
                  (bits: Long) => java.lang.Double.longBitsToDouble(bits).toFloat: Any
                case PinotType.PDouble =>
                  (bits: Long) => java.lang.Double.longBitsToDouble(bits): Any
                case other => throw new graft.pinot.PinotFormatException(
                  s"star-tree MIN/MAX over ${other.name} column ${w.column}")
              }
          }
      }
      acc.iterator.map { case (key, vals) =>
        val out = new Array[Any](key.length + vals.length)
        var i = 0
        while (i < key.length) { out(i) = keyLookup(i)(key(i)); i += 1 }
        var j = 0
        while (j < vals.length) { out(key.length + j) = valLookup(j)(vals(j)); j += 1 }
        new GenericInternalRow(out): InternalRow
      }
    } finally reader.close()
  }
}

object PinotScan {

  /** A partition reader over rows already computed (or computed lazily
    * per segment) by an aggregate reader. */
  private[pinot] def rowReader(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: org.apache.spark.sql.catalyst.InternalRow = null
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }

  /** The segments of an aggregate task's split. Metadata, dictionary and
    * star-tree answers cover whole segments only, so a partial range is
    * a planning bug.
    */
  private[pinot] def wholeSegmentPaths(partition: InputPartition): Iterator[String] =
    partition.asInstanceOf[PinotSplit].ranges.iterator.map { r =>
      if (!r.isWhole) throw new IllegalStateException(
        s"aggregate reader given a partial range $r")
      r.path
    }

  /** Dictionary id → Catalyst value for a column of type `tpe`: BOOLEAN
    * dictionaries store ints 0/1, TIMESTAMP ones epoch millis (Catalyst
    * counts micros). Shared by the DISTINCT, star-tree and histogram
    * key paths.
    */
  private[pinot] def dictValueAt(dict: PinotDictionary, tpe: PinotType,
      col: String): Int => Any = (dict, tpe) match {
    case (PinotDictionary.Ints(v), PinotType.PBoolean) => id => v(id) != 0
    case (PinotDictionary.Ints(v), _) => id => v(id)
    case (PinotDictionary.Longs(v), PinotType.PTimestamp) =>
      id => Math.multiplyExact(v(id), 1000L)
    case (PinotDictionary.Longs(v), _) => id => v(id)
    case (PinotDictionary.Floats(v), _) => id => v(id)
    case (PinotDictionary.Doubles(v), _) => id => v(id)
    case (PinotDictionary.Strings(v), _) => id => UTF8String.fromString(v(id))
    case (other, t) => throw new graft.pinot.PinotFormatException(
      s"unsupported dictionary $other for $col:${t.name}")
  }

  /** Spark field types → (Pinot storage type, isSingleValue) for
    * schema-evolution defaults (the reverse of PinotType.sparkType).
    * Arrays map to the element's storage type with isSingleValue=false
    * (default = empty array); DecimalType to BIG_DECIMAL (default = 0).
    */
  private[pinot] def expectedTypes(schema: org.apache.spark.sql.types.StructType)
      : Map[String, (PinotType, Boolean)] = {
    def scalar(dt: org.apache.spark.sql.types.DataType): Option[PinotType] =
      dt match {
        case org.apache.spark.sql.types.IntegerType => Some(PinotType.PInt)
        case org.apache.spark.sql.types.LongType => Some(PinotType.PLong)
        case org.apache.spark.sql.types.FloatType => Some(PinotType.PFloat)
        case org.apache.spark.sql.types.DoubleType => Some(PinotType.PDouble)
        case org.apache.spark.sql.types.StringType => Some(PinotType.PString)
        case org.apache.spark.sql.types.BooleanType => Some(PinotType.PBoolean)
        case org.apache.spark.sql.types.TimestampType => Some(PinotType.PTimestamp)
        case org.apache.spark.sql.types.BinaryType => Some(PinotType.PBytes)
        case _: org.apache.spark.sql.types.DecimalType => Some(PinotType.PBigDecimal)
        case _ => None
      }
    schema.fields.flatMap { f =>
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) =>
          scalar(et).map(t => f.name -> (t, false))
        case dt => scalar(dt).map(t => f.name -> (t, true))
      }
    }.toMap
  }

  /** Driver-side may-match from cached metadata min/max ONLY — used by
    * runtime (DPP) filtering, where opening segment dictionaries on the
    * driver for thousands of segments would be a metadata stampede.
    * Sound: unknown columns/bounds/types never prune.
    */
  private[pinot] def metaMayMatch(meta: graft.pinot.SegmentMetadata,
      f: Filter): Boolean = f match {
    case EqualTo(attr, v) => withinMinMax(meta, attr, v)
    case In(attr, values) => values.exists(v => withinMinMax(meta, attr, v))
    case _ => true
  }

  private def withinMinMax(meta: graft.pinot.SegmentMetadata, attr: String,
      v: Any): Boolean =
    meta.columns.get(attr) match {
      case Some(cm) if cm.isSingleValue =>
        PinotValues.probe(cm.dataType, v).forall(p =>
          PinotValues.boundsAdmit(cm, Some(p), true, Some(p), true))
      case _ => true
    }

  def segmentDocs(path: String): Long = {
    val m = segmentMeta(path)
    if (m == null) 0L else m.totalDocs.toLong
  }

  /** Doc count that REFUSES an unreadable segment instead of reporting
    * 0. The execution-side pushdowns (offset skips, sorted/value top-N
    * ranges) size their doc windows from this — treating a transient
    * metadata failure as an empty segment would silently shift or drop
    * pushed rows, where the pre-pushdown behavior was a loud open
    * failure. Planning-time ESTIMATES keep the lenient 0.
    */
  def segmentDocsStrict(path: String): Long = {
    val m = segmentMeta(path)
    if (m == null) throw new graft.pinot.PinotFormatException(
      s"unreadable segment metadata for $path (doc count required by a " +
        "pushed offset/top-N)")
    m.totalDocs.toLong
  }

  // Parsed metadata.properties per segment path (immutable → cacheable;
  // new segments arrive under new paths). LRU-BOUNDED: a long-lived
  // session planning over many ephemeral table dirs must not grow the
  // map without bound — eviction only costs a cheap re-parse.
  private val metaCache = new LruCache[String, graft.pinot.SegmentMetadata](65536)
  private val MetaMiss: graft.pinot.SegmentMetadata = null

  /** Parsed metadata.properties per segment path (immutable → cacheable);
    * null when unreadable.
    */
  def segmentMeta(path: String): graft.pinot.SegmentMetadata =
    segmentMetaVia(path, null)

  /** Same cache, caller-supplied IO: remote opens prefetch through the
    * table's own IO; custom (test) IOs never route through `forPath`.
    */
  def segmentMetaVia(path: String, io: graft.pinot.SegmentIO): graft.pinot.SegmentMetadata =
    metaCache.getOrCompute(path, p => {
      try metaFetch(p,
        if (io == null) graft.pinot.SegmentIO.forPath(p) else io)
      catch { case _: Throwable => MetaMiss }
    })

  /** One GET, no existence probe: read `<dir>/metadata.properties`
    * directly (discovery hands the meta dir itself), falling back to the
    * `v3/` spelling only when that read fails — on object stores the
    * old exists()+read pair was two round trips per segment.
    */
  private def metaFetch(p: String,
      io: graft.pinot.SegmentIO): graft.pinot.SegmentMetadata = {
    def read(f: String) = graft.pinot.SegmentMetadata.parse(new String(
      io.readFully(f), java.nio.charset.StandardCharsets.UTF_8))
    try read(io.resolve(p, "metadata.properties"))
    catch { case _: Throwable =>
      read(io.resolve(io.resolve(p, "v3"), "metadata.properties"))
    }
  }

  /** Evict a table's segment entries — the table-open path calls this on
    * a catalog-cache fingerprint MISS, where cached per-segment metadata
    * may be stale for an IN-PLACE overwrite (same path, new content).
    */
  def invalidateMetas(paths: Seq[String]): Unit = paths.foreach(metaCache.remove)

  /** Seed the plan-time cache from an already-validated source (the
    * table manifest): later segmentMeta/prefetch calls hit memory.
    */
  def cacheMeta(path: String, m: graft.pinot.SegmentMetadata): Unit =
    metaCache.put(path, m)

  /** Driver-side BULK metadata fetch for a cold table open: all missing
    * segments' `metadata.properties` load CONCURRENTLY (bounded pool)
    * into the plan-time cache, so schema inference and min/max pruning
    * afterwards hit memory. Cold-opening a 10k-segment object-store
    * table costs one listing + 10k PARALLEL GETs (~10k/32 round-trip
    * latencies of wall time) instead of ~20-30k sequential ones.
    * Fetches run OUTSIDE the cache lock (LruCache serializes computes);
    * a racing duplicate fetch is harmless (immutable value, last wins).
    */
  def prefetchMetas(paths: Seq[String], io: graft.pinot.SegmentIO): Unit = {
    // eviction is the CALLER's decision (PinotSegmentTable.open evicts
    // on a fingerprint miss BEFORE seeding from the manifest) — an
    // invalidation entry point here would race the manifest seeding
    val missing = paths.filter(p => metaCache.get(p).isEmpty)
    if (missing.isEmpty) return
    val par = math.min(32, missing.length)
    if (par <= 1 || (io eq graft.pinot.LocalSegmentIO)) {
      // local nio is latency-free; a pool would only add overhead
      missing.foreach(segmentMetaVia(_, io))
      return
    }
    missing.map { p =>
      p -> prefetchPool.submit(new Runnable {
        override def run(): Unit = {
          val m = try metaFetch(p, io) catch { case _: Throwable => MetaMiss }
          metaCache.put(p, m)
        }
      })
    }.foreach { case (p, f) =>
      // a wedged remote GET must not hang table open: degrade this
      // segment to MetaMiss (planning falls back to stat-based sizing)
      // and move on. A late completion overwrites the miss harmlessly.
      try f.get(prefetchTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case _: java.util.concurrent.TimeoutException =>
        f.cancel(true)
        if (metaCache.get(p).isEmpty) metaCache.put(p, MetaMiss)
      }
    }
  }

  /** Shared daemon pool for metadata prefetch — table opens are
    * driver-side and bursty; creating/tearing down 32 threads per cold
    * open (r9) wasted ~ms and risked unbounded thread churn under
    * concurrent opens.
    */
  private lazy val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(32,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-meta-prefetch-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })

  /** Per-segment metadata fetch timeout during prefetch (ms). */
  private def prefetchTimeoutMs: Long =
    java.lang.Long.getLong("graft.pinot.metaFetchTimeoutMs", 30000L)

  /** One pushed `get_json_object(col, path)` probe; the index answers
    * each with an advisory candidate superset (residual authoritative).
    */
  sealed trait JsonProbe extends Serializable {
    def col: String
    def path: String
  }
  /** `= v` / `<=> v` / `IN (v1…vn)` — candidates may equal ANY of
    * `values` (never empty; the rule drops degenerate lists).
    */
  final case class JsonEqProbe(col: String, path: String,
      values: Seq[String]) extends JsonProbe
  /** `IS NOT NULL` — candidates where the path may yield any value. */
  final case class JsonExistsProbe(col: String, path: String)
      extends JsonProbe
  /** `> / >= / < / <=` against a string literal — candidates whose
    * rendered value may fall inside `(lo, hi)` with the given bound
    * inclusivities, in Spark's UTF8String (unsigned UTF-8 byte) order.
    */
  final case class JsonRangeProbe(col: String, path: String,
      lo: Option[String], loInc: Boolean,
      hi: Option[String], hiInc: Boolean) extends JsonProbe
  /** `IS NULL` — candidates are everything except the docs the index
    * PROVES non-null at the path (complemented scan-side over the
    * segment's doc range); always answerable, no refusal cases.
    */
  final case class JsonNullProbe(col: String, path: String)
      extends JsonProbe

  /** Read-option key carrying pushed `get_json_object` probes
    * (equality / IN-list / IS NOT NULL / string range) from the
    * [[graft.plans.JsonIndexRule]] optimizer rule into the scan (V1
    * source filters cannot express them). Value: comma-joined probes of
    * colon-joined url-base64 fields, tagged by kind:
    * `e:col:path:v1[:v2…]` equality/IN, `x:col:path` exists,
    * `z:col:path` is-null,
    * `r:col:path:loTag:lo:hiTag:hi` range (`loTag`/`hiTag` one of
    * `i` inclusive / `s` strict / `n` none; absent bound encodes "").
    */
  val JsonEqOptionKey = "graft.jsonEqFilters"

  def encodeJsonProbes(probes: Seq[JsonProbe]): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
    def b64(s: String) =
      enc.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def tag(b: Option[String], inc: Boolean) =
      if (b.isEmpty) "n" else if (inc) "i" else "s"
    probes.map {
      case JsonEqProbe(c, p, vs) =>
        (Seq("e", b64(c), b64(p)) ++ vs.map(b64)).mkString(":")
      case JsonExistsProbe(c, p) => s"x:${b64(c)}:${b64(p)}"
      case JsonNullProbe(c, p) => s"z:${b64(c)}:${b64(p)}"
      case JsonRangeProbe(c, p, lo, loInc, hi, hiInc) =>
        Seq("r", b64(c), b64(p), tag(lo, loInc), b64(lo.getOrElse("")),
          tag(hi, hiInc), b64(hi.getOrElse(""))).mkString(":")
    }.mkString(",")
  }

  def decodeJsonProbes(s: String): Seq[JsonProbe] =
    if (s == null || s.isEmpty) Nil
    else s.split(',').toSeq.flatMap { t =>
      def un(x: String) = new String(
        java.util.Base64.getUrlDecoder.decode(x),
        java.nio.charset.StandardCharsets.UTF_8)
      def bound(tag: String, v: String): Option[(Option[String], Boolean)] =
        tag match {
          case "n" => Some((None, false))
          case "i" => Some((Some(un(v)), true))
          case "s" => Some((Some(un(v)), false))
          case _ => None
        }
      try {
        // limit -1: keep trailing empty fields (b64 of "" is empty —
        // an absent range bound or an empty-string equality value)
        t.split(":", -1) match {
          case a if a.length > 3 && a(0) == "e" =>
            Some(JsonEqProbe(un(a(1)), un(a(2)), a.drop(3).toSeq.map(un)))
          case Array("x", c, p) => Some(JsonExistsProbe(un(c), un(p)))
          case Array("z", c, p) => Some(JsonNullProbe(un(c), un(p)))
          case Array("r", c, p, lt, lv, ht, hv) =>
            for ((lo, loInc) <- bound(lt, lv); (hi, hiInc) <- bound(ht, hv))
              yield JsonRangeProbe(un(c), un(p), lo, loInc, hi, hiInc)
          case _ => None
        }
      } catch { case _: IllegalArgumentException => None }
    }

  /** Default task sizing target (Spark's files.maxPartitionBytes). Set
    * the `splitTargetBytes` read option to 0 to force the legacy strict
    * 1-task == 1-segment planning. Whatever the target, a table within
    * [[OneTaskMaxRows]] plans as ONE task: the byte count includes index
    * files the scan never reads, and one task below the floor beats the
    * second stage Spark adds above several.
    */
  val DefaultSplitTargetBytes: Long = 128L << 20

  /** Largest LIMIT a pushed top-N will honor: the per-task bounded heap
    * is O(limit); past this a full sort in Spark is the better plan.
    */
  val TopNPushCap: Int = 1 << 16

  /** Rows per decode window — split boundaries align to it. */
  private[pinot] val WindowRows = 8192

  /** Per-task row floor of the planner (16 windows, ~131k rows ≈ a few
    * ms of decode): no split task is planned smaller, and a whole table
    * within it plans as one task.
    */
  private[pinot] val OneTaskMaxRows: Long = 16L * WindowRows

  /** The table's total docs (cached metadata) are within the per-task
    * row floor, so one task answers it: with one input partition Spark
    * plans no exchange above the scan (graft.plans.SinglePartitionScan).
    */
  def fitsOneTask(segs: Seq[String]): Boolean =
    segs.iterator.map(segmentDocs).sum <= OneTaskMaxRows

  /** Lone-segment doc count past which the COMPLETE histogram pushdown
    * (one task, no final aggregate) yields to partial mode + doc-range
    * slices (low-cardinality keys only — see loneTooBigToFinal).
    * Measured on the 97,889-row PinotBench segment: partial mode's
    * extra merge stage + shuffle costs MORE than the saved decode
    * (~2× slower), and the post-optimization decode rate (~0.5 µs/row)
    * puts the crossover against ~60-90 ms of extra-stage cost at
    * ~200-300k rows — 32 windows ≈ 262k. A `def` so tests can override
    * the sys prop per-case.
    */
  private[pinot] def CompleteAggMaxDocs: Int =
    Integer.getInteger("graft.pinot.completeAggMaxDocs", 32 * WindowRows)

  /** Minimum rows per sliced histogram-aggregate task. Aggregate tasks
    * emit only O(cardinality) partial rows however many docs they scan,
    * so slices can be finer than plain-scan splits (2 windows ≈ 16k
    * rows ≈ the point where decode cost clears task-launch overhead).
    */
  private[pinot] def AggSliceRows: Int =
    Integer.getInteger("graft.pinot.aggSliceRows", 2 * WindowRows)

  /** Doc-range slices for forward-index-reading aggregate (histogram)
    * partial tasks. Row-targeted only — on-disk bytes are irrelevant
    * because these tasks read just the group/metric columns and their
    * cost is decode CPU per row. ~3 task waves per core when the table
    * is large enough; the `AggSliceRows` floor keeps small segments to
    * one task each.
    */
  def planAggSlices(segs: Seq[String]): Array[InputPartition] = {
    val infos = segs.map(p => (p, segmentDocs(p)))
    val target = math.max(AggSliceRows.toLong, perTask(infos.map(_._2).sum))
    infos.flatMap { case (p, docs) =>
      windowSlices(p, docs, ceilDiv(docs, target))
    }.map(r => PinotSplit(Seq(r)): InputPartition).toArray
  }

  /** Rows or bytes per task for ~3 task waves per core. The session's
    * parallelism sizes it; planning without a live session (a unit
    * test) assumes 8 cores.
    */
  private def perTask(total: Long): Long = {
    val parallelism =
      try org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
      catch { case NonFatal(_) => 8 }
    total / math.max(1L, 3L * parallelism)
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** One segment as at most `wanted` window-aligned doc-range slices,
    * the last ending at `docs`; a segment of one window, or one slice,
    * is a single whole range. Long arithmetic: docs near Int.MaxValue
    * would wrap the rounding (and `s0 + rows`) in Int.
    */
  private def windowSlices(path: String, docs: Long,
      wanted: Long): Seq[SegmentRange] = {
    val nSplits =
      if (docs <= WindowRows) 1L else math.min(wanted, ceilDiv(docs, WindowRows))
    if (nSplits <= 1) Seq(SegmentRange.whole(path))
    else {
      val rows = ceilDiv(ceilDiv(docs, nSplits), WindowRows) * WindowRows
      (0L until docs by rows).map(s0 =>
        SegmentRange(path, s0.toInt, math.min(docs, s0 + rows).toInt))
    }
  }

  private val sizeCache = new LruCache[String, java.lang.Long](65536)

  /** Total on-disk bytes of a segment dir (immutable → cacheable).
    * Discovery hands the LEAF dir (v3/ or a v1 segment root), whose
    * index files sit directly in it — one listing per segment, any IO.
    */
  def segmentBytes(path: String): Long =
    sizeCache.getOrCompute(path, p => {
      try {
        val io = graft.pinot.SegmentIO.forPath(p)
        io.listFiles(p).map(f =>
          try io.size(f) catch { case NonFatal(_) => 0L }).sum
      } catch { case NonFatal(_) => 0L }
    })

  /** Sub-segment task planning (SURVEY §4's 100 TB mapping: "per-segment
    * splits grouped into tasks"). Each [[PinotSplit]] is one task's list
    * of [[SegmentRange]]s. A large segment splits into window-aligned
    * doc-range slices, one split each, so one huge segment saturates the
    * cluster instead of running as ONE task; tiny segments share one
    * split as whole ranges, so a million-segment table doesn't pay a
    * million task launches. The effective per-task size target adapts
    * downward (to ≥1 MB) when the table is small relative to the
    * cluster, so a single 16 MB segment still fans out across idle
    * cores; it never exceeds `targetBytes`. All sizing inputs are
    * driver-cached metadata — no column IO at planning time.
    * `targetBytes <= 0` plans one split per whole segment.
    *
    * One-task rule: a table whose total docs are within the row floor
    * ([[OneTaskMaxRows]]) is ONE split over every whole segment,
    * whatever its on-disk bytes. The byte count includes index files
    * (inverted, bloom, range, text, star-tree) that the scan never
    * reads, and below the floor one task beats the exchange and second
    * stage Spark plans above several.
    */
  def planSplits(segs: Seq[String], targetBytes: Long): Array[InputPartition] = {
    if (targetBytes <= 0 || segs.isEmpty)
      return segs.map(p => PinotSplit.wholeSegments(Seq(p)): InputPartition).toArray
    if (fitsOneTask(segs)) return Array(PinotSplit.wholeSegments(segs))
    val infos = segs.map(p => (p, segmentDocs(p), segmentBytes(p)))
    // ~3 task waves per core when data allows; floor 1 MB keeps tiny
    // tables from shattering into window-sized tasks
    val effTarget = math.max(1L << 20,
      math.min(targetBytes, perTask(infos.map(_._3).sum)))
    // decode cost scales with ROWS, not on-disk bytes (bit-packed dict
    // ids compress a 2M-row segment to ~2 MB) — a rows target keeps
    // CPU-bound scans parallel even when the bytes look tiny. The row
    // floor keeps each task's work well above launch overhead.
    val effRowTarget = math.max(OneTaskMaxRows, perTask(infos.map(_._2).sum))
    val out = Array.newBuilder[InputPartition]
    val group = scala.collection.mutable.ArrayBuffer.empty[SegmentRange]
    var groupBytes = 0L
    var groupRows = 0L
    def flush(): Unit = {
      if (group.nonEmpty) out += PinotSplit(group.toList)
      group.clear(); groupBytes = 0L; groupRows = 0L
    }
    infos.foreach { case (p, docs, bytes) =>
      val ranges = windowSlices(p, docs, math.max(ceilDiv(bytes, effTarget),
        ceilDiv(docs, effRowTarget)))
      if (ranges.length > 1) {
        flush()
        ranges.foreach(r => out += PinotSplit(Seq(r)))
      } else {
        if (group.nonEmpty &&
            (groupBytes + bytes > effTarget ||
             groupRows + docs > effRowTarget)) flush()
        group ++= ranges
        groupBytes += bytes
        groupRows += docs
      }
    }
    flush()
    out.result()
  }
}

/** Minimal synchronized LRU (access-order LinkedHashMap). Driver/executor
  * metadata caches sit on IO-dominated paths, so a lock beats unbounded
  * growth; values must tolerate recompute-after-evict.
  */
private[pinot] final class LruCache[K, V](max: Int) {
  private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > max
  }
  def getOrCompute(k: K, f: K => V): V = synchronized {
    if (m.containsKey(k)) m.get(k)
    else { val v = f(k); m.put(k, v); v }
  }
  def get(k: K): Option[V] = synchronized(Option(m.get(k)))
  def put(k: K, v: V): Unit = synchronized { m.put(k, v); () }
  def remove(k: K): Unit = synchronized { m.remove(k); () }
}

/** Docs `[start, end)` of one segment; `end = Int.MaxValue` reads to the
  * segment's end. Slice boundaries are multiples of the 8,192-row batch
  * window, and every decode path is position-addressable (fixed-bit ids,
  * raw chunks, MV offsets), so a range reads only its own windows.
  */
final case class SegmentRange(path: String, start: Int, end: Int) {
  def isWhole: Boolean = start == 0 && end == Int.MaxValue
}

object SegmentRange {
  def whole(path: String): SegmentRange = SegmentRange(path, 0, Int.MaxValue)
}

/** What one task reads: its segment ranges, in order. Planning makes a
  * slice of one large segment, whole tiny segments sharing a task, or
  * every segment of a fully pushed limit or of a table within the
  * one-task floor; aggregate tasks read whole segments, or histogram
  * slices. The complete metadata aggregate reads none.
  */
case class PinotSplit(ranges: Seq[SegmentRange]) extends InputPartition

object PinotSplit {
  def wholeSegments(paths: Seq[String]): PinotSplit =
    PinotSplit(paths.map(SegmentRange.whole).toList)
}

/** One segment holding exactly one partition-key value — feeds Spark's
  * storage-partitioned join (HasPartitionKey).
  */
case class PinotKeyedPartition(segmentPath: String,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Reads a split through one [[PinotChainReader]] over its ranges. Under
  * a global budget the split's rows `[offset, limit)` come back in range
  * order; otherwise each range's reader reads it whole or applies its
  * top-N.
  */
class PinotReaderFactory(columns: Array[String], skipFilters: Array[Filter],
    rowCap: RowCap = RowCap.NoCap,
    expectedTypes: Map[String, (PinotType, Boolean)] = Map.empty,
    jsonEq: Seq[PinotScan.JsonProbe] = Nil)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException("columnar-only reader")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val ranges = partition match {
      case PinotSplit(rs) => rs
      case PinotKeyedPartition(p, _) => Seq(SegmentRange.whole(p))
      case other => throw new IllegalArgumentException(s"unexpected $other")
    }
    rowCap match {
      // pushed rows are [offset, pushedLimit): the emission budget is
      // their difference (Spark pushed limit = user limit + offset)
      case RowCap.Budget(skip, limit) =>
        new PinotChainReader(ranges, plainReader,
          Some(limit.fold(Int.MaxValue)(l => math.max(0, l - skip))), skip)
      case _ => new PinotChainReader(ranges, (r, _) => rangeReader(r))
    }
  }

  private def plainReader(r: SegmentRange, cap: Option[Int])
      : PartitionReader[ColumnarBatch] =
    new PinotColumnarReader(r.path, columns, skipFilters, cap, expectedTypes,
      slice = Some((r.start, r.end)), jsonEq = jsonEq)

  /** One range's reader. Plain-scan top-N: EACH range contributes its
    * own top-k (sorted mode means sorted within each segment) and
    * Spark's TakeOrderedAndProject merges the survivors. Sorted mode
    * reads the range's first (ASC) or last (DESC) k docs; value mode
    * selects the k best docs and reads just those.
    */
  private def rangeReader(r: SegmentRange): PartitionReader[ColumnarBatch] =
    rowCap match {
      case t: ScanTopN =>
        val end =
          if (r.end == Int.MaxValue) PinotScan.segmentDocsStrict(r.path).toInt
          else r.end
        if (!t.sorted)
          new PinotChainReader(
            PinotValueTopN.winners(r.path, t, expectedTypes, r.start, end),
            (w, _) => plainReader(w, None))
        else if (t.descending)
          plainReader(SegmentRange(r.path, math.max(r.start, end - t.limit), end), None)
        else
          plainReader(SegmentRange(r.path, r.start, math.min(end, r.start + t.limit)), None)
      case _ => plainReader(r, None)
    }
}

/** Value-mode top-N over one segment's doc range `[lo, hi)`: pass 1
  * decodes ONLY the sort column (windowed, through the standard
  * columnar reader) and bounded-heap-selects the k best doc ids; the
  * winners come back as doc ranges over each contiguous run, so the
  * projected columns decode for just those docs. At 100 TB the non-sort
  * columns of a wide projection decode for k docs per task, not the
  * whole segment. Partial-push contract: any k docs carrying the best k
  * sort values are a correct partition answer (single key ⇒ the value
  * multiset is exact; Spark's TakeOrderedAndProject settles ties
  * exactly as it would unpushed).
  */
object PinotValueTopN {

  /** Per-type top-k selector over the probe batches. The hot loop is a
    * PRIMITIVE threshold check per row (the heap's current worst, cached
    * unboxed) — only genuine improvements touch the boxed heap, so a
    * 100M-row partition pays ~2 ns/row, not a boxing + virtual-compare
    * tax (measured 4× the whole unpushed query at 2M rows before this).
    */
  private sealed trait Selector {
    def consider(vec: org.apache.spark.sql.vectorized.ColumnVector,
        i: Int, doc: Int): Unit
    def docs: Array[Int]
  }

  /** Anything whose Spark ordering embeds into long: int/long/timestamp
    * directly, boolean as 0/1, float/double via the IEEE order
    * embedding ([[PinotHistAgg.rankDouble]]).
    */
  private abstract class LongRankSelector(
      desc: Boolean, k: Int) extends Selector {
    /** Primitive-returning abstract method (NOT a Function2 — a generic
      * lambda would box the long on every row).
      */
    protected def read(vec: org.apache.spark.sql.vectorized.ColumnVector,
        i: Int): Long
    private val top = new PinotHistAgg.LongTopK(k, desc)
    def consider(vec: org.apache.spark.sql.vectorized.ColumnVector,
        i: Int, doc: Int): Unit = top.offer(read(vec, i), doc)
    def docs: Array[Int] = top.ids
  }

  /** Strings: UTF8String.compareTo IS Spark's order; the threshold is
    * the heap root, compared per row without boxing (vector accessors
    * hand out transient UTF8Strings; clones happen only on insert).
    */
  private final class StringSelector(desc: Boolean, k: Int)
      extends Selector {
    private val heapV = new Array[UTF8String](k)
    private val heapD = new Array[Int](k)
    private var size = 0
    private def worse(a: UTF8String, b: UTF8String): Boolean =
      if (desc) a.compareTo(b) < 0 else a.compareTo(b) > 0
    private def siftDown(i0: Int): Unit = {
      var i = i0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < size && worse(heapV(l), heapV(w))) w = l
        if (r < size && worse(heapV(r), heapV(w))) w = r
        if (w == i) return
        val tv = heapV(i); heapV(i) = heapV(w); heapV(w) = tv
        val td = heapD(i); heapD(i) = heapD(w); heapD(w) = td
        i = w
      }
    }
    def consider(vec: org.apache.spark.sql.vectorized.ColumnVector,
        i: Int, doc: Int): Unit = {
      val v = vec.getUTF8String(i)
      if (size < k) {
        heapV(size) = v.clone(); heapD(size) = doc; size += 1
        if (size == k) {
          var j = size / 2 - 1
          while (j >= 0) { siftDown(j); j -= 1 }
        }
      } else if (worse(heapV(0), v)) {
        heapV(0) = v.clone(); heapD(0) = doc; siftDown(0)
      }
    }
    def docs: Array[Int] = java.util.Arrays.copyOf(heapD, size)
  }

  /** The pass-1 hot loop lives in its own SMALL method: inside the big
    * `winners` body the JVM refuses to JIT it (DontCompileHugeMethods)
    * and the interpreted loop ran ~40× slower than the same code
    * compiled.
    */
  private def drainProbe(probe: PinotColumnarReader, sel: Selector,
      lo: Int): Unit = {
    var absBase = lo
    while (probe.next()) {
      val batch = probe.get()
      val vec = batch.column(0)
      val n = batch.numRows()
      var i = 0
      while (i < n) { sel.consider(vec, i, absBase + i); i += 1 }
      absBase += n
    }
  }

  /** The k best docs of `[lo, hi)` as contiguous doc ranges, ascending. */
  def winners(path: String, topN: ScanTopN,
      expectedTypes: Map[String, (PinotType, Boolean)],
      lo: Int, hi: Int): Seq[SegmentRange] = {
    val tpe = expectedTypes.get(topN.column).map(_._1).getOrElse(
      PinotScan.segmentMeta(path).columns(topN.column).dataType)
    // pass 1: sort column only
    val probe = new PinotColumnarReader(path, Array(topN.column),
      Array.empty, None, expectedTypes, slice = Some((lo, hi)))
    val k = topN.limit
    import org.apache.spark.sql.vectorized.ColumnVector
    val sel: Selector = tpe match {
      case PinotType.PInt =>
        new LongRankSelector(topN.descending, k) {
          protected def read(v: ColumnVector, i: Int): Long = v.getInt(i).toLong
        }
      case PinotType.PLong | PinotType.PTimestamp =>
        new LongRankSelector(topN.descending, k) {
          protected def read(v: ColumnVector, i: Int): Long = v.getLong(i)
        }
      case PinotType.PBoolean =>
        new LongRankSelector(topN.descending, k) {
          protected def read(v: ColumnVector, i: Int): Long =
            if (v.getBoolean(i)) 1L else 0L
        }
      case PinotType.PFloat =>
        new LongRankSelector(topN.descending, k) {
          protected def read(v: ColumnVector, i: Int): Long =
            PinotHistAgg.rankDouble(v.getFloat(i).toDouble)
        }
      case PinotType.PDouble =>
        new LongRankSelector(topN.descending, k) {
          protected def read(v: ColumnVector, i: Int): Long =
            PinotHistAgg.rankDouble(v.getDouble(i))
        }
      case PinotType.PString => new StringSelector(topN.descending, k)
      case other => throw new graft.pinot.PinotFormatException(
        s"value top-N on unsupported type $other")
    }
    try drainProbe(probe, sel, lo)
    finally probe.close()
    val runs = collection.mutable.ArrayBuffer.empty[SegmentRange]
    sel.docs.sorted.foreach { d =>
      if (runs.nonEmpty && runs.last.end == d)
        runs(runs.length - 1) = runs.last.copy(end = d + 1)
      else runs += SegmentRange(path, d, d + 1)
    }
    runs.toSeq
  }
}

/** Drains one reader per [[SegmentRange]], in order: the reader of every
  * split, and of a value top-N's winner runs. With a `budget` (a fully
  * pushed limit) it emits at most that many rows, capping each range's
  * reader at what remains, after skipping the first `skip` rows (the
  * pushed offset): whole ranges skip on metadata doc counts without
  * opening the segment, and the boundary range starts mid-range. Without
  * one, each range's reader reads all it holds.
  */
final class PinotChainReader(ranges: Seq[SegmentRange],
    open: (SegmentRange, Option[Int]) => PartitionReader[ColumnarBatch],
    budget: Option[Int] = None, skip: Int = 0)
    extends PartitionReader[ColumnarBatch] {

  private val todo = ranges.iterator
  private var remaining = budget.getOrElse(Int.MaxValue)
  private var toSkip = skip.toLong
  private var cur: PartitionReader[ColumnarBatch] = null
  private var batch: ColumnarBatch = null

  /** What is left of `r` after the pending offset skip, if anything. */
  private def afterSkip(r: SegmentRange): Option[SegmentRange] =
    if (budget.isEmpty) Some(r)
    else {
      val docs = math.max(0L,
        math.min(r.end.toLong, PinotScan.segmentDocsStrict(r.path)) - r.start)
      if (toSkip >= docs) { toSkip -= docs; None }
      else {
        val start = r.start + toSkip.toInt
        toSkip = 0
        Some(r.copy(start = start))
      }
    }

  @scala.annotation.tailrec
  override def next(): Boolean =
    if (remaining <= 0) false
    else if (cur == null) {
      if (!todo.hasNext) false
      else {
        afterSkip(todo.next()).foreach(r => cur = open(r, budget.map(_ => remaining)))
        next()
      }
    } else if (cur.next()) {
      batch = cur.get()
      if (budget.isDefined) remaining -= batch.numRows()
      true
    } else {
      cur.close()
      cur = null
      next()
    }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Reads one segment: decodes each projected column **once** into primitive
  * arrays (≙ read_columns_once, exec.rs:66-148), then emits 8,192-row
  * `ColumnarBatch`es (BATCH_SIZE, exec.rs:24). An empty projection decodes
  * nothing and emits row-count-only batches.
  */
class PinotColumnarReader(segmentPath: String, columns: Array[String],
    skipFilters: Array[Filter] = Array.empty, limit: Option[Int] = None,
    expectedTypes: Map[String, (PinotType, Boolean)] = Map.empty,
    slice: Option[(Int, Int)] = None,
    jsonEq: Seq[PinotScan.JsonProbe] = Nil)
    extends PartitionReader[ColumnarBatch] {
  import PinotColumnarReader._

  private val BatchSize = 8192

  private lazy val reader = SegmentReader.open(segmentPath)

  private def colMeta(attr: String): Option[graft.pinot.ColumnMetadata] =
    try Some(reader.metadata.column(attr)) catch { case _: Throwable => None }

  /** Metadata of a single-value column: a filter on a multi-value column
    * has array semantics, so only null filters consult one.
    */
  private def svMeta(attr: String): Option[graft.pinot.ColumnMetadata] =
    colMeta(attr).filter(_.isSingleValue)

  private lazy val hasMV: Boolean =
    columns.exists(c => colMeta(c).exists(!_.isSingleValue))

  private def all: Cand = Cand(0, reader.totalDocs, None)
  private def none: Cand = Cand(0, 0, None)
  private def docs(bm: MutableRoaringBitmap): Cand =
    Cand(0, reader.totalDocs, Some(bm))

  /** The docs the pushed filters and JSON probes may match: each one's
    * [[candidate]] set, intersected once (stopping at the first empty
    * one). Always a superset of the matching docs — every filter stays
    * residual, so Spark's re-evaluation keeps results exact.
    */
  private lazy val candidates: Cand =
    skipFilters.foldLeft(jsonEqBitmap.fold(all)(docs))(_ & candidate(_))

  /** One pushed filter's candidate docs, from whichever sources answer
    * it: the dictionary, bloom filter, recorded min/max and null count
    * can empty the set; the sorted column bounds a doc interval; the
    * inverted, range, text or null-vector index gives a bitmap (EqualTo
    * asks the inverted index before the range index).
    */
  private def candidate(f: Filter): Cand = f match {
    case EqualTo(a, v) =>
      val byValue = valuesCand(a, Seq(v))
      byValue & spanCand(a, Some(v), true, Some(v), true,
        rangeIndex = byValue.bits.isEmpty)
    case In(a, vs) => valuesCand(a, vs.toSeq)
    case GreaterThan(a, v) => spanCand(a, Some(v), false, None, false)
    case GreaterThanOrEqual(a, v) => spanCand(a, Some(v), true, None, false)
    case LessThan(a, v) => spanCand(a, None, false, Some(v), false)
    case LessThanOrEqual(a, v) => spanCand(a, None, false, Some(v), true)
    case StringStartsWith(a, p) =>
      // every match lies in [p, next(p)), and contains p
      spanCand(a, Some(p), true, PinotValues.prefixNext(p), false) &
        textCand(a, p)
    case StringContains(a, p) => textCand(a, p)
    case StringEndsWith(a, p) => textCand(a, p)
    case IsNull(a) => nullCand(a, wantNull = true)
    case IsNotNull(a) => nullCand(a, wantNull = false)
    case _ => all
  }

  /** EqualTo / In: a dictionary or bloom filter holding none of the
    * values empties the set (the bloom is the point-lookup pruning path
    * for RAW columns, where min/max keeps any in-range probe; see
    * [[graft.pinot.BloomSection]]), and an inverted index gives the docs
    * of the matching dictionary ids.
    */
  private def valuesCand(attr: String, values: Seq[Any]): Cand =
    svMeta(attr).fold(all) { cm =>
      val ps = values.map(PinotValues.probe(cm.dataType, _))
      if (ps.contains(None)) all
      else {
        val probes = ps.flatten
        val ids =
          if (cm.hasDictionary) Some(equalIds(attr, cm.dataType, probes))
          else None
        def bloomMiss = (try reader.bloomFilter(attr)
          catch { case _: Throwable => None }).exists(b => !probes.exists(p =>
            b.mightContain(PinotValues.bloomKey(cm.dataType, p))))
        if (ids.exists(_.isEmpty) || bloomMiss) none
        else ids.filter(_ => cm.hasInvertedIndex).flatMap(ids =>
          reader.invertedIndex(attr).map { postings =>
            val acc = new MutableRoaringBitmap
            ids.foreach(id => acc.or(postings(id)))
            acc
          }).fold(all)(docs)
      }
    }

  /** Ids of the dictionary entries Spark-equal to any of `probes`. */
  private def equalIds(attr: String, tpe: PinotType,
      probes: Seq[Any]): Seq[Int] = {
    val dict = reader.dictionary(attr)
    (0 until dict.size).filter { id =>
      val v = PinotValues.stored(tpe, dict.value(id))
      probes.exists(PinotValues.compare(v, _) == 0)
    }
  }

  /** A range, point or prefix interval from `lo` to `hi` (None:
    * unbounded): the recorded [min, max] can rule it out, the sorted
    * column bounds its doc interval, and a range index (when asked) gives
    * the buckets that may hold it.
    */
  private def spanCand(attr: String, lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean, rangeIndex: Boolean = true): Cand =
    svMeta(attr).fold(all) { cm =>
      val l = lo.map(PinotValues.probe(cm.dataType, _))
      val h = hi.map(PinotValues.probe(cm.dataType, _))
      if (l.contains(None) || h.contains(None)) all
      else {
        val (pl, ph) = (l.flatten, h.flatten)
        if (!PinotValues.boundsAdmit(cm, pl, loInc, ph, hiInc)) none
        else sortedCand(attr, pl, loInc, ph, hiInc) &
          (if (rangeIndex && cm.hasRangeIndex)
             rangeCand(attr, cm.dataType, pl, loInc, ph, hiInc)
           else all)
      }
    }

  /** Range-index candidates (see [[graft.pinot.RangeSection]]): the OR
    * of the doc buckets whose exact [min, max] meets the probe interval.
    */
  private def rangeCand(attr: String, tpe: PinotType, lo: Option[Any],
      loInc: Boolean, hi: Option[Any], hiInc: Boolean): Cand = {
    val l = lo.map(PinotValues.rangeKey(tpe, _, loInc, lower = true))
    val h = hi.map(PinotValues.rangeKey(tpe, _, hiInc, lower = false))
    if (l.contains(None) || h.contains(None)) all
    else (try reader.rangeIndex(attr) catch { case _: Throwable => None })
      .fold(all) { idx =>
        val (kl, kh) = (l.flatten, h.flatten)
        docs(idx.matchBitmap(kl.map(_._1), kl.exists(_._2),
          kh.map(_._1), kh.exists(_._2)))
      }
  }

  /** Text-index candidates (EXTENSION — Pinot's `textIndexColumns`
    * capability; see [[graft.pinot.TextIndexSection]]) of a contains /
    * startsWith / endsWith probe: the OR of the postings of every
    * vocabulary token containing it. Sound because a whitespace-free
    * substring of the text lies inside one token; a probe with
    * whitespace never consults the index.
    */
  private def textCand(attr: String, v: Any): Cand =
    svMeta(attr).filter(_.hasTextIndex)
      .flatMap(cm => PinotValues.probe(cm.dataType, v))
      .collect { case p: String => p }
      .flatMap { p =>
        (try reader.textIndex(attr) catch { case _: Throwable => None })
          .flatMap(_.matchBitmap(p))
      }.fold(all)(docs)

  /** IS [NOT] NULL: the null count answers exactly whether any doc
    * matches (a column without a null vector has no null rows), and the
    * null vector, or its complement, gives the docs.
    */
  private def nullCand(attr: String, wantNull: Boolean): Cand =
    colMeta(attr) match {
      case None => all
      case Some(cm) if !cm.hasNullVector => if (wantNull) none else all
      case Some(cm) if (if (wantNull) cm.nullCount <= 0
                         else cm.nullCount >= reader.metadata.totalDocs) => none
      case Some(_) => reader.nullVector(attr).fold(all) { nv =>
        val m = new MutableRoaringBitmap
        m.or(nv)
        if (!wantNull) m.flip(0L, reader.totalDocs.toLong)
        docs(m)
      }
    }

  /** JSON-index candidates (EXTENSION — the capability of Pinot's
    * `jsonIndexColumns`; see [[graft.pinot.JsonIndexSection]]): AND
    * across the pushed `get_json_object` probes the column's index can
    * answer soundly. None when no probe is index-answerable (no index /
    * refused path / odd probe) — the scan then decodes normally and the
    * residual filter decides.
    */
  private lazy val jsonEqBitmap: Option[MutableRoaringBitmap] = {
    var acc: MutableRoaringBitmap = null
    jsonEq.foreach { probe =>
      if (colMeta(probe.col).exists(m => m.isSingleValue && m.hasJsonIndex)) {
        val ji = try reader.jsonIndex(probe.col)
          catch { case _: Throwable => None }
        ji.flatMap { sec =>
          probe match {
            case PinotScan.JsonEqProbe(_, p, values) =>
              sec.matchAnyBitmap(p, values)
            case PinotScan.JsonExistsProbe(_, p) => sec.existsBitmap(p)
            case PinotScan.JsonRangeProbe(_, p, lo, loInc, hi, hiInc) =>
              sec.rangeBitmap(p, lo, loInc, hi, hiInc)
            case PinotScan.JsonNullProbe(_, p) =>
              // candidates = complement of the provably-non-null docs
              val nn = sec.notNullBitmap(p)
              nn.flip(0L, reader.metadata.totalDocs.toLong)
              Some(nn)
          }
        }.foreach { m =>
          if (acc == null) acc = m.clone() else acc.and(m)
        }
      }
    }
    Option(acc)
  }

  /** The one sorted column that ranges the scan (extension; the reference
    * parses `isSorted` and drops it, metadata.rs:166-168): the first
    * filtered sorted single-value column of a numeric type, or a sorted
    * dictionary STRING column (RAW strings lack a cheap per-doc
    * accessor). None with a multi-value column projected.
    */
  private lazy val sortedCol: Option[String] =
    if (hasMV) None
    else skipFilters.iterator.flatMap(filterAttr).distinct.find { c =>
      colMeta(c).exists(cm => cm.isSorted && cm.isSingleValue &&
        (cm.dataType match {
          case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
               PinotType.PDouble | PinotType.PTimestamp => true
          case PinotType.PString => cm.hasDictionary
          case _ => false
        }))
    }

  private def filterAttr(f: Filter): Option[String] = f match {
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case EqualTo(a, _) => Some(a)
    case StringStartsWith(a, _) => Some(a)
    case _ => None
  }

  /** [[sortedCol]]'s value at a doc, in its domain: dictionary columns
    * random-access the packed id stream, RAW numerics the fixed-byte
    * index — a binary search reads O(log n) values, never the column.
    */
  private lazy val sortedValue: Int => Any = {
    val c = sortedCol.get
    val cm = reader.metadata.column(c)
    val raw: Int => Any =
      if (cm.hasDictionary) {
        val (fbr, dict) = (reader.dictIdReader(c), reader.dictionary(c))
        doc => dict.value(fbr.get(doc))
      } else {
        val fb = reader.fixedByteReader(c)
        cm.dataType match {
          case PinotType.PInt => doc => fb.readRangeInts(doc, 1)(0)
          case PinotType.PFloat => doc => fb.readRangeFloats(doc, 1)(0)
          case PinotType.PDouble => doc => fb.readRangeDoubles(doc, 1)(0)
          case _ => doc => fb.readRangeLongs(doc, 1)(0) // LONG, TIMESTAMP
        }
      }
    doc => PinotValues.stored(cm.dataType, raw(doc))
  }

  /** The doc interval of [[sortedCol]] between `lo` and `hi`, by binary
    * search: only that slice of every projected column decodes. The
    * writer's order keeps ±0.0 adjacent and NaN last, so the predicate
    * stays monotone under Spark comparison.
    */
  private def sortedCand(attr: String, lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean): Cand =
    if (!sortedCol.contains(attr)) all
    else {
      val n = reader.totalDocs
      // first doc above p (at or above p unless strict)
      def firstAbove(p: Any, strict: Boolean): Int = {
        var (a, b) = (0, n)
        while (a < b) {
          val mid = (a + b) >>> 1
          val c = PinotValues.compare(sortedValue(mid), p)
          if (c > 0 || !strict && c == 0) b = mid else a = mid + 1
        }
        a
      }
      Cand(
        lo.filter(PinotValues.rangesSorted).fold(0)(firstAbove(_, !loInc)),
        hi.filter(PinotValues.rangesSorted).fold(n)(firstAbove(_, hiInc)),
        None)
    }

  /** The doc interval this reader decodes: the candidates' interval,
    * clamped to the first and last doc of their bitmap unless a
    * multi-value column is projected (window skipping in next() still
    * applies), then to this task's slice.
    */
  private lazy val docRange: (Int, Int) = {
    val c = candidates
    val (lo, hi) = c.bits match {
      case _ if c.isEmpty => (0, 0)
      case Some(bm) if !hasMV =>
        (math.max(c.lo, bm.first()), math.min(c.hi, bm.last() + 1))
      case _ => (c.lo, c.hi)
    }
    val (s, e) = slice.getOrElse((0, Int.MaxValue))
    if (math.max(lo, s) >= math.min(hi, e)) (0, 0)
    else (math.max(lo, s), math.min(hi, e))
  }

  private lazy val docStart: Int = docRange._1

  private lazy val totalDocs: Int = {
    val n = docRange._2 - docRange._1
    limit.fold(n)(math.min(n, _)) // per-partition limit cap
  }

  /** Window-local identity ids for RAW columns (value i ↔ row i of the
    * current batch); shared across batches and RAW columns.
    */
  private lazy val identityWindow: Array[Int] = Array.tabulate(BatchSize)(i => i)

  /** Per projected column: a [[Dictionary]] over the decoded distinct
    * values and the per-doc id stream. Dict columns reuse Pinot's own
    * dictionary (decoded once — string entries to UTF-8 bytes once per
    * DISTINCT value, not per row); RAW string/bytes columns expose their
    * decoded values through an identity-id dictionary. Spark's
    * ColumnVector then serves every read through `Dictionary.decodeTo*`
    * with zero per-row copying in the scan. BOOLEAN is the one direct-fill
    * exception: Spark's `getBoolean` never consults a dictionary.
    * TIMESTAMP converts millis→micros once at dictionary decode.
    */
  private lazy val decoded: Array[ColPlan] =
    columns.map { name =>
      // SCHEMA EVOLUTION: a column this (older) segment does not carry
      // serves its TYPE DEFAULT for every doc — a single-entry
      // dictionary over an all-zero id stream reuses the normal decode
      // path untouched (Pinot's defaultNullValue backfill semantics)
      if (!reader.metadata.columns.contains(name)) {
        val (tpe, isSV) = expectedTypes.getOrElse(name,
          throw new graft.pinot.PinotFormatException(
            s"Column not found: $name"))
        val zeroIds = new graft.pinot.FixedBitReader(
          new Array[Byte](reader.totalDocs / 8 + 16), 1, reader.totalDocs)
        if (!isSV) {
          // evolved MV column: every doc serves the empty array — an
          // all-zero offsets table with no entries to decode
          val dict = tpe match {
            case PinotType.PInt => ArrayDictionary.ofInts(Array(0))
            case PinotType.PLong => ArrayDictionary.ofLongs(Array(0L))
            case PinotType.PDouble => ArrayDictionary.ofDoubles(Array(0d))
            case PinotType.PString =>
              ArrayDictionary.ofBinary(Array(Array.emptyByteArray))
            case other => throw new graft.pinot.PinotFormatException(
              s"schema evolution: no MV default for ${other.name} column $name")
          }
          MVBacked(tpe, dict, zeroIds, new Array[Int](reader.totalDocs + 1))
        } else tpe match {
          case PinotType.PBoolean => BoolDirect(Array(0), zeroIds)
          case PinotType.PInt =>
            DictBacked(tpe, ArrayDictionary.ofInts(Array(0)), zeroIds)
          case PinotType.PLong | PinotType.PTimestamp =>
            DictBacked(tpe, ArrayDictionary.ofLongs(Array(0L)), zeroIds)
          case PinotType.PFloat =>
            DictBacked(tpe, ArrayDictionary.ofFloats(Array(0f)), zeroIds)
          case PinotType.PDouble =>
            DictBacked(tpe, ArrayDictionary.ofDoubles(Array(0d)), zeroIds)
          case PinotType.PString | PinotType.PJson =>
            DictBacked(PinotType.PString,
              ArrayDictionary.ofBinary(Array(Array.emptyByteArray)), zeroIds)
          case PinotType.PBytes =>
            DictBacked(tpe,
              ArrayDictionary.ofBinary(Array(Array.emptyByteArray)), zeroIds)
          case PinotType.PBigDecimal =>
            // 0 at the schema's fixed scale 18, in the unscaled-bytes
            // form getDecimal(_, 38, 18) reads from a binary dictionary
            DictBacked(tpe, ArrayDictionary.ofBinary(Array(
              java.math.BigDecimal.ZERO.setScale(18).unscaledValue.toByteArray)),
              zeroIds)
          case other => throw new graft.pinot.PinotFormatException(
            s"schema evolution: no default for ${other.name} column $name")
        }
      } else {
      val cm = reader.metadata.column(name)
      if (!cm.isSingleValue) {
        // MV columns disable sorted sub-ranging (docRange is full there)
        val (offsets, fbr) = reader.mvReaders(name)
        val dict = reader.dictionary(name) match {
          case PinotDictionary.Ints(v) => ArrayDictionary.ofInts(v)
          case PinotDictionary.Longs(v) => ArrayDictionary.ofLongs(v)
          case PinotDictionary.Floats(v) => ArrayDictionary.ofFloats(v)
          case PinotDictionary.Doubles(v) => ArrayDictionary.ofDoubles(v)
          case PinotDictionary.Strings(v) =>
            ArrayDictionary.ofBinary(v.map(
              _.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          case other => throw new graft.pinot.PinotFormatException(
            s"Unsupported MV dictionary for $name: $other")
        }
        MVBacked(cm.dataType, dict, fbr, offsets)
      } else if (cm.hasDictionary) {
        lazy val fbr = reader.dictIdReader(name)
        (reader.dictionary(name), cm.dataType) match {
          case (PinotDictionary.Ints(v), PinotType.PBoolean) =>
            BoolDirect(v, fbr)
          case (PinotDictionary.Ints(v), _) =>
            DictBacked(cm.dataType, ArrayDictionary.ofInts(v), fbr)
          case (PinotDictionary.Longs(v), PinotType.PTimestamp) =>
            DictBacked(cm.dataType,
              ArrayDictionary.ofLongs(v.map(Math.multiplyExact(_, 1000L))), fbr)
          case (PinotDictionary.Longs(v), _) =>
            DictBacked(cm.dataType, ArrayDictionary.ofLongs(v), fbr)
          case (PinotDictionary.Floats(v), _) =>
            DictBacked(cm.dataType, ArrayDictionary.ofFloats(v), fbr)
          case (PinotDictionary.Doubles(v), _) =>
            DictBacked(cm.dataType, ArrayDictionary.ofDoubles(v), fbr)
          case (PinotDictionary.Strings(v), _) =>
            DictBacked(cm.dataType, ArrayDictionary.ofBinary(v.map(
              _.getBytes(java.nio.charset.StandardCharsets.UTF_8))), fbr)
          case (PinotDictionary.Bytes(v), _) =>
            DictBacked(cm.dataType, ArrayDictionary.ofBinary(v), fbr)
        }
      } else cm.dataType match {
        // JSON shares STRING storage; BIG_DECIMAL values transform to
        // fixed-scale unscaled bytes per window (see next())
        case PinotType.PString | PinotType.PBytes | PinotType.PJson |
             PinotType.PBigDecimal =>
          new RawWindowed(cm.dataType, reader.rawChunkReader(name))
        case PinotType.PInt | PinotType.PLong | PinotType.PFloat |
             PinotType.PDouble | PinotType.PTimestamp =>
          new NumRawWindowed(cm.dataType, reader.fixedByteReader(name))
        case other => throw new graft.pinot.PinotFormatException(
          s"Unsupported RAW column type for scan: ${other.name}")
      }
      }
    }

  /** Null-value vector per projected column (null = column never null).
    * Decode overlays NULL bits per window after the value fill — null
    * docs hold a stored default in the forward index (Pinot's model), so
    * every decode path stays untouched and the bitmap is the only truth
    * about nullness.
    */
  private lazy val nullVectors
      : Array[org.roaringbitmap.buffer.ImmutableRoaringBitmap] =
    columns.map { c =>
      val cm = try reader.metadata.column(c) catch { case _: Throwable => null }
      if (cm != null && cm.hasNullVector) reader.nullVector(c).orNull else null
    }

  // Vectors and the batch are allocated ONCE and refilled per 8,192-row
  // window — only the int dict-ids move per batch (bulk System.arraycopy).
  private lazy val vectors: Array[OnHeapColumnVector] =
    decoded.map { plan =>
      val v = new OnHeapColumnVector(BatchSize, plan.sparkType)
      plan match {
        case DictBacked(_, dict, _) => v.setDictionary(dict)
        case MVBacked(_, dict, _, _) => v.arrayData().setDictionary(dict)
        case _: BoolDirect => ()
        case _: RawWindowed => () // dictionary swapped in per window
        case _: NumRawWindowed => () // primitive fill, no dictionary
      }
      v
    }
  private lazy val batch: ColumnarBatch =
    new ColumnarBatch(vectors.map(v => v: ColumnVector), 0)

  private var pos = 0
  private var started = false

  override def next(): Boolean = {
    if (pos >= totalDocs) return false
    // candidate-bitmap window skip: jump straight to the next candidate
    // doc (windows are relative to pos, so the next batch STARTS at a
    // candidate; runs of non-candidate windows never decode)
    candidates.bits.foreach { bm =>
      val nxt = bm.nextValue(docStart + pos)
      if (nxt < 0 || nxt >= docStart + totalDocs) { pos = totalDocs; return false }
      pos = math.max(pos, (nxt - docStart).toInt)
    }
    started = true
    val n = math.min(BatchSize, totalDocs - pos)
    if (columns.nonEmpty) {
      var c = 0
      while (c < decoded.length) {
        decoded(c) match {
          case DictBacked(_, _, fbr) =>
            val ids = fbr.readRange(docStart + pos, n)
            vectors(c).reserveDictionaryIds(n).putInts(0, n, ids, 0)
          case MVBacked(_, _, fbr, offsets) =>
            val vec = vectors(c)
            // offsets are indexed by ABSOLUTE doc id — docStart-aware so
            // sub-segment slices decode only their own windows
            val abs = docStart + pos
            val base = offsets(abs)
            val entries = offsets(abs + n) - base
            val ids = fbr.readRange(base, entries)
            val child = vec.arrayData()
            // grow the child's own arrays (incl. nulls — isNullAt reads
            // them even though we only ever fill dictionary ids)
            child.reserve(entries)
            child.reserveDictionaryIds(entries).putInts(0, entries, ids, 0)
            var i = 0
            while (i < n) {
              vec.putArray(i, offsets(abs + i) - base,
                offsets(abs + i + 1) - offsets(abs + i))
              i += 1
            }
          case BoolDirect(dictInts, fbr) =>
            val vec = vectors(c)
            val ids = fbr.readRange(docStart + pos, n)
            var i = 0
            while (i < n) { vec.putBoolean(i, dictInts(ids(i)) != 0); i += 1 }
          case rw: RawWindowed =>
            val vec = vectors(c)
            val raw = rw.v4.readRangeBytes(docStart + pos, n)
            // BIG_DECIMAL: Spark's getDecimal(_, 38, 18) reads BINARY =
            // unscaled bytes at the schema scale — convert the serialized
            // (scale, unscaled) form once per window
            val values =
              if (rw.tpe == PinotType.PBigDecimal)
                raw.map(graft.pinot.PinotBigDecimal.toUnscaled18)
              else raw
            vec.setDictionary(ArrayDictionary.ofBinary(values))
            vec.reserveDictionaryIds(n).putInts(0, n, identityWindow, 0)
          case nr: NumRawWindowed =>
            val vec = vectors(c)
            nr.tpe match {
              case PinotType.PInt =>
                vec.putInts(0, n, nr.fb.readRangeInts(docStart + pos, n), 0)
              case PinotType.PLong =>
                vec.putLongs(0, n, nr.fb.readRangeLongs(docStart + pos, n), 0)
              case PinotType.PFloat =>
                vec.putFloats(0, n, nr.fb.readRangeFloats(docStart + pos, n), 0)
              case PinotType.PDouble =>
                vec.putDoubles(0, n, nr.fb.readRangeDoubles(docStart + pos, n), 0)
              case PinotType.PTimestamp =>
                val ms = nr.fb.readRangeLongs(docStart + pos, n)
                var i = 0
                while (i < n) {
                  vec.putLong(i, Math.multiplyExact(ms(i), 1000L)); i += 1
                }
              case _ => ()
            }
        }
        val nv = nullVectors(c)
        if (nv != null) {
          // reused vectors: clear stale null bits, then overlay this
          // window's nulls straight off the bitmap (advanceIfNeeded is a
          // container-level skip — cost tracks nulls in window, not docs)
          val vec = vectors(c)
          vec.putNotNulls(0, n)
          val start = docStart + pos
          val end = start + n
          val it = nv.getIntIterator
          it.advanceIfNeeded(start)
          while (it.hasNext && it.peekNext() < end) vec.putNull(it.next() - start)
        }
        c += 1
      }
    }
    batch.setNumRows(n) // empty projection: rows-only batch for COUNT(*)
    pos += n
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    try reader.close() catch { case _: Throwable => () }
    if (started) batch.close()
  }
}

object PinotColumnarReader {
  /** Docs of a segment that pushed filters may match: `[lo, hi)`, and
    * within it only the docs of `bits` when defined.
    */
  private final case class Cand(lo: Int, hi: Int,
      bits: Option[MutableRoaringBitmap]) {
    def isEmpty: Boolean = lo >= hi || bits.exists(_.isEmpty)
    /** The intersection; `o` is not evaluated when this set is empty. */
    def &(o: => Cand): Cand =
      if (isEmpty) this
      else {
        val c = o
        Cand(math.max(lo, c.lo), math.min(hi, c.hi), (bits ++ c.bits)
          .reduceOption[MutableRoaringBitmap](MutableRoaringBitmap.and(_, _)))
      }
  }

  // Every plan decodes PER WINDOW from a cached compact form (packed id
  // bits / compressed var-byte sections) — per-task heap is O(window +
  // dictionaries), not O(segment), which is what lets 1 GB segments scan
  // under executor memory.
  private sealed trait ColPlan { def sparkType: org.apache.spark.sql.types.DataType }
  private final case class DictBacked(tpe: PinotType, dict: Dictionary,
      idReader: graft.pinot.FixedBitReader) extends ColPlan {
    def sparkType = tpe.sparkType
  }
  private final case class BoolDirect(dictInts: Array[Int],
      idReader: graft.pinot.FixedBitReader) extends ColPlan {
    def sparkType = org.apache.spark.sql.types.BooleanType
  }
  /** RAW var-byte column: one window of values materializes at a time (a
    * chunk straddling a window boundary decompresses at most twice).
    */
  private final class RawWindowed(val tpe: PinotType,
      val v4: graft.pinot.VarByteChunkV4) extends ColPlan {
    def sparkType = tpe.sparkType
  }
  /** RAW fixed-byte NUMERIC column (extension — the reference rejects
    * these): windows bulk-copy straight into the vector's primitive
    * arrays, no dictionary at all.
    */
  private final class NumRawWindowed(val tpe: PinotType,
      val fb: graft.pinot.FixedByteChunkV4) extends ColPlan {
    def sparkType = tpe.sparkType
  }
  /** Multi-value column: the full offsets array (4 bytes/doc) + windowed
    * entry-id decode into a dictionary-backed CHILD vector.
    */
  private final case class MVBacked(tpe: PinotType, dict: Dictionary,
      idReader: graft.pinot.FixedBitReader, offsets: Array[Int]) extends ColPlan {
    def sparkType =
      org.apache.spark.sql.types.ArrayType(tpe.sparkType, containsNull = false)
  }
}

/** Spark [[Dictionary]] over decoded Pinot values: the bridge that lets
  * `OnHeapColumnVector` serve reads straight from the segment's decoded
  * dictionary (or RAW value array) without materializing rows.
  */
final class ArrayDictionary private (
    ints: Array[Int], longs: Array[Long], floats: Array[Float],
    doubles: Array[Double], bins: Array[Array[Byte]]) extends Dictionary {
  override def decodeToInt(id: Int): Int = ints(id)
  override def decodeToLong(id: Int): Long = longs(id)
  override def decodeToFloat(id: Int): Float = floats(id)
  override def decodeToDouble(id: Int): Double = doubles(id)
  override def decodeToBinary(id: Int): Array[Byte] = bins(id)
}

object ArrayDictionary {
  def ofInts(v: Array[Int]) = new ArrayDictionary(v, null, null, null, null)
  def ofLongs(v: Array[Long]) = new ArrayDictionary(null, v, null, null, null)
  def ofFloats(v: Array[Float]) = new ArrayDictionary(null, null, v, null, null)
  def ofDoubles(v: Array[Double]) = new ArrayDictionary(null, null, null, v, null)
  def ofBinary(v: Array[Array[Byte]]) = new ArrayDictionary(null, null, null, null, v)
}

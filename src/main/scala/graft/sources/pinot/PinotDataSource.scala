package graft.sources.pinot

import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

import graft.pinot.{PinotFormatException, SegmentMetadata}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("pinot").load(path)` — Spark DataSource V2 entry for
  * Pinot v3 segment tables.
  *
  * `path` may be a table directory containing segment dirs (each with a
  * `v3/` subdir), or a single segment directory. Mirrors the reference's
  * direct-registration entry point (reference:
  * datafusion-pinot/src/table.rs:28-83) with the same discovery rules:
  * skip non-directories and `tmp`, require `v3/`, sort
  * (metadata_provider.rs:163-211).
  */
class PinotDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "pinot"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PinotSegmentTable.open(requirePath(options)).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("pinot source requires a path"))
    // identity partitionBy columns flow to the writer: each flush splits
    // rows by key so every segment holds exactly ONE key value — which
    // the read side detects (min==max metadata) and reports as
    // KeyGroupedPartitioning, making downstream equi-joins shuffle-free
    val partCols = partitioning.toSeq.collect {
      case t if t.name == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        t.references()(0).fieldNames()(0)
    }
    // existing segments win (their stored schema is authoritative); a
    // fresh directory becomes a write-only table with the query's schema
    try PinotSegmentTable.open(path, partCols)
    catch { case _: PinotFormatException if schema != null =>
      PinotSegmentTable.forWrite(path, schema, partCols)
    }
  }

  private def requirePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("pinot source requires a path"))
}

/** Segment discovery + schema inference shared by the source and catalog. */
object PinotSegments {

  /** List segment `v3/` dirs for a table dir (or the dir itself if it is a
    * segment). Sorted for deterministic partition order.
    */
  def discover(path: String): Seq[Path] =
    discoverDirs(path, graft.pinot.LocalSegmentIO).map(Paths.get(_))

  /** IO-routed discovery: the same walk over any [[graft.pinot.SegmentIO]]
    * — `file://`/`hdfs://`/object-store table dirs discover through the
    * Hadoop stack, local paths identically to before.
    */
  def discoverDirs(path: String, io: graft.pinot.SegmentIO): Seq[String] =
    discoverDirs(path, io, None)

  /** `listing`: a recursive listing of `path` the caller already holds
    * (the table-open path lists once for its cache fingerprint and
    * reuses it here — one listing per cold open, not two).
    */
  def discoverDirs(path: String, io: graft.pinot.SegmentIO,
      listing: Option[Seq[graft.pinot.SegmentIO.FileEntry]]): Seq[String] = {
    if (!io.isDirectory(path))
      throw new PinotFormatException(s"Not a directory: $path")
    // ONE recursive listing resolves every layout question below — on
    // object stores this is a single paged prefix scan instead of
    // O(segments) per-entry existence/status round-trips. The root is
    // re-derived through the IO's own path algebra (resolve→parent) so
    // string comparisons below see the listing's normalized form
    // regardless of trailing slashes / URI spellings in the input.
    val root = io.parent(io.resolve(path, "x"))
    val entries = listing.getOrElse(io.listTree(path))
    // interrupted maintenance swap: the marker means segments were
    // mid-replacement when the process died — some old segments may be
    // deleted and some compacted ones not yet moved in. Fail LOUDLY
    // (the pre-swap rows live under the op's tmp dir, named inside the
    // marker) instead of silently serving a partial table. Presence
    // resolves from the listing already in hand: zero extra IO.
    val marker = io.resolve(root, graft.pinot.PinotCompact.SwapMarkerFile)
    if (entries.exists(_.path == marker))
      throw new PinotFormatException(
        s"$path: interrupted maintenance swap " +
          s"(${graft.pinot.PinotCompact.SwapMarkerFile} present) — the " +
          "table may hold partial segments. Recover the pre-swap rows " +
          "from the tmp dir named in the marker, then delete the marker.")
    val metaDirs: Set[String] = entries.collect {
      case e if io.fileName(e.path) == "metadata.properties" =>
        io.parent(e.path)
    }.toSet
    val v3 = io.resolve(root, "v3")
    if (metaDirs.contains(v3)) return Seq(v3)
    if (metaDirs.contains(root)) return Seq(root)
    val segs = metaDirs.toSeq.flatMap { md =>
      // v3 segment dir (<root>/<seg>/v3) or a v1/v2-layout segment
      // (metadata.properties at <root>/<seg> — the pre-v3 format the
      // reference rejects); anything nested deeper is not a segment
      val segDir =
        if (io.fileName(md) == "v3" && io.parent(io.parent(md)) == root)
          Some((io.parent(md), md))
        else if (io.parent(md) == root) Some((md, md))
        else None
      segDir.collect {
        // `tmp` ≙ reference discovery; `tmp_*` = in-flight writer output
        case (seg, dir) if !io.fileName(seg).startsWith("tmp") => (seg, dir)
      }
    }
      // a segment with BOTH layouts keeps v3 (matches the per-dir probe
      // order this replaces)
      .groupBy(_._1).map { case (_, vs) =>
        vs.map(_._2).find(io.fileName(_) == "v3").getOrElse(vs.head._2)
      }
      .toSeq.sortBy(identity[String])
    if (segs.isEmpty)
      throw new PinotFormatException(s"No segments under $path")
    segs
  }

  /** Schema from the first segment, assumed uniform across segments
    * (reference: table.rs:115-118). Fields are **non-nullable** — "Pinot
    * columns are non-nullable" (schema.rs:26-31) — UNLESS the column
    * carries a null-value vector (nullable-column extension; nullability
    * is a table-level writer config, so the first segment is
    * authoritative like the rest of the schema). Ordered by the segment
    * metadata's deterministic column order (fixes the reference's
    * HashMap-iteration hazard, SURVEY §2A).
    */
  def schemaFor(segments: Seq[Path]): StructType = {
    // SCHEMA EVOLUTION (EXTENSION — Apache Pinot's add-a-column model;
    // the reference takes the first segment as authoritative,
    // table.rs:115-118): the table schema is the UNION of every
    // segment's columns, ordered by first appearance. Old segments
    // missing a later-added column serve that column's TYPE DEFAULT
    // (0 / "" / false — Pinot's defaultNullValue backfill); same-name
    // type conflicts fail loudly.
    val metas = segments.map(p =>
      SegmentMetadata.fromFile(p.resolve("metadata.properties")))
    schemaOf(metas)
  }

  /** IO-routed twin of [[schemaFor]] for remote segment dirs. Reads
    * through the plan-time metadata cache (which a table open has just
    * BULK-PREFETCHED), so inference costs zero extra round trips; an
    * unreadable segment re-reads strictly so the REAL error surfaces
    * instead of the cache's null.
    */
  def schemaForDirs(segments: Seq[String],
      io: graft.pinot.SegmentIO): StructType =
    schemaOf(segments.map { s =>
      val m = PinotScan.segmentMetaVia(s, io)
      if (m == null) metaOf(s, io) else m
    })

  private[pinot] def metaOf(segDir: String,
      io: graft.pinot.SegmentIO): SegmentMetadata =
    SegmentMetadata.parse(new String(
      io.readFully(io.resolve(segDir, "metadata.properties")),
      java.nio.charset.StandardCharsets.UTF_8))

  private def schemaOf(metas: Seq[SegmentMetadata]): StructType = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String,
      graft.pinot.ColumnMetadata]
    metas.foreach(_.columns.values.foreach { c =>
      seen.get(c.name) match {
        case None => seen(c.name) = c
        case Some(prev) =>
          if (prev.dataType != c.dataType ||
              prev.isSingleValue != c.isSingleValue)
            throw new PinotFormatException(
              s"Column ${c.name} has conflicting types across segments: " +
                s"${prev.dataType.name} vs ${c.dataType.name}")
          // nullability is table-level: any segment declaring a null
          // vector makes the field nullable
          if (c.hasNullVector && !prev.hasNullVector) seen(c.name) = c
      }
    })
    StructType(seen.values.toSeq.map { c =>
      val t =
        if (c.isSingleValue) c.dataType.sparkType
        else org.apache.spark.sql.types.ArrayType(c.dataType.sparkType,
          containsNull = false) // MV extension: reference non-goal
      StructField(c.name, t, nullable = c.hasNullVector)
    })
  }
}

/** One Pinot table = N segment dirs (reference: PinotTable, table.rs:16-141).
  * Readable always; writable (append = new segments) as an extension
  * beyond the read-only reference.
  */
class PinotSegmentTable(tableName: String, segmentPaths: Seq[String],
    tableSchema: StructType, tableDir: Option[String] = None,
    partitionCols: Seq[String] = Seq.empty,
    val upsertConfig: Option[PinotUpsert.UpsertConfig] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  /** Discovered segment meta-dirs — lets callers that already opened
    * the (cached) table reuse its listing instead of re-walking.
    */
  def segmentDirs: Seq[String] = segmentPaths

  /** The table directory, when the table was opened from one —
    * [[graft.plans.UpsertViewRule]] needs it to name the table in its
    * loud contracts.
    */
  def dir: Option[String] = tableDir

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c): Transform
    ).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // `.option("splitTargetBytes", n)`: per-task size target for
    // sub-segment splits / small-segment grouping; 0 = strict
    // one-task-per-segment planning
    new PinotScanBuilder(segmentPaths, tableSchema, tableDir,
      splitTargetBytes = options.getLong("splitTargetBytes",
        PinotScan.DefaultSplitTargetBytes),
      // injected by graft.plans.JsonIndexRule: get_json_object probes
      // (equality / IN-list / IS NOT NULL) have no V1 source-filter
      // form, so they arrive as a relation option (always ALSO kept
      // residual by the rule)
      jsonEq = PinotScan.decodeJsonProbes(
        options.get(PinotScan.JsonEqOptionKey)),
      // `.option("upsertView", "raw")`: batch reads use it to skip the
      // UpsertViewRule rewrite; STREAMING reads require it for a raw
      // segment tail of an upsert table (PinotUpsert.latestStream is
      // the view)
      rawUpsertView = "raw".equalsIgnoreCase(options.get("upsertView")))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val dir = tableDir.getOrElse(throw new PinotFormatException(
      s"Table $tableName has no directory to write to"))
    // `.option("jsonColumns", "a,b")`: listed STRING columns store with
    // Pinot's JSON data type (same physical layout as STRING)
    val jsonCols = Option(info.options.get("jsonColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("invertedIndexColumns", "a,b")`: write a per-dictId docId
    // bitmap index for the listed columns (Pinot's invertedIndexColumns
    // table config); the scan uses it for window skipping on EqualTo/In
    val invCols = Option(info.options.get("invertedIndexColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("nullableColumns", "a,b")`: accept NULLs in the listed
    // scalar columns — stored as a default + per-segment null-value
    // vector (RoaringBitmap), surfaced as nullable fields on read
    val nullableCols = Option(info.options.get("nullableColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("timeColumn", "ts")`: record Pinot's
    // segment.time.column.name — enables hybrid OFFLINE/REALTIME
    // time-boundary reads (PinotHybrid)
    val timeCol = Option(info.options.get("timeColumn")).map(_.trim)
      .filter(_.nonEmpty)
    // `.option("starTree", "dim1,dim2:SUM(m1),MIN(m2)")`: build a
    // star-tree-style pre-aggregated index per segment (Pinot's
    // StarTreeIndexConfig: dimensionsSplitOrder + functionColumnPairs);
    // the scan answers covered GROUP BYs from it without reading the
    // forward index
    val starTreeSpec = Option(info.options.get("starTree")).map(_.trim)
      .filter(_.nonEmpty).map(graft.pinot.StarTree.parseSpec)
    // `.option("bloomFilterColumns", "a,b")`: per-segment bloom filter
    // over the column's distinct values (Pinot's bloomFilterColumns);
    // the scan prunes segments on EqualTo/In without forward-index IO —
    // the point-lookup path for RAW columns with no dictionary
    val bloomCols = Option(info.options.get("bloomFilterColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("rangeIndexColumns", "a,b")`: per-segment value-bucket
    // bitmap index (Pinot's rangeIndexColumns) — range predicates on
    // UNSORTED numeric columns skip decode windows via bucket bitmaps
    val rangeCols = Option(info.options.get("rangeIndexColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("textIndexColumns", "a,b")`: token-vocabulary postings
    // (the capability of Pinot's textIndexColumns, sans Lucene) — the
    // scan serves contains/startsWith/endsWith by token-posting bitmaps
    val textCols = Option(info.options.get("textIndexColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("sortedColumn", "c")`: physically sort each segment by
    // the column (Pinot's sortedColumn table config) — sorted sub-
    // segment ranging then applies to every written segment
    val sortedCol = Option(info.options.get("sortedColumn")).map(_.trim)
      .filter(_.nonEmpty)
    // `.option("textIndexAnalyzer", "standard" | "standard_stop")`:
    // analyzer for every text index of this write. standard_stop = full
    // Lucene StandardAnalyzer parity (English stop words dropped from
    // the vocabulary; the read side refuses stop-substring probes to
    // keep the candidate superset sound).
    val textAnalyzer = Option(info.options.get("textIndexAnalyzer"))
      .map(_.trim).filter(_.nonEmpty).getOrElse("standard") match {
      case "standard" => graft.pinot.TextIndexSection.AnalyzerStandard
      case "standard_stop" =>
        graft.pinot.TextIndexSection.AnalyzerStandardStop
      case other => throw new IllegalArgumentException(
        s"textIndexAnalyzer: unknown analyzer '$other' " +
          "(expected standard | standard_stop)")
    }
    // `.option("jsonIndexColumns", "a,b")`: flattened path=value posting
    // bitmaps (the capability of Pinot's jsonIndexColumns) — pushed
    // get_json_object equality probes prune segments and skip windows
    val jsonIdxCols = Option(info.options.get("jsonIndexColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `.option("sketchColumns", "user_id:bitmap,props:kmv1024")`: store a
    // per-segment distinct sketch per column (the capability of Pinot's
    // ingestion-time THETA_SKETCH/BITMAP columns) — DISTINCT queries
    // merge stored sketches without re-reading the forward index
    // (see [[graft.pinot.SketchSection]] / [[PinotSketches]])
    val sketchCols = Option(info.options.get("sketchColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { ent =>
        ent.split(":") match {
          case Array(c, spec) => c.trim -> spec.trim
          case _ => throw new IllegalArgumentException(
            s"sketchColumns entry '$ent' must be " +
              "<column>:<kmv<k>|kll<k>|hll<p>|freq<c>|bitmap>")
        }
      }.toMap)
      .getOrElse(Map.empty[String, String])
    new PinotWriteBuilder(dir, tableName, info.schema(), info.queryId(),
      partitionCols, jsonCols, invCols, nullableCols, timeCol, starTreeSpec,
      bloomCols, rangeCols, textCols, sortedCol, textAnalyzer, jsonIdxCols,
      sketchCols)
  }
}

object PinotSegmentTable {

  // Warm-catalog cache: segment discovery + schema inference per table
  // path. The reference benchmarks with a warm catalog
  // (examples/benchmark.rs:43-45) — this is the DSv2 counterpart, and at
  // 100 TB it keeps per-query planning from re-walking tens of thousands
  // of segment dirs. Invalidation key = dir mtime PLUS a fingerprint of
  // (path, size, mtime) of EVERY file in the one recursive listing:
  // table-dir mtime alone only tracks direct children, so a same-
  // millisecond IN-PLACE segment overwrite (same dir name, new content)
  // was invisible, and file mtimes come from a coarse clock, so two
  // rewrites a few ms apart share a stamp — a rewrite then shows in the
  // size of some file (forward index, dictionary, index map) even when
  // metadata.properties keeps its size. Reading file bytes for recently
  // modified entries would close the last gap (every file's size kept
  // within one clock tick) but costs a metadata GET per open of a fresh
  // table, which the cold-open IO budget does not allow. LRU-bounded so
  // long-lived sessions over many ephemeral table dirs don't grow it
  // without bound.
  private val cache = new LruCache[String, ((Long, Int), PinotSegmentTable)](256)

  def open(path: String, partitionCols: Seq[String] = Seq.empty): PinotSegmentTable = {
    val io = graft.pinot.SegmentIO.forPath(path)
    val mtime =
      try io.mtimeMillis(path)
      catch { case _: Throwable => -1L }
    // ONE recursive listing serves BOTH the cache fingerprint and (on a
    // miss) segment discovery — no per-segment existence/stat round
    // trips on object stores, and no second listing for discovery
    val listing: Option[Seq[graft.pinot.SegmentIO.FileEntry]] =
      try Some(io.listTree(path)) catch { case _: Throwable => None }
    val fp: Int = listing.fold(0) { entries =>
      try {
        var h = 17
        // derive the prefix through the IO's own path algebra (like
        // discoverDirs): listTree returns Hadoop-QUALIFIED paths
        // ("file:/tmp/t/..." for an input of "file:///tmp/t"), so a
        // prefix built from the raw input string would never match and
        // in-flight tmp_* writer output would churn the fingerprint
        val prefix = io.parent(io.resolve(path, "x")) + "/"
        // in-flight writer output (`tmp*` DIRECT children) must not
        // churn the fingerprint — judge the first component under the
        // table dir, not the immediate parent (v3 nests one level)
        def inTmp(p: String): Boolean =
          p.startsWith(prefix) &&
            p.substring(prefix.length).takeWhile(_ != '/').startsWith("tmp")
        // upsert.properties participates too: reconfiguring the upsert
        // view must invalidate the cached table (its upsertConfig is
        // resolved once per open)
        entries
          .sortBy(_.path)
          .foreach { e =>
            if (!inTmp(e.path)) {
              h = h * 31 + e.path.hashCode
              h = h * 31 + e.size.toInt
              h = h * 31 + e.mtimeMillis.toInt
            }
          }
        h
      } catch { case _: Throwable => 0 }
    }
    val stamp = (mtime, fp)
    val key = if (partitionCols.isEmpty) path
      else s"$path#${partitionCols.mkString(",")}"
    cache.get(key) match {
      case Some((s, t)) if s == stamp => t
      case _ =>
        val segs = PinotSegments.discoverDirs(path, io, listing)
        // table-cache MISS: cached per-segment metadata may be stale
        // (in-place overwrite) — evict before refilling
        PinotScan.invalidateMetas(segs)
        // manifest fast path: a listing-validated `_graft_manifest.v1`
        // seeds every segment's metadata from ONE GET; the bulk
        // prefetch below then no-ops. Foreign/stale manifests return
        // empty and the prefetch pays N parallel GETs instead — the
        // manifest is purely an optimization.
        listing.foreach { l =>
          graft.pinot.TableManifest.load(path, io, l)
            .foreach { case (p, m) => PinotScan.cacheMeta(p, m) }
        }
        // BULK-load any still-missing metadata concurrently: schema
        // inference (below) and plan-time min/max pruning then run
        // from memory — cold open totals 1 listing + ≤N parallel GETs
        PinotScan.prefetchMetas(segs, io)
        val meta = {
          val m = PinotScan.segmentMetaVia(segs.head, io)
          if (m == null) PinotSegments.metaOf(segs.head, io) else m
        }
        val table = new PinotSegmentTable(meta.tableName, segs,
          PinotSegments.schemaForDirs(segs, io), Some(path), partitionCols,
          // presence from the listing already in hand: zero extra round
          // trips on a non-upsert open (cold-open IO budget specs)
          PinotUpsert.tryConfigIn(path, io, listing))
        cache.put(key, (stamp, table))
        table
    }
  }

  /** A not-yet-existing table: write-only until the first commit. */
  def forWrite(path: String, schema: StructType,
      partitionCols: Seq[String] = Seq.empty): PinotSegmentTable = {
    val name = Paths.get(path).getFileName.toString
      .stripSuffix("_OFFLINE").stripSuffix("_REALTIME")
    new PinotSegmentTable(name, Seq.empty, schema, Some(path), partitionCols)
  }
}

package graft.pinot

import java.nio.file.{Files, Path, Paths}

/** Segment compaction (EXTENSION — the maintenance op behind Pinot's
  * minion merge/rollup task): merge a table's many small segments into
  * one, preserving column types, null-value vectors, inverted-index
  * requests, and the declared time column. Streaming ingest (one segment
  * per micro-batch epoch) and partitionBy writes produce exactly the
  * many-small-segments shape this cleans up; fewer, larger segments mean
  * fewer scan tasks and fatter sequential reads at 100 TB.
  *
  * Single-process by design, like Pinot's minion: each invocation
  * compacts ONE table directory, reading typed columns through
  * [[SegmentReader]] and re-encoding through [[SegmentWriter]] (the
  * writer re-applies its dictionary-vs-RAW heuristics on the merged
  * value distribution). The swap is crash-safe: the merged segment lands
  * under a `tmp`-prefixed dir (invisible to discovery), old segments are
  * removed, then the merged dir is renamed visible last.
  */
object PinotCompact {

  /** The interrupted-swap marker: maintenance ops (compact / rollup /
    * upsert compaction) write it at the table root BEFORE the
    * delete-old/move-in swap and clear it after, so a crash inside the
    * swap window leaves a table that FAILS LOUDLY on the next open
    * (discovery checks the marker from the listing it already holds —
    * zero extra IO) instead of silently serving partial segments. The
    * pre-swap rows remain under the op's tmp dir for recovery.
    */
  val SwapMarkerFile = "_graft_swap.inprogress"

  private[graft] def writeSwapMarker(root: Path, op: String,
      tmpDir: Path): Unit = {
    // The marker only protects the swap if it is DURABLE before the
    // first delete: force the file contents AND the table-root directory
    // entry (the POSIX way to persist a new filename) so an OS/power
    // crash mid-swap still fails the next open loudly. A process crash
    // alone never needed this (the page cache survives), but segment
    // deletions that persist while the marker does not would reopen a
    // partially-swapped table cleanly — the exact silent partial read
    // the marker exists to prevent.
    import java.nio.file.StandardOpenOption._
    val ch = java.nio.channels.FileChannel.open(
      root.resolve(SwapMarkerFile), CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        s"op=$op\nrecover.from=$tmpDir\n".getBytes(
          java.nio.charset.StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    try {
      val dir = java.nio.channels.FileChannel.open(root, READ)
      try dir.force(true) finally dir.close()
    } catch {
      // some platforms/filesystems reject opening a directory for fsync
      // (Windows, some network mounts) — there the guarantee degrades to
      // process-crash safety, the pre-r16 behavior
      case _: java.io.IOException =>
    }
    ()
  }

  private[graft] def clearSwapMarker(root: Path): Unit = {
    Files.deleteIfExists(root.resolve(SwapMarkerFile))
    ()
  }

  /** Remote twins of the marker pair, routed through the [[SegmentIO]]
    * seam. Durability note: the Hadoop write's close() persists per the
    * target store's contract (HDFS flushes to the pipeline; object
    * stores commit the PUT) — the local flow's explicit fsync has no
    * portable remote equivalent, so remote crash-safety is
    * store-contract-grade, which every remote writer shares.
    */
  private[graft] def writeSwapMarker(root: String, op: String,
      tmpDir: String, io: SegmentIO): Unit =
    io.writeFully(io.resolve(root, SwapMarkerFile),
      s"op=$op\nrecover.from=$tmpDir\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def clearSwapMarker(root: String, io: SegmentIO): Unit =
    io.deleteRecursively(io.resolve(root, SwapMarkerFile))

  /** The STILL-LOCAL maintenance ops ([[convert]] and the Spark-side
    * upsert compaction, whose rewrites go through the local DSv2 write
    * path) swap segments with LOCAL filesystem calls. On a URI-schemed
    * path (`hdfs://`, `s3a://`, even `file://`) those calls would land
    * in a relative local directory named after the scheme while the
    * REAL table stays untouched — a silent no-op that still reports
    * success. Reject loudly BEFORE any work instead: run those against
    * a locally mounted copy and upload the result (distcp -p preserves
    * the manifest stamps). [[compact]], [[rollup]] and
    * [[purgeOlderThan]] route through [[SegmentIO]] instead (r16) and
    * operate remotely in place.
    */
  private[graft] def requireLocal(op: String, tableDir: String): Unit =
    if (SegmentIO.hasUriScheme(tableDir))
      throw new PinotFormatException(
        s"$op: $tableDir is a URI-schemed (remote) path — maintenance " +
          "ops rewrite segments with local filesystem IO and would " +
          "silently leave the real table untouched. Run against a " +
          "locally mounted copy and upload the result (preserve " +
          "timestamps, e.g. distcp -p, to keep the manifest valid).")

  /** Discovery yields `<segment>/v3` for v3-layout segments but the
    * segment dir itself for v1/v2 layouts (no `v3/` subdir) — taking
    * `.getParent` unconditionally would hand maintenance ops the TABLE
    * dir for a v1 segment.
    */
  private def segmentDirs(tableDir: String): Seq[Path] =
    graft.sources.pinot.PinotSegments.discover(tableDir)
      .map(p => if (p.getFileName.toString == "v3") p.getParent else p)

  /** PER-COLUMN unanimous source text-index analyzer: a column whose
    * source segments all used one analyzer keeps it through the rewrite;
    * columns with mixed analyzers fall back to the standard analyzer
    * (rebuilding with standard indexes a SUPERSET of tokens, so the
    * candidates ⊇ matches invariant holds either way — unanimity just
    * preserves the original semantics and index size). Joint unanimity
    * across all columns would let one `standard` column silently strip a
    * sibling's `standard_stop` analyzer.
    */
  private def textAnalyzersByCol(readers: Seq[SegmentReader],
      textCols: Set[String]): Map[String, Int] =
    textCols.flatMap { c =>
      val as = readers.flatMap(_.textIndexAnalyzer(c)).distinct
      if (as.length == 1) Some(c -> as.head) else None
    }.toMap


  /** Merge `readers`' rows into ONE verified segment written at `dest`
    * (a LOCAL path — the segment writer is java.nio by design),
    * preserving column types, null vectors, index requests, text
    * analyzers, and stored-sketch specs; shared by the local and remote
    * compact flows. Closes the readers. Returns (mergedName, totalDocs).
    */
  private def writeMerged(dest: Path,
      readers: Seq[SegmentReader]): (String, Int) = {
    val metas = readers.map(_.metadata)
    val first = metas.head
    val colNames = first.columns.keys.toSeq
    metas.foreach { m =>
      require(m.columns.keys.toSeq == colNames,
        s"segment ${m.segmentName} schema differs — cannot compact")
    }
    val totalDocs = metas.map(_.totalDocs).sum

    val (cols, nullVectors) = materialize(readers)
    val textCols = colNames.filter(c =>
      metas.forall(_.columns(c).hasTextIndex)).toSet
    val textAnalyzers = textAnalyzersByCol(readers, textCols)
    readers.foreach(_.close()) // columns are in memory; release fds before
    // the swap so the deleted source segments don't pin disk space

    // inverted indexes survive when every source segment had one
    val invertedCols = colNames.filter(c =>
      metas.forall(_.columns(c).hasInvertedIndex)).toSet

    // bloom filters and range indexes likewise (rebuilt over merged data)
    val bloomCols = colNames.filter(c =>
      metas.forall(_.columns(c).hasBloomFilter)).toSet
    val rangeCols = colNames.filter(c =>
      metas.forall(_.columns(c).hasRangeIndex)).toSet
    // json indexes and stored sketches too (sketches only when every
    // source segment agrees on the spec — a mixed-spec merge would
    // silently change estimator semantics)
    val jsonIdxCols = colNames.filter(c =>
      metas.forall(_.columns(c).hasJsonIndex)).toSet
    val sketchCols = colNames.flatMap { c =>
      metas.map(_.columns(c).sketchSpec).distinct match {
        case Seq(Some(sp)) => Some(c -> sp)
        case _ => None
      }
    }.toMap

    val mergedName = s"merged_${first.tableName}_0"
    SegmentWriter.write(dest, first.tableName, mergedName, cols,
      invertedCols, nullVectors, first.timeColumn, bloomCols = bloomCols,
      rangeCols = rangeCols, textCols = textCols,
      textAnalyzers = textAnalyzers, jsonIdxCols = jsonIdxCols,
      sketchCols = sketchCols)
    val check = SegmentReader.open(dest)
    try require(check.totalDocs == totalDocs,
      "compact: merged doc count mismatch") // sanity before the swap
    finally check.close()
    (mergedName, totalDocs)
  }

  /** Compact every segment under `tableDir` into one merged segment.
    * Returns the merged segment directory. No-op (returns the existing
    * dir) when the table already has a single segment.
    *
    * URI-schemed paths (`hdfs://…`, `file:…`, object-store schemes)
    * compact IN PLACE through the [[SegmentIO]] seam (r16; previously a
    * loud reject): segments are read remotely, merged into a local
    * staging segment, verified, uploaded under a discovery-invisible
    * `tmp_`-prefixed remote dir, READ BACK through the remote stack,
    * and only then swapped in under the same marker protocol the local
    * flow uses — for those tables the returned Path is the remote URI
    * rendered as a path (use its string/name, not filesystem calls).
    */
  def compact(tableDir: String): Path = {
    val io = SegmentIO.forPath(tableDir)
    if (io ne LocalSegmentIO) return compactRemote(tableDir, io)
    val root = Paths.get(tableDir)
    val segDirs = segmentDirs(tableDir)
    require(segDirs.nonEmpty, s"no segments under $tableDir")
    if (segDirs.length == 1) return segDirs.head

    val readers = segDirs.map(d => SegmentReader.open(d))
    val tableName = readers.head.metadata.tableName
    val tmp = root.resolve(s"tmp_compact_merged_${tableName}_0")
    val (mergedName, _) = writeMerged(tmp, readers)
    // marker-guarded swap: a crash between here and clearSwapMarker
    // fails the NEXT open loudly (rows recoverable from the tmp dir)
    writeSwapMarker(root, "compact", tmp)
    segDirs.foreach(d => deleteRecursively(d))
    val visible = root.resolve(mergedName)
    Files.move(tmp, visible)
    clearSwapMarker(root)
    // logged best-effort manifest rebuild — stale manifests self-invalidate
    TableManifest.refresh(root)
    visible
  }

  /** Every regular file under `localDir`, uploaded to `remoteDir`
    * through the seam ('/'-relative layout preserved).
    */
  private[graft] def uploadTree(localDir: Path, remoteDir: String,
      io: SegmentIO): Unit = {
    val walk = Files.walk(localDir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val rel = localDir.relativize(f).toString.replace('\\', '/')
        io.writeFully(io.resolve(remoteDir, rel), Files.readAllBytes(f))
      }
    } finally walk.close()
  }

  /** Upload a locally-staged rewritten segment, verify it THROUGH the
    * remote stack, then marker-guarded-swap it in for `oldSegDirs` —
    * the remote ending shared by [[compact]] and [[rollup]]. Nothing is
    * deleted before the read-back verification passes.
    */
  private def remoteSwapIn(tableDir: String, io: SegmentIO, staged: Path,
      mergedName: String, op: String, expectDocs: Int,
      oldSegDirs: Seq[String]): Path = {
    val remoteTmp = io.resolve(tableDir, s"tmp_${op}_$mergedName")
    uploadTree(staged, remoteTmp, io)
    // read-back verification THROUGH the remote stack before anything
    // is deleted: a partial/corrupt upload aborts here, table untouched
    val rb = SegmentReader.open(remoteTmp, io)
    try require(rb.totalDocs == expectDocs,
      s"$op: remote read-back of $remoteTmp saw ${rb.totalDocs} " +
        s"docs, expected $expectDocs — aborting before the swap")
    finally rb.close()
    writeSwapMarker(tableDir, op, remoteTmp, io)
    oldSegDirs.foreach(io.deleteRecursively)
    val visible = io.resolve(tableDir, mergedName)
    io.rename(remoteTmp, visible)
    // the table manifest is rebuilt by LOCAL writers only; a stale one
    // self-invalidates against the post-swap listing, but deleting it
    // here saves the next open even the failed validation read
    io.deleteRecursively(io.resolve(tableDir, TableManifest.FileName))
    clearSwapMarker(tableDir, io)
    Paths.get(visible)
  }

  private def compactRemote(tableDir: String, io: SegmentIO): Path = {
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(tableDir, io)
      .map(p => if (io.fileName(p) == "v3") io.parent(p) else p)
    require(segDirs.nonEmpty, s"no segments under $tableDir")
    if (segDirs.length == 1) return Paths.get(segDirs.head)

    val readers = segDirs.map(d => SegmentReader.open(d, io))
    val staging = Files.createTempDirectory("pinot_compact_remote")
    try {
      val dest = staging.resolve("merged")
      val (mergedName, totalDocs) = writeMerged(dest, readers)
      remoteSwapIn(tableDir, io, dest, mergedName, "compact", totalDocs,
        segDirs)
    } finally deleteRecursively(staging)
  }

  /** Rewrite ONE segment in another on-disk format (v3 ↔ v1/v2) — the
    * migration path for pre-v3 segments from old Pinot clusters (and
    * back). Values, null vectors, inverted indexes, blooms, and the
    * star-tree spec all survive; physical encodings are re-picked by the
    * writer from the same value distribution.
    */
  def convert(segmentDir: String, destDir: String, formatVersion: Int): Path = {
    requireLocal("convert", segmentDir)
    requireLocal("convert (destination)", destDir)
    val r = SegmentReader.open(Paths.get(segmentDir))
    val meta = r.metadata
    val (cols, nullVectors) = materialize(Seq(r))
    val inverted = meta.columns.collect {
      case (c, cm) if cm.hasInvertedIndex => c }.toSet
    val blooms = meta.columns.collect {
      case (c, cm) if cm.hasBloomFilter => c }.toSet
    val ranges = meta.columns.collect {
      case (c, cm) if cm.hasRangeIndex => c }.toSet
    val texts = meta.columns.collect {
      case (c, cm) if cm.hasTextIndex => c }.toSet
    val texAnalyzers = textAnalyzersByCol(Seq(r), texts)
    val sketches = meta.columns.collect {
      case (c, cm) if cm.sketchSpec.isDefined => c -> cm.sketchSpec.get }
    val jsonIdx = meta.columns.collect {
      case (c, cm) if cm.hasJsonIndex => c }.toSet
    val starSpec =
      if (meta.starTreeDims.nonEmpty)
        Some(StarTree.Spec(meta.starTreeDims,
          meta.starTreeMetrics.map(StarTree.Metric.parse)))
      else None
    r.close()
    SegmentWriter.write(Paths.get(destDir), meta.tableName, meta.segmentName,
      cols, inverted, nullVectors, meta.timeColumn, starSpec, blooms,
      formatVersion, ranges, texts, textAnalyzers = texAnalyzers,
      sketchCols = sketches, jsonIdxCols = jsonIdx)
  }

  /** Merge-ROLLUP compaction (EXTENSION — Pinot's MergeRollupTask):
    * compact every segment under `tableDir` into one, AGGREGATING rows
    * that share the `dims` values — SUM over the named metric columns,
    * first-in-dim-order wins is not needed because dims+metrics must
    * cover the whole schema. The time-series pattern: raw events roll up
    * to (dims, summed metrics) as they age, shrinking storage while
    * keeping every additive query answer identical.
    *
    * Constraints (Pinot's, enforced here): every column is either a dim
    * or a SUM metric; metrics are numeric; no nullable columns; dims may
    * be any scalar type. Indexes requested on dims survive (rebuilt).
    *
    * `sketchMetrics` (EXTENSION — Pinot's ingestion-time
    * DISTINCT_COUNT_THETA_SKETCH/BITMAP aggregation in MergeRollupTask):
    * the named columns roll up to ONE serialized [[SketchSection]]
    * per group, stored as a BYTES column — a `bitmap` keeps the group's
    * exact distinct raw long values (strings keep xxhash64 values), a
    * `kmv<k>` keeps the bottom-k of the group's Spark-xxhash64 values
    * (the writer's value rule, [[graft.functions.Sketch.values]]).
    * Query time merges the per-group sketches (`bitmap_merge_distinct` /
    * `kmv_merge_estimate`) — grouped DISTINCT answers survive the
    * rollup even though the raw rows are gone.
    */
  def rollup(tableDir: String, dims: Seq[String],
      metrics: Seq[String],
      sketchMetrics: Map[String, String] = Map.empty): Path = {
    // remote-capable like compact (r16): URI-schemed tables roll up via
    // remote read → local staging → upload → read-back → marker swap
    val io = SegmentIO.forPath(tableDir)
    val segDirs =
      graft.sources.pinot.PinotSegments.discoverDirs(tableDir, io)
        .map(p => if (io.fileName(p) == "v3") io.parent(p) else p)
    val readers = segDirs.map(d => SegmentReader.open(d, io))
    val metas = readers.map(_.metadata)
    val first = metas.head
    val colNames = first.columns.keys.toSeq
    require((dims ++ metrics ++ sketchMetrics.keys).toSet == colNames.toSet,
      s"rollup: dims ++ metrics ++ sketchMetrics must cover exactly the " +
        s"schema $colNames")
    sketchMetrics.values.foreach(SketchSection.parseSpec)
    require(metas.forall(m => colNames.forall(c => !m.columns(c).hasNullVector)),
      "rollup: nullable columns cannot roll up")
    val (cols, _) = materialize(readers)
    val rollTextCols = colNames.filter(c =>
      dims.contains(c) && metas.forall(_.columns(c).hasTextIndex)).toSet
    val rollTextAnalyzers = textAnalyzersByCol(readers, rollTextCols)
    readers.foreach(_.close())
    val byName = cols.map(c => c.name -> c).toMap
    val n = cols.head.length

    def dimKey(c: SegmentWriter.ColumnData, d: Int): Any = c match {
      case SegmentWriter.IntCol(_, v) => v(d)
      case SegmentWriter.LongCol(_, v) => v(d)
      case SegmentWriter.StringDictCol(_, v, _) => v(d)
      case SegmentWriter.StringRawCol(_, v, _, _, _) => v(d)
      case SegmentWriter.BoolCol(_, v) => v(d)
      case SegmentWriter.TimestampCol(_, v) => v(d)
      case other => throw new PinotFormatException(
        s"rollup: unsupported dim column kind for ${other.name}")
    }
    // group doc ids by dim tuple, FIRST-SEEN order (deterministic: doc order)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[Int]]
    val dimCols = dims.map(byName)
    var d = 0
    while (d < n) {
      val key = dimCols.map(c => dimKey(c, d))
      groups.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) += d
      d += 1
    }
    val order = groups.values.toArray

    def take(c: SegmentWriter.ColumnData): SegmentWriter.ColumnData = c match {
      // dims: representative value per group (identical within the group)
      case SegmentWriter.IntCol(nm, v) if dims.contains(nm) =>
        SegmentWriter.IntCol(nm, order.map(g => v(g.head)))
      case SegmentWriter.LongCol(nm, v) if dims.contains(nm) =>
        SegmentWriter.LongCol(nm, order.map(g => v(g.head)))
      case SegmentWriter.StringDictCol(nm, v, f) if dims.contains(nm) =>
        SegmentWriter.StringDictCol(nm, order.map(g => v(g.head)), f)
      case SegmentWriter.StringRawCol(nm, v, cp, t, m) if dims.contains(nm) =>
        SegmentWriter.StringRawCol(nm, order.map(g => v(g.head)), cp, t, m)
      case SegmentWriter.BoolCol(nm, v) if dims.contains(nm) =>
        SegmentWriter.BoolCol(nm, order.map(g => v(g.head)))
      case SegmentWriter.TimestampCol(nm, v) if dims.contains(nm) =>
        SegmentWriter.TimestampCol(nm, order.map(g => v(g.head)))
      // sketch metrics: one serialized SketchSection per group
      case c if sketchMetrics.contains(c.name) =>
        val spec = SketchSection.parseSpec(sketchMetrics(c.name))
        SegmentWriter.BytesRawCol(c.name,
          order.map(g => graft.functions.Sketch.build(spec, c, g.iterator)))
      // metrics: exact SUM per group (int widens to long-safe via math)
      case SegmentWriter.IntCol(nm, v) =>
        SegmentWriter.IntCol(nm, order.map(g =>
          Math.toIntExact(g.foldLeft(0L)((a, i) => a + v(i)))))
      case SegmentWriter.LongCol(nm, v) =>
        SegmentWriter.LongCol(nm, order.map(g =>
          g.foldLeft(0L)((a, i) => Math.addExact(a, v(i)))))
      case SegmentWriter.DoubleCol(nm, v) =>
        SegmentWriter.DoubleCol(nm, order.map(g =>
          g.foldLeft(0d)((a, i) => a + v(i))))
      case SegmentWriter.IntRawCol(nm, v, cp, t) =>
        SegmentWriter.IntRawCol(nm, order.map(g =>
          Math.toIntExact(g.foldLeft(0L)((a, i) => a + v(i)))), cp, t)
      case SegmentWriter.LongRawCol(nm, v, cp, t) =>
        SegmentWriter.LongRawCol(nm, order.map(g =>
          g.foldLeft(0L)((a, i) => Math.addExact(a, v(i)))), cp, t)
      case SegmentWriter.DoubleRawCol(nm, v, cp, t) =>
        SegmentWriter.DoubleRawCol(nm, order.map(g =>
          g.foldLeft(0d)((a, i) => a + v(i))), cp, t)
      case other => throw new PinotFormatException(
        s"rollup: metric ${other.name} must be numeric")
    }
    val rolled = cols.map(take)

    val invertedCols = colNames.filter(c =>
      dims.contains(c) && metas.forall(_.columns(c).hasInvertedIndex)).toSet
    val bloomCols = colNames.filter(c =>
      dims.contains(c) && metas.forall(_.columns(c).hasBloomFilter)).toSet
    val rangeCols = colNames.filter(c =>
      dims.contains(c) && metas.forall(_.columns(c).hasRangeIndex)).toSet
    val mergedName = s"rollup_${first.tableName}_0"
    def writeRolled(dest: Path): Unit = {
      SegmentWriter.write(dest, first.tableName, mergedName, rolled,
        invertedCols, Map.empty, first.timeColumn.filter(dims.contains),
        bloomCols = bloomCols, rangeCols = rangeCols, textCols = rollTextCols,
        textAnalyzers = rollTextAnalyzers)
      val check = SegmentReader.open(dest)
      try require(check.totalDocs == order.length,
        "rollup: merged group count mismatch")
      finally check.close()
    }
    if (io ne LocalSegmentIO) {
      val staging = Files.createTempDirectory("pinot_rollup_remote")
      try {
        val dest = staging.resolve("rolled")
        writeRolled(dest)
        remoteSwapIn(tableDir, io, dest, mergedName, "rollup",
          order.length, segDirs)
      } finally deleteRecursively(staging)
    } else {
      val root = Paths.get(tableDir)
      val tmp = root.resolve(s"tmp_rollup_$mergedName")
      writeRolled(tmp)
      writeSwapMarker(root, "rollup", tmp)
      segDirs.foreach(d => deleteRecursively(Paths.get(d)))
      val visible = root.resolve(mergedName)
      Files.move(tmp, visible)
      clearSwapMarker(root)
      // logged best-effort manifest rebuild — stale manifests self-invalidate
      TableManifest.refresh(root)
      visible
    }
  }

  /** Retention purge (EXTENSION — Pinot's RetentionManager): delete
    * segments whose declared time column lies ENTIRELY before the
    * boundary, decided from metadata alone (writer-recorded max bound) —
    * no column IO, no scan. Segments without a declared time column or
    * readable bounds are KEPT (refusal is always safe). Epoch-millis
    * time grain, matching the TIMESTAMP storage type. Returns the purged
    * segment names.
    */
  def purgeOlderThan(tableDir: String, boundaryMillis: Long): Seq[String] = {
    // remote-capable (r16): discovery, the metadata-only expiry read,
    // and the segment-dir delete all route through the SegmentIO seam —
    // identical local behavior (LocalSegmentIO IS the prior java.nio
    // calls), and hdfs://-hosted tables purge where the data lives
    val io = SegmentIO.forPath(tableDir)
    val segDirs = graft.sources.pinot.PinotSegments.discoverDirs(tableDir, io)
      .map(p => if (io.fileName(p) == "v3") io.parent(p) else p)
    segDirs.flatMap { d =>
      val r = SegmentReader.open(d, io)
      val meta = try r.metadata finally r.close()
      val expired = for {
        tc <- meta.timeColumn
        cm <- meta.columns.get(tc)
        mx <- cm.maxValue
        mxMs <- mx.toLongOption
      } yield mxMs < boundaryMillis
      if (expired.contains(true)) {
        io.deleteRecursively(d)
        Some(meta.segmentName)
      } else None
    }
  }

  /** Per-column data + merged null vectors across `readers`, preserving
    * each column's logical type; shared by [[compact]] and [[convert]].
    */
  private def materialize(readers: Seq[SegmentReader])
      : (Seq[SegmentWriter.ColumnData], Map[String, Array[Int]]) = {
    val metas = readers.map(_.metadata)
    val first = metas.head
    val colNames = first.columns.keys.toSeq
    val cols: Seq[SegmentWriter.ColumnData] = colNames.map { c =>
      val cm = first.columns(c)
      def cat[T: scala.reflect.ClassTag](read: SegmentReader => Array[T]) =
        readers.map(read).reduce(_ ++ _)
      if (!cm.isSingleValue) cm.dataType match {
        case PinotType.PInt =>
          SegmentWriter.IntMVCol(c, cat(_.readIntMVColumn(c)))
        case PinotType.PLong =>
          SegmentWriter.LongMVCol(c, cat(_.readLongMVColumn(c)))
        case PinotType.PDouble =>
          SegmentWriter.DoubleMVCol(c, cat(_.readDoubleMVColumn(c)))
        case PinotType.PString =>
          SegmentWriter.StringMVCol(c, cat(_.readStringMVColumn(c)))
        case other => throw new PinotFormatException(
          s"compact: unsupported MV type ${other.name} for $c")
      } else cm.dataType match {
        case PinotType.PInt => SegmentWriter.IntCol(c, cat(_.readIntColumn(c)))
        case PinotType.PLong =>
          SegmentWriter.LongCol(c, cat(_.readLongColumn(c)))
        case PinotType.PFloat =>
          SegmentWriter.FloatCol(c, cat(_.readFloatColumn(c)))
        case PinotType.PDouble =>
          SegmentWriter.DoubleCol(c, cat(_.readDoubleColumn(c)))
        case PinotType.PString =>
          SegmentWriter.StringDictCol(c, cat(_.readStringColumn(c)))
        case PinotType.PJson =>
          SegmentWriter.JsonDictCol(c, cat(_.readStringColumn(c)))
        case PinotType.PBoolean =>
          SegmentWriter.BoolCol(c, cat(_.readBooleanColumn(c)))
        case PinotType.PTimestamp =>
          SegmentWriter.TimestampCol(c, cat(_.readTimestampMillisColumn(c)))
        case PinotType.PBytes =>
          SegmentWriter.BytesRawCol(c, cat(_.readBytesColumn(c)))
        case PinotType.PBigDecimal =>
          SegmentWriter.BigDecimalRawCol(c, cat(_.readBigDecimalColumn(c)))
      }
    }

    // null-value vectors: union per column with per-segment doc offsets
    val offsets = metas.map(_.totalDocs).scanLeft(0)(_ + _)
    val nullVectors: Map[String, Array[Int]] = colNames.flatMap { c =>
      val merged = readers.zip(offsets).flatMap { case (r, off) =>
        r.nullVector(c).toSeq.flatMap(bm =>
          bm.toArray.map(_ + off))
      }.toArray
      if (merged.isEmpty) None else Some(c -> merged)
    }.toMap

    (cols, nullVectors)
  }

  /** Deletes a local file or directory tree; an absent path is a no-op. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}

package graft.queries

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The streaming near-dup path (q172): incoming docs' LSH bands against
  * the persisted corpus bucket table.
  *
  *  - The per-ROW band computation ([[SketchDedup.bandsOver]]) and the
  *    batch path (`signatures` + banding) must both be bit-identical to
  *    the md5-hex reference of the DuckDB oracles — otherwise stream-side
  *    bands silently never match corpus-side stored buckets and every
  *    incoming doc reads as unique.
  *  - The per-batch join must keep the corpus-sized bucket side
  *    exchange-free (it streams through a BroadcastHashJoin built from
  *    the micro-batch's bands) — the 100 TB property; a plan test pins
  *    it so a lost broadcast hint or a join-side flip fails loudly.
  *  - The stream is stateless (banding per row + a per-batch join
  *    against the standing table), but its OFFSETS must survive a
  *    checkpointed restart: a re-read double-flags (harmless here)
  *    while a LOST offset skips a wave of incoming docs entirely — the
  *    restart proof lands incoming docs in two waves around a full
  *    stop/restart.
  *  - With `grow = true` (the production ingest mode) surviving docs'
  *    bands join the bucket table per batch, so wave-2 docs must dedup
  *    against wave-1 SURVIVORS — and only survivors — across a restart.
  *  - One micro-batch holding several waves gives the answer of one
  *    wave per batch: the batch's waves are checked in file order.
  */
class StreamNearDupSpec extends SparkTestBase {

  import spark.implicits._

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("stream-side bands are bit-identical to the batch signature path") {
    // the batch path and the stream share one kernel, so both are held
    // to the independent md5-hex reference the DuckDB oracles use
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val reference = graft.functions.DocSketchReference.bands(docs)
      .as[(Long, Int, String)].collect().toSet
    val perRow = SketchDedup.bandsOver(docs)
      .as[(Long, Int, String)].collect().toSet
    assert(perRow.diff(reference).isEmpty && reference.diff(perRow).isEmpty,
      s"per-row banding diverged from the md5-hex reference: only per-row " +
        s"${perRow.diff(reference).take(5)}, only reference ${reference.diff(perRow).take(5)}")
    val batch = SketchDedup.lshCandidates(SketchDedup.signatures(spark, sfDir))
    val refPairs = {
      val b = graft.functions.DocSketchReference.bands(docs)
      b.as("a").join(b.as("b"), col("a.band") === col("b.band") &&
          col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    val batchPairs = batch.as[(Long, Long)].collect().toSet
    assert(batchPairs === refPairs,
      "batch LSH candidates diverged from the md5-hex reference bands")
  }

  test("per-batch join: corpus bucket side crosses NO exchange; " +
      "the micro-batch bands broadcast") {
    val work = graft.TestDirs.create("neardup_plan")
    val bucketRoot = work.resolve("buckets").toString
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    SketchDedup.bandsOver(corpus).write
      .parquet(s"$bucketRoot/ingest_batch=-1")
    // the same read + prune runNearDup's foreachBatch performs
    val buckets = spark.read.parquet(bucketRoot)
      .filter(col("ingest_batch") < 0L)
    val bands = SketchDedup.bandsOver(
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "one two three four five six")).toDF("doc_id", "text"))
    val flagged = SketchDedup.flaggedAgainst(buckets, bands)
    assert(flagged.as[Long].collect().toSet === Set(100L))
    val plan = flagged.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = allNodes(plan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected a BroadcastHashJoin (micro-batch bands built), got:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"corpus side must not sort-merge:\n$plan")
    // the join's whole subtree (corpus scan included) is exchange-free:
    // the only shuffle in the per-batch job is the distinct ABOVE it
    val joinSubtree = nodes.collectFirst {
      case j: BroadcastHashJoinExec => allNodes(j)
    }.get
    assert(!joinSubtree.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"corpus bucket side must cross no exchange:\n$plan")
    // column pruning: the corpus scan reads (band, sig) only — no doc
    // payloads cross the 100 TB read
    val scans = joinSubtree.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val out = s.output.map(_.name).toSet
      assert(out.subsetOf(Set("band", "sig", "ingest_batch")),
        s"corpus scan must prune to (band, sig), read: $out")
    }
  }

  test("near-dup flags survive a checkpointed restart between incoming waves") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val incoming = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
    val work = graft.TestDirs.create("neardup_restart")
    val bucketRoot = work.resolve("buckets").toString
    SketchDedup.bandsOver(corpus).write
      .parquet(s"$bucketRoot/ingest_batch=-1")
    val inDir = work.resolve("incoming")
    java.nio.file.Files.createDirectories(inDir)
    val flaggedDir = work.resolve("flagged").toString
    incoming.select("doc_id").limit(0).write.parquet(flaggedDir)
    def runOnce(): Unit = SketchDedup.runNearDup(spark, inDir.toString,
      incoming.schema, bucketRoot, work.resolve("ckpt").toString,
      flaggedDir, grow = false, timeoutMs = 120000)
    // wave 1: half the incoming docs land; full drain; stop
    incoming.filter(col("doc_id") % 20 >= 18).coalesce(1)
      .write.mode("append").parquet(inDir.toString)
    runOnce()
    // wave 2 (RESTART from the checkpoint): the other half lands — a
    // lost offset would skip it, a re-read of wave 1 only double-flags
    incoming.filter(col("doc_id") % 20 < 18).coalesce(1)
      .write.mode("append").parquet(inDir.toString)
    runOnce()
    val streamed = spark.read.parquet(flaggedDir)
      .as[Long].collect().toSet
    val buckets = spark.read.parquet(bucketRoot)
    val batchTwin = SketchDedup.bandsOver(incoming)
      .join(buckets, Seq("band", "sig"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batchTwin,
      "flag set after the restart differs from the batch twin")
  }

  test("grow mode: wave-2 docs dedup against wave-1 SURVIVORS across a " +
      "restart; flagged docs never join the bucket table") {
    val work = graft.TestDirs.create("neardup_grow")
    val bucketRoot = work.resolve("buckets").toString
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta"
    val noveltyText = "red orange yellow green blue indigo violet pink"
    SketchDedup.bandsOver(Seq((1L, corpusText)).toDF("doc_id", "text"))
      .write.parquet(s"$bucketRoot/ingest_batch=-1")
    val inDir = work.resolve("incoming")
    java.nio.file.Files.createDirectories(inDir)
    val flaggedDir = work.resolve("flagged").toString
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq.empty[Long].toDF("doc_id").write.parquet(flaggedDir)
    def runOnce(): Unit = SketchDedup.runNearDup(spark, inDir.toString,
      schema, bucketRoot, work.resolve("ckpt").toString,
      flaggedDir, grow = true, timeoutMs = 120000)
    // wave 1 (batch 0): doc 100 is novel (survives), doc 101 duplicates
    // the corpus (flagged — its bands must NOT be appended)
    Seq((100L, noveltyText), (101L, corpusText)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir.toString)
    runOnce()
    // wave 2 (batch 1, after a RESTART): doc 200 duplicates wave-1
    // SURVIVOR 100 (must be flagged — only possible if 100's bands were
    // appended), doc 201 is novel (survives)
    Seq((200L, noveltyText),
      (201L, "sun moon star cloud rain snow wind storm"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir.toString)
    runOnce()
    val flagged = spark.read.parquet(flaggedDir).as[Long].collect().toSet
    assert(flagged === Set(101L, 200L),
      s"expected {101 (vs corpus), 200 (vs wave-1 survivor)}, got $flagged")
    // the bucket table grew by exactly the survivors, batch by batch
    val buckets = spark.read.parquet(bucketRoot)
      .select(col("ingest_batch").cast("long"), col("doc_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(buckets === Set((-1L, 1L), (0L, 100L), (1L, 201L)),
      s"bucket table partitions diverged: $buckets")
  }

  test("per-batch join over driver-held bands: broadcast, no exchange " +
      "under the join, corpus scan pruned") {
    val work = graft.TestDirs.create("neardup_held_plan")
    val bucketRoot = work.resolve("buckets").toString
    SketchDedup.bandsOver(Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")).write.parquet(s"$bucketRoot/ingest_batch=-1")
    // the shape runNearDup builds: the fixed-schema bucket read and the
    // batch's bands collected once and held as a local frame
    val held = SketchDedup.bandsOver(
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "one two three four five six")).toDF("doc_id", "text"))
      .collect().toSeq
    val flagged = SketchDedup.flaggedAgainst(
      SketchDedup.bucketsBefore(spark, bucketRoot, 0L),
      SketchDedup.heldBands(spark, held))
    assert(flagged.as[Long].collect().toSet === Set(100L))
    val plan = flagged.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val joinSubtree = allNodes(plan).collectFirst {
      case j: BroadcastHashJoinExec => allNodes(j)
    }.getOrElse(fail(s"expected a BroadcastHashJoin, got:\n$plan"))
    assert(!joinSubtree.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"corpus bucket side must cross no exchange:\n$plan")
    val scans = joinSubtree.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, s"no corpus scan under the join:\n$plan")
    scans.foreach { s =>
      val out = s.output.map(_.name).toSet
      assert(out.subsetOf(Set("band", "sig", "ingest_batch")),
        s"corpus scan must prune to (band, sig), read: $out")
    }
  }

  test("grow mode: waves drained in one batch flag and keep exactly what " +
      "one wave per batch does") {
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta"
    val novelA = "red orange yellow green blue indigo violet pink"
    val novelB = "sun moon star cloud rain snow wind storm"
    val novelC = "oak pine birch maple cedar willow elm ash"
    // wave 0: two identical novel docs (both survive, they never see
    // each other) and a corpus copy; waves 1 and 2 copy earlier survivors
    val waves = Seq(
      Seq((10L, novelA), (11L, novelA), (12L, corpusText)),
      Seq((20L, novelA), (21L, novelB)),
      Seq((30L, novelB), (31L, novelC), (32L, novelA)))
    val work = graft.TestDirs.create("neardup_waves")
    val inDir = work.resolve("incoming")
    java.nio.file.Files.createDirectories(inDir)
    val t0 = System.currentTimeMillis() - 60000L
    waves.zipWithIndex.foreach { case (docs, k) =>
      val stage = work.resolve(s"stage_$k").toString
      docs.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dest = inDir.resolve(f"wave_$k%02d.parquet")
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(t0 + k * 2000L))
    }
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    /** Flags, and (ingest_batch, doc_id) of the bucket table, of one run. */
    def run(name: String, maxFiles: Option[Int]) = {
      val bucketRoot = work.resolve(s"buckets_$name").toString
      SketchDedup.bandsOver(Seq((1L, corpusText)).toDF("doc_id", "text"))
        .write.parquet(s"$bucketRoot/ingest_batch=-1")
      val flaggedDir = work.resolve(s"flagged_$name").toString
      Seq.empty[Long].toDF("doc_id").write.parquet(flaggedDir)
      SketchDedup.runNearDup(spark, inDir.toString, schema, bucketRoot,
        work.resolve(s"ckpt_$name").toString, flaggedDir, grow = true,
        timeoutMs = 120000, maxFilesPerTrigger = maxFiles)
      val flagged = spark.read.parquet(flaggedDir).as[Long].collect().toSet
      val buckets = spark.read.parquet(bucketRoot)
        .select(col("ingest_batch").cast("long"), col("doc_id"))
        .distinct().as[(Long, Long)].collect().toSet
      (flagged, buckets)
    }
    val (batchFlags, batchBuckets) = run("batch", None)
    val (waveFlags, waveBuckets) = run("wave", Some(1))
    assert(waveFlags === Set(12L, 20L, 30L, 32L),
      s"one wave per batch flagged $waveFlags")
    assert(batchFlags === waveFlags)
    assert(batchBuckets.map(_._2) === waveBuckets.map(_._2))
    assert(batchBuckets.map(_._2) === Set(1L, 10L, 11L, 21L, 31L))
    // the batched run drained all three waves in its one batch 0
    assert(batchBuckets.map(_._1) === Set(-1L, 0L))
    assert(waveBuckets.map(_._1) === Set(-1L, 0L, 1L, 2L))
  }

  /** A dir of `work` on the scratch scheme the near-dup queries use. */
  private def scratch(work: java.nio.file.Path, sub: String) =
    graft.ScratchFileSystem.on(work.resolve(sub))

  /** No `.crc` file under `work`: what was written there went through
    * the scratch scheme, not `file:`.
    */
  private def assertNoCrc(work: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(work)
    try assert(!walk.iterator().asScala.exists(_.toString.endsWith(".crc")),
      s"a .crc file under $work: written through file:")
    finally walk.close()
  }

  test("graftscratch: near-dup flags survive a checkpointed restart " +
      "between incoming waves") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val incoming = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
    val work = graft.TestDirs.create("neardup_restart_scratch")
    val bucketRoot = scratch(work, "buckets")
    SketchDedup.bandsOver(corpus).write
      .parquet(s"$bucketRoot/ingest_batch=-1")
    val inDir = work.resolve("incoming")
    java.nio.file.Files.createDirectories(inDir)
    val flaggedDir = scratch(work, "flagged")
    incoming.select("doc_id").limit(0).write.parquet(flaggedDir)
    def runOnce(): Unit = SketchDedup.runNearDup(spark, inDir.toString,
      incoming.schema, bucketRoot, scratch(work, "ckpt"),
      flaggedDir, grow = false, timeoutMs = 120000)
    incoming.filter(col("doc_id") % 20 >= 18).coalesce(1)
      .write.mode("append").parquet(inDir.toString)
    runOnce()
    incoming.filter(col("doc_id") % 20 < 18).coalesce(1)
      .write.mode("append").parquet(inDir.toString)
    runOnce()
    val streamed = spark.read.parquet(flaggedDir)
      .as[Long].collect().toSet
    val buckets = spark.read.parquet(bucketRoot)
    val batchTwin = SketchDedup.bandsOver(incoming)
      .join(buckets, Seq("band", "sig"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batchTwin,
      "flag set after the restart differs from the batch twin")
    assert(java.nio.file.Files.exists(work.resolve("ckpt/commits/1")),
      "the restart did not commit its second batch on the scratch dir")
    assertNoCrc(work.resolve("ckpt"))
    assertNoCrc(work.resolve("flagged"))
  }

  test("graftscratch grow mode: wave-2 docs dedup against wave-1 " +
      "SURVIVORS across a restart; flagged docs never join the bucket table") {
    val work = graft.TestDirs.create("neardup_grow_scratch")
    val bucketRoot = scratch(work, "buckets")
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta"
    val noveltyText = "red orange yellow green blue indigo violet pink"
    SketchDedup.bandsOver(Seq((1L, corpusText)).toDF("doc_id", "text"))
      .write.parquet(s"$bucketRoot/ingest_batch=-1")
    val inDir = work.resolve("incoming")
    java.nio.file.Files.createDirectories(inDir)
    val flaggedDir = scratch(work, "flagged")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq.empty[Long].toDF("doc_id").write.parquet(flaggedDir)
    def runOnce(): Unit = SketchDedup.runNearDup(spark, inDir.toString,
      schema, bucketRoot, scratch(work, "ckpt"),
      flaggedDir, grow = true, timeoutMs = 120000)
    Seq((100L, noveltyText), (101L, corpusText)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir.toString)
    runOnce()
    Seq((200L, noveltyText),
      (201L, "sun moon star cloud rain snow wind storm"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir.toString)
    runOnce()
    val flagged = spark.read.parquet(flaggedDir).as[Long].collect().toSet
    assert(flagged === Set(101L, 200L),
      s"expected {101 (vs corpus), 200 (vs wave-1 survivor)}, got $flagged")
    val buckets = spark.read.parquet(bucketRoot)
      .select(col("ingest_batch").cast("long"), col("doc_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(buckets === Set((-1L, 1L), (0L, 100L), (1L, 201L)),
      s"bucket table partitions diverged: $buckets")
    assertNoCrc(work.resolve("ckpt"))
    assertNoCrc(work.resolve("buckets"))
    assertNoCrc(work.resolve("flagged"))
  }
}

package graft.queries

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sketch-based near-duplicate detection: MinHash+LSH and SimHash.
  *
  * BOTH pipelines are hash-oracled end-to-end in DuckDB via the
  * engine-neutral md5-derived hash families of
  * [[graft.functions.DocSketch]], which documents the constants and the
  * overflow-safety argument: q49/q172/q175 band the 64-permutation
  * MinHash signature, q50 the 64-bit SimHash.
  *
  * Scale notes (100 TB): this is the path that replaces q41's quadratic
  * shingle self-join. Work per stage:
  * - sketches: one map-only row per document (`minhash_sig`,
  *   `shingle_set` or `simhash` over its text) — no per-shingle or
  *   per-token rows, no aggregate, no shuffle;
  * - banding: 16 (or 8) small rows per document, each a band hash;
  * - bucket join: self-join on (band, signature) — only docs sharing a
  *   band signature meet, so the join output is ~candidates, not n²;
  * - verification: each candidate pair joins its two docs' shingle-set
  *   rows and intersects them ([[TextOps.verified]], shared with
  *   q41/q73) — linear in candidates, no shingle self-join, no
  *   pair-count aggregate.
  */
object SketchDedup {

  import graft.functions.SketchExprs.{minhashSig, shingleSet, simhash}

  private val Bands = 16 // 16 bands × 4 rows → s-curve threshold ≈ 0.5
  private val RowsPerBand = graft.functions.DocSketch.NumPerms / Bands

  /** One map-only row per document: (doc_id, sig_vec, ss, n) — its
    * MinHash signature, its distinct shingles and their number. A doc
    * under 3 words has no shingles, a NULL `sig_vec` and no bands.
    */
  private[queries] def signatures(s: SparkSession, d: String): DataFrame =
    graft.Tables.load(s, d, "documents")
      .select(col("doc_id"), minhashSig(col("text")).as("sig_vec"),
        shingleSet(col("text")).as("ss"))
      .withColumn("n", size(col("ss")))

  /** The full MinHash+LSH pipeline (banding → bucket join → exact
    * verification at J>=0.8 by [[TextOps.verified]] over the full
    * shingle sets).
    */
  private[graft] def lshPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    TextOps.verified(lshCandidates(sigs), sigs)
      .orderBy("id_a", "id_b")
  }

  /** Candidate pairs (id_a < id_b) of [[signatures]] rows: the pairs
    * sharing a band signature.
    */
  private[queries] def lshCandidates(sigs: DataFrame): DataFrame = {
    val bandSigs = bands(sigs)
    bandSigs.as("a")
      .join(bandSigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** The (doc_id, band, sig, carry…) rows of rows holding a `sig_vec`:
    * sig is the md5 of the band's 4 minima joined by commas
    * (engine-neutral; DuckDB: md5(string_agg(mv, ',' ORDER BY i))). A
    * NULL `sig_vec` explodes to no band. The band is a generator output,
    * so no filter on it is pushed below the generator into the
    * signature's projection, which would evaluate the signature twice.
    */
  private def bands(sigs: DataFrame, carry: String*): DataFrame =
    sigs
      .withColumn("band", explode(when(col("sig_vec").isNotNull,
        sequence(lit(0), lit(Bands - 1)))))
      .withColumn("sig", md5(concat_ws(",", (0 until RowsPerBand).map(r =>
        col("sig_vec")(col("band") * RowsPerBand + r).cast(StringType)): _*)))
      .select((Seq("doc_id", "band", "sig") ++ carry).map(col): _*)

  /** Per-DOC-ROW band signatures: the whole shingle → minhash → band
    * pipeline runs inside one projection over each doc row, so a STREAM
    * of documents computes its bands with no stateful aggregation, no
    * watermark, and no shuffle — the same kernel and banding as q49
    * ([[signatures]] + [[lshCandidates]]), so stream-side bands join
    * corpus-side stored buckets meaningfully (the q172 DuckDB oracle
    * recomputes the family independently). Docs under 3 words produce no
    * bands. The `carry` columns of `docs` ride along on every band row.
    */
  private[graft] def bandsOver(docs: DataFrame, carry: String*): DataFrame =
    bands(docs.withColumn("sig_vec", minhashSig(col("text"))), carry: _*)

  private val BandSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("band", IntegerType), StructField("sig", StringType)))
  private val FlagSchema = StructType(Seq(StructField("doc_id", LongType)))

  /** Input bytes one near-dup trigger admits when no file cap is given.
    * The file source admits whole files, so a wave is never split, and
    * the batch's bands, held on the driver, stay bounded.
    */
  private val MaxBytesPerTrigger = 64L << 20

  /** Runs a growing batch's flag write beside its survivor write. */
  private lazy val WritePool =
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-neardup-write")
      t.setDaemon(true)
      t
    }

  /** The bucket table as batch `batchId` sees it: the seed partition and
    * the survivors of earlier batches. The schema is given, so the read
    * runs no inference job.
    */
  private[graft] def bucketsBefore(s: SparkSession, bucketRoot: String,
      batchId: Long): DataFrame =
    s.read.schema(BandSchema.add("ingest_batch", IntegerType))
      .parquet(bucketRoot)
      .filter(col("ingest_batch") < batchId)

  /** A batch's (doc_id, band, sig) rows, held on the driver, as a local
    * frame: the broadcast build side of [[flaggedAgainst]].
    */
  private[graft] def heldBands(s: SparkSession, rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava, BandSchema)

  /** The per-batch candidate check, INVERTED so the corpus-sized side
    * never shuffles: the corpus bucket scan (band, sig only — column
    * pruning keeps doc payloads out of the read) streams straight into a
    * BroadcastHashJoin whose BUILD side is the micro-batch's bands — a
    * few KB per trigger. No exchange, no sort on the corpus side; the
    * only shuffle in the per-batch job is the distinct over the flagged
    * doc ids (≤ batch-size rows). StreamNearDupSpec pins this plan.
    * A left-semi join the other way round (batch side left) could only
    * broadcast the CORPUS, so at 100 TB every micro-batch would
    * re-shuffle the corpus-sized static side — the shape r15 shipped.
    * If a micro-batch ever outgrew broadcast, the fallback is the
    * bucketed/sorted corpus layout, not a corpus shuffle.
    */
  private[graft] def flaggedAgainst(buckets: DataFrame,
      batchBands: DataFrame): DataFrame =
    buckets.select("band", "sig")
      .join(broadcast(batchBands.select("doc_id", "band", "sig")),
        Seq("band", "sig"))
      .select("doc_id")
      .distinct()

  /** One pass over a growing batch's band rows (doc_id, band, sig,
    * wave_ts, wave_path) in wave order: file mtime, then path, the order
    * in which the file source admits files. A doc is flagged when the
    * corpus check hit it (`hits`) or when it shares a (band, sig) pair
    * with a survivor of an earlier wave of this batch; docs of one wave
    * never see each other. Returns the flagged ids and the survivors'
    * (doc_id, band, sig) rows.
    */
  private def inWaveOrder(held: Array[Row],
      hits: Set[Long]): (Set[Long], Seq[Row]) = {
    val seen = mutable.HashSet.empty[(Int, String)]
    val flagged = mutable.HashSet.empty[Long] ++= hits
    val survivors = mutable.ArrayBuffer.empty[Row]
    held.groupBy(r => (r.getLong(3), r.getString(4))).toSeq.sortBy(_._1)
      .foreach { case (_, wave) =>
        val (dups, fresh) = wave.groupBy(_.getLong(0)).partition {
          case (id, rows) =>
            hits(id) || rows.exists(r => seen((r.getInt(1), r.getString(2))))
        }
        flagged ++= dups.keys
        fresh.valuesIterator.flatten.foreach { r =>
          seen += ((r.getInt(1), r.getString(2)))
          survivors += Row(r.getLong(0), r.getInt(1), r.getString(2))
        }
      }
    (flagged.toSet, survivors.toSeq)
  }

  /** Drains one AvailableNow pass of the near-dup stream: incoming docs
    * are banded STATELESSLY in the streaming query ([[bandsOver]]), each
    * band row tagged with its wave (the file it came from). A trigger
    * admits at most [[MaxBytesPerTrigger]] of whole files, so a small
    * backlog drains in one micro-batch. Each batch collects its bands
    * once, checks them against the standing bucket table in one job
    * ([[flaggedAgainst]] over [[heldBands]]) that appends the flagged ids
    * to `flaggedDir`. With `grow = true` the corpus grows as the crawl
    * lands: [[inWaveOrder]] walks the batch's waves in file order, so
    * wave k dedups against the seed corpus plus the SURVIVORS of waves
    * < k (earlier batches through the table, earlier waves of this batch
    * through a driver-side set), so the check's ids come back to the
    * driver, and the batch's flags and survivors (the `ingest_batch=<id>`
    * partition) are written side by side. The answer is the same at
    * any batch split; `maxFilesPerTrigger = Some(1)` runs one wave per
    * batch, the reference shape specs compare against.
    * Crash-retry safety: the bucket read prunes to
    * `ingest_batch < batchId`, so a half-written partition from a
    * failed attempt of the SAME batch can never flag a doc against its
    * own bands; the partition write is mode-overwrite on a
    * batchId-keyed directory, so the retry replaces it byte-for-byte.
    * (Flag re-appends on retry only duplicate rows — the reader
    * distincts.) Long-running ingest accretes one partition dir per
    * batch; production bounds that by periodically folding the
    * `ingest_batch>=0` partitions into the seed partition between
    * stream runs (a plain parquet rewrite while no stream holds the
    * table) — the read path is layout-agnostic either way.
    */
  private[graft] def runNearDup(s: SparkSession, inDir: String,
      incomingSchema: StructType,
      bucketRoot: String, ckptDir: String, flaggedDir: String,
      grow: Boolean, timeoutMs: Long = 300000,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    // the file source refuses both caps at once
    val reader = s.readStream.schema(incomingSchema)
    maxFilesPerTrigger match {
      case Some(n) => reader.option("maxFilesPerTrigger", n.toString)
      case None => reader.option("maxBytesPerTrigger", MaxBytesPerTrigger.toString)
    }
    val docs = reader.parquet(inDir)
      .select(col("doc_id"), col("text"),
        unix_micros(col("_metadata.file_modification_time")).as("wave_ts"),
        col("_metadata.file_path").as("wave_path"))
    def write(rows: Iterable[Row], schema: StructType) =
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
    val q = graft.StreamCalls.start(s)(bandsOver(docs, "wave_ts", "wave_path")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (bands: DataFrame, batchId: Long) =>
        // the broadcast would ship these rows to the driver anyway
        val held = bands.collect()
        if (held.nonEmpty) {
          val hits = flaggedAgainst(bucketsBefore(s, bucketRoot, batchId),
            heldBands(s, held.toSeq.map(r =>
              Row(r.getLong(0), r.getInt(1), r.getString(2)))))
          if (!grow) hits.write.mode("append").parquet(flaggedDir)
          else {
            val (flagged, survivors) =
              inWaveOrder(held, hits.collect().map(_.getLong(0)).toSet)
            val flags = SQLExecution.withThreadLocalCaptured(
              s.asInstanceOf[classic.SparkSession], WritePool) {
              if (flagged.nonEmpty) write(flagged.map(Row(_)), FlagSchema)
                .mode("append").parquet(flaggedDir)
            }
            write(survivors, BandSchema).mode("overwrite")
              .parquet(s"$bucketRoot/ingest_batch=$batchId")
            flags.join()
          }
        }
        ()
      }
      .start())
    require(q.awaitTermination(timeoutMs),
      "near-dup: the AvailableNow stream did not terminate")
  }

  /** The standing near-dup fixture, cached per source dir: the corpus's
    * band buckets as the bucket table's `ingest_batch=-1` seed
    * partition, the incoming docs landed as 4 parquet files (the
    * micro-batch feed), and the SAME incoming docs split into 4 WAVE
    * files by `doc_id % 4` with strictly increasing mtimes — the file
    * source admits files in mtime order and [[runNearDup]] checks waves
    * in that order, so wave k is checked after waves < k
    * deterministically, which is what lets the growing regime (q175)
    * carry a sequential DuckDB oracle. The fixture is a [[FixtureCache]]
    * entry of `d`, reused under that cache's one rule.
    */
  private def fixture(s: SparkSession, d: String, docs: DataFrame,
      incoming: DataFrame): (String, String, String) = {
    val root = FixtureCache.once("neardup_v3", d) { dir =>
      val in = dir.resolve("incoming")
      val waves = dir.resolve("incoming_waves")
      val corpus = docs.filter(col("doc_id") % 10 < 8)
      bandsOver(corpus).write.mode("overwrite")
        .parquet(dir.resolve("corpus_buckets/ingest_batch=-1").toString)
      incoming.repartition(4).write.mode("overwrite").parquet(in.toString)
      Files.createDirectories(waves)
      val t0 = Files.getLastModifiedTime(in).toMillis
      (0 until 4).foreach { k =>
        val stage = dir.resolve(s"wave_stage_$k")
        incoming.filter(col("doc_id") % 4 === k).coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = {
          val ls = Files.list(stage)
          try ls.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally ls.close()
        }
        val dest = waves.resolve(f"wave_$k%02d.parquet")
        Files.move(part, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(t0 + k * 2000L))
        graft.pinot.PinotCompact.deleteRecursively(stage)
      }
    }
    def at(sub: String) = root.resolve(sub).toString
    (at("corpus_buckets"), at("incoming"), at("incoming_waves"))
  }

  /** Copy the seed bucket partition into a run-private bucket table —
    * the growing regime MUTATES its table, so runs must not share it.
    * Hardlinks where the filesystem allows (the seed's parquet files
    * are immutable — grow only ADDS partition dirs), byte copy as the
    * cross-device fallback.
    */
  private def copySeedBuckets(base: String, dest: java.nio.file.Path): Unit = {
    val src = java.nio.file.Paths.get(base)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val to = dest.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p))
        Files.createDirectories(to)
      else
        try Files.createLink(to, p)
        catch { case _: java.io.IOException =>
          Files.copy(p, to); ()
        }
      ()
    } finally walk.close()
  }

  /** STREAMING near-dup against a stored corpus — the production
    * LLM-pipeline shape batch q49 does not cover: "flag each INCOMING
    * crawl doc that near-duplicates the EXISTING corpus". The corpus's
    * LSH band buckets are persisted once as the `ingest_batch=-1` seed
    * partition of the bucket table; each micro-batch of incoming docs
    * computes its bands statelessly ([[bandsOver]]) and its (band, sig)
    * pairs BROADCAST into a join the corpus-sized bucket scan streams
    * through ([[flaggedAgainst]]) — a doc sharing any band bucket with
    * the corpus is a candidate duplicate, and the corpus side crosses no
    * exchange at any scale. State: NONE (the join is per-batch against
    * the standing table, the banding per-row) — restart- and
    * grow-proven in StreamNearDupSpec.
    *
    * `grow = false` (q172) drains the 4 landed incoming files against
    * the fixed corpus, so the DuckDB oracle (incoming vs the corpus) is
    * exact. `grow = true` (q175, the production ingest regime) drains
    * the 4 wave files and each wave's survivors join the bucket table:
    * wave k dedups against the seed corpus PLUS the survivors of waves
    * < k — and nothing else (flagged docs never enter the table; docs
    * within one wave never see each other). The wave order is
    * deterministic (see [[fixture]]), so the DuckDB oracle replays the
    * same four-step sequence with chained CTEs; the bucket table is
    * copied per run from the cached seed, since the run mutates it.
    */
  private[graft] def streamNearDup(s: SparkSession, d: String,
      grow: Boolean): DataFrame = {
    val docs = graft.Tables.load(s, d, "documents")
    val incoming = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
    // the persisted corpus bucket table + the landed incoming files are
    // the STANDING state of this op in production (the bucket table is
    // maintained by ingest) — cache them per source dir like the pinot
    // fixtures, so repeated runs measure the stream dedup itself, not a
    // corpus rebuild; checkpoint + flag output stay fresh per run.
    val (seedBuckets, inDir, wavesDir) = fixture(s, d, docs, incoming)
    val work = graft.QueryWorkDirs.create(
      if (grow) "q175_neardup" else "q172_neardup")
    // the call's own dirs, on the scratch scheme (ScratchFileSystem)
    def scratch(sub: String) = graft.ScratchFileSystem.on(work.resolve(sub))
    if (grow) copySeedBuckets(seedBuckets, work.resolve("buckets"))
    val bucketRoot = if (grow) scratch("buckets") else seedBuckets
    Files.createDirectories(work.resolve("flagged"))
    val flaggedDir = scratch("flagged")
    runNearDup(s, if (grow) wavesDir else inDir, incoming.schema, bucketRoot,
      scratch("ckpt"), flaggedDir, grow)
    val flagged = s.read.schema(FlagSchema).parquet(flaggedDir).distinct()
      .withColumnRenamed("doc_id", "f_id")
    incoming.select(col("doc_id"))
      .join(flagged, col("doc_id") === col("f_id"), "left")
      .select(col("doc_id"), col("f_id").isNotNull.as("near_dup"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash + LSH banding + bucket join + exact verification at J>=0.8,
    // over the md5-derived engine-neutral permutation family (oracled).
    "q49_dedup_minhash_lsh" -> ((s, d) => lshPairs(s, d)),

    // Streaming near-dup of the incoming crawl (doc_id % 10 >= 8)
    // against the stored corpus bucket table (doc_id % 10 < 8): every
    // incoming doc flagged iff it shares an LSH band bucket with some
    // corpus doc — stateless banding per micro-batch + a per-batch
    // broadcast join, drained AvailableNow. The DuckDB oracle recomputes
    // the same md5 permutation family over both sides.
    "q172_stream_neardup_corpus" -> ((s, d) => streamNearDup(s, d, grow = false)),

    // The GROWING-corpus regime (production ingest): four deterministic
    // incoming waves drain through the same checkpointed stream with
    // grow = true — wave k is flagged against the seed corpus plus the
    // SURVIVORS of waves < k; the oracle replays the sequence in DuckDB.
    "q175_stream_neardup_grow" -> ((s, d) => streamNearDup(s, d, grow = true)),

    // SimHash: 64-bit sign-aggregated token hash; banded bucket join;
    // near-dups = hamming distance <= 7. Token hashes come from the
    // md5-derived engine-neutral family (oracled).
    "q50_dedup_simhash" -> ((s, d) => simhashPairs(s, d))
  )

  /** The full SimHash pipeline: one map-only 64-bit SimHash per
    * document, banded bucket join, hamming filter.
    */
  private[graft] def simhashPairs(s: SparkSession, d: String): DataFrame = {
      val sims = graft.Tables.load(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), simhash(col("text")).as("simhash"))
      // 8 bands × 8 bits: by pigeonhole, any pair within hamming 7 shares
      // at least one clean band → banding loses nothing below threshold.
      val banded = sims
        .withColumn("k", explode(expr("sequence(0, 7)")))
        .withColumn("band_val", expr("(simhash >> (8 * k)) & 255"))
      // hamming is row-local on the join output, so FILTER BEFORE the
      // dedup: distinct-then-filter hashed every candidate band
      // collision (118k rows, 32-byte keys — 1.1 s at sf0.1, the whole
      // query's hot spot) to then discard 99% of it; filter-then-
      // distinct dedups only true near-dup pairs (~1k rows). Identical
      // result — the predicate commutes with duplicate elimination.
      banded.as("a")
        .join(banded.as("b"),
          col("a.k") === col("b.k") && col("a.band_val") === col("b.band_val")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .filter(col("hamming") <= 7)
        .distinct()
        .orderBy("id_a", "id_b")
  }

  // Both sketch pipelines hash-oracle in DuckDB: q49 via the md5
  // permutation family, q50 via md5-derived 64-bit token hashes
  // reconstructed as two 32-bit halves (a 16-hex-char unsigned value
  // cannot cast to DuckDB's signed BIGINT, but its halves can — bit j
  // reads from the lo half for j<32, hi otherwise, and hamming is the
  // sum of the halves' bit_counts).
  val oracleSql: Map[String, String] = Map(
    // the same md5 permutation family over both sides: an incoming doc
    // (doc_id % 10 >= 8) is near_dup iff it shares a band signature
    // with some corpus doc (doc_id % 10 < 8)
    "q172_stream_neardup_corpus" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(words) - 1),
        |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
        |         AS shingle
        |       FROM w WHERE len(words) >= 3),
        |ab AS (SELECT doc_id, shingle,
        |         (CAST(concat('0x', substr(md5(shingle), 1, 13)) AS BIGINT)
        |          + CAST(concat('0x', substr(md5(shingle), 14, 13)) AS BIGINT))
        |           % 2147483647 AS x
        |       FROM sh),
        |pm AS (SELECT doc_id, i,
        |         min(((1 + ((i + 1) * 1013904223) % 2147483646) * x
        |              + (i * 2654435761) % 2147483647) % 2147483647) AS mv
        |       FROM ab CROSS JOIN range(64) t(i) GROUP BY 1, 2),
        |bd AS (SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i)) AS sig
        |       FROM pm GROUP BY doc_id, i // 4),
        |flag AS (SELECT DISTINCT a.doc_id FROM bd a JOIN bd c
        |         ON a.band = c.band AND a.sig = c.sig
        |         WHERE a.doc_id % 10 >= 8 AND c.doc_id % 10 < 8)
        |SELECT d.doc_id, (f.doc_id IS NOT NULL) AS near_dup
        |FROM documents d LEFT JOIN flag f ON d.doc_id = f.doc_id
        |WHERE d.doc_id % 10 >= 8
        |ORDER BY d.doc_id""".stripMargin,

    // the growing regime replayed sequentially: wave k (doc_id % 4 = k
    // of the incoming docs) flags against corpus bands ∪ the bands of
    // SURVIVING docs of waves < k — four chained steps, matching the
    // deterministic wave order of the fixture
    "q175_stream_neardup_grow" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(words) - 1),
        |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
        |         AS shingle
        |       FROM w WHERE len(words) >= 3),
        |ab AS (SELECT doc_id, shingle,
        |         (CAST(concat('0x', substr(md5(shingle), 1, 13)) AS BIGINT)
        |          + CAST(concat('0x', substr(md5(shingle), 14, 13)) AS BIGINT))
        |           % 2147483647 AS x
        |       FROM sh),
        |pm AS (SELECT doc_id, i,
        |         min(((1 + ((i + 1) * 1013904223) % 2147483646) * x
        |              + (i * 2654435761) % 2147483647) % 2147483647) AS mv
        |       FROM ab CROSS JOIN range(64) t(i) GROUP BY 1, 2),
        |bd AS (SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i)) AS sig
        |       FROM pm GROUP BY doc_id, i // 4),
        |inc AS (SELECT doc_id, band, sig FROM bd WHERE doc_id % 10 >= 8),
        |b0 AS (SELECT band, sig FROM bd WHERE doc_id % 10 < 8),
        |f0 AS (SELECT DISTINCT i.doc_id FROM inc i JOIN b0 USING (band, sig)
        |       WHERE i.doc_id % 4 = 0),
        |b1 AS (SELECT band, sig FROM b0 UNION ALL
        |       SELECT band, sig FROM inc WHERE doc_id % 4 = 0
        |         AND doc_id NOT IN (SELECT doc_id FROM f0)),
        |f1 AS (SELECT DISTINCT i.doc_id FROM inc i JOIN b1 USING (band, sig)
        |       WHERE i.doc_id % 4 = 1),
        |b2 AS (SELECT band, sig FROM b1 UNION ALL
        |       SELECT band, sig FROM inc WHERE doc_id % 4 = 1
        |         AND doc_id NOT IN (SELECT doc_id FROM f1)),
        |f2 AS (SELECT DISTINCT i.doc_id FROM inc i JOIN b2 USING (band, sig)
        |       WHERE i.doc_id % 4 = 2),
        |b3 AS (SELECT band, sig FROM b2 UNION ALL
        |       SELECT band, sig FROM inc WHERE doc_id % 4 = 2
        |         AND doc_id NOT IN (SELECT doc_id FROM f2)),
        |f3 AS (SELECT DISTINCT i.doc_id FROM inc i JOIN b3 USING (band, sig)
        |       WHERE i.doc_id % 4 = 3),
        |flag AS (SELECT doc_id FROM f0 UNION SELECT doc_id FROM f1
        |         UNION SELECT doc_id FROM f2 UNION SELECT doc_id FROM f3)
        |SELECT d.doc_id, (f.doc_id IS NOT NULL) AS near_dup
        |FROM documents d LEFT JOIN flag f ON d.doc_id = f.doc_id
        |WHERE d.doc_id % 10 >= 8
        |ORDER BY d.doc_id""".stripMargin,

    "q50_dedup_simhash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |tc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
        |hh AS (SELECT doc_id, c,
        |         CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS hi,
        |         CAST(concat('0x', substr(md5(word), 9, 8)) AS BIGINT) AS lo
        |       FROM tc),
        |tl AS (SELECT doc_id, j,
        |         sum(c * (2 * ((CASE WHEN j < 32 THEN lo >> j
        |                        ELSE hi >> (j - 32) END) & 1) - 1)) AS s
        |       FROM hh CROSS JOIN range(64) t(j) GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN j < 32 AND s > 0
        |           THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
        |           ELSE 0 END) AS BIGINT) AS lo_b,
        |         CAST(sum(CASE WHEN j >= 32 AND s > 0
        |           THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER)
        |           ELSE 0 END) AS BIGINT) AS hi_b
        |       FROM tl GROUP BY 1),
        |bd AS (SELECT doc_id, lo_b, hi_b, k,
        |         CASE WHEN k < 4
        |           THEN (lo_b >> CAST(8 * k AS INTEGER)) & 255
        |           ELSE (hi_b >> CAST(8 * (k - 4) AS INTEGER)) & 255
        |         END AS band_val
        |       FROM sh CROSS JOIN range(8) t(k)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |           a.lo_b AS lo_a, a.hi_b AS hi_a,
        |           b.lo_b AS lo_z, b.hi_b AS hi_z
        |         FROM bd a JOIN bd b
        |         ON a.k = b.k AND a.band_val = b.band_val
        |           AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(lo_a, lo_z)) + bit_count(xor(hi_a, hi_z))
        |    AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(lo_a, lo_z)) + bit_count(xor(hi_a, hi_z)) <= 7
        |ORDER BY id_a, id_b""".stripMargin,
    "q49_dedup_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(words) - 1),
        |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
        |         AS shingle
        |       FROM w WHERE len(words) >= 3),
        |ab AS (SELECT doc_id, shingle,
        |         (CAST(concat('0x', substr(md5(shingle), 1, 13)) AS BIGINT)
        |          + CAST(concat('0x', substr(md5(shingle), 14, 13)) AS BIGINT))
        |           % 2147483647 AS x
        |       FROM sh),
        |pm AS (SELECT doc_id, i,
        |         min(((1 + ((i + 1) * 1013904223) % 2147483646) * x
        |              + (i * 2654435761) % 2147483647) % 2147483647) AS mv
        |       FROM ab CROSS JOIN range(64) t(i) GROUP BY 1, 2),
        |bd AS (SELECT doc_id, i // 4 AS band,
        |         md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i)) AS sig
        |       FROM pm GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bd a JOIN bd b
        |         ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |cd AS (SELECT id_a AS doc_id FROM cand
        |       UNION SELECT id_b FROM cand),
        |e AS (SELECT sh.doc_id, sh.shingle FROM sh
        |      JOIN cd ON cd.doc_id = sh.doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |      FROM e a JOIN e b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |v AS (SELECT p.id_a, p.id_b, p.inter FROM p
        |      JOIN cand ON cand.id_a = p.id_a AND cand.id_b = p.id_b)
        |SELECT id_a, id_b,
        |  round(inter * 1.0 / (za.n + zb.n - inter), 4) AS jaccard
        |FROM v JOIN sz za ON za.doc_id = id_a
        |JOIN sz zb ON zb.doc_id = id_b
        |WHERE inter * 10 >= (za.n + zb.n - inter) * 8
        |ORDER BY id_a, id_b""".stripMargin
  )
}

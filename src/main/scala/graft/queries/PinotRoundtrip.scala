package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Puts the Pinot connector INSIDE the DuckDB-oracle gate: lineitem data
  * is written to Pinot v3 segments **through the repo's own DSv2 writer**
  * (dictionary longs/ints/doubles, dict strings, RAW+LZ4 strings, plus the
  * BOOLEAN/TIMESTAMP/BYTES storage-type extensions — every codec path),
  * read back through `spark.read.format("pinot")`, and aggregated; the
  * oracle runs the same aggregation over the original parquet. A mismatch
  * anywhere in metadata/dictionary/fixed-bit/VarByte encode→decode — on
  * either the write or read side — breaks the hash.
  */
object PinotRoundtrip {

  // bump when a fixture's subset or columns change: it names the
  // FixtureCache family, so no entry built under an older layout is reused
  private val LayoutVersion = 16 // evolved table: segments only, fresh manifest

  /** The cached fixture dir `name` built from sf dir `d` by `build`; see
    * [[FixtureCache]] for when an entry is reused.
    */
  private def fixture(d: String, name: String)(build: String => Unit): String =
    FixtureCache.once(s"pinot_rt_v$LayoutVersion", d, name)(p =>
      build(p.toString)).toString

  /** Build (once per sf dir) a 3-segment Pinot table from the first
    * 30,000 lineitem rows, ordered for determinism.
    */
  private def segmentTable(s: SparkSession, d: String): String =
    fixture(d, "lineitemPinot_OFFLINE") { tableDir =>
      Tables.load(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(30000)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"),
          // high-cardinality ISO string → the writer picks RAW+LZ4
          date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
            .as("l_shipdate_s"),
          // TIMESTAMP storage extension (epoch-millis grain; dates are
          // second-aligned so the roundtrip is exact)
          col("l_shipdate").cast("timestamp").as("l_shipts"),
          // BOOLEAN storage extension
          (col("l_returnflag") === lit("R")).as("l_returned"),
          // BYTES storage extension (RAW VarByteChunk V4)
          encode(concat(col("l_returnflag"), col("l_orderkey").cast("string")),
            "UTF-8").as("l_payload"))
        .repartition(3)
        .write.format("pinot").mode("append").save(tableDir)
    }

  /** MV fixture: one row per order, lineitem numbers/flags as PAIRED
    * multi-value columns (order preserved via a sorted struct collect, so
    * `arrays_zip` downstream reconstructs the original rows exactly).
    */
  private def mvTable(s: SparkSession, d: String): String =
    fixture(d, "lineitemMV_OFFLINE") { tableDir =>
      Tables.load(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(col("l_linenumber"),
          col("l_returnflag")))).as("sorted"))
        .select(
          col("l_orderkey"),
          expr("transform(sorted, x -> x.l_linenumber)").as("lines"),
          expr("transform(sorted, x -> x.l_returnflag)").as("flags"))
        .repartition(2)
        .write.format("pinot").mode("append").save(tableDir)
    }

  /** JSON + BIG_DECIMAL fixture: events subset through the DSv2 writer
    * with `jsonColumns` (props stores as Pinot JSON) and an exact
    * integer-derived decimal column (BIG_DECIMAL storage).
    */
  private def jsonDecTable(s: SparkSession, d: String): String =
    fixture(d, "eventsPinot_OFFLINE") { tableDir =>
      // props2: a second json column with VARIED document shapes so
      // IN-list and IS-NOT-NULL probes have bite — nested objects
      // (refused path), >MaxValueLen leaves (unposted path: exists
      // refuses), keys present only in some docs. Derived purely from
      // event_id so the DuckDB oracle can rebuild the same strings.
      val m = (col("event_id") % 10).cast("string")
      val j = col("event_id") % 7
      val props2 = when(j === 0,
          concat(lit("{\"tag\": {\"x\": 1}, \"n\": "), m, lit("}")))
        .when(j === 1,
          concat(lit("{\"pad\": \""), lit("x" * 280), lit("\", \"n\": "),
            m, lit("}")))
        .when(j === 2,
          concat(lit("{\"k2\": \"t"), m, lit("\", \"n\": "), m, lit("}")))
        .otherwise(concat(lit("{\"n\": "), m, lit("}")))
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(
          col("event_id"), col("event_type"), col("props"),
          props2.as("props2"),
          // exact decimal from integers: (event_id % 1000) * 0.25, scale 4
          ((col("event_id") % 1000).cast("decimal(12,2)") *
            lit("0.25").cast("decimal(6,2)")).as("amount"))
        .repartition(2)
        .write.format("pinot").mode("append")
        .option("jsonColumns", "props,props2")
        .option("jsonIndexColumns", "props,props2")
        .save(tableDir)
    }

  /** Nullable-column fixture (null-value vector extension): NULLs derived
    * deterministically from lineitem values, written through the DSv2
    * writer with `nullableColumns`, stored as default + RoaringBitmap
    * null vector per segment.
    */
  private def nullableTable(s: SparkSession, d: String): String =
    fixture(d, "lineitemNull_OFFLINE") { tableDir =>
      Tables.load(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(30000)
        .select(
          col("l_orderkey"), col("l_returnflag"),
          // doubles null for returned rows, ints null on 3-multiples,
          // strings via NULLIF — three types exercise three null paths
          when(col("l_returnflag") === "R", lit(null))
            .otherwise(col("l_quantity")).as("n_qty"),
          when(col("l_linenumber") % 3 === 0, lit(null))
            .otherwise(col("l_linenumber")).as("n_line"),
          nullif(col("l_linestatus"), lit("F")).as("n_status"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .option("nullableColumns", "n_qty,n_line,n_status")
        .save(tableDir)
    }

  /** Inverted-index fixture: events subset with a bitmap inverted index
    * on event_type — q81's equality filter exercises posting-list window
    * skipping inside the oracle gate.
    */
  private def indexedTable(s: SparkSession, d: String): String =
    fixture(d, "eventsIdx_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .repartition(2)
        .write.format("pinot").mode("append")
        .option("invertedIndexColumns", "event_type")
        .save(tableDir)
    }

  /** Bloom fixture: events subset with a HIGH-CARDINALITY digest column
    * (RAW storage — no dictionary to prune against) carrying a bloom
    * filter; point lookups exercise the bloom pruning path end-to-end.
    */
  private def bloomTable(s: SparkSession, d: String): String =
    fixture(d, "eventsBloom_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_id"), col("event_type"), col("value"),
          md5(col("event_id").cast("string")).as("payload"))
        .repartition(2)
        .write.format("pinot").mode("append")
        .option("bloomFilterColumns", "payload")
        .option("rangeIndexColumns", "value")
        .save(tableDir)
    }

  /** v1-format fixture: the DSv2-written v3 segments CONVERTED to the
    * per-index-file v1/v2 layout (the pre-v3 format the reference
    * rejects) via [[graft.pinot.PinotCompact.convert]] — the migration
    * path real v1 segments from old Pinot clusters arrive through.
    */
  private def v1Table(s: SparkSession, d: String): String =
    fixture(d, "lineitemV1_OFFLINE") { tableDir =>
      val segs = Files.list(Paths.get(segmentTable(s, d)))
      try segs.iterator().asScala
        // segment DIRS only: skip in-flight tmp output and table-root
        // files (the writer-maintained _graft_manifest.v1, _SUCCESS)
        .filter(seg => !seg.getFileName.toString.startsWith("tmp") &&
          Files.isDirectory(seg))
        .foreach(seg => graft.pinot.PinotCompact.convert(seg.toString,
          s"$tableDir/${seg.getFileName}", formatVersion = 1))
      finally segs.close()
    }

  /** Text-index fixture: the documents corpus through the DSv2 writer
    * with `textIndexColumns` on the (RAW, high-cardinality) text column.
    */
  private def textTable(s: SparkSession, d: String): String =
    fixture(d, "documentsText_OFFLINE") { tableDir =>
      Tables.load(s, d, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .repartition(2)
        .write.format("pinot").mode("append")
        .option("textIndexColumns", "text")
        .save(tableDir)
    }

  /** Cased/punctuated text fixture for the v2 STANDARD-analyzer text
    * index: every 7th doc upper-cased (its folded tokens make it an
    * index CANDIDATE for lowercase probes — the residual filter must
    * drop it), every remaining 5th dash-joined (punctuation splits
    * tokens where the whitespace analyzer kept one blob).
    */
  private def textCasedTable(s: SparkSession, d: String): String =
    fixture(d, "documentsCased_OFFLINE") { tableDir =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, upper(col("text")))
            .when(col("doc_id") % 5 === 0,
              regexp_replace(col("text"), " ", "-"))
            .otherwise(col("text")).as("text_mod"),
          col("lang"), col("n_chars"))
        .repartition(2)
        .write.format("pinot").mode("append")
        .option("textIndexColumns", "text_mod")
        .save(tableDir)
    }

  /** Vector fixture: the embeddings corpus stored IN Pinot segments as
    * multi-value double columns — float32 widens exactly, so similarity
    * math over the read-back vectors is bit-identical to the parquet
    * originals.
    */
  private def vecTable(s: SparkSession, d: String): String =
    fixture(d, "embeddingsPinot_OFFLINE") { tableDir =>
      Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .repartition(2)
        .write.format("pinot").mode("append").save(tableDir)
    }

  /** Orders fixture for the Pinot×Pinot join: the orders subset keyed by
    * the same o_orderkey domain as the lineitem fixture.
    */
  private def ordersTable(s: SparkSession, d: String): String =
    fixture(d, "ordersPinot_OFFLINE") { tableDir =>
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(10000)
        .repartition(2)
        .write.format("pinot").mode("append").save(tableDir)
    }

  /** Schema-evolution fixture: the even half of documents written BEFORE
    * the `n_chars` column existed (old segments), the odd half after —
    * both through the DSv2 writer, merged into one table dir the way
    * old segments persist through a real schema change.
    */
  private def evolvedTable(s: SparkSession, d: String): String =
    fixture(d, "documentsEvo_OFFLINE") { tableDir =>
      val docs = Tables.load(s, d, "documents")
      val oldDir = Paths.get(tableDir).resolveSibling("tmp_evo_old")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang")
        .repartition(1)
        .write.format("pinot").mode("append").save(oldDir.toString)
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars")
        .repartition(1)
        .write.format("pinot").mode("append").save(tableDir)
      // adopt the pre-evolution segment dirs (not the old table's own
      // manifest) and list them in the evolved table's manifest
      val it = Files.list(oldDir).iterator()
      while (it.hasNext) {
        val seg = it.next()
        if (Files.isDirectory(seg))
          Files.move(seg, Paths.get(tableDir, s"old_${seg.getFileName}"))
      }
      graft.pinot.TableManifest.refresh(Paths.get(tableDir))
    }

  /** Hybrid fixture: events under a synthetic strictly-increasing time
    * column, split into OFFLINE (first 7,000) and REALTIME (rows 5,000+)
    * — rows 5,000–6,999 are deliberately ingested into BOTH, the
    * realtime/offline overlap a hybrid read must dedup at the time
    * boundary.
    */
  private def hybridRoot(s: SparkSession, d: String): String =
    fixture(d, "eventsHybrid") { root =>
      val e = Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(10000)
        .select(col("event_id"), col("event_type"),
          // strictly increasing synthetic event time → tie-free boundary
          expr("timestamp_micros(1704067200000000 + event_id * 1000000)")
            .as("hts"))
      // cuts relative to the actual subset size so BOTH sides are
      // non-empty (and overlap) at every scale factor
      val n = e.count()
      val hi = n * 7 / 10
      val lo = n / 2
      e.filter(col("event_id") < hi).repartition(2)
        .write.format("pinot").mode("append")
        .option("timeColumn", "hts").save(s"$root/eventsHybrid_OFFLINE")
      e.filter(col("event_id") >= lo).repartition(2)
        .write.format("pinot").mode("append")
        .option("timeColumn", "hts").save(s"$root/eventsHybrid_REALTIME")
    }

  /** Star-tree fixture: lineitem subset with a pre-aggregated index on
    * (l_returnflag, l_linestatus). Metrics are integer-exact (long sums,
    * double MIN/MAX) so tree pre-aggregation order can never perturb the
    * oracle hash.
    */
  private def starTable(s: SparkSession, d: String): String =
    fixture(d, "lineitemStar_OFFLINE") { tableDir =>
      Tables.load(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(30000)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag", "l_linestatus")
        .repartition(2)
        .write.format("pinot").mode("append")
        .option("starTree", "l_returnflag,l_linestatus:" +
          "SUM(l_orderkey),SUM(l_linenumber),MIN(l_quantity),MAX(l_quantity)")
        .save(tableDir)
    }

  /** Single-segment fixture for the pushdown-INTERACTION shapes
    * (q106–q108): only a lone segment takes the COMPLETE paths
    * (dictionary DISTINCT, complete histogram: no final aggregate)
    * — exactly the plan shape where r4's pushed-limit bug (Spark
    * 4.1.2's pushDownLimit deleting its own Limit above a complete
    * aggregate scan, so `distinct().limit(2)` returned every value)
    * shipped undetected because no declared query combined pushdowns.
    */
  private def singleSegTable(s: SparkSession, d: String): String =
    fixture(d, "lineitemSingle_OFFLINE") { tableDir =>
      Tables.load(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(30000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_linestatus"),
          // integral quantity (TPC-H quantities are whole numbers):
          // a 50-ary dict-int group key for the pushed top-N (q116)
          col("l_quantity").cast("int").as("l_qty_i"))
        .repartition(1)
        .write.format("pinot").mode("append").save(tableDir)
    }

  /** Sketch fixture: events subset with INGESTION-TIME distinct sketches
    * (a bitmap over user_id, a kmv1024 over the 100-distinct-value props
    * column — both exact at every SF) — see
    * [[graft.pinot.SketchSection]].
    */
  private def sketchTable(s: SparkSession, d: String): String =
    fixture(d, "eventsSketch_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_id"), col("user_id"), col("props"), col("value"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .option("sketchColumns", "user_id:bitmap,props:kmv1024,value:kll32768")
        .save(tableDir)
    }

  /** Rollup-sketch fixture: events subset rolled up per event_type with
    * user_id aggregated to a bitmap sketch COLUMN and props to a kmv1024
    * sketch column ([[graft.pinot.PinotCompact.rollup]] sketchMetrics) —
    * the model of Pinot's ingestion-time DISTINCT_COUNT_THETA_SKETCH:
    * raw rows are GONE after the rollup, grouped distincts survive.
    */
  private def rollupSketchTable(s: SparkSession, d: String): String =
    fixture(d, "eventsRollSk_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_type"), col("user_id"), col("props"),
          lit(1).as("cnt"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.pinot.PinotCompact.rollup(tableDir,
        dims = Seq("event_type"), metrics = Seq("cnt"),
        sketchMetrics = Map("user_id" -> "bitmap", "props" -> "kmv1024"))
    }

  /** Lambda-merge fixture: the COLD 60% of the events subset
    * (event_id % 10 < 6) segment-encoded WITH stored sketch sections on
    * all four query columns; the remaining 40% stays in parquet as the
    * un-sketched DELTA that q150 sketches at query time. hll18's sparse
    * limit (2^18/4 = 65536) exceeds the 20k subset cap, so the hll leg
    * is in its exact regime at every SF.
    */
  private def lambdaTable(s: SparkSession, d: String): String =
    fixture(d, "eventsLambda_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .filter(col("event_id") % 10 < 6)
        .select(col("event_id"), col("user_id"), col("props"), col("value"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .option("sketchColumns",
          "user_id:bitmap,props:kmv1024,value:kll32768,event_id:hll18")
        .save(tableDir)
    }

  /** Time-slice fixture: the events subset with a dense integral "time"
    * column (rank of event_id, so the slice constants below hit the same
    * logical rows at every SF), RANGE-partitioned into 4 segments with
    * disjoint time spans — the daily-segment layout the time-sliced
    * stored-sketch read is for. user_id carries a stored bitmap section.
    */
  private def timeSliceTable(s: SparkSession, d: String): String =
    fixture(d, "eventsSlice_OFFLINE") { tableDir =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("event_id")
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("ts_ms", row_number().over(w).cast("long"))
        .repartitionByRange(4, col("ts_ms"))
        .write.format("pinot").mode("append")
        // kll32768 > the 20k subset cap: the sliced merge stays in its
        // exact nearest-rank regime at every SF
        .option("sketchColumns", "user_id:bitmap,value:kll32768")
        .save(tableDir)
    }

  /** The lambda DELTA tier as a PINOT table (the un-sketched 40% of the
    * events subset [[lambdaTable]] leaves in parquet): two raw segments
    * a STREAMING tail can discover — the deployment shape of the lambda
    * merge, where today's events arrive through readStream("pinot")
    * micro-batches instead of a batch parquet read.
    */
  private def lambdaDeltaTable(s: SparkSession, d: String): String =
    fixture(d, "eventsLambdaDelta_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .filter(col("event_id") % 10 >= 6)
        .select(col("event_id"), col("user_id"), col("props"), col("value"))
        .repartition(2)
        .write.format("pinot").mode("append")
        .save(tableDir)
    }

  /** Upsert fixture: the events subset as an upsert REALTIME table —
    * every event is a VERSION of its user's row (key user_id, compared
    * by the unique, monotone event_id, so no ties exist and the latest
    * record per user is well-defined at every SF). Three segments so
    * versions of one key span segment boundaries.
    */
  private def upsertTable(s: SparkSession, d: String): String =
    fixture(d, "eventsUpsert_REALTIME") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.sources.pinot.PinotUpsert.configure(
        tableDir, Seq("user_id"), "event_id")
    }

  /** Upsert-with-deletes fixture: like [[upsertTable]] plus a delete
    * marker (Pinot's deleteRecordColumn) — every event whose event_id is
    * divisible by 7 is a DELETE of its user. A user whose LATEST event
    * is such a delete disappears from the view; users whose deletes were
    * superseded stay visible.
    */
  private def upsertDeleteTable(s: SparkSession, d: String): String =
    fixture(d, "eventsUpsertD_REALTIME") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("user_id"), col("event_id"), col("event_type"),
          (col("event_id") % 7 === 0).as("deleted"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.sources.pinot.PinotUpsert.configure(
        tableDir, Seq("user_id"), "event_id",
        deleteCol = Some("deleted"))
    }

  /** PARTIAL-upsert fixture: like [[upsertTable]] but in PARTIAL mode —
    * non-key columns merge per declared strategies instead of the whole
    * latest row winning (Pinot's partialUpsertStrategies).
    */
  private def upsertPartialTable(s: SparkSession, d: String): String =
    fixture(d, "eventsUpsertP_REALTIME") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("props"), col("value"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.sources.pinot.PinotUpsert.configurePartial(
        tableDir, Seq("user_id"), "event_id",
        Map("event_type" -> "OVERWRITE", "props" -> "IGNORE",
          "value" -> "MAX"))
    }

  /** PARTIAL-upsert-with-deletes fixture: PARTIAL strategies like
    * [[upsertPartialTable]] PLUS a delete marker (every event_id
    * divisible by 7 is a DELETE of its user) — the revive-from-scratch
    * combination: a user's columns merge only over versions NEWER than
    * their latest tombstone; a user whose latest event IS a tombstone
    * disappears. The cnt column (INCREMENT over lit 1) counts exactly
    * the versions that merged, making the revive cut directly visible
    * in the answer.
    */
  private def upsertPartialDeleteTable(s: SparkSession, d: String): String =
    fixture(d, "eventsUpsertPD_REALTIME") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), (col("event_id") % 7 === 0).as("deleted"),
          lit(1).as("cnt"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.sources.pinot.PinotUpsert.configurePartial(
        tableDir, Seq("user_id"), "event_id",
        Map("event_type" -> "OVERWRITE", "value" -> "MAX",
          "cnt" -> "INCREMENT"),
        deleteCol = Some("deleted"))
    }

  /** Upsert-compaction fixture: the q161 version history COMPACTED
    * (PinotUpsert.compact — Pinot's UpsertCompactionTask capability) at
    * build time: the raw storage holds one winning row per user, the
    * view answers identically to the uncompacted twin.
    */
  private def upsertCompactTable(s: SparkSession, d: String): String =
    fixture(d, "eventsUpsertC_REALTIME") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.sources.pinot.PinotUpsert.configure(
        tableDir, Seq("user_id"), "event_id")
      graft.sources.pinot.PinotUpsert.compact(s, tableDir)
    }

  /** Heavy-hitters fixture: the events subset with an ingestion-time
    * `freq256` (Misra–Gries) section over the ~100-distinct-value props
    * column, RANGE-partitioned into 4 disjoint ts_ms segments like
    * [[timeSliceTable]]. Exact regime by construction: distinct props
    * ≪ 256 at every SF, so no MG decrement ever fires and merged stored
    * counts equal true counts — the DuckDB oracle hash-checks them.
    */
  private def freqSliceTable(s: SparkSession, d: String): String =
    fixture(d, "eventsFreq_OFFLINE") { tableDir =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("event_id")
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_id"), col("props"))
        .withColumn("ts_ms", row_number().over(w).cast("long"))
        .repartitionByRange(4, col("ts_ms"))
        .write.format("pinot").mode("append")
        .option("sketchColumns", "props:freq256")
        .save(tableDir)
    }

  /** Rollup-HLL fixture: events subset rolled up per event_type with
    * user_id aggregated to an hll16 sketch COLUMN — Pinot's
    * DISTINCT_COUNT_HLL as a MergeRollupTask ingestion aggregation. The
    * per-type user cardinality stays far below hll16's sparse limit
    * (2^16/4 = 16384) at every test SF, so the merged estimates are
    * EXACT and the DuckDB oracle hash-checks them.
    */
  private def rollupHllTable(s: SparkSession, d: String): String =
    fixture(d, "eventsRollHll_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_type"), col("user_id"), lit(1).as("cnt"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.pinot.PinotCompact.rollup(tableDir,
        dims = Seq("event_type"), metrics = Seq("cnt"),
        sketchMetrics = Map("user_id" -> "hll16"))
    }

  /** Rollup-KLL fixture: integer-cents event values rolled up per
    * event_type with the cents column aggregated to a kll32768 sketch
    * column — Pinot's PERCENTILE_KLL as a MergeRollupTask aggregation.
    */
  private def rollupKllTable(s: SparkSession, d: String): String =
    fixture(d, "eventsRollKll_OFFLINE") { tableDir =>
      Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          lit(1).as("cnt"))
        .repartition(3)
        .write.format("pinot").mode("append")
        .save(tableDir)
      graft.pinot.PinotCompact.rollup(tableDir,
        dims = Seq("event_type"), metrics = Seq("cnt"),
        sketchMetrics = Map("cents" -> "kll32768"))
    }

  /** Grouped-time-slice fixture pair — the two-tier layout
    * MergeRollupTask produces in production: COLD buckets (a dense
    * integral "time" = rank of event_id, width-100 buckets over ts
    * 1..600) each rolled into ONE segment of (event_type, bucket_start,
    * summed cnt, user_id → hll16 payload per group); the RAW tier keeps
    * every row with ts > 600. Constants sit under the 1000-event sf0.001
    * floor so every SF exercises the same outside/inside/raw split.
    */
  private def groupSliceTables(s: SparkSession, d: String): (String, String) = {
    val dir = fixture(d, "eventsGroup") { root =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("event_id")
      val base = Tables.load(s, d, "events")
        .orderBy("event_id")
        .limit(20000)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("props"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("ts_ms", row_number().over(w).cast("long"))
      val coldDir =
        Files.createDirectories(Paths.get(root, "eventsGroupCold_OFFLINE"))
      (0 until 6).foreach { b =>
        val lo = b * 100L + 1
        val build = Paths.get(root, "eventsGroupBuild_OFFLINE")
        base.filter(col("ts_ms").between(lo, lo + 99))
          .select(col("event_type"), lit(lo).as("bucket_start"),
            col("user_id"), col("props"), col("cents"), lit(1).as("cnt"),
            // the same base columns under a second name so the rollup
            // can carry a SECOND sketch kind over them (one spec per
            // column): bitmap (exact distinct) + kmv (bottom-k theta)
            col("user_id").as("uid_bm"), col("props").as("props_kmv"))
          .coalesce(1)
          .write.format("pinot").mode("append")
          .save(build.toString)
        val seg = graft.pinot.PinotCompact.rollup(build.toString,
          dims = Seq("event_type", "bucket_start"), metrics = Seq("cnt"),
          sketchMetrics = Map("user_id" -> "hll16", "cents" -> "kll32768",
            "props" -> "freq256", "uid_bm" -> "bitmap",
            "props_kmv" -> "kmv1024"))
        Files.move(seg, coldDir.resolve(s"bucket$b"))
        graft.pinot.PinotCompact.deleteRecursively(build)
      }
      base.filter(col("ts_ms") > 600L)
        .select(col("event_type"), col("ts_ms"), col("user_id"),
          col("props"), col("cents"),
          col("user_id").as("uid_bm"), col("props").as("props_kmv"))
        .repartitionByRange(2, col("ts_ms"))
        .write.format("pinot").mode("append")
        .save(s"$root/eventsGroupRaw_OFFLINE")
    }
    (s"$dir/eventsGroupCold_OFFLINE", s"$dir/eventsGroupRaw_OFFLINE")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GROUPED time-sliced distinct ("distinct users last N days PER
    // event_type") over the two-tier rollup-then-retire layout: cold
    // buckets fully outside [201, 850] prune from min/max metadata
    // through the pushed bucket filter (zero IO — counted in
    // SketchSectionSpec), inside buckets contribute their per-group
    // stored hll16 payload ROWS (KB-scale), and only the raw tier scans
    // rows — into per-group query-time payloads. ONE hash exchange on
    // event_type merges both tiers. Exact regime: per-type distinct
    // users <= 15k at sf1 < hll16's 16384 sparse limit, so the DuckDB
    // truth over the original parquet hash-gates the whole composition.
    "q155_pinot_group_timeslice" -> ((s, d) => {
      val (coldDir, rawDir) = groupSliceTables(s, d)
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        s, coldDir, rawDir, "event_type", "user_id", "hll16",
        "bucket_start", 100L, "cnt", "ts_ms", 201L, 850L,
        as = "distinct_users", rowsAs = "slice_rows")
        .orderBy("event_type")
    }),

    // GROUPED time-sliced EXACT distinct via BITMAP payloads — the
    // bitmap member of the grouped two-tier family (q155 hll, q157 kll,
    // q167 freq): cold buckets inside [201, 850] contribute their
    // per-(group, bucket) stored Roaring64 payload rows (exact at any
    // cardinality), outside buckets prune from metadata, the raw tier
    // folds sliced rows into per-group query-time bitmaps, ONE hash
    // exchange on event_type merges the tiers. Same truth as q155 —
    // and unlike hll, no sparse-regime caveat is needed.
    "q173_pinot_group_bitmap_timeslice" -> ((s, d) => {
      val (coldDir, rawDir) = groupSliceTables(s, d)
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        s, coldDir, rawDir, "event_type", "uid_bm", "bitmap",
        "bucket_start", 100L, "cnt", "ts_ms", 201L, 850L,
        as = "distinct_users", rowsAs = "slice_rows")
        .orderBy("event_type")
    }),

    // GROUPED time-sliced KMV (theta) distinct — the last sketch family
    // in the grouped two-tier reader: per-(group, bucket) bottom-1024
    // summaries merge with the raw tier's query-time kmv payloads.
    // Exact regime: ~100 distinct props per group ≪ k=1024 (the
    // bottom-k IS the full hash set), so the DuckDB truth over the
    // original parquet hash-gates the whole composition.
    "q174_pinot_group_kmv_timeslice" -> ((s, d) => {
      val (coldDir, rawDir) = groupSliceTables(s, d)
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        s, coldDir, rawDir, "event_type", "props_kmv", "kmv1024",
        "bucket_start", 100L, "cnt", "ts_ms", 201L, 850L,
        as = "distinct_props", rowsAs = "slice_rows")
        .orderBy("event_type")
    }),

    // GROUPED time-sliced PERCENTILES over the same two-tier layout as
    // q155: the cold buckets' per-group kll32768 payload ROWS merge with
    // the raw tier's per-group query-time KLL payloads — exact
    // nearest-rank (the 650-row slice is far below k at every SF), so
    // the DuckDB truth over the original parquet hash-gates the split.
    "q157_pinot_group_kll_timeslice" -> ((s, d) => {
      val (coldDir, rawDir) = groupSliceTables(s, d)
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        s, coldDir, rawDir, "event_type", "cents", "kll32768",
        "bucket_start", 100L, "cnt", "ts_ms", 201L, 850L, Seq(0.5, 0.9),
        as = "qarr", rowsAs = "slice_rows")
        .select(col("event_type"),
          element_at(col("qarr"), 1).cast("long").as("p50_cents"),
          element_at(col("qarr"), 2).cast("long").as("p90_cents"),
          col("slice_rows"))
        .orderBy("event_type")
    }),

    // GROUPED time-sliced HEAVY HITTERS ("top props last N days PER
    // event_type") — the freq<c> member of the grouped two-tier family
    // (q155 hll, q157 kll): cold buckets inside [201, 850] contribute
    // their per-(group, bucket) STORED freq256 payload rows, outside
    // buckets prune from metadata, the raw tier folds its sliced rows
    // into per-group query-time freq payloads, ONE hash exchange on
    // event_type merges the tiers. Exact regime (100 distinct props ≪
    // 256 per group: no Misra–Gries decrement ever fires), so the
    // DuckDB truth over the original parquet hash-gates the whole
    // rollup/boundary/merge composition.
    "q167_pinot_group_freq_timeslice" -> ((s, d) => {
      val (coldDir, rawDir) = groupSliceTables(s, d)
      graft.sources.pinot.PinotSketches.groupedTimeSliced(
        s, coldDir, rawDir, "event_type", "props", "freq256",
        "bucket_start", 100L, "cnt", "ts_ms", 201L, 850L,
        as = "sk", rowsAs = "slice_rows")
        .select(col("event_type"), explode(col("sk")).as("e"),
          col("slice_rows"))
        .select(col("event_type"), col("e.item").as("item"),
          col("e.cnt").as("cnt"), col("slice_rows"))
        .orderBy(asc("event_type"), desc("cnt"), asc("item"))
    }),

    // FREQUENT_STRINGS over STORED Misra–Gries sections: top props
    // payloads from one summary merge over per-segment ≤256-entry freq
    // sections — the raw column never re-reads (same counted-IO seam as
    // the other stored-sketch paths). Exact regime by fixture
    // construction (distinct props ≪ 256: no decrement ever fires),
    // so the DuckDB truth over the original parquet hash-gates it.
    "q158_pinot_freq_stored" -> ((s, d) => {
      val dir = freqSliceTable(s, d)
      graft.sources.pinot.PinotSketches.wholeTable(s, dir, "props",
        "freq256", as = "sk")
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
        .orderBy(desc("cnt"), asc("item"))
        .limit(10)
    }),

    // TIME-SLICED heavy hitters ("top pages over the last N days"):
    // inside segments answer from stored freq sections, outside segments
    // prune from min/max metadata, boundary segments fold their sliced
    // rows into a query-time freq payload — same split as q153, same
    // exact regime as q158.
    "q159_pinot_freq_timeslice" -> ((s, d) => {
      val dir = freqSliceTable(s, d)
      // [300, 800]: non-empty at EVERY SF (sf0.001's events table has
      // only 1000 rows, where [3000, 8000] would slice nothing and the
      // exploded top-items list would be empty)
      graft.sources.pinot.PinotSketches.timeSliced(
        s, dir, "props", "freq256", "ts_ms", 300L, 800L,
        as = "sk", rowsAs = "slice_rows")
        .select(explode(col("sk")).as("e"), col("slice_rows"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"),
          col("slice_rows"))
        .orderBy(desc("cnt"), asc("item"))
        .limit(10)
    }),

    // UPSERT-table read (Pinot upsertConfig.mode=FULL) through the
    // TRANSPARENT path: a plain load of the configured table returns
    // the upsert view (UpsertViewRule) — only the LATEST record per
    // user_id, greatest event_id, via ONE map-side-combinable hash
    // aggregate (LatestByAgg: no window, no sort, no per-server upsert
    // map). The fixture's comparison column is unique so the winner is
    // well-defined; ties and NULL comparison values reject loudly by
    // contract.
    "q161_pinot_upsert" -> ((s, d) => {
      val dir = upsertTable(s, d)
      s.read.format("pinot").load(dir)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"))
        .orderBy("user_id")
    }),

    // The STREAMING upsert view as one declared query (the deployment
    // shape PinotStreamStatefulSpec restart-proves): latestStream drives
    // latest-per-key state from the table's OWN upsert.properties over
    // readStream("pinot"); AvailableNow drains every landed segment, so
    // the last update per key equals the batch view — and the same
    // DuckDB truth as q161 hash-gates the whole stream-then-latest
    // composition. The "last update per key" fold dogfoods LatestByAgg
    // keyed on the micro-batch id.
    "q166_pinot_upsert_stream" -> ((s, d) => {
      val dir = upsertTable(s, d)
      val work = graft.QueryWorkDirs.create("q166_upsert_stream")
      val updatesOut = graft.ScratchFileSystem.on(work.resolve("updates"))
      val q = graft.StreamCalls.start(s)(graft.sources.pinot.PinotUpsert
        .latestStream(s, dir)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", graft.ScratchFileSystem.on(work.resolve("ckpt")))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          // one output file per micro-batch, not one per source split:
          // the unshaped write landed 32 footer-sized files for 1,500
          // rows and the read-back paid 0.46 s of open/footer cost
          // (guide §6 small-files). A micro-batch of this source is
          // segment-sized, so one writer task is the right sizing here;
          // at cluster scale the writer count follows batch bytes, not
          // the source split count.
          df.withColumn("_batch", lit(batchId))
            .repartition(1)
            .write.mode("append").parquet(updatesOut)
        }
        .start())
      require(q.awaitTermination(300000),
        "q166: the AvailableNow upsert stream did not terminate")
      s.read.parquet(updatesOut)
        .groupBy("user_id")
        .agg(graft.functions.LatestByAgg.latestBy(
          struct(col("event_id"), col("event_type")), col("_batch"))
          .as("w"))
        .select(col("user_id"),
          col("w").getField("v").getField("event_id").as("last_event_id"),
          col("w").getField("v").getField("event_type")
            .as("last_event_type"))
        .orderBy("user_id")
    }),

    // Upsert COMPACTION (Pinot's UpsertCompactionTask capability): the
    // q161 version history compacted to one winning row per user at
    // fixture build — the view answers IDENTICALLY (same DuckDB truth as
    // q161), while the raw storage stopped growing with version count.
    // The scan now reads |keys| rows instead of |versions|.
    "q168_pinot_upsert_compacted" -> ((s, d) => {
      val dir = upsertCompactTable(s, d)
      s.read.format("pinot").load(dir)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"))
        .orderBy("user_id")
    }),

    // The upsert view through CATALOG SQL — the surface a SQL-only user
    // actually touches: `SELECT ... FROM <catalog>.default.<table>` on
    // an upsert-configured table resolves to the same one-aggregate
    // view, no Scala API in sight.
    "q165_pinot_upsert_catalog_sql" -> ((s, d) => {
      val dir = upsertTable(s, d)
      val root = java.nio.file.Paths.get(dir).getParent.toString
      s.conf.set("spark.sql.catalog.pinotu",
        "graft.sources.pinot.PinotCatalog")
      s.conf.set("spark.sql.catalog.pinotu.data_dir", root)
      s.sql("""
        SELECT user_id, event_id AS last_event_id,
               event_type AS last_event_type
        FROM pinotu.default.eventsUpsert
        ORDER BY user_id""")
    }),

    // PARTIAL upsert + DELETE markers (Pinot partialUpsertStrategies
    // with deleteRecordColumn) through CATALOG SQL — the revive
    // combination as a declared, oracled query: a user's columns merge
    // (OVERWRITE / MAX / INCREMENT) only over versions NEWER than their
    // latest tombstone; users whose latest event IS a tombstone
    // disappear. n_versions (INCREMENT of 1) counts exactly the merged
    // versions, so the revive cut itself is hash-gated. Plan: the
    // tombstone aggregate reads only delete rows (pushed scan filter)
    // and BROADCASTS back over the table — the main side never shuffles
    // for the join (pinned in PlanAuditSpec).
    "q171_pinot_partial_delete_upsert" -> ((s, d) => {
      val dir = upsertPartialDeleteTable(s, d)
      val root = java.nio.file.Paths.get(dir).getParent.toString
      s.conf.set("spark.sql.catalog.pinotu",
        "graft.sources.pinot.PinotCatalog")
      s.conf.set("spark.sql.catalog.pinotu.data_dir", root)
      s.sql("""
        SELECT user_id, event_id AS last_event_id,
               event_type AS last_event_type,
               cnt AS n_versions, value AS max_value
        FROM pinotu.default.eventsUpsertPD
        ORDER BY user_id""")
    }),

    // Upsert DELETE markers (Pinot deleteRecordColumn), transparent
    // path: a key whose WINNING record is a delete is invisible; a
    // delete superseded by a later re-insert is not. Same
    // single-aggregate plan as q161 plus one filter on the winner.
    "q164_pinot_upsert_delete" -> ((s, d) => {
      val dir = upsertDeleteTable(s, d)
      s.read.format("pinot").load(dir)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"))
        .orderBy("user_id")
    }),

    // PARTIAL upsert (Pinot partialUpsertStrategies), transparent path:
    // versions of a user merge COLUMN-WISE — event_type OVERWRITEs
    // (latest wins), props IGNOREs (first wins), value keeps the MAX —
    // in ONE hash aggregate on the key (map-side partials; no window
    // sort, no count_distinct expand). Comparison ties and NULL
    // comparison values reject loudly inside the same aggregate.
    "q162_pinot_partial_upsert" -> ((s, d) => {
      val dir = upsertPartialTable(s, d)
      s.read.format("pinot").load(dir)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          col("props").as("first_props"), col("value").as("max_value"))
        .orderBy("user_id")
    }),

    // The STREAMING lambda merge as one declared query (the deployment
    // shape PinotStreamStatefulSpec restart-proves): the delta tier
    // arrives through a readStream("pinot") micro-batch tail folded into
    // ONE complete-mode sketch_build(hll18) payload (AvailableNow — the
    // run drains every landed segment, so the final snapshot equals the
    // batch twin), then one merge aggregate folds it with the cold
    // tier's STORED hll sections. Exact regime (20k ≪ hll18's 65536
    // sparse limit), so the DuckDB truth hash-gates the whole
    // stream-then-merge composition.
    "q160_pinot_stream_lambda" -> ((s, d) => {
      val coldDir = lambdaTable(s, d)
      val deltaDir = lambdaDeltaTable(s, d)
      val work = graft.QueryWorkDirs.create("q160_lambda")
      val payloadOut = graft.ScratchFileSystem.on(work.resolve("delta_payload"))
      val q = graft.StreamCalls.start(s)(s.readStream.format("pinot").load(deltaDir)
        .agg(graft.functions.SketchAgg.build(
          when(col("event_id").isNotNull, xxhash64(col("event_id"))),
          "hll18").as("sketch"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", graft.ScratchFileSystem.on(work.resolve("ckpt")))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(payloadOut)
        }
        .start())
      require(q.awaitTermination(300000),
        "q160: the AvailableNow delta stream did not terminate")
      graft.sources.pinot.PinotSketches
        .segmentSketches(s, coldDir, "event_id").select(col("sketch"))
        .union(s.read.parquet(payloadOut).select(col("sketch")))
        .agg(graft.functions.SketchAgg.merge(col("sketch"), "hll18")
          .as("distinct_events"))
    }),

    // The stored-sketch read path exposed to a SQL-ONLY user: the
    // per-segment sketch payloads register as temp views
    // (PinotSketches.registerSketchView) and the WHOLE lambda merge —
    // cold stored sections UNION ALL a query-time sketch_build delta,
    // folded by the SQL-registered merge aggregates — is one
    // spark.sql(...) string. Same exact-regime fixtures as q150, so the
    // DuckDB truth hash-gates it. Hashes are null-gated in the SQL the
    // same way the DataFrame sites are.
    "q156_pinot_sketch_sql" -> ((s, d) => {
      val dir = lambdaTable(s, d)
      graft.sources.pinot.PinotSketches.registerSketchView(
        s, dir, "event_id", "cold_event_hll")
      graft.sources.pinot.PinotSketches.registerSketchView(
        s, dir, "props", "cold_props_kmv")
      Tables.load(s, d, "events").orderBy("event_id").limit(20000)
        .filter(col("event_id") % 10 >= 6)
        .createOrReplaceTempView("delta_events_sql")
      s.sql("""
        SELECT e.distinct_events, p.distinct_props FROM
          (SELECT hll_merge_estimate(sketch, 18) AS distinct_events FROM
            (SELECT sketch FROM cold_event_hll
             UNION ALL
             SELECT sketch_build(CASE WHEN event_id IS NOT NULL
                 THEN xxhash64(event_id) END, 'hll18') AS sketch
             FROM delta_events_sql)) e
          CROSS JOIN
          (SELECT kmv_merge_estimate(sketch, 1024) AS distinct_props FROM
            (SELECT sketch FROM cold_props_kmv
             UNION ALL
             SELECT sketch_build(CASE WHEN props IS NOT NULL
                 THEN xxhash64(props) END, 'kmv1024') AS sketch
             FROM delta_events_sql)) p""")
    }),

    // THE LAMBDA MERGE — the production shape the stored-sketch stack
    // exists for: cold segments answer from their few-KB STORED sketch
    // sections (zero forward-index IO, counted in SketchSectionSpec),
    // today's un-sketched delta builds the SAME payload format query-time
    // (sketch_build), and ONE merge aggregate per metric folds both. The
    // xxhash64-seed-42 contract makes every leg exact here (bitmap
    // always; kmv: 100 props < 1024; kll: 20k values < 32768; hll:
    // 20k event_ids < 2^18/4 sparse limit), so the DuckDB truth over
    // cold ∪ delta hash-checks the whole composition.
    "q150_pinot_lambda_sketch" -> ((s, d) => {
      import graft.functions.SketchAgg
      val dir = lambdaTable(s, d)
      val delta = Tables.load(s, d, "events")
        .orderBy("event_id").limit(20000)
        .filter(col("event_id") % 10 >= 6)
      def cold(column: String) = graft.sources.pinot.PinotSketches
        .segmentSketches(s, dir, column).select(col("sketch"))
      val users = cold("user_id")
        .union(delta.agg(SketchAgg
          .build(col("user_id"), "bitmap").as("sketch")))
        .agg(SketchAgg.merge(col("sketch"), "bitmap")
          .as("distinct_users"))
      val props = cold("props")
        .union(delta.agg(SketchAgg
          .build(when(col("props").isNotNull,
            xxhash64(col("props"))), "kmv1024").as("sketch")))
        .agg(SketchAgg.merge(col("sketch"), "kmv1024")
          .as("distinct_props"))
      val eventIds = cold("event_id")
        .union(delta.agg(SketchAgg
          .build(when(col("event_id").isNotNull,
            xxhash64(col("event_id"))), "hll18").as("sketch")))
        .agg(SketchAgg.merge(col("sketch"), "hll18")
          .as("distinct_events"))
      val vals = cold("value")
        .union(delta.agg(SketchAgg
          .build(col("value"), "kll32768").as("sketch")))
        .agg(SketchAgg.merge(col("sketch"), "kll32768",
          Seq(0.5, 0.9)).as("qv"))
        .select(element_at(col("qv"), 1).as("p50_value"),
          element_at(col("qv"), 2).as("p90_value"))
      users.crossJoin(props).crossJoin(eventIds).crossJoin(vals)
    }),

    // TIME-SLICED stored-sketch read (the "DISTINCT over the last N
    // days" production path): segments fully inside [3000, 8000] answer
    // from stored bitmap sections + metadata doc counts, fully-outside
    // segments prune from min/max metadata alone, and only the two
    // boundary segments scan rows (time filter pushed) into a
    // query-time payload — at sf0.01 the 4 range segments split exactly
    // into one outside, one inside, two boundary. The oracle computes
    // the true distinct + row count over the slice from parquet.
    "q153_pinot_sketch_timeslice" -> ((s, d) => {
      val dir = timeSliceTable(s, d)
      graft.sources.pinot.PinotSketches.timeSliced(
        s, dir, "user_id", "bitmap", "ts_ms", 3000L, 8000L,
        as = "distinct_users", rowsAs = "slice_rows")
    }),

    // TIME-SLICED percentiles (the "p99 over the last N days" path):
    // same inside/outside/boundary split as q153, but the inside
    // segments' stored KLL sections merge with the boundary scans'
    // query-time KLL payload; exact nearest-rank (20k rows < k), so the
    // DuckDB truth over the sliced rows hash-gates the whole split.
    "q154_pinot_kll_timeslice" -> ((s, d) => {
      val dir = timeSliceTable(s, d)
      graft.sources.pinot.PinotSketches.timeSliced(
        s, dir, "value", "kll32768", "ts_ms", 3000L, 8000L,
        Seq(0.5, 0.9, 0.99), as = "qv")
        .select(
          element_at(col("qv"), 1).as("p50_value"),
          element_at(col("qv"), 2).as("p90_value"),
          element_at(col("qv"), 3).as("p99_value"))
    }),

    // Grouped DISTINCT_COUNT_HLL over a ROLLED-UP table whose raw rows
    // are gone: the rollup stored one hll16 sketch per event_type; the
    // query merges the per-group sketch column next to the summed count.
    // Exact regime by construction (see rollupHllTable), so the oracle
    // computes the true grouped distincts from the original parquet.
    "q151_pinot_rollup_hll" -> ((s, d) => {
      val dir = rollupHllTable(s, d)
      s.read.format("pinot").load(dir)
        .groupBy("event_type")
        .agg(
          graft.functions.SketchAgg.merge(col("user_id"), "hll16")
            .as("distinct_users"),
          sum("cnt").as("events"))
        .orderBy("event_type")
    }),

    // PERCENTILES over a ROLLED-UP table whose raw rows are gone: the
    // rollup stored one kll32768 sketch per event_type (k > the 20k
    // fixture rows, so the exact nearest-rank regime holds and the
    // DuckDB truth hash-matches); the query merges the per-group sketch
    // column next to the summed count.
    "q149_pinot_rollup_kll" -> ((s, d) => {
      val dir = rollupKllTable(s, d)
      s.read.format("pinot").load(dir)
        .groupBy("event_type")
        .agg(
          graft.functions.SketchAgg.merge(
            col("cents"), "kll32768", Seq(0.5, 0.9, 0.99)).as("qarr"),
          sum("cnt").as("n_events"))
        .select(col("event_type"),
          element_at(col("qarr"), 1).cast("long").as("p50_cents"),
          element_at(col("qarr"), 2).cast("long").as("p90_cents"),
          element_at(col("qarr"), 3).cast("long").as("p99_cents"),
          col("n_events"))
        .orderBy("event_type")
    }),

    // Grouped DISTINCT over a ROLLED-UP table whose raw rows are gone:
    // the rollup stored one sketch per (event_type) group
    // (DISTINCT_COUNT_THETA_SKETCH's ingestion-time model); the query
    // merges the per-group sketch column — bitmap (exact) for users,
    // kmv1024 (exact: 100 distinct props) for props — next to the
    // summed count. The oracle computes the true grouped distincts
    // from the original parquet rows the rollup consumed.
    "q146_pinot_rollup_sketch" -> ((s, d) => {
      val dir = rollupSketchTable(s, d)
      s.read.format("pinot").load(dir)
        .groupBy("event_type")
        .agg(
          graft.functions.SketchAgg.merge(col("user_id"), "bitmap")
            .as("distinct_users"),
          graft.functions.SketchAgg.merge(col("props"), "kmv1024")
            .as("distinct_props"),
          sum("cnt").as("events"))
        .orderBy("event_type")
    }),

    // DISTINCT answered from SEGMENT-STORED sketches (the capability of
    // Pinot's ingestion-time THETA_SKETCH/BITMAP columns): the scan
    // range-reads ONLY each segment's few-KB sketch section and merges —
    // zero forward-index IO (SketchSectionSpec counts it); the oracle
    // computes the true distincts from the original parquet, so a wrong
    // sketch build, store, or merge breaks the hash. Exact regime by
    // construction: bitmap is always exact, props has 100 < 1024
    // distinct values.
    "q145_pinot_sketch_distinct" -> ((s, d) => {
      val dir = sketchTable(s, d)
      graft.sources.pinot.PinotSketches
        .wholeTable(s, dir, "user_id", "bitmap", as = "distinct_users")
        .crossJoin(graft.sources.pinot.PinotSketches
          .wholeTable(s, dir, "props", "kmv1024", as = "distinct_props"))
        // stored KLL sections (k=32768 > the 20k fixture rows: exact
        // nearest-rank) merged across the 3 segments
        .crossJoin(graft.sources.pinot.PinotSketches
          .wholeTable(s, dir, "value", "kll32768", Seq(0.5, 0.9), "qv")
          .select(element_at(col("qv"), 1).as("p50_value"),
            element_at(col("qv"), 2).as("p90_value")))
    }),

    // Star-tree-answered GROUP BY (grouping a dim SUBSET, so each task
    // rolls pre-aggregated records up over the ungrouped dim): the scan
    // never reads the forward index, and the oracle aggregates the
    // original parquet — a wrong tree record, rollup merge, or dict
    // translation breaks the hash.
    "q86_pinot_startree" -> ((s, d) => {
      val p = s.read.format("pinot").load(starTable(s, d))
      p.groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("cnt"),
          sum("l_orderkey").as("sum_okey"),
          sum("l_linenumber").as("sum_line"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"))
        .orderBy("l_returnflag")
    }),

    // Aggregate over the segment-encoded copy; oracle aggregates the
    // original parquet — byte-exact encode→decode or the hashes differ.
    "q65_pinot_roundtrip" -> ((s, d) => {
      val pinot = s.read.format("pinot").load(segmentTable(s, d))
      pinot
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("cnt"),
          sum("l_orderkey").as("sum_okey"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          min("l_shipdate_s").as("min_ship"),
          max("l_shipdate_s").as("max_ship"),
          date_format(max(col("l_shipts")), "yyyy-MM-dd HH:mm:ss")
            .as("max_ship_ts"),
          sum(when(col("l_returned"), 1L).otherwise(0L)).as("returned_rows"),
          sum(octet_length(col("l_payload"))).as("payload_bytes"))
        .orderBy("l_returnflag")
    }),

    // The reference benchmark's group-topk shape (README.md:297,
    // benchmark_cases.rs:33) through the connector's dict-id HISTOGRAM
    // aggregation pushdown: 3 segments each emit per-key partials
    // computed over packed dictionary ids (never materializing group
    // keys per row), Spark's final aggregate merges, top-k fuses. The
    // oracle hash proves the pushdown path end-to-end.
    "q105_pinot_group_topk" -> ((s, d) => {
      val pinot = s.read.format("pinot").load(segmentTable(s, d))
      pinot.groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum("l_orderkey").as("sum_okey"),
          min("l_linenumber").as("mn_ln"),
          max("l_linenumber").as("mx_ln"))
        .orderBy(desc("sum_okey"), asc("l_returnflag")).limit(2)
    }),

    // v1/v2 segment layout through the oracle gate: the same lineitem
    // subset read from PER-INDEX-FILE segments (v3 → v1 conversion on the
    // fixture) with the same aggregation as q65 — every decoder family
    // plus the storage-type extensions must address sections correctly
    // through the v1 file naming or the hash breaks.
    "q93_pinot_v1" -> ((s, d) => {
      val pinot = s.read.format("pinot").load(v1Table(s, d))
      pinot
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("cnt"),
          sum("l_orderkey").as("sum_okey"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          min("l_shipdate_s").as("min_ship"),
          max("l_shipdate_s").as("max_ship"),
          date_format(max(col("l_shipts")), "yyyy-MM-dd HH:mm:ss")
            .as("max_ship_ts"),
          sum(when(col("l_returned"), 1L).otherwise(0L)).as("returned_rows"),
          sum(octet_length(col("l_payload"))).as("payload_bytes"))
        .orderBy("l_returnflag")
    }),

    // JSON + BIG_DECIMAL storage types through the DSv2 writer and back:
    // JSON payloads queried with get_json_object, decimals re-scaled to
    // exact integers per row before summing (scale-4 values × 10^4) so
    // the compare is integer-exact end to end.
    "q75_pinot_json_decimal" -> ((s, d) => {
      val p = s.read.format("pinot").load(jsonDecTable(s, d))
      p.groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          sum((col("amount") * lit(10000).cast("decimal(6,0)")).cast("long"))
            .as("amount_e4"))
        .orderBy("event_type")
    }),

    // JSON index (the capability of Pinot's jsonIndexColumns): the
    // get_json_object equality routes into the scan via JsonIndexRule
    // (option-carried probe; flattened path=value postings prune
    // segments and skip decode windows), while the residual Filter
    // keeps the comparison authoritative — the oracle would catch a
    // single dropped or phantom row.
    "q129_pinot_json_index" -> ((s, d) => {
      val p = s.read.format("pinot").load(jsonDecTable(s, d))
      p.filter(get_json_object(col("props"), "$.k") === "42")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("sum_id"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // JSON index, IN-list + IS-NOT-NULL probe forms (v2): both route
    // into the scan via JsonIndexRule — the IN unions postings, the
    // IS NOT NULL unions every posting under the path (and the fixture
    // plants nested-object and over-long leaves on OTHER paths so the
    // refusal machinery runs in the same scan). Residual Filter stays
    // authoritative; the oracle recomputes props2 from events.parquet
    // and would catch one dropped or phantom row.
    "q130_pinot_json_in_exists" -> ((s, d) => {
      val p = s.read.format("pinot").load(jsonDecTable(s, d))
      p.filter(get_json_object(col("props2"), "$.n").isin("2", "5", "8") &&
          get_json_object(col("props2"), "$.k2").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("sum_id"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // JSON index, string-RANGE probe form: `>= '3' AND < '8'` on the
    // single-digit $.n renders byte-order compare == numeric compare,
    // so DuckDB's binary varchar collation reproduces it exactly. The
    // range unions the in-interval postings of the path (the fixture's
    // nested/over-long shapes sit on OTHER paths in the same scan);
    // residual Filter stays authoritative.
    "q131_pinot_json_range" -> ((s, d) => {
      val p = s.read.format("pinot").load(jsonDecTable(s, d))
      p.filter(get_json_object(col("props2"), "$.n") >= "3" &&
          get_json_object(col("props2"), "$.n") < "8")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("sum_id"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // JSON index, IS-NULL probe form: "docs missing the key" — the one
    // probe with NO refusal cases (candidates = complement of the
    // provably-non-null postings), combined with an equality so the
    // scan ANDs an exclusion set with a posting set.
    "q132_pinot_json_isnull" -> ((s, d) => {
      val p = s.read.format("pinot").load(jsonDecTable(s, d))
      p.filter(get_json_object(col("props2"), "$.k2").isNull &&
          get_json_object(col("props2"), "$.n") === "4")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("sum_id"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // Nullable columns (null-value vector) through write→segment→scan:
    // COUNT(col) vs COUNT(*), SUM over nulls, IS NULL filters and
    // null-aware grouping must all see EXACTLY the planted nulls — a
    // wrong or shifted bitmap breaks the hash.
    "q80_pinot_nullable" -> ((s, d) => {
      val p = s.read.format("pinot").load(nullableTable(s, d))
      p.groupBy(coalesce(col("n_status"), lit("<null>")).as("status"))
        .agg(
          count(lit(1)).as("cnt"),
          count(col("n_qty")).as("qty_nn"),
          count(col("n_line")).as("line_nn"),
          round(sum("n_qty"), 2).as("sum_qty"),
          sum("n_line").as("sum_line"),
          sum(when(col("n_qty").isNull && col("n_line").isNull, 1L)
            .otherwise(0L)).as("both_null"),
          sum("l_orderkey").as("sum_okey"))
        .orderBy("status")
    }),

    // Hybrid OFFLINE+REALTIME read with Pinot's time-boundary dedup:
    // 2,000 rows live in BOTH sides; the oracle aggregates the 10,000
    // DISTINCT source rows, so any double-count (or boundary off-by-one)
    // breaks rows AND hash.
    "q84_pinot_hybrid" -> ((s, d) => {
      val root = hybridRoot(s, d)
      graft.sources.pinot.PinotHybrid.load(s, root, "eventsHybrid")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("sum_id"),
          date_format(max(col("hts")), "yyyy-MM-dd HH:mm:ss").as("max_t"))
        .orderBy("event_type")
    }),

    // Inverted-index read path inside the oracle gate: the equality
    // filter resolves through posting-list bitmaps (segment pruning +
    // window skipping) before Spark's residual filter — a bitmap that
    // dropped or duplicated a docId would break the hash.
    "q81_pinot_inverted" -> ((s, d) => {
      val p = s.read.format("pinot").load(indexedTable(s, d))
      p.filter(col("event_type") === "purchase")
        .withColumn("bucket", col("user_id") % 100)
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("sum_id"))
        .orderBy("bucket")
    }),

    // Bloom-filter read path inside the oracle gate: literal IN probes on
    // a RAW digest column resolve through per-segment blooms (segments
    // whose bloom answers "definitely absent" never decode); the present
    // keys must all survive — a bloom false NEGATIVE would break the hash.
    "q92_pinot_bloom" -> ((s, d) => {
      val p = s.read.format("pinot").load(bloomTable(s, d))
      val keys = Seq("7", "42", "137", "no-such-digest").map {
        case k if k.forall(_.isDigit) =>
          org.apache.commons.codec.digest.DigestUtils.md5Hex(k)
        case k => k
      }
      p.filter(col("payload").isin(keys: _*))
        .select("event_id", "event_type", "payload")
        .orderBy("event_id")
    }),

    // Range-index read path inside the oracle gate: the selective range
    // predicate on the UNSORTED double column resolves through
    // value-bucket bitmaps (candidate buckets → window skipping) before
    // Spark's residual filter; a bucket bound or bitmap off by one doc
    // breaks the hash.
    "q94_pinot_range" -> ((s, d) => {
      val p = s.read.format("pinot").load(bloomTable(s, d))
      p.filter(col("value") > 250.0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // Text-index read path inside the oracle gate: the substring
    // predicate resolves through token-posting bitmaps (only windows
    // holding candidate tokens decode); a posting off by one doc breaks
    // the hash. 'dup' is a rare corpus token — the selective TEXT_MATCH
    // shape.
    "q95_pinot_text" -> ((s, d) => {
      val p = s.read.format("pinot").load(textTable(s, d))
      p.filter(col("text").contains("dup"))
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("lang")
    }),

    // Pinot × Pinot join: BOTH sides of an equi-join read from segments
    // (multi-table serving, README.md:173-176 extended to joins the
    // reference never runs). Each side prunes columns independently;
    // the join shuffles on the key like any fact-fact join.
    "q102_pinot_join" -> ((s, d) => {
      val li = s.read.format("pinot").load(segmentTable(s, d))
      val o = s.read.format("pinot").load(ordersTable(s, d))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("o_totalprice"), 2).as("sum_price"),
          sum(when(col("l_returned"), 1L).otherwise(0L)).as("returned"))
        .orderBy("o_orderstatus")
    }),

    // Schema evolution inside the oracle gate: pre-evolution segments
    // serve the added column's TYPE DEFAULT (Pinot's defaultNullValue
    // backfill); the oracle re-expresses that backfill over the original
    // parquet. A default leaking into the wrong half — or a pushdown
    // wrongly answering over the evolved column — breaks the hash.
    "q103_pinot_evolved" -> ((s, d) => {
      val p = s.read.format("pinot").load(evolvedTable(s, d))
      p.groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum("n_chars").as("sum_chars"),
          sum(when(col("n_chars") === 0L, 1L).otherwise(0L)).as("backfilled"))
        .orderBy("lang")
    }),

    // Vector search OVER THE CONNECTOR: embeddings live in Pinot
    // segments (MV double forward index), KNN runs on the read-back
    // vectors with the same int64-quantized exact scoring as q47 — an
    // MV offset/value corruption anywhere in the write→decode chain
    // reorders neighbors and breaks the hash.
    "q100_pinot_vector" -> ((s, d) => {
      import graft.functions.GraftFunctions.dotq
      val e = s.read.format("pinot").load(vecTable(s, d))
        .withColumn("qvec",
          expr("transform(emb, x -> CAST(floor(x * 1000) AS BIGINT))"))
        .withColumn("dotself", dotq(col("qvec"), col("qvec")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qvec").as("q_vec"),
          col("dotself").as("q_self"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(desc("cos_sim"), asc("n_id"))
      broadcast(q)
        .join(e.select(col("vec_id").as("n_id"), col("qvec").as("n_vec"),
          col("dotself").as("n_self")), col("q_id") =!= col("n_id"))
        .withColumn("dot", dotq(col("q_vec"), col("n_vec")))
        .withColumn("cos_sim", col("dot").cast("double") /
          sqrt(col("q_self").cast("double") * col("n_self").cast("double")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("n_id"),
          round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy("q_id", "rank")
    }),

    // Standard-analyzer text index inside the oracle gate: lowercase and
    // UPPERCASE probes over a corpus with upper-cased and dash-joined
    // docs. The folded vocabulary makes case variants CANDIDATES for
    // both probes; the residual filter restores case-exactness — an
    // analyzer mismatch between writer and probe (or a missing residual)
    // breaks counts either way. Dash-joined docs exercise punctuation
    // tokenization: 'dup' still hits their split tokens.
    "q110_pinot_text_cased" -> ((s, d) => {
      val p = s.read.format("pinot").load(textCasedTable(s, d))
      val lo = p.filter(col("text_mod").contains("dup"))
        .withColumn("probe", lit("dup"))
      val hi = p.filter(col("text_mod").contains("DUP"))
        .withColumn("probe", lit("DUP"))
      lo.union(hi)
        .groupBy("probe", "lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("probe", "lang")
    }),

    // Pushdown INTERACTION: LIMIT over complete DISTINCT pushdown — the
    // exact r4 wrong-results shape (pushLimit must REFUSE once an
    // aggregate pushed, or Spark 4.1.2 deletes its own Limit and every
    // distinct value comes back). Only 3 flags exist, so LIMIT 10
    // returns all of them deterministically; a regression returns the
    // same rows only by luck of the bug being absent.
    "q106_pinot_distinct_limit" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      p.select("l_returnflag").distinct().limit(10).orderBy("l_returnflag")
    }),

    // Pushdown INTERACTION: LIMIT over complete (histFinal) multi-column
    // histogram GROUP BY — no final aggregate exists, so the Limit sits
    // directly above the scan, the shape where Spark's pushDownLimit
    // fires. 3×2 = 6 groups < LIMIT 50 keeps the result deterministic
    // while still exercising the refusal path.
    "q107_pinot_hist_limit" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      p.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum("l_orderkey").as("sum_okey"),
          min("l_linenumber").as("mn_ln"),
          max("l_linenumber").as("mx_ln"))
        .limit(50)
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Pushdown INTERACTION: HAVING filter ABOVE a complete (histFinal)
    // pushed aggregate — the filter references aggregate OUTPUT columns,
    // so it must stay residual above the scan (sawFilters never set);
    // a pushdown that mistook it for a data filter would either refuse
    // the aggregate or filter the wrong thing. l_linenumber counts are
    // structurally skewed (P(line=k) ∝ 8−k), so a subset_size/7
    // threshold keeps the low line numbers and drops the high ones at
    // EVERY scale factor — the filter always filters. The threshold
    // count() is itself a metadata-only pushed COUNT.
    "q108_pinot_having_over_agg" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      val threshold = p.count() / 7
      p.groupBy("l_linenumber")
        .agg(count(lit(1)).as("cnt"), sum("l_orderkey").as("sum_okey"))
        .filter(col("cnt") > threshold)
        .orderBy("l_linenumber")
    }),

    // METADATA-COMPLETE global aggregate (r8): SUM/AVG answered from the
    // writer-recorded exact column sums, MIN/MAX from the metadata
    // bounds, COUNT from doc totals — the whole row resolves on the
    // driver without reading any forward index (≙ Pinot's metadata
    // aggregations, extended to SUM/AVG). A wrong recorded sum, a
    // BigInt fold slip, or a bounds-typing error breaks the hash.
    "q115_pinot_meta_agg" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      p.agg(count(lit(1)).as("cnt"),
        sum("l_orderkey").as("sum_okey"),
        avg("l_orderkey").as("avg_okey"),
        sum("l_linenumber").as("sum_ln"),
        min("l_orderkey").as("mn_okey"),
        max("l_linenumber").as("mx_ln"))
    }),

    // PUSHED TOP-N over a complete histogram aggregate (r8): the scan
    // bounded-heap-selects its best 10 groups instead of emitting all
    // 50, and Spark's TakeOrderedAndProject finishes over the
    // survivors. The tie-break on the group key makes the top-10 a
    // total order, so the row set is deterministic and hashable.
    "q116_pinot_topk_pushed" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      p.groupBy("l_qty_i")
        .agg(count(lit(1)).as("cnt"), sum("l_orderkey").as("sum_okey"))
        .orderBy(desc("sum_okey"), asc("l_qty_i"))
        .limit(10)
    }),

    // SORTED-COLUMN top-N over a PLAIN scan (r8): the subset is written
    // ordered by l_orderkey, so the writer records isSorted and
    // `ORDER BY l_orderkey DESC LIMIT 40` reads the segment's LAST 40
    // docs — no sort-column decode at all (Pinot's selection-order
    // short-circuit; `ORDER BY ts LIMIT k` over a time-ordered 100 TB
    // table reads k docs per task). Projecting only the sort key keeps
    // the row multiset deterministic under duplicate orderkeys.
    "q117_pinot_sorted_topk" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      p.select("l_orderkey").orderBy(desc("l_orderkey")).limit(40)
    }),

    // PUSHED OFFSET (r8): pagination fully inside the scan — the chained
    // partition returns docs [100, 125) and skips everything before by
    // metadata doc counts alone. Doc order in this segment IS
    // l_orderkey order (the subset is written sorted), and projecting
    // only the sort key makes the 25-row window multiset-deterministic,
    // so DuckDB's ORDER BY ... LIMIT 25 OFFSET 100 is an exact oracle.
    "q118_pinot_offset" -> ((s, d) => {
      val p = s.read.format("pinot").load(singleSegTable(s, d))
      p.select("l_orderkey").offset(100).limit(25)
    }),

    // Pushdown INTERACTION: multi-segment GROUP BY over MIXED dict
    // (l_returnflag) + RAW-string (l_shipdate_s, RAW+LZ4) key columns —
    // the r5 PinotHistAgg slot-map path that had spec coverage but no
    // CORRECTNESS row. Each of the 3 segments builds its own slot map
    // and emits decoded key VALUES in partials; Spark's final aggregate
    // merges across segments. A slot/dict mix-up breaks ~7k group rows.
    "q109_pinot_mixed_group" -> ((s, d) => {
      val p = s.read.format("pinot").load(segmentTable(s, d))
      p.groupBy("l_returnflag", "l_shipdate_s")
        .agg(count(lit(1)).as("cnt"),
          sum("l_orderkey").as("sum_okey"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag", "l_shipdate_s")
    }),

    // Multi-value columns through the full write→segment→scan→explode
    // path: zip the paired MV columns back to rows and re-aggregate; the
    // oracle aggregates the original flat lineitem — any MV offset/id/
    // dictionary corruption breaks value pairing and the hash.
    "q70_pinot_mv_explode" -> ((s, d) => {
      val mv = s.read.format("pinot").load(mvTable(s, d))
      mv.select(explode(arrays_zip(col("lines"), col("flags"))).as("z"))
        .select(col("z.lines").as("line"), col("z.flags").as("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("cnt"), sum("line").as("sum_line"))
        .orderBy("flag")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the true distincts + nearest-rank quantiles over cold ∪ delta —
    // i.e. the WHOLE capped subset the lambda split partitions
    "q150_pinot_lambda_sketch" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000),
        |r AS (SELECT value,
        |    row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n FROM base)
        |SELECT (SELECT count(DISTINCT user_id) FROM base) AS distinct_users,
        |       (SELECT count(DISTINCT props) FROM base) AS distinct_props,
        |       (SELECT count(DISTINCT event_id) FROM base) AS distinct_events,
        |       min(CASE WHEN rn >= ceil(0.5::DOUBLE * n) THEN value END)
        |         AS p50_value,
        |       min(CASE WHEN rn >= ceil(0.9::DOUBLE * n) THEN value END)
        |         AS p90_value
        |FROM r""".stripMargin,

    // the true nearest-rank quantiles over exactly the sliced rows
    "q154_pinot_kll_timeslice" ->
      """WITH base AS (SELECT value,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        |sl AS (SELECT value FROM base WHERE ts_ms BETWEEN 3000 AND 8000),
        |r AS (SELECT value,
        |    row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n FROM sl)
        |SELECT min(CASE WHEN rn >= ceil(0.5::DOUBLE * n) THEN value END)
        |         AS p50_value,
        |       min(CASE WHEN rn >= ceil(0.9::DOUBLE * n) THEN value END)
        |         AS p90_value,
        |       min(CASE WHEN rn >= ceil(0.99::DOUBLE * n) THEN value END)
        |         AS p99_value
        |FROM r""".stripMargin,

    // the true grouped distincts + row counts over exactly the sliced
    // rows (the two tiers together cover ts 1..N disjointly)
    "q155_pinot_group_timeslice" ->
      """WITH base AS (SELECT event_type, user_id,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type,
        |       count(DISTINCT user_id) AS distinct_users,
        |       CAST(count(*) AS BIGINT) AS slice_rows
        |FROM base WHERE ts_ms BETWEEN 201 AND 850
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the same truth as q155 through the exact-bitmap tier composition
    "q173_pinot_group_bitmap_timeslice" ->
      """WITH base AS (SELECT event_type, user_id,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type,
        |       count(DISTINCT user_id) AS distinct_users,
        |       CAST(count(*) AS BIGINT) AS slice_rows
        |FROM base WHERE ts_ms BETWEEN 201 AND 850
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the true grouped distinct-props count over exactly the sliced rows
    // (kmv exact regime: per-group distincts ≪ k)
    "q174_pinot_group_kmv_timeslice" ->
      """WITH base AS (SELECT event_type, props,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type,
        |       count(DISTINCT props) AS distinct_props,
        |       CAST(count(*) AS BIGINT) AS slice_rows
        |FROM base WHERE ts_ms BETWEEN 201 AND 850
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // true nearest-rank grouped percentiles over exactly the sliced rows
    "q157_pinot_group_kll_timeslice" ->
      """WITH base AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        |sl AS (SELECT event_type, cents FROM base
        |  WHERE ts_ms BETWEEN 201 AND 850),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM sl)
        |SELECT event_type,
        |  min(CASE WHEN rn >= ceil(0.5::DOUBLE * n) THEN cents END) AS p50_cents,
        |  min(CASE WHEN rn >= ceil(0.9::DOUBLE * n) THEN cents END) AS p90_cents,
        |  CAST(count(*) AS BIGINT) AS slice_rows
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the true distincts over the whole capped subset (cold ∪ delta)
    "q156_pinot_sketch_sql" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT (SELECT count(DISTINCT event_id) FROM base) AS distinct_events,
        |       (SELECT count(DISTINCT props) FROM base) AS distinct_props""".stripMargin,

    // the true distinct + row count over exactly the sliced rows
    "q153_pinot_sketch_timeslice" ->
      """WITH base AS (SELECT user_id,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT CAST(count(DISTINCT CASE WHEN ts_ms BETWEEN 3000 AND 8000
        |         THEN user_id END) AS BIGINT) AS distinct_users,
        |       CAST(count(CASE WHEN ts_ms BETWEEN 3000 AND 8000
        |         THEN 1 END) AS BIGINT) AS slice_rows
        |FROM base""".stripMargin,

    // same truth as q161 — an AvailableNow drain of the streaming view
    // must answer identically to the batch view
    "q166_pinot_upsert_stream" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM base
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |                           ORDER BY event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // same truth as q161 — compaction must not change a single answer
    "q168_pinot_upsert_compacted" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM base
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |                           ORDER BY event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // same truth as q161 — the catalog SQL surface must answer
    // identically to the reader surface
    "q165_pinot_upsert_catalog_sql" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM base
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |                           ORDER BY event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // the true latest-record-per-key over the versions the table holds
    "q161_pinot_upsert" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM base
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |                           ORDER BY event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // the true column-wise merge over only the versions newer than each
    // user's latest tombstone (revive-from-scratch); dead users absent
    "q171_pinot_partial_delete_upsert" ->
      """WITH base AS (SELECT user_id, event_id, event_type, value,
        |    (event_id % 7 = 0) AS deleted
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        |del AS (SELECT user_id, max(event_id) AS del_id FROM base
        |        WHERE deleted GROUP BY 1),
        |kept AS (SELECT b.* FROM base b LEFT JOIN del d USING (user_id)
        |         WHERE d.del_id IS NULL OR b.event_id > d.del_id)
        |SELECT user_id, max(event_id) AS last_event_id,
        |       arg_max(event_type, event_id) AS last_event_type,
        |       CAST(count(*) AS INTEGER) AS n_versions,
        |       max(value) AS max_value
        |FROM kept GROUP BY user_id ORDER BY user_id""".stripMargin,

    // latest-per-key, then winning deletes hide their keys
    "q164_pinot_upsert_delete" ->
      """WITH base AS (SELECT user_id, event_id, event_type,
        |    (event_id % 7 = 0) AS deleted
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        |w AS (SELECT * FROM base
        |      QUALIFY row_number() OVER (PARTITION BY user_id
        |                                 ORDER BY event_id DESC) = 1)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM w WHERE NOT deleted ORDER BY user_id""".stripMargin,

    // the true column-wise merge over the versions the table holds
    "q162_pinot_partial_upsert" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT user_id, max(event_id) AS last_event_id,
        |       arg_max(event_type, event_id) AS last_event_type,
        |       arg_min(props, event_id) AS first_props,
        |       max(value) AS max_value
        |FROM base GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the true distinct over the rows both lambda tiers consumed
    "q160_pinot_stream_lambda" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT count(DISTINCT event_id) AS distinct_events FROM base""".stripMargin,

    // true per-type props counts + per-type slice row counts over
    // exactly the sliced rows (exact regime: the merged freq summaries
    // enumerate every (type, props) pair)
    "q167_pinot_group_freq_timeslice" ->
      """WITH base AS (SELECT event_type, props,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        | sl AS (SELECT event_type, props FROM base
        |        WHERE ts_ms BETWEEN 201 AND 850)
        |SELECT event_type, props AS item, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(count(*)) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS slice_rows
        |FROM sl GROUP BY event_type, props
        |ORDER BY event_type, cnt DESC, item""".stripMargin,

    // true top-10 props counts over the rows the sections consumed
    "q158_pinot_freq_stored" ->
      """WITH base AS (SELECT * FROM events ORDER BY event_id LIMIT 20000)
        |SELECT props AS item, CAST(count(*) AS BIGINT) AS cnt FROM base
        |GROUP BY 1 ORDER BY cnt DESC, item LIMIT 10""".stripMargin,

    // true top-10 props counts + row count over exactly the sliced rows
    "q159_pinot_freq_timeslice" ->
      """WITH base AS (SELECT props,
        |    row_number() OVER (ORDER BY event_id) AS ts_ms
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        | sl AS (SELECT props FROM base WHERE ts_ms BETWEEN 300 AND 800)
        |SELECT props AS item, CAST(count(*) AS BIGINT) AS cnt,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sl) AS slice_rows
        |FROM sl GROUP BY 1 ORDER BY cnt DESC, item LIMIT 10""".stripMargin,

    // the true grouped distincts over the rows the rollup consumed
    "q151_pinot_rollup_hll" ->
      """WITH sub AS (SELECT event_type, user_id FROM
        |  (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type,
        |       count(DISTINCT user_id) AS distinct_users,
        |       CAST(count(*) AS BIGINT) AS events
        |FROM sub GROUP BY 1 ORDER BY event_type""".stripMargin,

    // true nearest-rank percentiles over the rows the rollup consumed
    "q149_pinot_rollup_kll" ->
      """WITH sub AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM
        |  (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM sub)
        |SELECT event_type,
        |  min(CASE WHEN rn >= ceil(0.5::DOUBLE * n) THEN cents END) AS p50_cents,
        |  min(CASE WHEN rn >= ceil(0.9::DOUBLE * n) THEN cents END) AS p90_cents,
        |  min(CASE WHEN rn >= ceil(0.99::DOUBLE * n) THEN cents END) AS p99_cents,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the true grouped distincts over the rows the rollup consumed
    "q146_pinot_rollup_sketch" ->
      """WITH sub AS (SELECT event_type, user_id, props FROM
        |  (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type,
        |       count(DISTINCT user_id) AS distinct_users,
        |       count(DISTINCT props) AS distinct_props,
        |       CAST(count(*) AS BIGINT) AS events
        |FROM sub GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the true distincts + nearest-rank quantiles over EXACTLY the
    // fixture's row subset
    "q145_pinot_sketch_distinct" ->
      """WITH sub AS (SELECT user_id, props, value FROM
        |  (SELECT * FROM events ORDER BY event_id LIMIT 20000)),
        |r AS (SELECT value,
        |    row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n FROM sub)
        |SELECT (SELECT count(DISTINCT user_id) FROM sub) AS distinct_users,
        |       (SELECT count(DISTINCT props) FROM sub) AS distinct_props,
        |       min(CASE WHEN rn >= ceil(0.5::DOUBLE * n) THEN value END)
        |         AS p50_value,
        |       min(CASE WHEN rn >= ceil(0.9::DOUBLE * n) THEN value END)
        |         AS p90_value
        |FROM r""".stripMargin,

    "q86_pinot_startree" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |  FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM subset GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q65_pinot_roundtrip" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag,
        |    strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS ship_s,
        |    strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts_s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS returned,
        |    octet_length(encode(l_returnflag || CAST(l_orderkey AS VARCHAR)))
        |      AS pbytes
        |  FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  min(ship_s) AS min_ship, max(ship_s) AS max_ship,
        |  max(ship_ts_s) AS max_ship_ts,
        |  CAST(sum(returned) AS BIGINT) AS returned_rows,
        |  CAST(sum(pbytes) AS BIGINT) AS payload_bytes
        |FROM subset GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q105_pinot_group_topk" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(min(l_linenumber) AS INTEGER) AS mn_ln,
        |  CAST(max(l_linenumber) AS INTEGER) AS mx_ln
        |FROM subset GROUP BY l_returnflag
        |ORDER BY sum_okey DESC, l_returnflag LIMIT 2""".stripMargin,

    // identical semantics to q65 — the fixture differs (v1 layout), the
    // data must not
    "q93_pinot_v1" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag,
        |    strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS ship_s,
        |    strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts_s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS returned,
        |    octet_length(encode(l_returnflag || CAST(l_orderkey AS VARCHAR)))
        |      AS pbytes
        |  FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  min(ship_s) AS min_ship, max(ship_s) AS max_ship,
        |  max(ship_ts_s) AS max_ship_ts,
        |  CAST(sum(returned) AS BIGINT) AS returned_rows,
        |  CAST(sum(pbytes) AS BIGINT) AS payload_bytes
        |FROM subset GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q75_pinot_json_decimal" ->
      """WITH subset AS (
        |  SELECT event_id, event_type, props,
        |    CAST(event_id % 1000 AS DECIMAL(12,2)) *
        |      CAST('0.25' AS DECIMAL(6,2)) AS amount
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(amount * 10000 AS BIGINT)) AS BIGINT) AS amount_e4
        |FROM subset GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q129_pinot_json_index" ->
      """WITH subset AS (
        |  SELECT event_id, event_type, props
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM subset WHERE json_extract_string(props, '$.k') = '42'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q130_pinot_json_in_exists" ->
      """WITH subset AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN
        |        '{"tag": {"x": 1}, "n": ' || CAST(event_id % 10 AS VARCHAR) || '}'
        |      WHEN event_id % 7 = 1 THEN
        |        '{"pad": "' || repeat('x', 280) || '", "n": ' ||
        |          CAST(event_id % 10 AS VARCHAR) || '}'
        |      WHEN event_id % 7 = 2 THEN
        |        '{"k2": "t' || CAST(event_id % 10 AS VARCHAR) || '", "n": ' ||
        |          CAST(event_id % 10 AS VARCHAR) || '}'
        |      ELSE '{"n": ' || CAST(event_id % 10 AS VARCHAR) || '}'
        |    END AS props2
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM subset
        |WHERE json_extract_string(props2, '$.n') IN ('2', '5', '8')
        |  AND json_extract_string(props2, '$.k2') IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q131_pinot_json_range" ->
      """WITH subset AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN
        |        '{"tag": {"x": 1}, "n": ' || CAST(event_id % 10 AS VARCHAR) || '}'
        |      WHEN event_id % 7 = 1 THEN
        |        '{"pad": "' || repeat('x', 280) || '", "n": ' ||
        |          CAST(event_id % 10 AS VARCHAR) || '}'
        |      WHEN event_id % 7 = 2 THEN
        |        '{"k2": "t' || CAST(event_id % 10 AS VARCHAR) || '", "n": ' ||
        |          CAST(event_id % 10 AS VARCHAR) || '}'
        |      ELSE '{"n": ' || CAST(event_id % 10 AS VARCHAR) || '}'
        |    END AS props2
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM subset
        |WHERE json_extract_string(props2, '$.n') >= '3'
        |  AND json_extract_string(props2, '$.n') < '8'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q132_pinot_json_isnull" ->
      """WITH subset AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN
        |        '{"tag": {"x": 1}, "n": ' || CAST(event_id % 10 AS VARCHAR) || '}'
        |      WHEN event_id % 7 = 1 THEN
        |        '{"pad": "' || repeat('x', 280) || '", "n": ' ||
        |          CAST(event_id % 10 AS VARCHAR) || '}'
        |      WHEN event_id % 7 = 2 THEN
        |        '{"k2": "t' || CAST(event_id % 10 AS VARCHAR) || '", "n": ' ||
        |          CAST(event_id % 10 AS VARCHAR) || '}'
        |      ELSE '{"n": ' || CAST(event_id % 10 AS VARCHAR) || '}'
        |    END AS props2
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM subset
        |WHERE json_extract_string(props2, '$.k2') IS NULL
        |  AND json_extract_string(props2, '$.n') = '4'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q84_pinot_hybrid" ->
      """WITH subset AS (
        |  SELECT event_id, event_type,
        |    to_timestamp((1704067200000000 + event_id * 1000000) / 1000000.0)
        |      AS hts
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 10000))
        |SELECT event_type, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  strftime(max(hts), '%Y-%m-%d %H:%M:%S') AS max_t
        |FROM subset GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q81_pinot_inverted" ->
      """WITH subset AS (
        |  SELECT event_id, event_type, user_id
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT user_id % 100 AS bucket, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM subset WHERE event_type = 'purchase'
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q92_pinot_bloom" ->
      """WITH subset AS (
        |  SELECT event_id, event_type,
        |    md5(CAST(event_id AS VARCHAR)) AS payload
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_id, event_type, payload
        |FROM subset
        |WHERE payload IN (md5('7'), md5('42'), md5('137'), 'no-such-digest')
        |ORDER BY event_id""".stripMargin,

    "q94_pinot_range" ->
      """WITH subset AS (
        |  SELECT event_id, event_type, value
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 20000))
        |SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_v,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM subset WHERE value > 250.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q95_pinot_text" ->
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE contains(text, 'dup')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // n_chars of the synthetic corpus is never 0, so `backfilled` counts
    // exactly the pre-evolution half
    "q103_pinot_evolved" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS backfilled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q102_pinot_join" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_quantity, l_returnflag FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000)),
        |o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |    SELECT * FROM orders ORDER BY o_orderkey LIMIT 10000))
        |SELECT o_orderstatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS returned
        |FROM li JOIN o ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q100_pinot_vector" ->
      """WITH E AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qvec
        |  FROM embeddings),
        |S AS (SELECT vec_id, qvec,
        |  list_sum(list_transform(range(1, len(qvec) + 1),
        |    i -> qvec[i] * qvec[i])) AS dotself FROM E),
        |J AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    list_sum(list_transform(range(1, len(q.qvec) + 1),
        |      i -> q.qvec[i] * n.qvec[i])) AS dot,
        |    q.dotself AS q_self, n.dotself AS n_self
        |  FROM S q JOIN S n ON q.vec_id < 5 AND q.vec_id <> n.vec_id),
        |R AS (
        |  SELECT q_id, n_id,
        |    dot / sqrt(CAST(q_self AS DOUBLE) * n_self) AS cos_sim,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY dot / sqrt(CAST(q_self AS DOUBLE) * n_self) DESC,
        |        n_id ASC) AS rank
        |  FROM J)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id,
        |  round(cos_sim, 4) AS cos_sim
        |FROM R WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q80_pinot_nullable" ->
      """WITH subset AS (
        |  SELECT l_orderkey,
        |    CASE WHEN l_returnflag = 'R' THEN NULL ELSE l_quantity END
        |      AS n_qty,
        |    CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_linenumber END
        |      AS n_line,
        |    nullif(l_linestatus, 'F') AS n_status
        |  FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT coalesce(n_status, '<null>') AS status, count(*) AS cnt,
        |  count(n_qty) AS qty_nn, count(n_line) AS line_nn,
        |  round(sum(n_qty), 2) AS sum_qty,
        |  CAST(sum(n_line) AS BIGINT) AS sum_line,
        |  CAST(sum(CASE WHEN n_qty IS NULL AND n_line IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS both_null,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
        |FROM subset GROUP BY status ORDER BY status""".stripMargin,

    "q110_pinot_text_cased" ->
      """WITH subset AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
        |         WHEN doc_id % 5 = 0 THEN replace(text, ' ', '-')
        |         ELSE text END AS text_mod
        |  FROM documents),
        |probed AS (
        |  SELECT 'dup' AS probe, * FROM subset WHERE contains(text_mod, 'dup')
        |  UNION ALL
        |  SELECT 'DUP' AS probe, * FROM subset WHERE contains(text_mod, 'DUP'))
        |SELECT probe, lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM probed GROUP BY probe, lang ORDER BY probe, lang""".stripMargin,

    "q106_pinot_distinct_limit" ->
      """WITH subset AS (
        |  SELECT l_returnflag FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT * FROM (
        |  SELECT DISTINCT l_returnflag FROM subset LIMIT 10)
        |ORDER BY l_returnflag""".stripMargin,

    "q107_pinot_hist_limit" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
        |  FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT * FROM (
        |  SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |    CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |    CAST(min(l_linenumber) AS INTEGER) AS mn_ln,
        |    CAST(max(l_linenumber) AS INTEGER) AS mx_ln
        |  FROM subset GROUP BY l_returnflag, l_linestatus LIMIT 50)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q108_pinot_having_over_agg" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_linenumber FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_linenumber, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
        |FROM subset GROUP BY l_linenumber
        |HAVING count(*) > (SELECT count(*) // 7 FROM subset)
        |ORDER BY l_linenumber""".stripMargin,

    "q115_pinot_meta_agg" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_linenumber FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  avg(l_orderkey) AS avg_okey,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
        |  CAST(min(l_orderkey) AS BIGINT) AS mn_okey,
        |  CAST(max(l_linenumber) AS INTEGER) AS mx_ln
        |FROM subset""".stripMargin,

    "q116_pinot_topk_pushed" ->
      """WITH subset AS (
        |  SELECT l_orderkey, CAST(l_quantity AS INTEGER) AS l_qty_i FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_qty_i, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
        |FROM subset GROUP BY l_qty_i
        |ORDER BY sum_okey DESC, l_qty_i ASC
        |LIMIT 10""".stripMargin,

    "q118_pinot_offset" ->
      """WITH subset AS (
        |  SELECT l_orderkey FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_orderkey FROM subset
        |ORDER BY l_orderkey
        |LIMIT 25 OFFSET 100""".stripMargin,

    "q117_pinot_sorted_topk" ->
      """WITH subset AS (
        |  SELECT l_orderkey FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_orderkey FROM subset
        |ORDER BY l_orderkey DESC
        |LIMIT 40""".stripMargin,

    "q109_pinot_mixed_group" ->
      """WITH subset AS (
        |  SELECT l_orderkey, l_quantity, l_returnflag,
        |    strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
        |      AS l_shipdate_s
        |  FROM (
        |    SELECT * FROM lineitem
        |    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |    LIMIT 30000))
        |SELECT l_returnflag, l_shipdate_s, count(*) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM subset GROUP BY l_returnflag, l_shipdate_s
        |ORDER BY l_returnflag, l_shipdate_s""".stripMargin,

    "q70_pinot_mv_explode" ->
      """SELECT l_returnflag AS flag, count(*) AS cnt,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_line
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}

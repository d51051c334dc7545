package graft.pinot

import graft.SparkTestBase
import graft.sources.pinot.PinotUpsert
import org.apache.spark.sql.functions._

/** Randomized upsert differential: for seeded random version histories,
  * strategy assignments, and delete markers, FOUR implementations must
  * agree —
  *
  *  1. the batch view ([[PinotUpsert.latest]] / the transparent path),
  *  2. an INDEPENDENT driver-side brute-force fold (this file),
  *  3. the streaming view ([[PinotUpsert.latestStream]]) drained
  *     batch-by-batch in comparison order,
  *  4. the batch view AFTER [[PinotUpsert.compact]] (and the compacted
  *     raw storage itself, which must equal the view's faces).
  *
  * Histories are generated tie-free per key (ties reject loudly by
  * contract — covered in the deterministic specs), and streaming
  * batches split in ascending comparison order (a late delete rejects
  * loudly by contract, same reason).
  */
class UpsertDifferentialSpec extends SparkTestBase {

  import spark.implicits._

  private case class V(k: Long, ver: Long, ow: String, inc: Long,
      gone: Boolean)

  private def genHistory(rnd: scala.util.Random, nKeys: Int,
      withDeletes: Boolean): Seq[V] = {
    (0 until nKeys).flatMap { k =>
      val nVer = 1 + rnd.nextInt(6)
      // tie-free comparison values per key: a shuffled strictly
      // increasing sequence with random gaps
      var v = 0L
      val vers = (0 until nVer).map { _ => v += 1 + rnd.nextInt(5); v }
      vers.map { ver =>
        V(k.toLong, ver, s"o${rnd.nextInt(5)}", rnd.nextInt(100).toLong,
          withDeletes && rnd.nextInt(5) == 0)
      }
    }
  }

  /** Independent FULL-mode fold: winner by max ver; winning delete
    * hides the key.
    */
  private def bruteFull(rows: Seq[V]): Map[Long, (Long, String, Long)] =
    rows.groupBy(_.k).flatMap { case (k, vs) =>
      val w = vs.maxBy(_.ver)
      if (w.gone) None else Some(k -> ((w.ver, w.ow, w.inc)))
    }

  /** Independent PARTIAL fold (ow OVERWRITE, inc INCREMENT) with
    * revive-from-scratch delete semantics.
    */
  private def brutePartial(rows: Seq[V]): Map[Long, (Long, String, Long)] =
    rows.groupBy(_.k).flatMap { case (k, vs) =>
      val delMax = vs.filter(_.gone).map(_.ver).maxOption
      val live = delMax match {
        case None => vs
        case Some(d) => vs.filter(r => !r.gone && r.ver > d)
      }
      if (live.isEmpty) None
      else {
        val w = live.maxBy(_.ver)
        Some(k -> ((w.ver, w.ow, live.map(_.inc).sum)))
      }
    }

  private def freshTable(name: String): String =
    graft.TestDirs.create("upsert_diff")
      .resolve(s"${name}_REALTIME").toString

  private def readView(dir: String): Map[Long, (Long, String, Long)] =
    spark.read.format("pinot").load(dir)
      .select("k", "ver", "ow", "inc")
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  private def streamTwin(dir: String,
      rows: Seq[V]): Map[Long, (Long, String, Long)] = {
    // drain the already-landed table through latestStream and take the
    // last emission per key (AvailableNow: segments landed in ver order)
    val work = graft.TestDirs.create("upsert_diff_s")
    val out = work.resolve("out").toString
    var seq = 0L
    val q = PinotUpsert.latestStream(spark, dir)
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seq += 1
        df.withColumn("_seq", lit(seq)).write.mode("append").parquet(out)
      }
      .start()
    assert(q.awaitTermination(120000), "differential stream did not end")
    val updates = spark.read.parquet(out)
    updates.groupBy("k")
      .agg(graft.functions.LatestByAgg.latestBy(
        struct(col("ver"), col("ow"), col("inc"), col("gone")),
        col("_seq")).as("w"))
      // tombstone emissions (= retractions) carry NULL merged values —
      // filter BEFORE decoding into non-nullable tuples
      .filter(!coalesce(col("w.v.gone"), lit(false)))
      .select(col("k"), col("w.v.ver"), col("w.v.ow"), col("w.v.inc"))
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  private def run(seed: Int, mode: String, withDeletes: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val rows = genHistory(rnd, nKeys = 12, withDeletes)
    val dir = freshTable(s"ud${mode.head}$seed")
    // land in ver order across 3 segments (streaming contract: a delete
    // never arrives after newer merged versions)
    val sorted = rows.sortBy(_.ver)
    sorted.grouped(math.max(1, sorted.length / 3 + 1)).foreach { chunk =>
      chunk.map(v => (v.k, v.ver, v.ow, v.inc, v.gone))
        .toDF("k", "ver", "ow", "inc", "gone").coalesce(1)
        .write.format("pinot").mode("append").save(dir)
    }
    if (mode == "FULL")
      PinotUpsert.configure(dir, Seq("k"), "ver",
        deleteCol = if (withDeletes) Some("gone") else None)
    else
      PinotUpsert.configurePartial(dir, Seq("k"), "ver",
        Map("inc" -> "INCREMENT"),
        deleteCol = if (withDeletes) Some("gone") else None)
    val expect = if (mode == "FULL") bruteFull(rows) else brutePartial(rows)

    assert(readView(dir) === expect,
      s"seed $seed $mode deletes=$withDeletes: batch view != brute fold")
    assert(streamTwin(dir, rows) === expect,
      s"seed $seed $mode deletes=$withDeletes: stream twin != brute fold")
    PinotUpsert.compact(spark, dir)
    assert(readView(dir) === expect,
      s"seed $seed $mode deletes=$withDeletes: view changed after compact")
    val rawAfter = spark.read.format("pinot")
      .option("upsertView", "raw").load(dir)
    // compacted raw = one face per surviving key (+ retained tombstones)
    val liveRaw = rawAfter.filter(!col("gone"))
      .select("k", "ver", "ow", "inc")
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(liveRaw === expect,
      s"seed $seed $mode deletes=$withDeletes: compacted raw != view")
  }

  test("randomized differential: batch view == brute fold == stream twin == post-compaction (FULL)") {
    for (seed <- 1 to 3) run(seed, "FULL", withDeletes = false)
    for (seed <- 4 to 6) run(seed, "FULL", withDeletes = true)
  }

  test("randomized differential: batch view == brute fold == stream twin == post-compaction (PARTIAL)") {
    for (seed <- 11 to 13) run(seed, "PARTIAL", withDeletes = false)
    for (seed <- 14 to 16) run(seed, "PARTIAL", withDeletes = true)
  }

  test("MV UNION keeps null elements identically in the batch and streaming views") {
    // r14 ADVICE: unionMerge dropped null array elements while the batch
    // view's array_distinct(flatten(collect_list())) keeps them — the
    // same table answered differently between latest and latestStream.
    val cfg = PinotUpsert.UpsertConfig("PARTIAL", Seq("k"), "ver",
      Map("mv" -> PinotUpsert.Union), None)
    val rows = Seq(
      (1L, 1L, Seq("a", null)),
      (1L, 2L, Seq("b", null, "a")),
      (2L, 1L, Seq[String](null)))
    val expect = Map(
      1L -> (2L, Seq(null, "a", "b")),
      2L -> (1L, Seq[String](null)))

    val batch = PinotUpsert.viewOver(
      rows.toDF("k", "ver", "mv"), "mem", cfg)
      .as[(Long, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(batch === expect, "batch view mishandled null MV elements")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Seq[String])]
    ms.addData(rows: _*)
    val work = graft.TestDirs.create("upsert_diff_mv")
    val q = PinotUpsert.latestStreamOver(
      ms.toDF().toDF("k", "ver", "mv"), "mem", cfg)
      .writeStream.format("memory").queryName("ud_mv_nulls")
      .outputMode("update")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "MV-null stream did not end")
    val streamed = spark.table("ud_mv_nulls")
      .as[(Long, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === expect,
      "streaming view disagreed with the batch view on null MV elements")
  }

  test("NULL comparison values reject loudly when a delete column is configured") {
    // r14 ADVICE: in the delete path the NULL-cmp rejection used to ride
    // the same conjunction as the revive comparison — conjunct
    // splitting could silently DROP the NULL-cmp row instead of
    // rejecting. The check is now its own filter; prove it fires.
    val dir = freshTable("udnullsdel")
    Seq((1L, Some(1L), "a", 1L, false), (1L, None, "b", 2L, false),
      (1L, Some(2L), "c", 0L, true))
      .toDF("k", "ver", "ow", "inc", "gone")
      .coalesce(1).write.format("pinot")
      .option("nullableColumns", "ver")
      .mode("append").save(dir)
    PinotUpsert.configurePartial(dir, Seq("k"), "ver",
      Map("inc" -> "INCREMENT"), deleteCol = Some("gone"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val ex = intercept[Exception] {
      spark.read.format("pinot").load(dir).collect()
    }
    assert(messages(ex).exists(_.contains("NULL ver")),
      s"expected the NULL-cmp rejection with deleteCol, got: $ex")
  }
}

package graft.sources


import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.pinot.SegmentWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `spark.readStream.format("pinot")` — incremental tail over a table
  * directory: each micro-batch reads exactly the newly-committed
  * segments (extension; the reference is batch-only).
  */
class PinotStreamReadSpec extends SparkTestBase {

  private def writeSeg(dir: java.nio.file.Path, name: String, from: Int, to: Int): Unit =
    SegmentWriter.write(dir.resolve(name), "events", name, Seq(
      SegmentWriter.IntCol("v", (from until to).toArray),
      SegmentWriter.StringDictCol("k", Array.tabulate(to - from)(i => s"k${(from + i) % 5}"))))

  test("micro-batch tail reads only newly committed segments, exactly once") {
    val root = graft.TestDirs.create("pinot_stream")
    val tableDir = root.resolve("events_OFFLINE")
    val ckpt = root.resolve("ckpt").toString
    writeSeg(tableDir, "seg0", 0, 100)
    writeSeg(tableDir, "seg1", 100, 250)

    def runOnce(): Unit = {
      val q = spark.readStream.format("pinot").load(tableDir.toString)
        .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("pinot_tail")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runOnce()
    val first = spark.table("pinot_tail").agg(sum("cnt"), sum("sv")).head()
    assert(first.getLong(0) === 250L)
    assert(first.getLong(1) === (0 until 250).map(_.toLong).sum)

    // a new segment lands; the next run must process ONLY seg2 (state in
    // the checkpoint carries the earlier counts — complete-mode totals
    // prove exactly-once: a reprocess of seg0/seg1 would double-count)
    writeSeg(tableDir, "seg2", 250, 400)
    runOnce()
    val second = spark.table("pinot_tail").agg(sum("cnt"), sum("sv")).head()
    assert(second.getLong(0) === 400L)
    assert(second.getLong(1) === (0 until 400).map(_.toLong).sum)

    // offset round-trip survives paths needing escapes
    val off = PinotStreamOffsetFixture.roundTrip(Seq("/a/b seg", "/c\"d", "/e\\f"))
    assert(off === Seq("/a/b seg", "/c\"d", "/e\\f").sorted)
  }

  test("a stream over a table compacted under it fails loudly, naming the vanished segments") {
    val root = graft.TestDirs.create("pinot_stream_compact")
    val tableDir = root.resolve("events_OFFLINE")
    val ckpt = root.resolve("ckpt").toString
    writeSeg(tableDir, "seg0", 0, 100)
    writeSeg(tableDir, "seg1", 100, 250)

    def runOnce(): Unit = {
      val q = spark.readStream.format("pinot").load(tableDir.toString)
        .agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("pinot_tail_compact")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }

    runOnce()
    assert(spark.table("pinot_tail_compact").head().getLong(0) === 250L)
    // the merged segment is a new path holding seg0 + seg1's rows: a set
    // difference of paths would stream them again (total 500)
    graft.pinot.PinotCompact.compact(tableDir.toString)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](runOnce())
    val typed = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .collectFirst { case p: graft.pinot.PinotFormatException => p }
    assert(typed.isDefined, s"expected a PinotFormatException cause, got $e")
    assert(typed.get.getMessage.contains("seg0") &&
      typed.get.getMessage.contains("seg1"), typed.get.getMessage)
    // no batch past the first was committed
    val commits = java.nio.file.Files.list(root.resolve("ckpt/commits"))
    try assert(commits.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSet === Set("0"))
    finally commits.close()
  }
}

object PinotStreamOffsetFixture {
  def roundTrip(paths: Seq[String]): Seq[String] = {
    val o = graft.sources.pinot.PinotStreamOffset(paths)
    graft.sources.pinot.PinotStreamOffset.fromJson(o.json()).segments
  }
}

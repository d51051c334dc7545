package graft.pinot

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Upsert-table read semantics ([[graft.sources.pinot.PinotUpsert]]):
  * latest-record-per-key across segments, multi-column keys, the loud
  * tie rejection, and the loud not-an-upsert-table / missing-column
  * contracts.
  */
class PinotUpsertSpec extends SparkTestBase {

  import graft.sources.pinot.PinotUpsert

  private def freshTable(name: String): String =
    graft.TestDirs.create("upsert")
      .resolve(s"${name}_REALTIME").toString

  test("latest record per key wins across segments; superseded versions vanish") {
    import spark.implicits._
    val dir = freshTable("ups")
    // segment 1: versions 1..3 of keys 0..9
    (0 until 30).map(i => (i % 10L, i / 10 + 1L, s"v${i / 10 + 1}"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    // segment 2 (lands later): version 9 of keys 0..4 only
    (0 until 5).map(i => (i.toLong, 9L, "v9"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val got = PinotUpsert.latest(spark, dir)
      .select("k", "ver", "payload").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    val want = (0 until 10).map { k =>
      if (k < 5) (k.toLong, 9L, "v9") else (k.toLong, 3L, "v3")
    }
    assert(got.toSeq === want)
  }

  test("multi-column keys rank independently") {
    import spark.implicits._
    val dir = freshTable("ups2")
    Seq(
      ("a", 1L, 10L, "old"), ("a", 1L, 20L, "new"),
      ("a", 2L, 5L, "only"), ("b", 1L, 7L, "solo"))
      .toDF("k1", "k2", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k1", "k2"), "ver")
    val got = PinotUpsert.latest(spark, dir)
      .select("k1", "k2", "payload").as[(String, Long, String)]
      .collect().toSet
    assert(got === Set(("a", 1L, "new"), ("a", 2L, "only"), ("b", 1L, "solo")))
  }

  test("a tie on (key, max comparison) rejects loudly instead of guessing") {
    import spark.implicits._
    val dir = freshTable("upst")
    Seq((1L, 5L, "x"), (1L, 5L, "y"), (2L, 3L, "z"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver")
    val ex = intercept[Exception] {
      PinotUpsert.latest(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("tie")),
      s"expected a tie rejection, got: $ex")
    // a superseded tie (not at the max) is harmless — only the winner
    // must be unique
    val dir2 = freshTable("upst2")
    Seq((1L, 5L, "x"), (1L, 5L, "y"), (1L, 6L, "win"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir2)
    PinotUpsert.configure(dir2, Seq("k"), "ver")
    val got = PinotUpsert.latest(spark, dir2)
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(got === Seq("win"))
  }

  test("delete markers: a winning delete hides its key; a superseded delete does not") {
    import spark.implicits._
    val dir = freshTable("upsd")
    Seq(
      (1L, 1L, "ins", false), (1L, 2L, "del", true),  // winner IS delete
      (2L, 1L, "del", true), (2L, 2L, "re", false),   // delete superseded
      (3L, 1L, "only", false))                         // never deleted
      .toDF("k", "ver", "payload", "gone")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configure(dir, Seq("k"), "ver", deleteCol = Some("gone"))
    val got = PinotUpsert.latest(spark, dir)
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((2L, "re"), (3L, "only")))
    // the delete column is config-validated like the others
    intercept[IllegalArgumentException] {
      PinotUpsert.configure(dir, Seq("k"), "ver", deleteCol = Some("k"))
    }
  }

  test("partial upsert: every strategy merges column-wise in one aggregate") {
    import spark.implicits._
    val dir = freshTable("upsp")
    // key k: three versions (ver 1..3) spread over two segments
    Seq(
      (1L, 1L, "a", 10L, 5L, "x"),
      (1L, 2L, "b", 20L, 3L, "y"))
      .toDF("k", "ver", "ow", "inc", "mn", "un")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    Seq(
      (1L, 3L, "c", 30L, 7L, "x"),
      (2L, 1L, "solo", 1L, 1L, "z"))
      .toDF("k", "ver", "ow", "inc", "mn", "un")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configurePartial(dir, Seq("k"), "ver",
      Map("inc" -> "INCREMENT", "mn" -> "MIN", "un" -> "UNION"))
    // ow is unlisted -> defaults to OVERWRITE (latest version wins)
    val got = PinotUpsert.latest(spark, dir)
      .select("k", "ver", "ow", "inc", "mn", "un")
      .as[(Long, Long, String, Long, Long, Seq[String])]
      .collect().sortBy(_._1)
    assert(got(0) === ((1L, 3L, "c", 60L, 3L, Seq("x", "y"))))
    assert(got(1) === ((2L, 1L, "solo", 1L, 1L, Seq("z"))))
    // IGNORE and APPEND on the same fixture
    PinotUpsert.configurePartial(dir, Seq("k"), "ver",
      Map("ow" -> "IGNORE", "un" -> "APPEND"))
    val got2 = PinotUpsert.latest(spark, dir)
      .select("k", "ow", "un")
      .as[(Long, String, Seq[String])]
      .collect().sortBy(_._1)
    assert(got2(0) === ((1L, "a", Seq("x", "y", "x"))))
    assert(got2(1) === ((2L, "solo", Seq("z"))))
  }

  test("partial upsert: a duplicate comparison value within a key rejects loudly") {
    import spark.implicits._
    val dir = freshTable("upspt")
    Seq((1L, 5L, "x"), (1L, 5L, "y"))
      .toDF("k", "ver", "payload")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    PinotUpsert.configurePartial(dir, Seq("k"), "ver", Map.empty)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val ex = intercept[Exception] {
      PinotUpsert.latest(spark, dir).collect()
    }
    assert(messages(ex).exists(_.contains("undefined under a tie")),
      s"expected a tie rejection, got: $ex")
  }

  test("loud contracts: not an upsert table, bad key set, missing columns") {
    import spark.implicits._
    val dir = freshTable("upsc")
    Seq((1L, 2L)).toDF("k", "ver")
      .coalesce(1).write.format("pinot").mode("append").save(dir)
    val ex1 = intercept[PinotFormatException] {
      PinotUpsert.latest(spark, dir)
    }
    assert(ex1.getMessage.contains("not an upsert table"))
    intercept[IllegalArgumentException] {
      PinotUpsert.configure(dir, Seq("k"), "k")
    }
    PinotUpsert.configure(dir, Seq("k"), "missing_col")
    val ex2 = intercept[PinotFormatException] {
      PinotUpsert.latest(spark, dir)
    }
    assert(ex2.getMessage.contains("missing_col"))
  }
}

package graft.sources


import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Randomized WRITE-path differential: seeded random (schema, data,
  * partitioning, index options, sorted column) draws go through
  * `df.write.format("pinot")`, read back whole, and must equal the
  * original DataFrame; half the draws then COMPACT the table and must
  * still equal it. The read-path differential (PinotDifferentialSpec)
  * hunts queries over one fixed fixture — this hunts the WRITER ×
  * encoder × index-builder × compactor matrix itself.
  */
class PinotWriteDifferentialSpec extends SparkTestBase {

  private val Draws = 10

  // override locally with GRAFT_DIFF_SEED for a fresh hunt (same knob
  // as PinotDifferentialSpec)
  private val seed = sys.env.get("GRAFT_DIFF_SEED")
    .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(87543L)

  test(s"$Draws random write/read(/compact) round-trips are lossless") {
    val rnd = new scala.util.Random(seed)
    for (draw <- 1 to Draws) {
      val rows = 500 + rnd.nextInt(4000)
      val parts = 1 + rnd.nextInt(4)
      val dictCard = 2 + rnd.nextInt(40)
      // column pool: key + a random subset of typed columns (dict_str
      // always present so index options always have a target)
      val optional = rnd.shuffle(Seq("i32", "f32", "f64", "raw_str", "b", "t"))
        .take(2 + rnd.nextInt(4))
      val cols = Seq("k", "dict_str") ++ optional
      var df = spark.range(0, rows, 1, parts)
        .select(Seq(
          col("id").as("k"),
          concat(lit("cat"), (col("id") % dictCard).cast("string"))
            .as("dict_str")) ++
          optional.map {
            case "i32" => ((col("id") * 37) % 1000).cast("int").as("i32")
            case "f32" => (col("id") * 0.25).cast("float").as("f32")
            case "f64" => (col("id") * 1.75 - rows / 2).as("f64")
            case "raw_str" => concat(lit("uid-"),
              md5(col("id").cast("string"))).as("raw_str")
            case "b" => (col("id") % 3 === 0).as("b")
            case "t" => timestamp_micros(col("id") * 1000000L +
              lit(1704067200000000L)).as("t")
          }: _*)
      // shuffle row order so segments are not globally sorted unless the
      // sortedColumn option asks for it
      df = df.orderBy(md5(col("k").cast("string"))).cache()

      val dir = graft.TestDirs.create("pinot_wdiff")
        .resolve(s"wdiff${draw}_OFFLINE").toString
      var w = df.write.format("pinot").mode("append")
      if (rnd.nextBoolean()) w = w.option("sortedColumn", "k")
      if (rnd.nextBoolean()) w = w.option("bloomFilterColumns", "dict_str")
      if (rnd.nextBoolean()) w = w.option("invertedIndexColumns", "dict_str")
      if (rnd.nextBoolean() && cols.contains("i32"))
        w = w.option("rangeIndexColumns", "i32")
      w.save(dir)

      def check(stage: String): Unit = {
        val back = spark.read.format("pinot").load(dir)
          .select(cols.map(col): _*).orderBy("k").collect().toSeq
        val want = df.select(cols.map(col): _*).orderBy("k").collect().toSeq
        assert(back === want, s"draw $draw ($stage) round-trip diverged")
        // one pushed filter probe per stage: dictionary equality on the
        // low-cardinality column must agree with the DataFrame twin
        val probe = s"cat${rnd.nextInt(dictCard)}"
        val got = spark.read.format("pinot").load(dir)
          .filter(col("dict_str") === probe).count()
        assert(got === df.filter(col("dict_str") === probe).count(),
          s"draw $draw ($stage) filtered count diverged")
      }
      check("written")
      if (rnd.nextBoolean()) {
        graft.pinot.PinotCompact.compact(dir)
        check("compacted")
      }
      df.unpersist()
    }
  }

  test("60 index-bearing draws: pushdown answers equal the DataFrame twin") {
    // the r10 differential drew plain round-trips; this hunt FUZZES the
    // index build+probe matrix — every draw toggles json/text/range/
    // bloom/inverted/sketch options, then probes the shapes each index
    // serves (equality, IN, IS NULL, substring, range, distinct) and
    // compares (count, sum(k)) against the in-memory DataFrame twin; a
    // random half compacts and re-probes, so index survival through the
    // compactor is fuzzed too
    val rnd = new scala.util.Random(seed + 2)
    for (draw <- 1 to 60) {
      val rows = 300 + rnd.nextInt(900)
      val parts = 1 + rnd.nextInt(3)
      val dictCard = 2 + rnd.nextInt(30)
      val jsonCard = 2 + rnd.nextInt(9)
      val tokCard = 2 + rnd.nextInt(12)
      val df = spark.range(0, rows, 1, parts).select(
        col("id").as("k"),
        concat(lit("cat"), (col("id") % dictCard).cast("string"))
          .as("dict_str"),
        ((col("id") * 37) % 1000).cast("int").as("i32"),
        concat(lit("uid-"), md5(col("id").cast("string"))).as("raw_str"),
        // json docs: sometimes-null column, sometimes-missing key
        when(col("id") % 11 === 0, lit(null).cast("string"))
          .otherwise(to_json(struct(
            (col("id") % jsonCard).cast("string").as("v"),
            when(col("id") % 7 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("s"), (col("id") % 5).cast("string")))
              .as("s")))).as("doc"),
        // text: 3 space-joined tokens from a small vocabulary
        concat_ws(" ",
          concat(lit("tok"), (col("id") % tokCard).cast("string")),
          concat(lit("tok"), ((col("id") * 7) % tokCard).cast("string")),
          concat(lit("w"), (col("id") % 3).cast("string"))).as("text"))
        .orderBy(md5(col("k").cast("string"))).cache()

      val dir = graft.TestDirs.create("pinot_idiff")
        .resolve(s"idiff${draw}_OFFLINE").toString
      var w = df.write.format("pinot").mode("append")
        .option("jsonColumns", "doc")
        .option("nullableColumns", "doc")
      if (rnd.nextBoolean()) w = w.option("jsonIndexColumns", "doc")
      if (rnd.nextBoolean()) w = w.option("textIndexColumns", "text")
      if (rnd.nextBoolean()) w = w.option("rangeIndexColumns", "i32")
      if (rnd.nextBoolean()) w = w.option("bloomFilterColumns", "raw_str")
      if (rnd.nextBoolean()) w = w.option("invertedIndexColumns", "dict_str")
      val sketched = rnd.nextBoolean()
      // k=4096 > max rows keeps the KLL in its exact nearest-rank regime,
      // and hll14's sparse limit (2^14/4 = 4096) > max rows keeps the HLL
      // sparse-exact, so every sketch probe compares EXACTLY vs the twin
      if (sketched) w = w.option("sketchColumns",
        "k:bitmap,dict_str:kmv64,i32:kll4096,raw_str:hll14")
      if (rnd.nextBoolean()) w = w.option("sortedColumn", "k")
      w.save(dir)

      def sig(d: DataFrame): (Long, Long) = {
        val r = d.agg(count(lit(1)), coalesce(sum("k"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      def check(stage: String): Unit = {
        val back = spark.read.format("pinot").load(dir)
        def probe(name: String, p: DataFrame => DataFrame): Unit =
          assert(sig(p(back)) === sig(p(df)),
            s"draw $draw ($stage) probe '$name' diverged")
        probe("json eq", _.filter(
          get_json_object(col("doc"), "$.v") === (draw % jsonCard).toString))
        probe("json in", _.filter(get_json_object(col("doc"), "$.s")
          .isin("s0", "s3")))
        probe("json null", _.filter(
          get_json_object(col("doc"), "$.s").isNull))
        probe("text contains", _.filter(
          col("text").contains(s"tok${draw % tokCard}")))
        probe("range", _.filter(col("i32") > 200 && col("i32") <= 700))
        probe("bloom eq", _.filter(col("raw_str") ===
          df.select("raw_str").head().getString(0)))
        probe("dict eq", _.filter(
          col("dict_str") === s"cat${draw % dictCard}"))
        if (sketched) {
          assert(graft.sources.pinot.PinotSketches
            .wholeTable(spark, dir, "k", "bitmap").head().getLong(0) ===
            df.select("k").distinct().count(),
            s"draw $draw ($stage) bitmap sketch distinct diverged")
          assert(graft.sources.pinot.PinotSketches
            .wholeTable(spark, dir, "dict_str", "kmv64").head().getLong(0) ===
            df.select("dict_str").distinct().count(),
            s"draw $draw ($stage) kmv sketch distinct diverged")
          assert(graft.sources.pinot.PinotSketches
            .wholeTable(spark, dir, "raw_str", "hll14").head().getLong(0) ===
            df.select("raw_str").distinct().count(),
            s"draw $draw ($stage) hll sketch distinct diverged")
          val gotQ = graft.sources.pinot.PinotSketches
            .wholeTable(spark, dir, "i32", "kll4096", Seq(0.25, 0.5, 0.9))
            .head().getSeq[Double](0)
          val sortedVals = df.select("i32").collect()
            .map(_.getInt(0).toDouble).sorted
          val wantQ = Seq(0.25, 0.5, 0.9).map { q =>
            val t = math.max(1L, math.ceil(q * sortedVals.length).toLong)
            sortedVals(t.toInt - 1)
          }
          assert(gotQ === wantQ,
            s"draw $draw ($stage) kll sketch quantiles diverged")
        }
      }
      check("written")
      if (rnd.nextBoolean()) {
        graft.pinot.PinotCompact.compact(dir)
        check("compacted")
      }
      df.unpersist()
    }
  }

  test("random merge-ROLLUPs equal the groupBy twin") {
    val rnd = new scala.util.Random(seed + 1)
    for (draw <- 1 to 5) {
      val rows = 500 + rnd.nextInt(3000)
      val parts = 1 + rnd.nextInt(4)
      val dimCard = 2 + rnd.nextInt(12)
      // metric values are small integers (exact in double under ANY
      // accumulation order), so sum-equality is deterministic
      val df = spark.range(0, rows, 1, parts).select(
        concat(lit("d"), (col("id") % dimCard).cast("string")).as("dim"),
        ((col("id") * 31) % 5).cast("int").as("bucket"),
        (col("id") % 13).as("m_long"),
        (col("id") % 7).cast("double").as("m_double"))
        .cache()
      val dir = graft.TestDirs.create("pinot_rdiff")
        .resolve(s"rdiff${draw}_OFFLINE").toString
      df.write.format("pinot").mode("append").save(dir)
      graft.pinot.PinotCompact.rollup(dir,
        dims = Seq("dim", "bucket"), metrics = Seq("m_long", "m_double"))
      val back = spark.read.format("pinot").load(dir)
        .select("dim", "bucket", "m_long", "m_double")
        .orderBy("dim", "bucket").collect().toSeq
      val want = df.groupBy("dim", "bucket")
        .agg(sum("m_long").as("m_long"), sum("m_double").as("m_double"))
        .orderBy("dim", "bucket").collect().toSeq
      assert(back === want, s"rollup draw $draw diverged")
      df.unpersist()
    }
  }
}

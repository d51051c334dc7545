package graft.functions

import graft.SparkTestBase
import graft.pinot.SketchSection
import org.apache.spark.sql.functions._

/** HLL distinct sketch: sparse-regime exactness, dense-regime error
  * bounds, merge determinism (register maxima make merge order
  * irrelevant), payload composition through `sketch_build` /
  * `hll_merge_estimate` (the lambda path), serde round-trips, and SQL
  * registration.
  */
class HllSketchSpec extends SparkTestBase {

  test("sparse regime: estimate is the EXACT distinct count") {
    val rnd = new scala.util.Random(42)
    val p = 12 // m = 4096, sparse limit 1024
    val h = new HllSketch(p)
    val hashes = Seq.fill(5000)(rnd.nextInt(800).toLong * 0x9E3779B97F4A7C15L)
    hashes.foreach(h.addHash)
    assert(h.isSparse)
    assert(h.estimate === hashes.distinct.size.toLong)
  }

  test("dense regime: relative error within 4 standard errors (1.04/sqrt(m))") {
    for (seed <- Seq(1, 7, 20260815)) {
      val rnd = new scala.util.Random(seed)
      val p = 10 // m = 1024: forced dense at 50k distinct
      val h = new HllSketch(p)
      val n = 50000
      val seen = new java.util.HashSet[java.lang.Long]()
      (0 until n).foreach { _ =>
        val v = rnd.nextLong()
        seen.add(v)
        // estimate quality depends on hash uniformity: feed real xxhash64
        h.addHash(SketchSection.xxhash(v))
      }
      assert(!h.isSparse)
      val err = math.abs(h.estimate.toDouble - seen.size) / seen.size
      val bound = 4.0 * 1.04 / math.sqrt((1 << p).toDouble)
      assert(err <= bound, s"seed $seed: err $err > $bound (est ${h.estimate}, true ${seen.size})")
    }
  }

  test("merge determinism: any split and order yields the identical sketch") {
    val rnd = new scala.util.Random(99)
    val p = 8
    val hashes = Seq.fill(20000)(SketchSection.xxhash(rnd.nextInt(6000).toLong))
    val whole = new HllSketch(p)
    hashes.foreach(whole.addHash)
    // 5 random partitions, merged in reverse order, one side kept sparse
    val parts = hashes.grouped(4096).toSeq.map { chunk =>
      val s = new HllSketch(p)
      chunk.foreach(s.addHash)
      s
    }
    val merged = new HllSketch(p)
    parts.reverse.foreach(merged.mergeIn)
    assert(merged.estimate === whole.estimate)
    assert(java.util.Arrays.equals(merged.serializeBody(), whole.serializeBody()))
  }

  test("serde round-trips both phases; SketchSection frames kind hll") {
    val rnd = new scala.util.Random(5)
    val sparse = new HllSketch(10)
    Seq.fill(100)(rnd.nextLong()).foreach(sparse.addHash)
    assert(sparse.isSparse)
    val s2 = HllSketch.deserializeBody(10, sparse.serializeBody())
    assert(s2.estimate === sparse.estimate)

    val dense = new HllSketch(6) // m=64, limit 16: dense fast
    Seq.fill(5000)(rnd.nextLong()).foreach(dense.addHash)
    assert(!dense.isSparse)
    val d2 = HllSketch.deserializeBody(6, dense.serializeBody())
    assert(d2.estimate === dense.estimate)
    assert(java.util.Arrays.equals(d2.serializeBody(), dense.serializeBody()))

    val built = new HllSketch(12)
    Seq.fill(300)(rnd.nextLong()).foreach(built.addHash)
    val sk = SketchSection.deserialize(built.payload)
    assert(sk.spec === SketchSection.HllSpec(12))
    assert(sk.asInstanceOf[HllSketch].estimate === 300L) // random longs: collision-free in practice
  }

  test("hll_distinct agg: sparse-exact over partitioned data; SQL-registered") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(4000)(rnd.nextInt(900).toLong)
    val df = vals.toDF("v").repartition(8)
    val got = df.agg(
      SketchAgg.result(xxhash64(col("v")), "hll14").as("d"))
      .head().getLong(0)
    assert(got === vals.distinct.size.toLong)
    df.createOrReplaceTempView("hll_vals")
    val sqlGot = spark.sql(
      "SELECT hll_distinct(xxhash64(v), 14) FROM hll_vals").head().getLong(0)
    assert(sqlGot === vals.distinct.size.toLong)
  }

  test("lambda composition: sketch_build payloads merged == direct aggregate (both phases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for ((p, card) <- Seq((14, 1500), (6, 3000))) { // sparse / forced dense
      val vals = Seq.fill(9000)(rnd.nextInt(card).toLong)
      val df = vals.toDF("v").repartition(6)
      val direct = df
        .agg(SketchAgg.result(xxhash64(col("v")), s"hll$p"))
        .head().getLong(0)
      // two cohort payloads (the stored-section shape) merged at query time
      val payloads = df
        .withColumn("cohort", col("v") % 2)
        .groupBy("cohort")
        .agg(SketchAgg.build(xxhash64(col("v")), s"hll$p")
          .as("sketch"))
      val viaMerge = payloads
        .agg(SketchAgg.merge(col("sketch"), s"hll$p"))
        .head().getLong(0)
      assert(viaMerge === direct, s"p=$p")
      if (p == 14) assert(direct === vals.distinct.size.toLong)
      // SQL twins of both halves
      payloads.createOrReplaceTempView("hll_payloads")
      assert(spark.sql(
        s"SELECT hll_merge_estimate(sketch, $p) FROM hll_payloads")
        .head().getLong(0) === direct)
    }
  }

  test("sparse bytes are insertion-order independent (primitive set sorts on serialize); zero hash survives") {
    val rnd = new scala.util.Random(7)
    // include 0L explicitly: it is the open-addressing empty sentinel
    // and must round-trip through the out-of-band flag
    val hashes = 0L +: Seq.fill(2000)(rnd.nextLong()).distinct
    val a = new HllSketch(14) // sparse limit 4096 > inputs: stays sparse
    val b = new HllSketch(14)
    hashes.foreach(a.addHash)
    rnd.shuffle(hashes).foreach(b.addHash)
    assert(a.isSparse && b.isSparse)
    assert(a.estimate === hashes.size.toLong)
    assert(java.util.Arrays.equals(a.serializeBody(), b.serializeBody()),
      "sparse serialization must not depend on insertion order")
    // duplicate re-adds (including 0) change nothing
    hashes.take(100).foreach(a.addHash)
    a.addHash(0L)
    assert(java.util.Arrays.equals(a.serializeBody(), b.serializeBody()))
    // round-trip
    val back = HllSketch.deserializeBody(14, a.serializeBody())
    assert(back.estimate === hashes.size.toLong)
  }

  test("merge across p fails loudly; bad frame fails loudly") {
    val a = new HllSketch(8)
    val b = new HllSketch(10)
    intercept[IllegalArgumentException](a.mergeIn(b))
    intercept[Exception](
      SketchSection.deserialize(Array.fill[Byte](32)(3)))
  }
}

package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Frequent-items (Misra–Gries) and KMV theta-style distinct sketches:
  * exact regime (cardinality below capacity) must match exact SQL
  * bit-for-bit; the approximate regime must respect the published error
  * bounds. Both aggregates must survive map-side partials across many
  * partitions — that's their reason to exist.
  */
class SketchAggSpec extends SparkTestBase {

  // ---------- freq_items ----------

  test("freq_items exact regime: counts equal groupBy when distinct <= capacity") {
    val d = spark.range(0, 5000, 1, 8)
      .select((col("id") % 37).cast("string").as("s"))
    val sketch = d.agg(SketchAgg.result(col("s"), "freq64").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = d.groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch === exact)
  }

  test("freq_items eval is ranked (cnt desc, item asc)") {
    import spark.implicits._
    val d = Seq("b", "b", "a", "a", "c").toDF("s")
    val rows = d.agg(SketchAgg.result(col("s"), "freq8").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(rows === List(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("freq_items approximate regime: bound est in [true - n/(cap+1), true], heavy survive") {
    // 4 genuinely-heavy items (50k each) atop a 196-item tail (~1k each);
    // 200 distinct >> capacity 32, so decrements MUST fire (update+merge).
    def trueCnt(i: Long): Long = if (i < 4) 50000L else 1000L - i
    val d = spark.range(0, 200, 1, 16)
      .select(col("id"),
        expr("explode(sequence(1, CASE WHEN id < 4 THEN 50000 ELSE 1000 - id END))"))
      .select(concat(lit("item"), format_string("%03d", col("id"))).as("s"))
    val n = (0L until 200L).map(trueCnt).sum
    val cap = 32
    val sketch = d.agg(SketchAgg.result(col("s"), s"freq$cap").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= cap)
    val slack = n / (cap + 1)
    sketch.foreach { case (item, est) =>
      val t = trueCnt(item.drop(4).toLong)
      assert(est <= t, s"$item overestimated: $est > $t")
      assert(est >= t - slack, s"$item below MG bound: $est < ${t - slack}")
    }
    // every item with true count > n/(cap+1) is guaranteed to survive
    val guaranteed = (0L until 200L).filter(i => trueCnt(i) > slack)
    assert(guaranteed.nonEmpty, "test must include guaranteed-heavy items")
    guaranteed.foreach { i =>
      assert(sketch.contains(f"item$i%03d"), s"heavy item$i%03d evicted")
    }
  }

  test("freq_items nulls are ignored and capacity is enforced per buffer") {
    import spark.implicits._
    val d = Seq(Some("x"), None, Some("x"), None, Some("y")).toDF("s")
    val m = d.agg(SketchAgg.result(col("s"), "freq4").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === Map("x" -> 2L, "y" -> 1L))
  }

  test("seeded random configs: every sketch agrees with exact aggregation") {
    val rnd = new scala.util.Random(20260815L)
    for (i <- 1 to 8) {
      val distinct = 5 + rnd.nextInt(200)
      val cap = 8 + rnd.nextInt(120)
      val rows = 2000 + rnd.nextInt(8000)
      val parts = 1 + rnd.nextInt(16)
      val d = spark.range(0, rows, 1, parts)
        .select(((col("id") * 2654435761L) % distinct).as("kl"))
        .select(col("kl").cast("string").as("s"), col("kl"))
      val exactDistinct = d.select(countDistinct("kl")).head().getLong(0)
      // kmv is exact below saturation
      if (exactDistinct <= cap) {
        val est = d.agg(SketchAgg.kmvSketch(xxhash64(col("kl")), cap).as("sk"))
          .select(KmvSketch.distinctEstimate(col("sk"), cap))
          .head().getLong(0)
        assert(est === exactDistinct, s"draw $i kmv")
      }
      // bitmap is always exact
      val bm = d.agg(SketchAgg.result(col("kl"), "bitmap"))
        .head().getLong(0)
      assert(bm === exactDistinct, s"draw $i bitmap")
      // freq_items: exact below capacity, MG-bounded above
      val sketch = d.agg(SketchAgg.result(col("s"), s"freq$cap").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item"), col("e.cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = d.groupBy("s").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (exactDistinct <= cap) assert(sketch === exact, s"draw $i freq exact")
      else {
        val slack = rows.toLong / (cap + 1)
        sketch.foreach { case (item, est) =>
          val t = exact(item)
          assert(est <= t && est >= t - slack,
            s"draw $i freq bound violated for $item: $est vs $t (slack $slack)")
        }
      }
    }
  }

  // ---------- bitmap_distinct ----------

  test("bitmap_distinct is exact across partitions and groups") {
    val d = spark.range(0, 100000, 1, 16)
      .select((col("id") % 7).as("g"),
        // duplicated, clustered, and gap-ridden key space
        ((col("id") % 4096) * 3L + (col("id") % 5)).as("k"))
    val got = d.groupBy("g")
      .agg(SketchAgg.result(col("k"), "bitmap").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = d.groupBy("g").agg(countDistinct("k").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exact)
  }

  test("bitmap_distinct handles negative keys, nulls, and empty groups") {
    import spark.implicits._
    val d = Seq((1L, Some(-5L)), (1L, Some(-5L)), (1L, Some(Long.MinValue)),
      (1L, None), (2L, None)).toDF("g", "k")
    val got = d.groupBy("g")
      .agg(SketchAgg.result(col("k"), "bitmap").as("n"))
      .orderBy("g").collect().map(_.getLong(1)).toList
    assert(got === List(2L, 0L))
  }

  // ---------- kmv_sketch ----------

  private val k = 1024

  test("kmv exact regime: distinct/union/intersect estimates are exact below k") {
    // two overlapping cohorts, 300 distinct each, 100 shared
    val a = spark.range(0, 300, 1, 8).select(lit("a").as("g"), col("id"))
    val b = spark.range(200, 500, 1, 8).select(lit("b").as("g"), col("id"))
    val sk = a.union(b).groupBy("g")
      .agg(SketchAgg.kmvSketch(xxhash64(col("id")), k).as("sk"))
    val row = sk.filter(col("g") === "a").select(col("sk").as("sa"))
      .crossJoin(sk.filter(col("g") === "b").select(col("sk").as("sb")))
      .select(
        KmvSketch.distinctEstimate(col("sa"), k).as("da"),
        KmvSketch.distinctEstimate(col("sb"), k).as("db"),
        KmvSketch.unionEstimate(col("sa"), col("sb"), k).as("u"),
        KmvSketch.intersectEstimate(col("sa"), col("sb"), k).as("i"))
      .head()
    assert(row.getLong(0) === 300L)
    assert(row.getLong(1) === 300L)
    assert(row.getLong(2) === 500L)
    assert(row.getLong(3) === 100L)
  }

  test("kmv saturated regime: estimates within 5 sigma of truth") {
    // 50k distinct against k=1024: relative sigma ~ 1/sqrt(k-2) ~ 3.1%
    val d = spark.range(0, 50000, 1, 16)
    val est = d.agg(SketchAgg.kmvSketch(xxhash64(col("id")), k).as("sk"))
      .select(KmvSketch.distinctEstimate(col("sk"), k).as("e"))
      .head().getLong(0)
    val sigma = 50000.0 / math.sqrt(k - 2.0)
    assert(math.abs(est - 50000.0) <= 5 * sigma,
      s"kmv estimate $est vs 50000 (sigma $sigma)")
  }

  test("kmv sketch is duplicate-insensitive and keeps signed-ascending order") {
    val d = spark.range(0, 100, 1, 8)
      .select(explode(expr("sequence(1, 5)")).as("rep"), col("id"))
    val arr = d.agg(SketchAgg.kmvSketch(xxhash64(col("id")), k).as("sk"))
      .head().getSeq[Long](0)
    assert(arr.length === 100)
    assert(arr === arr.sorted)
  }

  test("kmv: hashes adjacent to Long.MaxValue stay inside their own sketch") {
    // the double map h/2^64 + 0.5 rounds hashes within ~2^10 of
    // Long.MaxValue up to exactly 1.0 — a norm-space cut then excludes
    // the value from its own sketch even in the exact (unsaturated)
    // regime; the cut must compare in signed-long space (ADVICE r10)
    val sk = array(lit(Long.MinValue + 5L), lit(7L), lit(Long.MaxValue - 100L))
    val kk = 8 // size 3 < k: exact regime, every value must count
    val row = spark.range(1)
      .select(
        KmvSketch.distinctEstimate(sk, kk).as("d"),
        KmvSketch.unionEstimate(sk, array(lit(7L)), kk).as("u"),
        KmvSketch.intersectEstimate(sk, sk, kk).as("i"))
      .head()
    assert(row.getLong(0) === 3L)
    assert(row.getLong(1) === 3L)
    assert(row.getLong(2) === 3L)
    // saturated with the same pathological cut value: theta clamps to
    // nextDown(1.0) instead of collapsing, estimate stays finite/sane
    val sat = spark.range(1)
      .select(KmvSketch.distinctEstimate(sk, 3).as("d")).head().getLong(0)
    assert(sat === 2L) // k-1 below the k-th value, theta ~ 1.0
  }

  test("kmv saturated union/intersect stay near truth") {
    // cohorts of 20k with 10k shared; k=1024 saturates both
    val a = spark.range(0, 20000, 1, 8).select(lit("a").as("g"), col("id"))
    val b = spark.range(10000, 30000, 1, 8).select(lit("b").as("g"), col("id"))
    val sk = a.union(b).groupBy("g")
      .agg(SketchAgg.kmvSketch(xxhash64(col("id")), k).as("sk"))
    val row = sk.filter(col("g") === "a").select(col("sk").as("sa"))
      .crossJoin(sk.filter(col("g") === "b").select(col("sk").as("sb")))
      .select(
        KmvSketch.unionEstimate(col("sa"), col("sb"), k).as("u"),
        KmvSketch.intersectEstimate(col("sa"), col("sb"), k).as("i"))
      .head()
    val sigmaU = 30000.0 / math.sqrt(k - 2.0)
    assert(math.abs(row.getLong(0) - 30000.0) <= 5 * sigmaU)
    // intersection error scales with the UNION's theta
    val sigmaI = 30000.0 / math.sqrt(k - 2.0)
    assert(math.abs(row.getLong(1) - 10000.0) <= 5 * sigmaI)
  }
}

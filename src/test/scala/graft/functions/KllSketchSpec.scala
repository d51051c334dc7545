package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** KLL quantile sketch: exact-regime nearest-rank equality against a
  * sorted-truth fold, saturated-regime rank-error bounds across
  * partitioned merges, duplicate/tie handling, and SQL registration.
  */
class KllSketchSpec extends SparkTestBase {

  private val qs = Seq(0.0, 0.1, 0.5, 0.9, 0.99, 1.0)

  private def truthNearestRank(sorted: Seq[Double], q: Double): Double = {
    val n = sorted.length
    val target = math.max(1L, math.ceil(q * n).toLong).toInt
    sorted(target - 1)
  }

  test("exact regime: quantiles equal the nearest-rank truth (n <= k)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(3000)(rnd.nextInt(500).toDouble) // heavy ties
    val got = vals.toDF("v").repartition(8)
      .agg(SketchAgg.result(col("v"), "kll4096", qs).as("q"))
      .head().getSeq[Double](0)
    val sorted = vals.sorted
    val want = qs.map(q => truthNearestRank(sorted, q))
    assert(got === want)
  }

  test("saturated regime: rank error bounded by 5n/k across merges") {
    import spark.implicits._
    val k = 256
    val n = 60000
    val rnd = new scala.util.Random(20260815L)
    val vals = Seq.fill(n)(rnd.nextDouble() * 1e6)
    val got = vals.toDF("v").repartition(16) // force cross-partition merge
      .agg(SketchAgg.result(col("v"), s"kll$k", qs).as("q"))
      .head().getSeq[Double](0)
    val sorted = vals.sorted.toIndexedSeq
    qs.zip(got).foreach { case (q, est) =>
      val target = math.max(1L, math.ceil(q * n).toLong)
      // true rank of the estimate (count of values <= est)
      val trueRank = sorted.count(_ <= est).toLong
      assert(math.abs(trueRank - target) <= 5L * n / k,
        s"q=$q est=$est trueRank=$trueRank target=$target")
    }
  }

  test("empty and single-value groups") {
    import spark.implicits._
    val one = Seq(7.5).toDF("v")
      .agg(SketchAgg.result(col("v"), "kll64", Seq(0.0, 0.5, 1.0)))
      .head().getSeq[Double](0)
    assert(one === Seq(7.5, 7.5, 7.5))
    // nulls are skipped; an all-null group yields null elements
    val nulls = Seq[Option[Double]](None, None).toDF("v")
      .agg(SketchAgg.result(col("v"), "kll64", Seq(0.5)))
      .head().getSeq[java.lang.Double](0)
    assert(nulls === Seq(null))
  }

  test("SQL registration: kll_quantiles(col, k, fractions...)") {
    import spark.implicits._
    (1 to 100).map(_.toDouble).toDF("v").createOrReplaceTempView("kll_v")
    val r = spark.sql(
      "SELECT kll_quantiles(v, 512, 0.5, 0.9) AS q FROM kll_v")
      .head().getSeq[Double](0)
    assert(r === Seq(50.0, 90.0))
  }

  test("grouped sketch matches the per-group truth in exact regime") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map(i => (s"g${i % 7}", rnd.nextInt(1000).toDouble))
    val got = rows.toDF("g", "v").repartition(8)
      .groupBy("g")
      .agg(SketchAgg.result(col("v"), "kll2048", Seq(0.5, 0.9)).as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      assert(got(g) === Seq(0.5, 0.9).map(q => truthNearestRank(sorted, q)),
        s"group $g diverged")
    }
  }
}

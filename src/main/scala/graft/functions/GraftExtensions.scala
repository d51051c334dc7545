package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's native expressions with the SQL function registry so
  * plain SQL can call them:
  *
  * {{{
  * val spark = graft.GraftSession.builder().getOrCreate()
  * spark.sql("SELECT dot_q(a, b) FROM vectors")
  * }}}
  *
  * [[graft.GraftSession]] installs it; any other session needs
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // json-index pushdown: routes get_json_object equality predicates
    // over Pinot relations into the scan as an advisory option (the
    // Filter stays; see graft.plans.JsonIndexRule). Operator-optimization
    // rules run before V2 scan pushdown builds the scan.
    ext.injectOptimizerRule(_ => graft.plans.JsonIndexRule)
    // upsert tables: a plain read (load / catalog SQL) returns the
    // upsert VIEW; raw segment reads need .option("upsertView", "raw")
    ext.injectResolutionRule(_ => graft.plans.UpsertViewRule)
    // a Pinot scan planned as one task reports SinglePartition, so no
    // exchange is added above it
    ext.injectPlannerStrategy(graft.plans.SinglePartitionScanStrategy(_))
    ext.injectFunction((
      FunctionIdentifier("latest_by"),
      new ExpressionInfo(classOf[LatestByAgg].getName, "latest_by"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "latest_by(value, cmp) takes exactly 2 arguments")
        LatestByAgg(args.head, args(1), pickMax = true)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("earliest_by"),
      new ExpressionInfo(classOf[LatestByAgg].getName, "earliest_by"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "earliest_by(value, cmp) takes exactly 2 arguments")
        LatestByAgg(args.head, args(1), pickMax = false)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_q"),
      new ExpressionInfo(classOf[LongDotProduct].getName, "dot_q"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_q(a, b) takes exactly 2 arguments")
        LongDotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("array_min_agg"),
      new ExpressionInfo(classOf[ArrayLongReduceAgg].getName, "array_min_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "array_min_agg(v) takes exactly 1 argument")
        ArrayLongReduceAgg(args.head, ArrayLongReduceAgg.MinOp)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("tokenize"),
      new ExpressionInfo(classOf[Tokenize].getName, "tokenize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "tokenize(text) takes exactly 1 argument")
        Tokenize(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DoubleDotProduct].getName, "dot_d"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_d(a, b) takes exactly 2 arguments")
        DoubleDotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[ShingleGen].getName, "shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingles(text) takes exactly 1 argument")
        ShingleGen(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("array_sum_agg"),
      new ExpressionInfo(classOf[ArrayLongReduceAgg].getName, "array_sum_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "array_sum_agg(v) takes exactly 1 argument")
        ArrayLongReduceAgg(args.head, ArrayLongReduceAgg.SumOp)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "freq_items"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "freq_items(col, capacity) takes exactly 2 arguments")
        FreqItemsAgg(args.head, foldableInt(args(1), "freq_items capacity"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinctAgg].getName, "bitmap_distinct"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "bitmap_distinct(col) takes exactly 1 argument")
        BitmapDistinctAgg(args.head).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_merge_distinct"),
      new ExpressionInfo(classOf[BitmapMergeAgg].getName, "bitmap_merge_distinct"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "bitmap_merge_distinct(sketch_bytes) takes exactly 1 argument")
        BitmapMergeAgg(args.head).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_quantiles"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_quantiles"),
      (args: Seq[Expression]) => {
        require(args.length >= 3,
          "kll_quantiles(col, k, q1[, q2, ...]) takes a column, k, and " +
            "at least one fraction")
        KllSketchAgg(args.head, foldableInt(args(1), "kll_quantiles k"),
          args.drop(2).map(foldableDouble(_, "kll_quantiles fraction")))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_merge_quantiles"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_quantiles"),
      (args: Seq[Expression]) => {
        require(args.length >= 3,
          "kll_merge_quantiles(sketch_bytes, k, q1[, ...]) takes a binary " +
            "column, k, and at least one fraction")
        KllMergeAgg(args.head, foldableInt(args(1), "kll_merge_quantiles k"),
          args.drop(2).map(foldableDouble(_, "kll_merge_quantiles fraction")))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_merge_estimate"),
      new ExpressionInfo(classOf[KmvMergeAgg].getName, "kmv_merge_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "kmv_merge_estimate(sketch_bytes, k) takes exactly 2 arguments")
        KmvMergeAgg(args.head, foldableInt(args(1), "kmv_merge_estimate k"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "kmv_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "kmv_sketch(hashed_col, k) takes exactly 2 arguments")
        KmvSketchAgg(args.head, foldableInt(args(1), "kmv_sketch k"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_distinct"),
      new ExpressionInfo(classOf[HllDistinctAgg].getName, "hll_distinct"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "hll_distinct(hashed_col, p) takes exactly 2 arguments")
        HllDistinctAgg(args.head, foldableInt(args(1), "hll_distinct p"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_merge_estimate"),
      new ExpressionInfo(classOf[HllMergeAgg].getName, "hll_merge_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "hll_merge_estimate(sketch_bytes, p) takes exactly 2 arguments")
        HllMergeAgg(args.head, foldableInt(args(1), "hll_merge_estimate p"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("sketch_build"),
      new ExpressionInfo(classOf[SketchBuildAgg].getName, "sketch_build"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "sketch_build(col, 'bitmap'|'kmv<k>'|'kll<k>'|'hll<p>'|'freq<c>') " +
            "takes exactly 2 arguments")
        SketchBuildAgg(args.head, foldableString(args(1), "sketch_build spec"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_merge_items"),
      new ExpressionInfo(classOf[FreqMergeAgg].getName, "freq_merge_items"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "freq_merge_items(sketch_bytes, capacity) takes exactly 2 arguments")
        FreqMergeAgg(args.head, foldableInt(args(1), "freq_merge_items capacity"))
          .toAggregateExpression()
      }))
  }

  private def foldableString(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }
  }

  /** Evaluates a foldable int argument (capacity/k) at registration. */
  private def foldableDouble(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
  }

  private def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }
}

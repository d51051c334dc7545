package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.pinot.SketchSection

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
    SketchAgg.Functions.foreach { case (name, (usage, kind, payloadsIn, out)) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[SketchAgg].getName, name),
        (args: Seq[Expression]) => {
          val arity = kind match {
            case "bitmap" => args.length == 1
            case "kll" => args.length >= 3
            case _ => args.length == 2
          }
          require(arity, s"$usage: wrong number of arguments")
          val spec = kind match {
            case "" => foldableString(args(1), s"$name spec")
            case "bitmap" => kind
            case _ => kind + foldableInt(args(1), s"$name $kind parameter")
          }
          val qs = if (kind == "kll")
            args.drop(2).map(foldableDouble(_, s"$name fraction")) else Nil
          SketchAgg(args.head, SketchSection.parseSpec(spec), payloadsIn, out,
            qs).toAggregateExpression()
        }))
    }
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

  /** Evaluates a foldable numeric argument (a fraction) at registration. */
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

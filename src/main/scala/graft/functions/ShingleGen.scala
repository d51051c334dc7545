package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingles(text)` — one row per DISTINCT word-3-gram of the document.
  *
  * Semantics match the declarative original exactly (`split(text, ' ')`
  * keeping empty tokens, docs with <3 words emit nothing, first-occurrence
  * distinct), but as a single [[Generator]] pass over the document's
  * bytes ([[DocSketch.shingles]]): no words array column, no interpreted
  * `transform`/`slice`/`concat_ws` lambda chain, no decode of the
  * document, and each shingle wraps the document's bytes instead of
  * copying them. ShingleGenSpec pins the equality against the
  * declarative expression chain.
  */
case class ShingleGen(child: Expression, distinct: Boolean = true)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("shingle", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles requires string input, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    // distinct = false keeps every occurrence in document order: the q82
    // repetition signal MEASURES duplicate shingles
    val sh = DocSketch.shingles(v.asInstanceOf[UTF8String].getBytes, distinct)
    val rows = new Array[InternalRow](sh.length)
    var j = 0
    while (j < sh.length) { rows(j) = new GenericInternalRow(Array[Any](sh(j))); j += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleGen =
    copy(child = newChild)

  override def prettyName: String = if (distinct) "shingles" else "shingles_all"
}

object ShingleGen {
  def shingles(c: Column): Column =
    GraftSqlBridge.toColumn(ShingleGen(GraftSqlBridge.toExpression(c)))

  /** One row per shingle OCCURRENCE (duplicates kept, document order). */
  def shinglesAll(c: Column): Column =
    GraftSqlBridge.toColumn(
      ShingleGen(GraftSqlBridge.toExpression(c), distinct = false))
}

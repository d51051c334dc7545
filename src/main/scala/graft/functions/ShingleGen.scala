package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingles(text)` — one row per DISTINCT word-3-gram of the document.
  *
  * Semantics match the declarative original exactly (`split(text, ' ')`
  * keeping empty tokens, docs with <3 words emit nothing, first-occurrence
  * distinct), but as a single [[Generator]] pass: no words array column,
  * no interpreted `transform`/`slice`/`concat_ws` lambda chain, no
  * intermediate shingle array to `array_distinct` — the dominant
  * allocation cost of the dedup pipeline's scan stage (the same
  * interpreted-HOF trap the q46 dot product hit; see LongDotProduct).
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
    // ZERO-DECODE shingling (r17): the separator is the single ASCII
    // space, which in UTF-8 can only ever be the byte 0x20 (every byte
    // of a multi-byte sequence has its high bit set) — so token
    // boundaries are byte positions, and because consecutive tokens are
    // separated by exactly one space, the 3-gram
    // `words(i)+" "+words(i+1)+" "+words(i+2)` IS the contiguous byte
    // range [start(i), end(i+2)) of the original string. Each shingle is
    // then an offset/length WRAPPER over one shared byte array
    // (UTF8String.fromBytes copies nothing): no java.lang.String decode
    // of the document, no per-word substring copies, no 3-way concat +
    // re-encode per shingle — the dominant allocation cost of the dedup
    // pipeline's scan stage. Semantics are byte-identical to the old
    // `toString.split(" ", -1)` path (empty tokens kept, <3 words emit
    // nothing, first-occurrence distinct): ShingleGenSpec pins the
    // equality against the declarative expression chain.
    // Aliasing precondition: the wrappers may outlive this row only
    // because `u.getBytes` returns a PRIVATE copy unless `u` spans a
    // whole on-heap byte[] (offset at the array base, length equal to
    // the array's) — then it returns that backing array itself. A
    // string read out of an UnsafeRow is a slice of the row buffer and
    // so is always copied; an input path that hands over a whole-array
    // string and later REUSES the array would corrupt emitted
    // shingles, so such a path must copy the bytes first.
    val u = v.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val nb = bytes.length
    var spaces = 0
    var i = 0
    while (i < nb) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val nWords = spaces + 1
    if (nWords < 3) return Nil
    // starts(w) = byte offset of token w; token w ends where the next
    // separator sits (or the string ends)
    val starts = new Array[Int](nWords)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < nb) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    val nSh = nWords - 2
    def shingleAt(k: Int): UTF8String = {
      val st = starts(k)
      // end of token k+2: one byte before token k+3's start, or nb
      val en = if (k + 3 < nWords) starts(k + 3) - 1 else nb
      UTF8String.fromBytes(bytes, st, en - st)
    }
    if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](nSh * 2)
      var k = 0
      while (k < nSh) { seen.add(shingleAt(k)); k += 1 }
      val out = new Array[InternalRow](seen.size())
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = InternalRow(it.next()); j += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    } else {
      // every occurrence, document order — the q82 repetition signal
      // needs duplicate shingles (it MEASURES them)
      val out = new Array[InternalRow](nSh)
      var k = 0
      while (k < nSh) { out(k) = InternalRow(shingleAt(k)); k += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
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

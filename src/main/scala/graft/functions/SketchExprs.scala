package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The per-document sketch kernel of the near-dup family: one pass over
  * a document's UTF-8 bytes yields its word 3-grams ([[ShingleGen]],
  * `shingle_set`), its 64-permutation MinHash signature (`minhash_sig`,
  * q49/q172/q175) or its 64-bit SimHash (`simhash`, q50). Each replaces
  * a per-shingle or per-token row fan-out and its regrouping aggregate
  * with one call per document whose inner loop is plain JVM code.
  *
  * Tokens follow `split(text, ' ')`: the separator is the single ASCII
  * space, which in UTF-8 can only be the byte 0x20 (every byte of a
  * multi-byte sequence has its high bit set), so token boundaries are
  * byte positions; empty tokens are kept. Consecutive tokens are
  * separated by exactly one space, so the 3-gram
  * `words(i)+" "+words(i+1)+" "+words(i+2)` IS the byte range
  * [start(i), end(i+2)) of the document. A document under 3 words has no
  * shingles.
  *
  * Both hash families are ENGINE-NEUTRAL, which is what lets the DuckDB
  * oracles recompute q49/q50/q172/q175 from `md5`:
  * - MinHash: one md5 per shingle gives x = (a + b) mod p (a/b = the
  *   first/second 13 hex chars, p = 2^31−1), then perm i is the
  *   Carter–Wegman affine hash
  *   {{{ h_i(x) = (A_i · x + B_i) mod p
  *       A_i = 1 + ((i + 1) · 1013904223) mod (p − 1)
  *       B_i = (i · 2654435761) mod p }}}
  *   Every intermediate stays under 2^63 (A_i, x < 2^31 ⇒ product
  *   < 2^62), so DuckDB's overflow-checked BIGINT computes the same
  *   values. The mod-p wraparound makes the 64 permutations effectively
  *   independent; an earlier family linear in i had correlated band
  *   minima and a 68× LSH candidate blowup.
  * - SimHash: a token's hash is the first 16 hex chars of its md5 as an
  *   unsigned long (DuckDB: two 32-bit halves); bit j of the SimHash is
  *   set iff more token occurrences have bit j set than clear.
  */
object DocSketch {

  val NumPerms = 64

  /** Mersenne prime 2^31 − 1 — the Carter–Wegman modulus. */
  private val P = 2147483647L
  private val PermA = Array.tabulate(NumPerms)(i => 1L + ((i + 1L) * 1013904223L) % (P - 1L))
  private val PermB = Array.tabulate(NumPerms)(i => (i * 2654435761L) % P)

  /** The first 16 md5 bytes of a token or shingle as two big-endian longs. */
  private final class Md5(val hi: Long, val lo: Long) {
    /** (first 13 hex chars + next 13 hex chars) mod p. */
    def x: Long = ((hi >>> 12) + (((hi & 0xfffL) << 40) | (lo >>> 24))) % P
  }

  /** MessageDigest is stateful and not thread-safe, and allocating one
    * per call costs more than the hash on short strings: one per task
    * thread, reset per call.
    */
  private val digests = ThreadLocal.withInitial(() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Per-thread LRU memo bytes → md5. Token and shingle VALUES repeat
    * heavily (natural text is Zipfian), so this turns md5 work per
    * occurrence into work per distinct value. Bounded regardless of the
    * vocabulary; a miss pays the md5 it would have paid anyway. Lookups
    * wrap the document's bytes; only a miss copies its key.
    */
  private val memos = ThreadLocal.withInitial(() =>
    new java.util.LinkedHashMap[UTF8String, Md5](1024, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[UTF8String, Md5]): Boolean =
        size() > 65536
    })

  private def md5(b: Array[Byte], from: Int, until: Int): Md5 = {
    val memo = memos.get()
    val key = UTF8String.fromBytes(b, from, until - from)
    var m = memo.get(key)
    if (m == null) {
      val md = digests.get()
      md.reset()
      md.update(b, from, until - from)
      val d = md.digest()
      var hi = 0L
      var lo = 0L
      var i = 0
      while (i < 8) { hi = (hi << 8) | (d(i) & 0xffL); lo = (lo << 8) | (d(i + 8) & 0xffL); i += 1 }
      m = new Md5(hi, lo)
      memo.put(key.copy(), m)
    }
    m
  }

  /** Byte offset of each token of `b` (one more token than spaces); token
    * `w` ends at [[tokenEnd]].
    */
  private def tokenStarts(b: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 1)
    var w = 1
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts
  }

  private def tokenEnd(starts: Array[Int], w: Int, nb: Int): Int =
    if (w + 1 < starts.length) starts(w + 1) - 1 else nb

  /** The 3-grams of `b`: every occurrence in document order, or the
    * distinct ones in first-occurrence order. Each is an offset/length
    * wrapper over `b` (no copy), so `b` must not be reused while they
    * live: a string read out of an UnsafeRow or a column vector is a
    * slice, and `UTF8String.getBytes` returns a private copy of it.
    */
  def shingles(b: Array[Byte], distinct: Boolean): Array[UTF8String] = {
    val starts = tokenStarts(b)
    val n = starts.length - 2
    if (n <= 0) return NoShingles
    def at(k: Int) =
      UTF8String.fromBytes(b, starts(k), tokenEnd(starts, k + 2, b.length) - starts(k))
    var k = 0
    if (!distinct) {
      val all = new Array[UTF8String](n)
      while (k < n) { all(k) = at(k); k += 1 }
      all
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
      while (k < n) { seen.add(at(k)); k += 1 }
      seen.toArray(new Array[UTF8String](seen.size()))
    }
  }

  private val NoShingles = new Array[UTF8String](0)

  /** The 64 permutation minima over the shingles of `b`; null under 3 words. */
  def minhash(b: Array[Byte]): Array[Long] = {
    val starts = tokenStarts(b)
    if (starts.length < 3) return null
    val sig = Array.fill(NumPerms)(Long.MaxValue)
    var k = 0
    while (k + 2 < starts.length) {
      val x = md5(b, starts(k), tokenEnd(starts, k + 2, b.length)).x
      var p = 0
      while (p < NumPerms) {
        // (A·x + B) mod p by Mersenne folding (2^31 ≡ 1): v < 2^63, one
        // fold leaves < 2^33, a second < p + 4, one subtraction ends it
        val v = PermA(p) * x + PermB(p)
        val f = (v & P) + (v >>> 31)
        val g = (f & P) + (f >>> 31)
        val h = if (g >= P) g - P else g
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      k += 1
    }
    sig
  }

  /** The SimHash of the tokens of `b`. */
  def simhash(b: Array[Byte]): Long = {
    val starts = tokenStarts(b)
    val tally = new Array[Int](64)
    var w = 0
    while (w < starts.length) {
      val h = md5(b, starts(w), tokenEnd(starts, w, b.length)).hi
      var j = 0
      while (j < 64) { tally(j) += (((h >>> j) & 1L).toInt << 1) - 1; j += 1 }
      w += 1
    }
    var bits = 0L
    var j = 0
    while (j < 64) { if (tally(j) > 0) bits |= 1L << j; j += 1 }
    bits
  }
}

/** A [[DocSketch]] value of a string column. */
sealed abstract class DocSketchExpr extends UnaryExpression with CodegenFallback {
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.simpleString}")
  }

  protected def sketch(b: Array[Byte]): Any

  override def nullSafeEval(input: Any): Any =
    sketch(input.asInstanceOf[UTF8String].getBytes)
}

/** `minhash_sig(text)`: the 64 MinHash minima; NULL for NULL text or
  * under 3 words.
  */
case class MinHashSig(child: Expression) extends DocSketchExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def sketch(b: Array[Byte]): Any = {
    val sig = DocSketch.minhash(b)
    if (sig == null) null else UnsafeArrayData.fromPrimitiveArray(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** `shingle_set(text)`: the distinct 3-grams, first-occurrence order.
  * NULL text has none, like `shingles`: never NULL, so no null check on
  * its size is inferred that would evaluate it twice.
  */
case class ShingleSet(child: Expression) extends DocSketchExpr {
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    sketch(if (v == null) Array.emptyByteArray else v.asInstanceOf[UTF8String].getBytes)
  }
  override protected def sketch(b: Array[Byte]): Any =
    new GenericArrayData(DocSketch.shingles(b, distinct = true).asInstanceOf[Array[Any]])
  override protected def withNewChildInternal(c: Expression): ShingleSet = copy(child = c)
  override def prettyName: String = "shingle_set"
}

/** `simhash(text)`: the 64-bit SimHash of the tokens; NULL for NULL text. */
case class SimHash(child: Expression) extends DocSketchExpr {
  override def dataType: DataType = LongType
  override protected def sketch(b: Array[Byte]): Any = DocSketch.simhash(b)
  override protected def withNewChildInternal(c: Expression): SimHash = copy(child = c)
  override def prettyName: String = "simhash"
}

object SketchExprs {
  private def wrap(f: Expression => Expression)(c: Column): Column =
    GraftSqlBridge.toColumn(f(GraftSqlBridge.toExpression(c)))
  def minhashSig(c: Column): Column = wrap(MinHashSig)(c)
  def shingleSet(c: Column): Column = wrap(ShingleSet)(c)
  def simhash(c: Column): Column = wrap(SimHash)(c)
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the sketch-dedup hot loops. Each replaces an
  * interpreted `transform`/`aggregate` lambda chain that ran per ROW with
  * one expression call whose inner loop is plain JVM code — the same
  * interpreted-HOF fix that took the q46 dot product from 49 s to 3 s
  * (see [[LongDotProduct]]).
  */

/** `md5_minhash_perms(s)` — the ENGINE-NEUTRAL permutation family:
  * one md5 per shingle gives x = (a + b) mod p (a/b = the first/second
  * 13 hex chars, p = 2^31−1), then perm i is the classic Carter–Wegman
  * affine hash
  * {{{ h_i(x) = (A_i · x + B_i) mod p
  *     A_i = 1 + ((i + 1) · 1013904223) mod (p − 1)
  *     B_i = (i · 2654435761) mod p }}}
  * Every intermediate stays under 2^63 (A_i, x < 2^31 ⇒ product
  * < 2^62), so DuckDB's overflow-checked BIGINT computes the identical
  * values — that is what lets the FULL MinHash+LSH pipeline be
  * hash-oracled. The mod-p wraparound makes the 64 permutations
  * effectively independent; the r4 family (a·(2i+3)+b, no mod) was
  * LINEAR in i, its band minima were correlated across permutations,
  * and LSH candidates exploded 68× with false positives (17,432 vs 256
  * at sf0.1) — the verify join, not md5, was q49's real cost.
  */
case class Md5MinHashPerms(child: Expression, numPerms: Int = 64)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_minhash_perms requires string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // md5 dominates this expression and shingle VALUES repeat heavily
    // (natural text is Zipfian; each distinct shingle hashes to the same
    // (a, b)) — a bounded per-thread memo turns ~N-occurrence md5 work
    // into ~N-distinct. The 64-perm fill from (a, b) is ~50 ns and runs
    // per row either way.
    val memo = Md5MinHashPerms.memos.get()
    val key = s.toString
    var xv = memo.get(key)
    if (xv == null) {
      val md = Md5MinHashPerms.digests.get()
      md.reset()
      val d = md.digest(s.getBytes)
      // first/second 13 hex chars = top 52 / next 52 bits of the digest
      var a = 0L
      var i = 0
      while (i < 13) { a = (a << 4) | hexNibble(d, i); i += 1 }
      var b = 0L
      while (i < 26) { b = (b << 4) | hexNibble(d, i); i += 1 }
      xv = java.lang.Long.valueOf((a + b) % Md5MinHashPerms.P)
      memo.put(key, xv)
    }
    val x = xv.longValue()
    val out = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      val ai = 1L + ((p + 1L) * 1013904223L) % (Md5MinHashPerms.P - 1L)
      val bi = (p * 2654435761L) % Md5MinHashPerms.P
      out(p) = (ai * x + bi) % Md5MinHashPerms.P
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Hex-char k of the digest as its nibble value. */
  private def hexNibble(d: Array[Byte], k: Int): Long = {
    val byte = d(k >> 1) & 0xff
    (if ((k & 1) == 0) byte >> 4 else byte & 0xf).toLong
  }

  override protected def withNewChildInternal(newChild: Expression): Md5MinHashPerms =
    copy(child = newChild)
  override def prettyName: String = "md5_minhash_perms"
}

object Md5MinHashPerms {
  /** Mersenne prime 2^31 − 1 — the Carter–Wegman modulus. */
  val P: Long = 2147483647L

  /** MessageDigest is stateful and not thread-safe; per-instance
    * allocation in eval costs more than the hash itself on short
    * shingles. One digest per task thread, reset per call.
    */
  private[functions] val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Per-thread LRU memo shingle → x. 32k entries — bounded regardless
    * of corpus vocabulary; a miss just pays the md5 it would have paid
    * anyway.
    */
  private[functions] val memos
      : ThreadLocal[java.util.LinkedHashMap[String, java.lang.Long]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, java.lang.Long](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size() > 32768
      })
}

/** `md5_hash64(s)` — the ENGINE-NEUTRAL 64-bit token hash: the first 16
  * hex chars of md5 as an (unsigned-parsed) long. DuckDB reproduces it
  * as two 32-bit halves (`CAST(concat('0x', substr(md5(s),1,8)) AS
  * BIGINT)` = bits 63..32, next 8 chars = bits 31..0), which is what
  * lets the SimHash pipeline be hash-oracled.
  */
case class Md5Hash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_hash64 requires string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // token VALUES repeat heavily (natural text is Zipfian) and this
    // runs once per word OCCURRENCE — the same bounded per-thread memo
    // as Md5MinHashPerms turns ~N-occurrence md5 work into ~N-distinct
    val memo = Md5Hash64.memos.get()
    val key = s.toString
    var hv = memo.get(key)
    if (hv == null) {
      val md = Md5MinHashPerms.digests.get()
      md.reset()
      val d = md.digest(s.getBytes)
      // first 8 digest bytes, big-endian = first 16 hex chars
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      hv = java.lang.Long.valueOf(h)
      memo.put(key, hv)
    }
    hv
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Hash64 =
    copy(child = newChild)
  override def prettyName: String = "md5_hash64"
}

object Md5Hash64 {
  /** Per-thread LRU memo token → hash, same bound/rationale as
    * [[Md5MinHashPerms.memos]].
    */
  private[functions] val memos
      : ThreadLocal[java.util.LinkedHashMap[String, java.lang.Long]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, java.lang.Long](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size() > 32768
      })
}

/** `simhash_contrib(h, c)` — the weighted ±c 64-bit contribution vector of
  * one (token-hash, count) row: element j = c · (2·((h≫j)&1) − 1).
  */
case class SimHashContrib(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_contrib requires (bigint, bigint), got $other")
    }

  override def nullSafeEval(h0: Any, c0: Any): Any = {
    val h = h0.asInstanceOf[Long]
    val c = c0.asInstanceOf[Long]
    val out = new Array[Long](64)
    var j = 0
    while (j < 64) { out(j) = c * (2L * ((h >>> j) & 1L) - 1L); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SimHashContrib = copy(left = newLeft, right = newRight)
  override def prettyName: String = "simhash_contrib"
}

/** `sign_bits(tally)` — fold a 64-element tally into the SimHash long:
  * bit j set iff tally(j) > 0.
  */
case class SignBitsToLong(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_bits requires array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), 64)
    var acc = 0L
    var j = 0
    while (j < n) { if (a.getLong(j) > 0) acc |= (1L << j); j += 1 }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): SignBitsToLong =
    copy(child = newChild)
  override def prettyName: String = "sign_bits"
}

object SketchExprs {
  def md5MinhashPerms(c: Column, n: Int = 64): Column =
    GraftSqlBridge.toColumn(Md5MinHashPerms(GraftSqlBridge.toExpression(c), n))
  def md5Hash64(c: Column): Column =
    GraftSqlBridge.toColumn(Md5Hash64(GraftSqlBridge.toExpression(c)))
  def simhashContrib(h: Column, c: Column): Column =
    GraftSqlBridge.toColumn(SimHashContrib(
      GraftSqlBridge.toExpression(h), GraftSqlBridge.toExpression(c)))
  def signBits(tally: Column): Column =
    GraftSqlBridge.toColumn(SignBitsToLong(GraftSqlBridge.toExpression(tally)))
}

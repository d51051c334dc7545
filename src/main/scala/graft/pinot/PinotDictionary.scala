package graft.pinot

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** A decoded per-column dictionary: `dictId → value`.
  *
  * On-disk layout (reference: pinot-segment/src/forward_index/dictionary.rs):
  * 8-byte big-endian magic `0xDEADBEEFDEAFBEAD`, then `cardinality` entries,
  * all **big-endian**: i32/i64/f32/f64; strings either fixed-length
  * (`lengthOfEachEntry`, NUL-padded) or 4-byte-BE-length-prefixed.
  */
sealed trait PinotDictionary {
  def size: Int
  /** Entry `id`, boxed. */
  def value(id: Int): Any
}
object PinotDictionary {
  final case class Ints(values: Array[Int]) extends PinotDictionary {
    def size: Int = values.length; def value(id: Int): Any = values(id) }
  final case class Longs(values: Array[Long]) extends PinotDictionary {
    def size: Int = values.length; def value(id: Int): Any = values(id) }
  final case class Floats(values: Array[Float]) extends PinotDictionary {
    def size: Int = values.length; def value(id: Int): Any = values(id) }
  final case class Doubles(values: Array[Double]) extends PinotDictionary {
    def size: Int = values.length; def value(id: Int): Any = values(id) }
  final case class Strings(values: Array[String]) extends PinotDictionary {
    def size: Int = values.length; def value(id: Int): Any = values(id) }
  final case class Bytes(values: Array[Array[Byte]]) extends PinotDictionary {
    def size: Int = values.length; def value(id: Int): Any = values(id) }

  val MagicMarker: Long = 0xDEADBEEFDEAFBEADL

  /** Decode a dictionary from the raw bytes of its index section. */
  def read(bytes: Array[Byte], dataType: PinotType, cardinality: Int,
      lengthOfEachEntry: Int): PinotDictionary = {
    val buf = ByteBuffer.wrap(bytes) // big-endian by default
    val magic = buf.getLong
    if (magic != MagicMarker)
      throw new PinotFormatException(
        f"Invalid magic marker: expected 0x$MagicMarker%X, got 0x$magic%X")

    dataType match {
      case PinotType.PInt =>
        Ints(Array.fill(cardinality)(buf.getInt))
      case PinotType.PLong =>
        Longs(Array.fill(cardinality)(buf.getLong))
      case PinotType.PFloat =>
        Floats(Array.fill(cardinality)(buf.getFloat))
      case PinotType.PDouble =>
        Doubles(Array.fill(cardinality)(buf.getDouble))
      case PinotType.PString | PinotType.PJson if lengthOfEachEntry > 0 =>
        // Fixed-length entries, NUL-padded (dictionary.rs:90-104).
        Strings(Array.fill(cardinality) {
          val raw = new Array[Byte](lengthOfEachEntry)
          buf.get(raw)
          val end = raw.indexOf(0.toByte) match { case -1 => raw.length; case i => i }
          new String(raw, 0, end, StandardCharsets.UTF_8)
        })
      case PinotType.PString | PinotType.PJson =>
        // Var-length entries with 4-byte BE length prefix (dictionary.rs:106-121).
        // JSON shares STRING's dictionary layout (Apache Pinot stores
        // JSON as string payloads).
        Strings(Array.fill(cardinality) {
          val len = buf.getInt
          val raw = new Array[Byte](len)
          buf.get(raw)
          new String(raw, StandardCharsets.UTF_8)
        })
      case PinotType.PBytes =>
        // Var-length entries, 4-byte BE length prefix — same frame as
        // var-length strings but without the UTF-8 decode (payload may
        // contain NULs, so fixed-length NUL-trimming is inapplicable).
        // EXTENSION: the reference rejects BYTES (dictionary.rs:125-134).
        Bytes(Array.fill(cardinality) {
          val len = buf.getInt
          val raw = new Array[Byte](len)
          buf.get(raw)
          raw
        })
      case PinotType.PBoolean =>
        // Stored as INT 0/1 (how Apache Pinot models BOOLEAN internally).
        Ints(Array.fill(cardinality)(buf.getInt))
      case PinotType.PTimestamp =>
        // Epoch millis as LONG (Apache Pinot's TIMESTAMP storage type).
        Longs(Array.fill(cardinality)(buf.getLong))
      case PinotType.PBigDecimal =>
        throw new PinotFormatException(
          "BIG_DECIMAL columns are RAW var-byte encoded (no dictionary)")
    }
  }
}

package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Counter-based random numbers: every generated value is a pure function
  * of (seed, stream, index), so expected answers and the rows Spark
  * generates come from the same numbers without shipping arrays.
  */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, stream: Int, i: Long): Long = mix(mix(seed * 1000003L + stream) + i)
  def below(seed: Long, stream: Int, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(seed, stream, i), n.toLong).toInt
  def unit(seed: Long, stream: Int, i: Long): Double =
    (h(seed, stream, i) >>> 11) / 9007199254740992.0
}

/** Command line: `--workload W --seed N --seconds S --trace 0|1
  * [--threads T] [--scale full|smoke]`. Malformed values are refused. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, threads: Int, scale: String)

object Args {
  val Workloads = Seq("olap_point", "llm_dedup")

  def parse(argv: Array[String], nproc: Int): Either[String, Args] = {
    if (argv.length % 2 != 0) return Left("arguments must be --key value pairs")
    val kv = argv.grouped(2).map(p => p(0) -> p(1)).toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--threads", "--scale")
    kv.keys.find(k => !known(k)).foreach(k => return Left(s"unknown argument $k"))
    def int(k: String, dflt: Option[String]): Either[String, Long] =
      kv.get(k).orElse(dflt) match {
        case None => Left(s"$k is required")
        case Some(v) if v.matches("-?[0-9]{1,18}") => Right(v.toLong)
        case Some(v) => Left(s"$k must be an integer, got '$v'")
      }
    for {
      w <- kv.get("--workload").filter(Workloads.contains)
        .toRight(s"--workload must be one of ${Workloads.mkString(", ")}")
      seed <- int("--seed", None)
      secs <- int("--seconds", None).filterOrElse(s => s >= 1 && s <= 600,
        "--seconds must be in [1, 600]")
      tr <- int("--trace", Some("0")).filterOrElse(t => t == 0 || t == 1,
        "--trace must be 0 or 1")
      th <- int("--threads", Some(math.min(4, nproc).toString))
        .filterOrElse(t => t >= 1 && t <= nproc,
          s"--threads must be in [1, nproc = $nproc]")
      sc <- Right(kv.getOrElse("--scale", "full")).filterOrElse(
        s => s == "full" || s == "smoke", "--scale must be full or smoke")
    } yield Args(w, seed, secs.toInt, tr == 1, th.toInt, sc)
  }
}

/** Normalised result values: integers as Long, fractions as Double,
  * timestamps as epoch millis, strings as is, SQL NULL as null. */
object Answers {
  type Rows = Seq[Seq[Any]]
  val RelTol = 1e-9

  def norm(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case b: java.math.BigDecimal => b.doubleValue
    case t: java.sql.Timestamp => t.getTime
    case s: String => s
    case b: Boolean => b
    case other => other.toString
  }

  def of(rows: Array[org.apache.spark.sql.Row]): Rows =
    rows.toSeq.map(r => (0 until r.length).map(i => norm(r.get(i))))

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= RelTol * math.max(math.abs(x), math.abs(y))
    case (x: Double, y: Long) => same(x, y.toDouble)
    case (x: Long, y: Double) => same(x.toDouble, y)
    case _ => a == b
  }

  private def key(r: Seq[Any]): String = r.map {
    case d: Double => f"$d%.6e"
    case v => String.valueOf(v)
  }.mkString("\u0001")

  /** True when `got` equals `want`; unordered results compare as sorted
    * multisets. Doubles compare with a relative tolerance: summation
    * order follows partitioning, so the last digits may differ. */
  def equal(got: Rows, want: Rows, ordered: Boolean): Boolean =
    got.length == want.length && {
      val (g, w) = if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
      g.zip(w).forall { case (x, y) =>
        x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
      }
    }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite number in output")
      d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Util {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def utf8Len(s: String): Long = s.getBytes(UTF_8).length.toLong

  /** Bytes of regular files under `p`. */
  def diskBytes(p: Path): Long = {
    val w = Files.walk(p)
    try {
      var n = 0L
      w.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally w.close()
  }

  /** `key value` line of a /proc file, in the file's own unit. */
  def procField(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(
      _.substring(key.length).trim.split("\\s+")(0).toLong).getOrElse(0L)
    finally src.close()
  }

  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  def readChars: Long = procField("/proc/self/io", "rchar:")
}

/** SHA-256 over the generated inputs, so a self-test can show that one
  * seed yields byte-identical inputs on every run. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(8)
  def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
  def string(s: String): Unit = { val b = s.getBytes(UTF_8); long(b.length); md.update(b) }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

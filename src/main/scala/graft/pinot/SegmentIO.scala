package graft.pinot

import java.nio.file.{Files, Paths}

/** Pluggable byte-range IO under [[SegmentReader]] — the seam between
  * segment decoding (format logic, identical everywhere) and WHERE the
  * segment bytes live. The reference engine opens segments with local
  * file APIs only (its README documents the local-directory constraint);
  * a 100 TB deployment reads segments from object storage, and the
  * windowed positional-read design upstream of this interface is exactly
  * what object stores want (few, large, explicit ranges — no mmap, no
  * sequential-whole-file assumption). Implementations:
  *
  *  - [[LocalSegmentIO]]: `java.nio` FileChannel preads — the default,
  *    byte-for-byte the prior behavior and performance.
  *  - [[HadoopSegmentIO]]: Hadoop `FileSystem` (public API, already on
  *    Spark's classpath) — one implementation serves `file://`,
  *    `hdfs://`, and every object-store connector that registers a
  *    Hadoop scheme (s3a/gs/abfs in real clusters). Positional reads map
  *    to `FSDataInputStream.readFully(pos, ...)`, the API object-store
  *    connectors translate into HTTP range requests.
  *
  * Paths are plain strings (URIs for Hadoop schemes); the local impl
  * treats them as filesystem paths.
  */
trait SegmentIO {
  def exists(p: String): Boolean
  def isDirectory(p: String): Boolean
  def size(p: String): Long
  def mtimeMillis(p: String): Long
  def readFully(p: String): Array[Byte]
  /** Absolute paths of regular files directly under `dir`. */
  def listFiles(dir: String): Seq[String]
  /** Absolute paths of ALL entries (files and dirs) directly under `dir`. */
  def listAll(dir: String): Seq[String]
  def openRange(p: String): SegmentIO.RangeReader
  /** Write `bytes` to `p` (create or overwrite) — the write half of the
    * same routing: table-level config files (`upsert.properties`) land
    * on hdfs://-hosted tables through the Hadoop stack, symmetric with
    * how [[readFully]] reads them back. Segment DATA still writes
    * through the dedicated writer path; this is for small table-scoped
    * metadata only.
    */
  def writeFully(p: String, bytes: Array[Byte]): Unit =
    throw new PinotFormatException(
      s"$p: this SegmentIO does not support writes")
  /** Delete `p` (file or directory tree). Absent paths are a no-op —
    * the mutation half of remote-capable maintenance (compact / purge)
    * alongside [[rename]]; implementations must be recursive so a
    * segment dir goes in one call (object stores serve it as a bulk
    * prefix delete).
    */
  def deleteRecursively(p: String): Unit =
    throw new PinotFormatException(
      s"$p: this SegmentIO does not support deletes")
  /** Rename/move `src` to `dst` (same store). Local filesystems give
    * atomicity; HDFS renames are atomic per Hadoop's contract; plain
    * object stores emulate (copy+delete) — which is why the maintenance
    * swap is marker-guarded rather than rename-atomic.
    */
  def rename(src: String, dst: String): Unit =
    throw new PinotFormatException(
      s"$src: this SegmentIO does not support renames")
  def resolve(dir: String, child: String): String
  def fileName(p: String): String
  def parent(p: String): String = {
    val q = p.replace('\\', '/')
    val i = q.lastIndexOf('/')
    if (i <= 0) p else q.substring(0, i)
  }

  /** Every regular FILE under `dir`, recursively, with size + mtime.
    * Object stores serve this as ONE paged flat prefix listing
    * (`FileSystem.listFiles(recursive = true)`), so discovery and
    * cache fingerprints over a 10k-segment table cost one listing, not
    * O(segments) per-entry status round-trips. The default recurses
    * through `listAll`/`isDirectory` (correct anywhere, efficient only
    * locally) so custom IOs keep working unchanged.
    */
  def listTree(dir: String): Seq[SegmentIO.FileEntry] =
    listAll(dir).flatMap { e =>
      if (isDirectory(e)) listTree(e)
      else Seq(SegmentIO.FileEntry(e, size(e), mtimeMillis(e)))
    }
}

object SegmentIO {

  /** One regular file from a recursive listing. */
  final case class FileEntry(path: String, size: Long, mtimeMillis: Long)

  private lazy val hadoopDefault = new HadoopSegmentIO(null)

  /** The IO implementation for a path: URI-scheme paths (`file://…`,
    * `hdfs://…`, object-store schemes) route through the Hadoop
    * FileSystem stack; plain filesystem paths stay on java.nio. This is
    * how `spark.read.format("pinot").load("hdfs://…")` transparently
    * reads remote tables while local paths keep their exact prior cost.
    */
  def forPath(p: String): SegmentIO = {
    val o = overrideIO
    if (o != null && o._1(p)) o._2
    else if (hasScheme(p)) hadoopDefault
    else LocalSegmentIO
  }

  // TEST SEAM (single-JVM local mode only): route matching paths
  // through a caller-supplied IO — lets specs drive the WHOLE DSv2
  // stack (catalog open, planning, executor decode) through a
  // counting/in-memory IO and assert round-trip budgets end to end.
  // Production never sets this; reads see one volatile load.
  @volatile private var overrideIO: (String => Boolean, SegmentIO) = null

  def withOverride[T](pred: String => Boolean, io: SegmentIO)(f: => T): T = {
    overrideIO = (pred, io)
    try f finally overrideIO = null
  }

  /** True when `p` is URI-schemed (`hdfs://…`, `s3a://…`, `file:…`) and
    * would route through [[HadoopSegmentIO]] — the predicate maintenance
    * ops use to reject paths their local NIO swap cannot mutate.
    */
  def hasUriScheme(p: String): Boolean = hasScheme(p)

  private def hasScheme(p: String): Boolean = {
    val i = p.indexOf(':')
    i > 1 && p.charAt(0).isLetter &&
      p.substring(0, i).forall(c =>
        c.isLetterOrDigit || c == '+' || c == '-' || c == '.')
  }
  /** Positional range reads over one file; close releases the handle.
    * Thread-safety matches the backing API (FileChannel preads are
    * thread-safe; Hadoop readFully(pos,...) is positioned-read safe).
    */
  trait RangeReader extends AutoCloseable {
    /** Read exactly `len` bytes at `pos`, or throw [[PinotFormatException]]. */
    def pread(pos: Long, len: Int): Array[Byte]
  }
}

/** Local-filesystem IO via `java.nio` — the default; identical behavior
  * and cost to the pre-abstraction FileChannel code.
  */
object LocalSegmentIO extends SegmentIO {
  override def exists(p: String): Boolean = Files.exists(Paths.get(p))
  override def isDirectory(p: String): Boolean =
    Files.isDirectory(Paths.get(p))
  override def listAll(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(dir))
    try listing.iterator().asScala.map(_.toString).toSeq
    finally listing.close()
  }
  override def size(p: String): Long = Files.size(Paths.get(p))
  override def mtimeMillis(p: String): Long =
    Files.getLastModifiedTime(Paths.get(p)).toMillis
  override def readFully(p: String): Array[Byte] =
    Files.readAllBytes(Paths.get(p))
  override def writeFully(p: String, bytes: Array[Byte]): Unit = {
    // parents created like Hadoop's create(): tree uploads write nested
    // files without a separate mkdirs round per directory
    val path = Paths.get(p)
    if (path.getParent != null) Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    ()
  }
  override def deleteRecursively(p: String): Unit =
    PinotCompact.deleteRecursively(Paths.get(p))
  override def rename(src: String, dst: String): Unit = {
    Files.move(Paths.get(src), Paths.get(dst))
    ()
  }
  override def listFiles(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(dir))
    try listing.iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).toSeq
    finally listing.close()
  }
  override def openRange(p: String): SegmentIO.RangeReader =
    new SegmentIO.RangeReader {
      private val ch = java.nio.channels.FileChannel.open(Paths.get(p),
        java.nio.file.StandardOpenOption.READ)
      override def pread(pos: Long, len: Int): Array[Byte] = {
        val out = java.nio.ByteBuffer.allocate(len)
        var at = pos
        while (out.hasRemaining) {
          val n = ch.read(out, at)
          if (n < 0) throw new PinotFormatException(
            s"$p truncated at $at (wanted $len bytes)")
          at += n
        }
        out.array()
      }
      override def close(): Unit = ch.close()
    }
  override def resolve(dir: String, child: String): String =
    Paths.get(dir).resolve(child).toString
  override def fileName(p: String): String =
    Paths.get(p).getFileName.toString
  override def parent(p: String): String =
    Paths.get(p).getParent.toString

  override def listTree(dir: String): Seq[SegmentIO.FileEntry] = {
    val out = Seq.newBuilder[SegmentIO.FileEntry]
    Files.walkFileTree(Paths.get(dir), new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
      override def visitFile(f: java.nio.file.Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        if (attrs.isRegularFile)
          out += SegmentIO.FileEntry(f.toString, attrs.size(),
            attrs.lastModifiedTime().toMillis)
        java.nio.file.FileVisitResult.CONTINUE
      }
    })
    out.result()
  }
}

/** Hadoop `FileSystem` IO — the remote/object-storage path. One
  * `FileSystem` handle per (scheme, authority) comes from Hadoop's own
  * JVM-wide cache (`FileSystem.get`), so opening many segments does not
  * re-negotiate connections.
  */
final class HadoopSegmentIO(conf: org.apache.hadoop.conf.Configuration)
    extends SegmentIO with Serializable {

  /** Spark's Hadoop configuration when a Spark runtime is present — the
    * standard way users configure object-store credentials
    * (`spark.hadoop.fs.s3a.*` etc.) reaches the SparkConf on driver AND
    * executors, and `SparkHadoopUtil.newConfiguration` folds it into a
    * Hadoop conf. A bare `new Configuration()` (the previous behavior,
    * kept as the no-Spark fallback) never sees those properties, so
    * remote reads authenticated only via core-site.xml.
    */
  @transient private lazy val confResolved = {
    val c = new org.apache.hadoop.conf.Configuration()
    if (conf != null) conf
    else {
      // same fold SparkHadoopUtil performs (it is private[spark]):
      // every `spark.hadoop.foo=bar` becomes `foo=bar`
      org.apache.spark.SparkEnv.get match {
        case null => ()
        case env =>
          env.conf.getAll.foreach { case (k, v) =>
            if (k.startsWith("spark.hadoop."))
              c.set(k.substring("spark.hadoop.".length), v)
          }
      }
      c
    }
  }

  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fs(p: String): org.apache.hadoop.fs.FileSystem =
    hp(p).getFileSystem(confResolved)

  override def exists(p: String): Boolean = fs(p).exists(hp(p))
  override def isDirectory(p: String): Boolean =
    try fs(p).getFileStatus(hp(p)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  override def listAll(dir: String): Seq[String] =
    fs(dir).listStatus(hp(dir)).toSeq.map(_.getPath.toString)
  override def size(p: String): Long = fs(p).getFileStatus(hp(p)).getLen
  override def mtimeMillis(p: String): Long =
    fs(p).getFileStatus(hp(p)).getModificationTime
  override def readFully(p: String): Array[Byte] = {
    val st = fs(p).getFileStatus(hp(p))
    val len = st.getLen
    if (len > Int.MaxValue)
      throw new PinotFormatException(s"$p too large to read fully: $len")
    val in = fs(p).open(hp(p))
    try {
      val out = new Array[Byte](len.toInt)
      in.readFully(0L, out)
      out
    } finally in.close()
  }
  override def writeFully(p: String, bytes: Array[Byte]): Unit = {
    val out = fs(p).create(hp(p), true /* overwrite */)
    try out.write(bytes) finally out.close()
  }
  override def deleteRecursively(p: String): Unit = {
    fs(p).delete(hp(p), true /* recursive */)
    ()
  }
  override def rename(src: String, dst: String): Unit = {
    if (!fs(src).rename(hp(src), hp(dst)))
      throw new PinotFormatException(s"rename $src -> $dst failed " +
        "(Hadoop rename returned false — check the destination does " +
        "not already exist)")
  }
  override def listFiles(dir: String): Seq[String] =
    fs(dir).listStatus(hp(dir)).toSeq
      .filter(_.isFile).map(_.getPath.toString)
  override def openRange(p: String): SegmentIO.RangeReader =
    new SegmentIO.RangeReader {
      private val in = fs(p).open(hp(p))
      override def pread(pos: Long, len: Int): Array[Byte] = {
        val out = new Array[Byte](len)
        try in.readFully(pos, out)
        catch {
          case e: java.io.EOFException => throw new PinotFormatException(
            s"$p truncated at $pos (wanted $len bytes): ${e.getMessage}")
        }
        out
      }
      override def close(): Unit = in.close()
    }
  override def resolve(dir: String, child: String): String = {
    // qualify through the filesystem: listStatus/listFiles return fully
    // qualified URIs, so resolve must produce the same spelling or the
    // string comparisons in discovery (root vs listing) never match for
    // scheme-less inputs reaching this IO (fs.defaultFS routing)
    val p = new org.apache.hadoop.fs.Path(dir, child)
    fs(dir).makeQualified(p).toString
  }
  override def fileName(p: String): String = hp(p).getName
  override def parent(p: String): String = hp(p).getParent.toString

  /** ONE paged recursive listing (S3A and friends serve it as a flat
    * prefix scan) — the whole-table discovery/fingerprint path.
    */
  override def listTree(dir: String): Seq[SegmentIO.FileEntry] = {
    val out = Seq.newBuilder[SegmentIO.FileEntry]
    val it = fs(dir).listFiles(hp(dir), true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile)
        out += SegmentIO.FileEntry(st.getPath.toString, st.getLen,
          st.getModificationTime)
    }
    out.result()
  }
}

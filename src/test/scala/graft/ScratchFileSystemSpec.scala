package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The `graftscratch:` file system stream calls keep their scratch on:
  * the same bytes, names and permission bits as `file:`, without `.crc`
  * files, and checkpointed through Spark's plain FileSystem manager.
  */
class ScratchFileSystemSpec extends SparkTestBase {

  private def fsOf(scheme: String, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(URI.create(s"$scheme:///"), conf)
  }

  private def on(scheme: String, p: JPath) =
    new Path(scheme, null, p.toAbsolutePath.toString)

  private def files(root: JPath): Seq[JPath] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  private def bits(p: JPath) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Writes one file under `d/c` and counts the `.crc` files in `d`. */
  private def crcAfterWrite(fs: FileSystem, d: JPath): Int = {
    val out = fs.create(on(fs.getScheme, d.resolve("c/f")))
    out.write(1)
    out.close()
    files(d).count(_.getFileName.toString.endsWith(".crc"))
  }

  /** mkdirs, create under a temp name, rename over it, list, read, and
    * the permission bits of the dirs and the file before the delete.
    */
  private def roundTrip(fs: FileSystem, root: JPath): Seq[String] = {
    val dir = on(fs.getScheme, root.resolve("a/b"))
    assert(fs.mkdirs(dir))
    val tmp = new Path(dir, ".part.tmp")
    val out = fs.create(tmp)
    out.write("payload".getBytes(UTF_8))
    out.close()
    val part = new Path(dir, "part")
    assert(fs.rename(tmp, part))
    assert(fs.listStatus(dir).map(_.getPath.getName).toSeq === Seq("part"))
    assert(fs.listStatus(dir).head.getPath.toUri.getScheme === fs.getScheme)
    val in = fs.open(part)
    try assert(new String(in.readAllBytes(), UTF_8) === "payload")
    finally in.close()
    val seen = Seq(root.resolve("a"), root.resolve("a/b"),
      root.resolve("a/b/part")).map(bits)
    assert(fs.delete(on(fs.getScheme, root.resolve("a")), true))
    assert(!Files.exists(root.resolve("a")))
    seen
  }

  test("graftscratch round trip: file: names, bytes and permission bits, " +
      "no .crc files") {
    Seq("022", "027", "077").foreach { umask =>
      val root = TestDirs.create("scratch_fs")
      val scratch = fsOf(ScratchFileSystem.Scheme, umask)
      val local = fsOf("file", umask)
      try {
        assert(scratch.isInstanceOf[ScratchFileSystem])
        val scratchDir = Files.createDirectory(root.resolve("scratch"))
        val localDir = Files.createDirectory(root.resolve("local"))
        assert(crcAfterWrite(scratch, scratchDir) === 0, s"umask $umask")
        assert(crcAfterWrite(local, localDir) > 0,
          "file: no longer writes .crc files: the contrast is gone")
        assert(roundTrip(scratch, scratchDir) === roundTrip(local, localDir),
          s"permission bits differ from file: under umask $umask")
      } finally {
        scratch.close()
        local.close()
      }
    }
  }

  test("Spark checkpoints on graftscratch through the FileSystem-based " +
      "manager, atomically and without .crc files") {
    val root = TestDirs.create("scratch_ckpt")
    val conf = spark.sparkContext.hadoopConfiguration
    val mgr = CheckpointFileManager.create(
      new Path(ScratchFileSystem.on(root)), conf)
    assert(mgr.isInstanceOf[FileSystemBasedCheckpointFileManager],
      s"got ${mgr.getClass.getName}")
    // the contrast: file: goes through FileContext (a forked readlink
    // per rename without libhadoop)
    assert(CheckpointFileManager.create(new Path(root.toUri), conf)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    val offsets = new Path(ScratchFileSystem.on(root.resolve("offsets")))
    mgr.mkdirs(offsets)
    val out = mgr.createAtomic(new Path(offsets, "0"),
      overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.close()
    assert(new String(Files.readAllBytes(root.resolve("offsets/0")),
      UTF_8) === "v1")
    assert(files(root).map(root.relativize(_).toString) === Seq("offsets/0"))
  }
}

package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local disk under graft's own `graftscratch:` scheme, for the
  * scratch of its stream calls (checkpoints, flag dirs, run-private
  * tables). Without libhadoop, `file:` forks a `chmod` for every file and
  * dir it creates, and Spark's FileContext checkpoint manager a `readlink`
  * for every rename. This scheme sets permission bits through java.nio,
  * writes no `.crc` files, and has no `AbstractFileSystem` binding, so
  * Spark checkpoints on it through `FileSystemBasedCheckpointFileManager`.
  * Registered in `META-INF/services/org.apache.hadoop.fs.FileSystem`.
  */
class ScratchFileSystem extends RawLocalFileSystem {
  override def getScheme: String = ScratchFileSystem.Scheme
  override def getUri: URI = ScratchFileSystem.Root

  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val bits = Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction)
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(bits.map(_.SYMBOL).mkString))
    ()
  }
}

object ScratchFileSystem {
  val Scheme = "graftscratch"
  private val Root = URI.create(s"$Scheme:///")

  /** A local dir as a path string on this scheme. */
  def on(dir: java.nio.file.Path): String =
    new Path(Scheme, null, dir.toAbsolutePath.toString).toString
}

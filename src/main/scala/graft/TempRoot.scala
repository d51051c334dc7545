package graft

import java.nio.file.{Files, Path}

/** Temp dirs under one per-JVM root in `java.io.tmpdir` that a shutdown
  * hook deletes, so a run leaves none behind (a killed JVM does leave
  * its root).
  */
class TempRoot(name: String) {
  private lazy val root: Path = {
    val r = Files.createTempDirectory(name)
    sys.addShutdownHook(graft.pinot.PinotCompact.deleteRecursively(r))
    r
  }

  /** A new empty dir whose name starts with `prefix`. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}

/** Work dirs of queries whose returned frames read them lazily (stream
  * checkpoints, flag and payload outputs), so no call can delete its own.
  */
object QueryWorkDirs extends TempRoot("graft_query_work")

package graft

import java.nio.file.{Files, Path}

/** Temp dirs for specs. Every dir lives under one per-JVM root that a
  * shutdown hook deletes, so a test run leaves no spec dirs behind in
  * `java.io.tmpdir` (a killed JVM does leave its root).
  */
object TestDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_spec")
    sys.addShutdownHook(graft.pinot.PinotCompact.deleteRecursively(r))
    r
  }

  /** A new empty dir whose name starts with `prefix`. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}

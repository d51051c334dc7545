package graft.queries

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.pinot.PinotCompact.deleteRecursively

/** The one cache for the fixtures the queries derive from a source dir
  * (Pinot tables, the IVF index, the near-dup stream inputs): built once,
  * reused across runs and processes. The reference keeps no such cache;
  * this is graft's own test and bench plumbing.
  *
  * An entry lives at `<root>/<family>/<src as a name>[/<name>]`. The root
  * is per user under `java.io.tmpdir`; `family` names the kind of fixture
  * and its layout version, so bumping the version orphans every older
  * entry.
  *
  * One rule decides reuse: the entry is owned by this user and its
  * `_SUCCESS` holds the source dir's current fingerprint (every file's
  * relative path, size and mtime). Otherwise the entry is rebuilt in a
  * fresh temp dir under the root, `_SUCCESS` is written last, the invalid
  * entry is deleted and the new one moves in with one atomic rename. A
  * killed build so leaves only an orphaned temp dir that nothing reads;
  * the temp dir's name carries the building JVM's pid, and the next build
  * in any process deletes the temp dirs whose pid is no longer alive.
  * `synchronized` orders builds within a JVM; across processes the
  * rename arbitrates, and a loser uses the winner's entry once it passes
  * the same rule. A root or entry owned by another user fails loudly.
  */
object FixtureCache {

  private def user: String = sys.props("user.name")

  // the root keeps the name the IVF index cache had before the other
  // families joined it; plans and specs locate the index by that name
  private[graft] def root: Path =
    Paths.get(sys.props("java.io.tmpdir"), s"graft_ivf_cache_$user")

  /** The entry of `family` for source dir `src`, built by `build` unless a
    * valid one exists. `build` creates the path it gets and writes
    * everything under it; the path ends in the entry's own file name, so
    * a Pinot table dir keeps its `<table>_OFFLINE` name while it is built.
    */
  def once(family: String, src: String, name: String = "")(
      build: Path => Unit): Path = synchronized {
    val srcDir = Paths.get(src).toAbsolutePath
    val entry = root.resolve(family)
      .resolve(srcDir.toString.replaceAll("[^a-zA-Z0-9]", "_")).resolve(name)
    val fp = fingerprint(srcDir)
    if (reusable(entry, fp)) return entry
    Files.createDirectories(entry.getParent)
    requireOwned(root)
    reclaimDeadBuilds()
    val tmp = Files.createTempDirectory(root,
      s"build_${family}_${ProcessHandle.current().pid()}_")
    try {
      val stage = tmp.resolve(entry.getFileName)
      build(stage)
      Files.writeString(stage.resolve("_SUCCESS"), fp)
      if (!reusable(entry, fp)) {
        deleteRecursively(entry)
        // a lost race leaves the winner's entry in place: use it if valid
        try Files.move(stage, entry, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if reusable(entry, fp) => }
      }
      entry
    } finally deleteRecursively(tmp)
  }

  private val BuildDir = "build_.+_(\\d{1,18})_\\d+".r

  /** Deletes the temp dirs of builds whose JVM is gone: a killed build's
    * partial output. A temp dir without a pid in its name is kept.
    */
  private def reclaimDeadBuilds(): Unit = {
    val ls = Files.list(root)
    try ls.iterator().asScala.foreach { p =>
      p.getFileName.toString match {
        case BuildDir(pid) if ProcessHandle.of(pid.toLong).isEmpty =>
          deleteRecursively(p)
        case _ =>
      }
    } finally ls.close()
  }

  private def reusable(entry: Path, fp: String): Boolean =
    Files.exists(entry) && {
      requireOwned(entry)
      val ok = entry.resolve("_SUCCESS")
      Files.exists(ok) && Files.readString(ok) == fp
    }

  private def requireOwned(p: Path): Unit = {
    val owner = Files.getOwner(p).getName
    if (owner != user) throw new IllegalStateException(
      s"fixture cache: $p is owned by $owner, not $user")
  }

  private def fingerprint(srcDir: Path): String = {
    val walk = Files.walk(srcDir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      s"${srcDir.relativize(p)}\t${Files.size(p)}\t" +
        Files.getLastModifiedTime(p).toMillis
    }.toSeq.sorted.mkString("", "\n", "\n")
    finally walk.close()
  }
}

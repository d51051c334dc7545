package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.pinot.PinotCompact.deleteRecursively
import org.scalatest.funsuite.AnyFunSuite

/** The fixture cache's one rule: an entry is reused only when it carries
  * `_SUCCESS` with the source fingerprint; a failed, killed or racing
  * build never leaves a half-written entry behind. Each case uses its own
  * family, so no real fixture is touched.
  */
class FixtureCacheSpec extends AnyFunSuite {

  private val root = FixtureCache.root

  /** A fresh source dir of two single-file tables. */
  private def source(): Path = {
    val src = graft.TestDirs.create("fixture_src")
    Files.writeString(src.resolve("a.parquet"), "aaaa")
    Files.writeString(src.resolve("b.parquet"), "bb")
    src
  }

  private def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val l = Files.list(dir)
      try l.iterator().asScala.toSeq finally l.close()
    }

  private def buildDirs(family: String): Seq[Path] =
    children(root).filter(_.getFileName.toString.startsWith(s"build_${family}_"))

  private def regularFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally w.close()
    }

  private def stamp(entry: Path): Long =
    Files.getLastModifiedTime(entry.resolve("_SUCCESS")).toMillis

  /** Runs `body` with a clean `family` and removes what it left. */
  private def withFamily(family: String)(body: Path => Unit): Unit = {
    def clean(): Unit = {
      deleteRecursively(root.resolve(family))
      buildDirs(family).foreach(deleteRecursively)
    }
    clean()
    val src = source()
    try body(src)
    finally { clean(); deleteRecursively(src) }
  }

  /** A build that counts its runs and writes `data` = `tag`. */
  private def counting(n: AtomicInteger, tag: String = "built")(p: Path): Unit = {
    n.incrementAndGet()
    Files.createDirectories(p)
    Files.writeString(p.resolve("data"), tag)
  }

  test("repeated and concurrent calls build once and return one path") {
    withFamily("spec_once") { src =>
      val n = new AtomicInteger
      val e1 = FixtureCache.once("spec_once", src.toString, "t")(counting(n))
      val s1 = stamp(e1)
      val e2 = FixtureCache.once("spec_once", src.toString, "t")(counting(n))
      assert(e2 === e1)
      assert(n.get === 1)
      assert(stamp(e2) === s1)
      assert(Files.readString(e1.resolve("data")) === "built")

      val m = new AtomicInteger
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val fs = (1 to 2).map(_ => pool.submit(new Callable[Path] {
          def call(): Path = {
            start.await()
            FixtureCache.once("spec_once", src.toString, "u")(counting(m))
          }
        }))
        start.countDown()
        val got = fs.map(_.get(60, TimeUnit.SECONDS))
        assert(got.distinct.size === 1)
        assert(m.get === 1)
      } finally pool.shutdownNow()
    }
  }

  test("a build that throws leaves no entry and no temp dir; the next call builds") {
    withFamily("spec_throw") { src =>
      val n = new AtomicInteger
      val e = intercept[IllegalStateException] {
        FixtureCache.once("spec_throw", src.toString, "t") { p =>
          counting(n)(p)
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage === "build failed")
      assert(regularFiles(root.resolve("spec_throw")).isEmpty)
      assert(buildDirs("spec_throw").isEmpty)
      val entry = FixtureCache.once("spec_throw", src.toString, "t")(counting(n))
      assert(n.get === 2)
      assert(Files.exists(entry.resolve("_SUCCESS")))
      assert(Files.readString(entry.resolve("data")) === "built")
    }
  }

  test("a killed build's entry is rebuilt and its orphaned temp dir ignored") {
    withFamily("spec_killed") { src =>
      val n = new AtomicInteger
      val entry = FixtureCache.once("spec_killed", src.toString, "t")(counting(n))
      // the state a kill leaves: a complete-looking build that was never
      // renamed in, and an entry dir with partial output and no _SUCCESS
      val orphan = Files.createTempDirectory(root, "build_spec_killed_")
      val staged = Files.createDirectories(orphan.resolve(entry.getFileName))
      Files.copy(entry.resolve("_SUCCESS"), staged.resolve("_SUCCESS"))
      Files.writeString(staged.resolve("data"), "orphan")
      Files.delete(entry.resolve("_SUCCESS"))
      Files.writeString(entry.resolve("partial"), "half")

      val again = FixtureCache.once("spec_killed", src.toString, "t")(
        counting(n, "rebuilt"))
      assert(again === entry)
      assert(n.get === 2)
      assert(Files.exists(entry.resolve("_SUCCESS")))
      assert(!Files.exists(entry.resolve("partial")))
      assert(Files.readString(entry.resolve("data")) === "rebuilt")
      assert(Files.readString(staged.resolve("data")) === "orphan")
    }
  }

  test("a touched source file rebuilds the entry; unchanged sources reuse it") {
    withFamily("spec_touch") { src =>
      val n = new AtomicInteger
      def get() = FixtureCache.once("spec_touch", src.toString)(counting(n))
      val entry = get()
      val before = Files.readString(entry.resolve("_SUCCESS"))
      assert(get() === entry)
      assert(n.get === 1)
      val a = src.resolve("a.parquet")
      Files.setLastModifiedTime(a, FileTime.fromMillis(
        Files.getLastModifiedTime(a).toMillis + 10000L))
      assert(get() === entry)
      assert(n.get === 2)
      assert(Files.readString(entry.resolve("_SUCCESS")) !== before)
      get()
      assert(n.get === 2)
    }
  }

  test("a winner renamed in during the build is used; the loser's temp dir goes") {
    withFamily("spec_race") { src =>
      val n = new AtomicInteger
      val entry = FixtureCache.once("spec_race", src.toString, "t")(
        counting(n, "winner"))
      val aside = root.resolve("spec_race").resolve("aside")
      Files.move(entry, aside)
      val got = FixtureCache.once("spec_race", src.toString, "t") { p =>
        counting(n, "loser")(p)
        Files.move(aside, entry) // another process finishes first
      }
      assert(got === entry)
      assert(n.get === 2)
      assert(Files.readString(entry.resolve("data")) === "winner")
      assert(buildDirs("spec_race").isEmpty)
    }
  }

  test("a build reclaims the temp dirs of dead JVMs and keeps a live JVM's") {
    withFamily("spec_reclaim") { src =>
      val exited = new ProcessBuilder("true").start()
      exited.waitFor()
      val dead = Files.createDirectories(
        root.resolve(s"build_spec_reclaim_${exited.pid()}_1"))
      Files.writeString(dead.resolve("partial"), "half")
      val live = Files.createDirectories(
        root.resolve(s"build_spec_reclaim_${ProcessHandle.current().pid()}_2"))
      val n = new AtomicInteger
      FixtureCache.once("spec_reclaim", src.toString, "t")(counting(n))
      assert(n.get === 1)
      assert(!Files.exists(dead))
      assert(Files.exists(live))
      assert(buildDirs("spec_reclaim") === Seq(live))
    }
  }
}

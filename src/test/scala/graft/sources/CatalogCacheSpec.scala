package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.pinot.SegmentWriter
import graft.sources.pinot.PinotSegmentTable

/** Warm-catalog cache lifecycle: bounded under pressure, and stale
  * entries are detected even for a same-millisecond IN-PLACE segment
  * overwrite (same table mtime, same segment dir names, new content).
  */
class CatalogCacheSpec extends SparkTestBase {

  private def delete(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val l = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.foreach(delete)
      } finally l.close()
    }
    Files.deleteIfExists(p)
  }

  test("same-millisecond in-place overwrite invalidates the cached table") {
    val root = graft.TestDirs.create("pinot_cachestale")
    val tdir = root.resolve("c_OFFLINE")
    SegmentWriter.write(tdir.resolve("seg0"), "c", "seg0", Seq(
      SegmentWriter.LongCol("a", Array(1L, 2L, 3L))))
    val t1 = PinotSegmentTable.open(tdir.toString)
    assert(t1.schema().fieldNames.toSeq === Seq("a"))
    val mt = Files.getLastModifiedTime(tdir)
    val meta = tdir.resolve("seg0").resolve("v3").resolve("metadata.properties")
    val metaMt = Files.getLastModifiedTime(meta)
    val metaSize = Files.size(meta)

    // replace the segment CONTENT under the same dir name, then pin the
    // table dir's mtime back — the worst case for mtime-only keys
    delete(tdir.resolve("seg0"))
    SegmentWriter.write(tdir.resolve("seg0"), "c", "seg0", Seq(
      SegmentWriter.LongCol("b", Array(9L))))
    Files.setLastModifiedTime(tdir, mt)
    // a coarse file clock stamps two quick rewrites alike: the new
    // metadata.properties has the old one's size and gets its mtime
    assert(Files.size(meta) === metaSize)
    Files.setLastModifiedTime(meta, metaMt)

    val t2 = PinotSegmentTable.open(tdir.toString)
    assert(t2.schema().fieldNames.toSeq === Seq("b"),
      "stale cached table served after same-millisecond overwrite")
  }

  test("in-flight tmp_* output does not churn the file:// URI fingerprint") {
    val root = graft.TestDirs.create("pinot_cachetmp")
    val tdir = root.resolve("t_OFFLINE")
    SegmentWriter.write(tdir.resolve("seg0"), "t", "seg0", Seq(
      SegmentWriter.LongCol("a", Array(1L, 2L, 3L))))
    // the URI spelling ("file:///…") differs from the Hadoop listing's
    // qualified form ("file:/…") — the tmp-exclusion prefix must come
    // from the IO's path algebra, not the raw input string
    val uri = tdir.toUri.toString
    assert(uri.startsWith("file:///"), uri)
    val t1 = PinotSegmentTable.open(uri)
    val mt = Files.getLastModifiedTime(tdir)
    // a concurrent writer's in-flight tmp_* output (with its own
    // metadata.properties); dir-mtime pinned back ≙ object stores,
    // where a new key never touches parent "directory" metadata
    val tmp = tdir.resolve("tmp_upload_1").resolve("v3")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("metadata.properties"), "x=y\n".getBytes("UTF-8"))
    Files.setLastModifiedTime(tdir, mt)
    val t2 = PinotSegmentTable.open(uri)
    assert(t2 eq t1, "tmp_* writer output churned the cache fingerprint")
  }

  test("cache is LRU-bounded: cold entries evict, hot entries persist") {
    val root = graft.TestDirs.create("pinot_cachelru")
    def mk(i: Int): String = {
      val tdir = root.resolve(f"t$i%03d_OFFLINE")
      SegmentWriter.write(tdir.resolve("seg0"), f"t$i%03d", "seg0", Seq(
        SegmentWriter.LongCol("v", Array(i.toLong))))
      tdir.toString
    }
    val first = mk(0)
    val t0 = PinotSegmentTable.open(first)
    assert(PinotSegmentTable.open(first) eq t0, "warm hit returns cached instance")
    // flood past the 256-entry cap (the access-ordered LRU evicts t0)
    val flood = (1 to 300).map(mk)
    flood.foreach(PinotSegmentTable.open(_))
    val again = PinotSegmentTable.open(first)
    assert(!(again eq t0), "evicted entry must be recomputed, not retained")
    // the most recent opens are still warm
    val lastPath = flood.last
    val tLast = PinotSegmentTable.open(lastPath)
    assert(PinotSegmentTable.open(lastPath) eq tLast)
  }
}

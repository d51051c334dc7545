package graft.queries

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.metrics.source.CodegenMetrics

/** What a repeated near-dup stream call (q172, q175) costs beyond its
  * work: no whole-stage class compiled again (the stream's cloned session
  * shares the caller's classloader, so Spark's codegen cache hits), no
  * forked `chmod` or `readlink` (its scratch lives on `graftscratch:`),
  * and the caller's session conf left as it was.
  */
class StreamCallsSpec extends SparkTestBase {

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Runs `body` under a JFR recording of process starts and returns the
    * command names it forked.
    */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile(graft.TestDirs.create("jfr"),
      "forks", ".jfr")
    rec.dump(f)
    rec.close()
    RecordingFile.readAllEvents(f).asScala.toSeq
      .map(_.getString("command").split("\\s+").head.split('/').last)
  }

  Seq("q172_stream_neardup_corpus", "q175_stream_neardup_grow").foreach {
    name =>
      test(s"$name: a second call compiles no class, forks no chmod or " +
          "readlink and leaves the caller's isolation setting") {
        val q = SketchDedup.queries(name)
        val first = q(spark, sfDir).collect().toSeq
        // unset, then an explicit caller value: each reads the same after
        Seq(None, Some("true")).foreach { caller =>
          caller.foreach(spark.conf.set(Isolation, _))
          val conf = spark.conf.getAll
          val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          var again = Seq.empty[org.apache.spark.sql.Row]
          val forked = forks { again = q(spark, sfDir).collect().toSeq }
          assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before,
            s"$name compiled whole-stage classes again (caller $caller)")
          assert(again === first)
          assert(!forked.exists(Set("chmod", "readlink")),
            s"$name forked ${forked.distinct} (caller $caller)")
          assert(spark.conf.getAll === conf, s"caller $caller")
          assert(spark.conf.getAll.get(Isolation) === caller)
        }
        spark.conf.unset(Isolation)
      }
  }
}

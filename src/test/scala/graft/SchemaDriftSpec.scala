package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.TimestampType

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Canary for driver-side testdata regeneration (the r6 outage class).
  *
  * The parquet fixtures under /root/testdata are regenerated by the
  * driver between rounds and their physical schemas have drifted before
  * (events.ts: TIMESTAMP(NANOS) → timestamp[us], which silently dropped
  * 23 queries from the correctness run). This spec turns the next drift
  * into one red test naming the exact exception:
  *
  *  1. every table loads at every sf dir present, and events.ts always
  *     normalizes to session-local TimestampType regardless of vintage;
  *  2. every declared query's plan ANALYZES at sf0.001 — construction
  *     only, no job is run (the handful of eagerly-materializing
  *     queries are cheap at this scale).
  */
class SchemaDriftSpec extends SparkTestBase {

  private val root = Paths.get("/root/testdata")

  private def sfDirs: Seq[String] = {
    val l = Files.list(root)
    try l.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("sf"))
      .map(_.toString).toSeq.sorted
    finally l.close()
  }

  test("every table loads at every sf dir; events.ts normalizes to TimestampType") {
    val dirs = sfDirs
    assert(dirs.nonEmpty, s"no sf* dirs under $root")
    val failures = for {
      dir <- dirs
      name <- Tables.names
      if Files.exists(Paths.get(dir, s"$name.parquet"))
      err <- Try {
        val df = Tables.load(spark, dir, name)
        df.schema // force analysis of the scan
        if (name == "events")
          assert(df.schema("ts").dataType == TimestampType,
            s"events.ts loaded as ${df.schema("ts").dataType}")
      }.failed.toOption
    } yield s"$dir/$name: ${err.toString.linesIterator.next()}"
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every declared table schema equals the one Spark infers, at every sf dir") {
    val dirs = sfDirs
    assert(dirs.nonEmpty, s"no sf* dirs under $root")
    val drift = for {
      dir <- dirs
      (name, declared) <- Tables.schemas.toSeq.sortBy(_._1)
      inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      if inferred != declared
    } yield s"$dir/$name: declared ${declared.simpleString}, " +
      s"inferred ${inferred.simpleString}"
    assert(drift.isEmpty, drift.mkString("\n"))
    assert(Tables.schemas.keySet === Tables.names.toSet - "events")
  }

  test("every declared query analyzes at sf0.001") {
    val sf = s"$root/sf0.001"
    Tables.registerAll(spark, sf)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> Try(q(spark, sf).queryExecution.analyzed)
    }
    val failures = results.collect { case (n, Failure(e)) =>
      s"$n: ${e.toString.linesIterator.next()}"
    }
    val ok = results.count { case (_, r) => r.isSuccess }
    info(s"$ok/${results.size} queries analyzed")
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

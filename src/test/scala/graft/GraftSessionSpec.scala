package graft

/** The shared session builder: `SPARK_GRAFT_CPUS` parsing, and the
  * production settings every session it builds carries. */
class GraftSessionSpec extends SparkTestBase {

  test("SPARK_GRAFT_CPUS parses to the requested core count") {
    assert(GraftSession.parseCpus(Some("8")) === 8)
    assert(GraftSession.parseCpus(Some("32")) === 32)
    assert(GraftSession.parseCpus(None) ===
      Runtime.getRuntime.availableProcessors())
  }

  test("a SPARK_GRAFT_CPUS that is not a positive integer fails loudly") {
    for (bad <- Seq("", " 4", "0", "-4", "four", "4x", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("a GraftSession session runs GraftExtensions in UTC") {
    // the shared test session is built by GraftSession.builder
    assert(spark.conf.get("spark.sql.extensions") ===
      "graft.functions.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.catalog.functionExists("dot_q"))
  }
}

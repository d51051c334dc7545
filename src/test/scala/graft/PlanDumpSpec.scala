package graft

import java.nio.file.Files

/** PlanDump's per-query mode writes one formatted plan per query. */
class PlanDumpSpec extends SparkTestBase {

  test("per-query mode writes <q>_<suffix>.txt for a Pinot and a parquet query") {
    val out = graft.TestDirs.create("plandump_spec")
    val names = Seq("q65_pinot_roundtrip", "q01_count_star")
    PlanDump.writePerQuery(spark, sfDir, out, "before", names)
    for (name <- names) {
      val f = out.resolve(s"${name}_before.txt")
      assert(Files.exists(f), name)
      assert(Files.readString(f).contains("== Physical Plan =="), name)
    }
    assert(Files.readString(out.resolve("q65_pinot_roundtrip_before.txt"))
      .contains("PinotScan"))
  }
}

package graft.sources

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkTestBase
import graft.pinot.{PinotFormatException, SegmentWriter}
import graft.sources.pinot.{PinotControllerClient, TinyJson}
import org.scalatest.BeforeAndAfterAll

/** Controller-mode tests with a stub HTTP server — mirrors the
  * reference's wiremock suite (tests/controller_client_tests.rs:9-212):
  * success/empty/404/500/invalid-JSON for /tables; OFFLINE preferred,
  * REALTIME fallback, missing type for /segments; plus an end-to-end
  * catalog SQL query in controller mode.
  */
class PinotControllerSpec extends SparkTestBase with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var baseUrl: String = _
  @volatile private var tablesResponse: (Int, String) = (200, """{"tables":[]}""")
  @volatile private var segmentsResponse: (Int, String) = (200, "[]")

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, payload: (Int, String)): Unit = {
      val bytes = payload._2.getBytes("UTF-8")
      ex.sendResponseHeaders(payload._1, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/tables", ex => respond(ex, tablesResponse))
    server.createContext("/segments", ex => respond(ex, segmentsResponse))
    server.start()
    baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def client = new PinotControllerClient(baseUrl)

  test("list_tables success") {
    tablesResponse = (200, """{"tables": ["baseballStats", "airlineStats"]}""")
    assert(client.listTables() === Seq("baseballStats", "airlineStats"))
  }

  test("list_tables empty") {
    tablesResponse = (200, """{"tables": []}""")
    assert(client.listTables() === Seq.empty)
  }

  test("list_tables 404 / 500 raise") {
    tablesResponse = (404, "not found")
    intercept[PinotFormatException](client.listTables())
    tablesResponse = (500, "boom")
    intercept[PinotFormatException](client.listTables())
  }

  test("list_tables invalid JSON raises") {
    tablesResponse = (200, """{"tables": [unquoted]}""")
    intercept[PinotFormatException](client.listTables())
    tablesResponse = (200, """{"nope": []}""")
    intercept[PinotFormatException](client.listTables())
  }

  test("list_segments extracts the requested type") {
    segmentsResponse = (200,
      """[{"OFFLINE": ["seg0", "seg1"]}, {"REALTIME": ["seg2"]}]""")
    assert(client.listSegments("t", "OFFLINE") === Seq("seg0", "seg1"))
    assert(client.listSegments("t", "REALTIME") === Seq("seg2"))
  }

  test("list_segments missing type returns empty") {
    segmentsResponse = (200, """[{"OFFLINE": ["seg0"]}]""")
    assert(client.listSegments("t", "REALTIME") === Seq.empty)
  }

  test("tiny json handles escapes and nesting") {
    import TinyJson._
    val v = TinyJson.parse(
      """{"a": "x\n\"yA", "b": [1, -2.5e1, true, null, {"c": []}]}""")
    val o = v.asInstanceOf[JObject]
    assert(o.get("a").get === JString("x\n\"yA"))
    val arr = o.get("b").get.asInstanceOf[JArray].items
    assert(arr(0) === JNumber(1.0))
    assert(arr(1) === JNumber(-25.0))
    assert(arr(2) === JBool(true))
    assert(arr(3) === JNull)
  }

  test("end-to-end: catalog in controller mode answers SQL") {
    // local segments for the table the controller advertises
    val root = graft.TestDirs.create("pinot_ctrl")
    val tableDir = root.resolve("ctrlStats_OFFLINE")
    val hits = Array.tabulate(300)(i => i % 50)
    (0 until 2).foreach { s =>
      SegmentWriter.write(tableDir.resolve(s"seg$s"), "ctrlStats", s"seg$s",
        Seq(SegmentWriter.IntCol("hits", hits.slice(s * 150, (s + 1) * 150))))
    }
    // an extra segment on disk that the controller does NOT list: catalog
    // must read only the controller-listed ones
    SegmentWriter.write(tableDir.resolve("segX"), "ctrlStats", "segX",
      Seq(SegmentWriter.IntCol("hits", Array.fill(10)(999))))

    tablesResponse = (200, """{"tables": ["ctrlStats"]}""")
    segmentsResponse = (200, """[{"OFFLINE": ["seg0", "seg1"]}]""")

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.pinotc", "graft.sources.pinot.PinotCatalog")
    s2.conf.set("spark.sql.catalog.pinotc.data_dir", root.toString)
    s2.conf.set("spark.sql.catalog.pinotc.controller_url", baseUrl)

    val tables = s2.sql("SHOW TABLES IN pinotc.default").collect()
      .map(_.getString(1))
    assert(tables.toSeq === Seq("ctrlStats"))
    val cnt = s2.sql("SELECT count(*) AS c FROM pinotc.default.ctrlStats")
      .head().getLong(0)
    assert(cnt === 300, "must read exactly the controller-listed segments")
    val sum = s2.sql("SELECT sum(hits) AS s FROM pinotc.default.ctrlStats")
      .head().getLong(0)
    assert(sum === hits.map(_.toLong).sum)
  }

  test("controller mode REALTIME fallback when OFFLINE empty") {
    val root = graft.TestDirs.create("pinot_ctrl_rt")
    val tableDir = root.resolve("rtStats_REALTIME")
    SegmentWriter.write(tableDir.resolve("seg0"), "rtStats", "seg0",
      Seq(SegmentWriter.IntCol("v", Array(1, 2, 3))))
    tablesResponse = (200, """{"tables": ["rtStats"]}""")
    segmentsResponse = (200, """[{"REALTIME": ["seg0"]}]""")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.pinotr", "graft.sources.pinot.PinotCatalog")
    s2.conf.set("spark.sql.catalog.pinotr.data_dir", root.toString)
    s2.conf.set("spark.sql.catalog.pinotr.controller_url", baseUrl)
    assert(s2.sql("SELECT count(*) AS c FROM pinotr.default.rtStats")
      .head().getLong(0) === 3)
  }

  test("controller cold open budget: per open, ONE listing + ONE manifest " +
      "GET, zero per-segment probes") {
    import graft.pinot.{CountingSegmentIO, LocalSegmentIO, SegmentIO, TableManifest}
    val root = graft.TestDirs.create("pinot_ctrl_budget")
    val tableDir = root.resolve("budStats_OFFLINE")
    (0 until 5).foreach { s =>
      SegmentWriter.write(tableDir.resolve(s"seg$s"), "budStats", s"seg$s",
        Seq(SegmentWriter.IntCol("v", Array.tabulate(100)(identity))))
    }
    TableManifest.refresh(tableDir)
    tablesResponse = (200, """{"tables": ["budStats"]}""")
    segmentsResponse = (200,
      """[{"OFFLINE": ["seg0", "seg1", "seg2", "seg3", "seg4"]}]""")
    val counting = new CountingSegmentIO(LocalSegmentIO)
    // the catalog routes through SegmentIO.forPath(data_dir) — match the
    // table ROOT, not the table dir
    SegmentIO.withOverride(_.startsWith(root.toString), counting) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.pcb", "graft.sources.pinot.PinotCatalog")
      s2.conf.set("spark.sql.catalog.pcb.data_dir", root.toString)
      s2.conf.set("spark.sql.catalog.pcb.controller_url", baseUrl)
      assert(s2.sql("SELECT count(*) AS c FROM pcb.default.budStats")
        .head().getLong(0) === 500)
    }
    // the r9 path probed exists() per segment (1-2 round trips each);
    // now the listing answers layout resolution and validates the
    // manifest, so every open costs exactly 1 listing + 1 GET
    assert(counting.count("exists") === 0, counting.calls)
    assert(counting.count("listFiles") === 0, counting.calls)
    assert(counting.count("listAll") === 0, counting.calls)
    assert(counting.count("size") === 0, counting.calls)
    val opens = counting.count("listTree")
    assert(opens >= 1, counting.calls)
    assert(counting.count("readFully") === opens,
      s"per-segment metadata GETs leaked past the manifest: ${counting.calls}")
  }
}

package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog configuration/validation edge cases (≙ reference catalog
  * builder tests, catalog.rs:349-485: missing source, bad dir, missing
  * URL).
  */
class PinotCatalogValidationSpec extends SparkTestBase {

  import scala.jdk.CollectionConverters._

  private def catalog(opts: Map[String, String]) = {
    val c = new graft.sources.pinot.PinotCatalog
    c.initialize("pinot_test", new CaseInsensitiveStringMap(opts.asJava))
    c
  }

  test("missing data_dir option fails initialization") {
    intercept[IllegalArgumentException](catalog(Map.empty))
  }

  test("nonexistent data_dir lists no tables (matches reference behavior)") {
    val c = catalog(Map("data_dir" -> "/no/such/dir"))
    assert(c.listTables(Array("default")).isEmpty)
  }

  test("unknown namespace raises NoSuchNamespaceException") {
    val c = catalog(Map("data_dir" -> "/tmp"))
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException](
      c.listTables(Array("nope")))
    assert(!c.namespaceExists(Array("nope")))
    assert(c.namespaceExists(Array("default")))
  }

  test("unknown table raises NoSuchTableException") {
    val dir = graft.TestDirs.create("empty_pinot")
    val c = catalog(Map("data_dir" -> dir.toString))
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException](
      c.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "missing")))
  }

  test("catalog is read-only: DDL attempts fail") {
    val c = catalog(Map("data_dir" -> "/tmp"))
    intercept[UnsupportedOperationException](
      c.dropTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "t")))
    intercept[UnsupportedOperationException](
      c.createNamespace(Array("x"), java.util.Collections.emptyMap()))
  }

  test("controller mode with unreachable URL fails lazily at lookup") {
    val c = catalog(Map("data_dir" -> "/tmp",
      "controller_url" -> "http://127.0.0.1:1")) // nothing listens on :1
    intercept[Exception](c.listTables(Array("default")))
  }
}

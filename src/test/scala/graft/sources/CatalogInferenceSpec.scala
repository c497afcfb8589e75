package graft.sources

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-based schema inference (Derby SYS.SYSCOLUMNS) must agree
  * with the generic probe path on every fixture table, and must detect
  * identity columns from the catalog itself. */
class CatalogInferenceSpec extends AnyFunSuite {

  private def conn = { DerbyFixture.init; DriverManager.getConnection(DerbyFixture.url) }

  private def opts(table: String) = RemoteOptions(Map(
    "url" -> DerbyFixture.url, "dbtable" -> table))

  test("catalog inference agrees with probe inference on fixture tables") {
    val c = conn
    try {
      for (t <- Seq("NATION", "SIMPLE_TABLE", "ALL_TYPES")) {
        val cat = DerbyDialect.catalogInference(c, Seq(t))
        assert(cat.isDefined, s"no catalog schema for $t")
        val probe = Jdbc.probeSchema(c, opts(t))
        assert(cat.get.fields.map(f => (f.name, f.tpe, f.nullable)) ==
          probe.fields.map(f => (f.name, f.tpe, f.nullable)),
          s"$t: catalog ${cat.get.fields} != probe ${probe.fields}")
      }
    } finally c.close()
  }

  test("identity columns come from AUTOINCREMENTVALUE, not the driver") {
    val c = conn
    try {
      val fields = DerbyDialect.catalogInference(c, Seq("SIMPLE_TABLE")).get.fields
      assert(fields.find(_.name == "ID").exists(_.autoIncrement))
      assert(fields.find(_.name == "NAME").exists(!_.autoIncrement))
    } finally c.close()
  }

  test("unknown table falls through to None (probe path takes over)") {
    val c = conn
    try assert(DerbyDialect.catalogInference(c, Seq("NO_SUCH_TABLE")).isEmpty)
    finally c.close()
  }

  test("type-descriptor parser covers the Derby rendering matrix") {
    import RemoteType._
    val p = DerbyDialect.parseTypeDescriptor _
    assert(p("INTEGER NOT NULL") == (RInt4, false))
    assert(p("VARCHAR(64)") == (RVarchar(64), true))
    assert(p("DECIMAL(10,2)") == (RDecimal(10, 2), true))
    assert(p("CHAR (8) FOR BIT DATA") == (RFixedBinary(8), true))
    assert(p("VARCHAR (32) FOR BIT DATA") == (RVarBinary(32), true))
    assert(p("LONG VARCHAR") == (RText, true))
    assert(p("CLOB(2147483647)") == (RText, true))
    assert(p("BLOB(2147483647)") == (RBinary, true))
    assert(p("TIMESTAMP NOT NULL") == (RTimestampNtz, false))
    assert(p("DOUBLE") == (RFloat8, true))
    assert(p("BOOLEAN") == (RBool, true))
  }
}

package graft.sources

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Derby keeps bit strings (`VARCHAR(n) FOR BIT DATA`) and BLOBs apart:
  * neither may be assigned to the other (SQLSTATE 42821). The literal
  * and staged writes must render each target's own binary type. */
class BitDataWriteSpec extends AnyFunSuite {
  private lazy val spark = { DerbyFixture.init; SparkTestSession.spark }

  private val targets = Seq(
    "VARBIT" -> "VARCHAR(16) FOR BIT DATA",
    "LONGBIT" -> "LONG VARCHAR FOR BIT DATA",
    "BLOBCOL" -> "BLOB")

  private val values: Seq[(Int, Array[Byte])] = Seq(
    1 -> Array[Byte](0, 1, -128, 127), 2 -> Array[Byte](), 3 -> Array[Byte](-1),
    4 -> null)

  private def exec(sql: String*): Unit = {
    val c = DriverManager.getConnection(DerbyFixture.url)
    try {
      val st = c.createStatement()
      sql.foreach(s =>
        try st.executeUpdate(s)
        catch { case e: java.sql.SQLException if s.startsWith("DROP") => () })
      st.close()
    } finally c.close()
  }

  /** Rows of `table` over plain JDBC, ordered by K. */
  private def readBack(table: String): Seq[(Int, Option[Seq[Byte]])] = {
    val c = DriverManager.getConnection(DerbyFixture.url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT K, B FROM $table ORDER BY K")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), Option(r.getBytes(2)).map(_.toSeq))).toList
    } finally c.close()
  }

  for ((mode, (tag, ddl)) <- Seq("literalinsert", "stagingwrite")
      .flatMap(m => targets.map(m -> _))) {
    test(s"$mode round-trips bytes into a $ddl column") {
      val table = s"BW_${mode.take(3).toUpperCase}_$tag"
      exec(s"DROP TABLE $table", s"CREATE TABLE $table (K INT, B $ddl)")
      import spark.implicits._
      values.toDF("K", "B").write.format("graft-remote")
        .option("url", DerbyFixture.url).option("dbtable", table)
        .option(mode, "true").mode("append").save()
      assert(readBack(table) == values.map { case (k, b) => (k, Option(b).map(_.toSeq)) })
    }
  }

  test("catalog inference and the probe agree on bit-string columns") {
    exec("DROP TABLE BW_TYPES", "CREATE TABLE BW_TYPES (F CHAR(4) FOR BIT DATA, " +
      "V VARCHAR(16) FOR BIT DATA, L LONG VARCHAR FOR BIT DATA, B BLOB)")
    val c = DriverManager.getConnection(DerbyFixture.url)
    try {
      val cat = DerbyDialect.catalogInference(c, Seq("BW_TYPES")).get.fields.map(_.tpe)
      val probe = Jdbc.probeSchema(c, RemoteOptions(Map(
        "url" -> DerbyFixture.url, "dbtable" -> "BW_TYPES"))).fields.map(_.tpe)
      import RemoteType._
      assert(cat == Seq(RFixedBinary(4), RVarBinary(16), RVarBinary(32700), RBinary))
      assert(probe == cat)
    } finally c.close()
  }
}

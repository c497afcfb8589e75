package graft.sources

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{DriverManager, ResultSet}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Transform whose iterator consumption calls `hasNext` TWICE per
  * element — legal per the Iterator contract (reference transforms own
  * the raw iterator, `transform.rs:86-167`); a reader whose `hasNext`
  * side-effects the JDBC cursor silently drops every other row here. */
class DoubleHasNextTransform extends Transform {
  def transformSchema(schema: StructType): StructType = schema
  def transform(rows: Iterator[Row], schema: StructType): Iterator[Row] =
    new Iterator[Row] {
      def hasNext: Boolean = rows.hasNext && rows.hasNext
      def next(): Row = rows.next()
    }
}

class Round2FixSpec extends AnyFunSuite {
  private lazy val spark = { DerbyFixture.init; SparkTestSession.spark }

  // ---- Transform-path hasNext idempotence -----------------------------

  test("transform iterator hasNext is idempotent (no row loss on double hasNext)") {
    // dedicated table: other specs append to the shared NATION fixture
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate("CREATE TABLE double_hasnext_t (k INT)")
    catch { case _: Exception => st.executeUpdate("DELETE FROM double_hasnext_t") }
    st.executeUpdate("INSERT INTO double_hasnext_t VALUES " +
      (0 until 10).map(i => s"($i)").mkString(", "))
    st.close(); c.close()
    val df = spark.read.format("graft-remote")
      .option("url", DerbyFixture.url)
      .option("dbtable", "DOUBLE_HASNEXT_T")
      .option("transformclass", "graft.sources.DoubleHasNextTransform")
      .load()
    assert(df.count() == 10)
    assert(df.select("K").collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 10))
  }

  test("default filterRename vetoes pushdown; Spark still evaluates the filter") {
    // DoubleHasNextTransform keeps the default (None): values COULD have
    // been rewritten, so filters must not push with Exact semantics.
    val df = spark.read.format("graft-remote")
      .option("url", DerbyFixture.url)
      .option("dbtable", "NATION")
      .option("transformclass", "graft.sources.DoubleHasNextTransform")
      .load()
      .filter(col("N_REGIONKEY") === 1)
    val desc = df.queryExecution.executedPlan.toString
    assert(!desc.contains("PushedFilters: [\"N_REGIONKEY\""), s"plan: $desc")
    assert(df.count() == 2)
  }

  // ---- ARRAY decode ----------------------------------------------------

  private def fakeSqlArray(elems: Array[AnyRef]): java.sql.Array =
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Array]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "getArray" => elems
            case "free" => null
            case other => throw new UnsupportedOperationException(other)
          }
      }).asInstanceOf[java.sql.Array]

  private def fakeRs(value: java.sql.Array): ResultSet =
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[ResultSet]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "getArray" => value
            case "wasNull" => java.lang.Boolean.valueOf(value == null)
            case other => throw new UnsupportedOperationException(other)
          }
      }).asInstanceOf[ResultSet]

  test("ARRAY decode: runtime value agrees with the declared ArrayType schema") {
    import RemoteType._
    val f = RemoteField("tags", RArray(RText))
    assert(f.tpe.toSpark == ArrayType(StringType, containsNull = true))
    val got = Jdbc.catalystGetter(f, f.tpe.toSpark)(
      fakeRs(fakeSqlArray(Array[AnyRef]("a", "b", null))), 1)
    val arr = got.asInstanceOf[ArrayData]
    assert(arr.numElements() == 3)
    assert(arr.getUTF8String(0) == UTF8String.fromString("a"))
    assert(arr.getUTF8String(1) == UTF8String.fromString("b"))
    assert(arr.isNullAt(2))
  }

  test("ARRAY decode: integer elements and primitive-array drivers") {
    import RemoteType._
    val f = RemoteField("ns", RArray(RInt4))
    // some drivers hand back a primitive int[] from java.sql.Array.getArray
    val prim = Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Array]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "getArray" => Array(7, 8, 9)
            case other => throw new UnsupportedOperationException(other)
          }
      }).asInstanceOf[java.sql.Array]
    val arr = Jdbc.catalystGetter(f, f.tpe.toSpark)(fakeRs(prim), 1)
      .asInstanceOf[ArrayData]
    assert(arr.toIntArray().toSeq == Seq(7, 8, 9))
    // the Transform sees the same value through Spark's Row conversion
    val ext = CatalystTypeConverters.createToScalaConverter(f.tpe.toSpark)(arr)
    assert(ext == Seq(7, 8, 9))
  }

  test("ARRAY decode: null column value decodes to null") {
    import RemoteType._
    val f = RemoteField("tags", RArray(RText))
    assert(Jdbc.catalystGetter(f, f.tpe.toSpark)(fakeRs(null), 1) == null)
  }

  // ---- Literalizer exotic types ---------------------------------------

  test("literalizer renders arrays element-wise (reference literalize.rs:382-462)") {
    import RemoteType._
    val f = RemoteField("xs", RArray(RInt4))
    val v = new GenericArrayData(Array[Any](1, 2, null))
    assert(DefaultLiteralizer.literal(v, f, ArrayType(IntegerType), PostgresDialect)
      == "ARRAY[1, 2, NULL]")
    val sf = RemoteField("ss", RArray(RText))
    val sv = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), UTF8String.fromString("it's")))
    assert(DefaultLiteralizer.literal(sv, sf, ArrayType(StringType), PostgresDialect)
      == "ARRAY['a', 'it''s']")
  }

  test("literalizer renders intervals, UUIDs and WKB geometry") {
    import RemoteType._
    val iv = new org.apache.spark.unsafe.types.CalendarInterval(2, 3, 4500000L)
    assert(DefaultLiteralizer.literal(iv, RemoteField("i", RInterval),
      CalendarIntervalType, PostgresDialect) ==
      "INTERVAL '2 months 3 days 4.5 seconds'")
    val uuid = Array.tabulate[Byte](16)(_.toByte)
    assert(DefaultLiteralizer.literal(uuid, RemoteField("u", RUuid),
      BinaryType, PostgresDialect) ==
      "'00010203-0405-0607-0809-0a0b0c0d0e0f'")
    val wkb = Array[Byte](1, 2)
    val geo = DefaultLiteralizer.literal(wkb, RemoteField("g", RGeometry),
      BinaryType, PostgresDialect)
    assert(geo.startsWith("ST_GeomFromWKB("), geo)
  }

  test("literalizer fails fast on unrenderable types instead of quoting toString") {
    val e = intercept[IllegalArgumentException] {
      DefaultLiteralizer.literal(Map.empty, RemoteField("m", RemoteType.RText),
        MapType(StringType, StringType), PostgresDialect)
    }
    assert(e.getMessage.contains("no SQL literal rendering"))
  }

  // ---- NULLs in range-partitioned scans --------------------------------

  test("range-partitioned scan keeps rows whose partition column is NULL") {
    val url = DerbyFixture.url
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    try st.executeUpdate(
      """CREATE TABLE nullable_part (
        | pk INT, payload VARCHAR(16))""".stripMargin)
    catch { case _: Exception => st.executeUpdate("DELETE FROM nullable_part") }
    st.executeUpdate(
      "INSERT INTO nullable_part VALUES (1,'a'), (5,'b'), (9,'c'), (NULL,'d')")
    st.close(); c.close()
    val df = spark.read.format("graft-remote")
      .option("url", url).option("dbtable", "NULLABLE_PART")
      .option("partitioncolumn", "PK").option("lowerbound", "0")
      .option("upperbound", "10").option("numpartitions", "3")
      .load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 4, "NULL partition-column row must not be dropped")
    assert(df.filter(col("PK").isNull).count() == 1)
  }
}

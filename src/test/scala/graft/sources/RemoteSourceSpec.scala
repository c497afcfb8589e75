package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Transform used by the transform tests: renames n_name -> name_up
  * (values unchanged, filters on it map back to n_name — reference
  * `integration-tests/tests/common.rs:251-277`) and appends a computed
  * column name_len (never pushable). */
class RenameTransform extends Transform {
  override def transformSchema(schema: StructType): StructType = {
    val renamed = schema.fields.map {
      case f if f.name.equalsIgnoreCase("n_name") => f.copy(name = "name_up")
      case f => f
    }
    StructType(renamed :+ StructField("name_len", IntegerType))
  }
  override def transform(rows: Iterator[Row], schema: StructType): Iterator[Row] = {
    val nameIdx = schema.fieldIndex("N_NAME")
    rows.map { r =>
      val name = r.getString(nameIdx)
      Row.fromSeq(r.toSeq :+ (if (name == null) null else name.length))
    }
  }
  override def filterRename(c: String): Option[String] = c match {
    case "name_up" => Some("N_NAME")
    case "name_len" => None
    case other => Some(other)
  }
}

/** Context-aware transform (reference `transform.rs:17-21` hands
  * db_type + table_schema + remote_schema): renders every column whose
  * REMOTE-native type is TIME as an "HH:mm:ss" string. The branch is
  * impossible from the Spark schema alone — TIME decodes to a µs-of-day
  * LongType indistinguishable from the plain BIGINT sitting next to it
  * in ALL_TYPES. The legacy no-ctx overloads throw, proving the source
  * calls the ctx forms. */
class TimeRenderTransform extends Transform {
  private def boom = throw new IllegalStateException(
    "source must call the ctx-taking overload")
  override def transformSchema(schema: StructType): StructType = boom
  override def transform(rows: Iterator[Row], schema: StructType): Iterator[Row] = boom

  private def timeCols(ctx: TransformContext): Set[String] =
    ctx.remoteSchema.fields
      .filter(_.tpe == RemoteType.RTime).map(_.name).toSet

  override def transformSchema(schema: StructType,
      ctx: TransformContext): StructType = {
    require(ctx.dbType == "derby", s"unexpected dbType ${ctx.dbType}")
    require(ctx.tableSchema == schema, "tableSchema must be the raw schema")
    val times = timeCols(ctx)
    StructType(schema.fields.map(f =>
      if (times(f.name)) f.copy(dataType = StringType) else f))
  }
  override def transform(rows: Iterator[Row], schema: StructType,
      ctx: TransformContext): Iterator[Row] = {
    val times = timeCols(ctx)
    val idx = schema.fields.zipWithIndex
      .collect { case (f, i) if times(f.name) => i }.toSet
    rows.map { r =>
      Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v: Long, i) if idx(i) =>
          val s = v / 1000000L
          f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d"
        case (v, _) => v
      })
    }
  }
  // values of TIME columns changed → veto their pushdown; everything
  // else passes through by name (also a remote-type-driven branch)
  override def filterRename(c: String, ctx: TransformContext): Option[String] =
    if (timeCols(ctx)(c)) None else Some(c)
}

/** Reads C_DEC through `Row.getDecimal` and appends it as DEC_SEEN:
  * Spark's Row API hands a DECIMAL column out as `java.math.BigDecimal`,
  * so a transform written against that API must see one. */
class DecimalReadTransform extends Transform {
  override def transformSchema(schema: StructType): StructType =
    schema.add("DEC_SEEN", DecimalType(10, 2))
  override def transform(rows: Iterator[Row], schema: StructType): Iterator[Row] = {
    val dec = schema.fieldIndex("C_DEC")
    rows.map(r => Row.fromSeq(r.toSeq :+ r.getDecimal(dec)))
  }
}

object DerbyFixture {
  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  val dbPath = s"/tmp/graft_derby_${System.nanoTime()}"
  val url = s"jdbc:derby:$dbPath;create=true"

  lazy val init: Unit = {
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE nation (
        | n_nationkey INT NOT NULL,
        | n_name VARCHAR(64) NOT NULL,
        | n_regionkey INT NOT NULL)""".stripMargin)
    val ins = c.prepareStatement("INSERT INTO nation VALUES (?, ?, ?)")
    val names = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
      "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA")
    names.zipWithIndex.foreach { case (n, i) =>
      ins.setInt(1, i); ins.setString(2, n); ins.setInt(3, i % 5)
      ins.addBatch()
    }
    ins.executeBatch()
    // reference simple_table shape with an identity (auto-increment) id
    st.executeUpdate(
      """CREATE TABLE simple_table (
        | id INT NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        | name VARCHAR(255) NOT NULL)""".stripMargin)
    st.executeUpdate(
      "INSERT INTO simple_table (name) VALUES ('Tom'), ('Jerry'), ('Spike')")
    // all-types round-trip table (reference supported_data_types shape)
    st.executeUpdate(
      """CREATE TABLE all_types (
        | c_int INT, c_bigint BIGINT, c_small SMALLINT,
        | c_double DOUBLE, c_real REAL, c_dec DECIMAL(10,2),
        | c_char CHAR(10), c_varchar VARCHAR(255), c_clob CLOB,
        | c_blob BLOB, c_date DATE, c_time TIME, c_ts TIMESTAMP,
        | c_bool BOOLEAN)""".stripMargin)
    val pi = c.prepareStatement(
      "INSERT INTO all_types VALUES (?,?,?,?,?,?,?,?,?,?,?,?,?,?)")
    pi.setInt(1, 42); pi.setLong(2, 1234567890123L); pi.setShort(3, 7)
    pi.setDouble(4, 3.25); pi.setFloat(5, 1.5f)
    pi.setBigDecimal(6, new java.math.BigDecimal("12345.67"))
    pi.setString(7, "chars"); pi.setString(8, "varchars")
    pi.setString(9, "a clob value")
    pi.setBytes(10, Array[Byte](1, 2, 3))
    pi.setDate(11, java.sql.Date.valueOf("2024-03-15"))
    pi.setTime(12, java.sql.Time.valueOf("10:30:45"))
    pi.setTimestamp(13, java.sql.Timestamp.valueOf("2024-03-15 10:30:45.123456"))
    pi.setBoolean(14, true)
    pi.executeUpdate()
    // all-NULL row (reference fixture always has one)
    (1 to 14).foreach(i => pi.setObject(i, null))
    pi.executeUpdate()
    // r21 surface: a view over nation — the connector must treat it
    // as any relation (schema inference + pushdowns compose with the
    // view's own predicate remotely)
    st.executeUpdate(
      "CREATE VIEW nation_view AS SELECT n_nationkey, n_name, n_regionkey " +
        "FROM nation WHERE n_regionkey < 3")
    st.close(); c.close()
  }
}

class RemoteSourceSpec extends AnyFunSuite {
  private lazy val spark = { DerbyFixture.init; SparkTestSession.spark }

  private def remote(extra: (String, String)*) = {
    var r = spark.read.format("graft-remote").option("url", DerbyFixture.url)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("table-source scan reads all rows with inferred schema") {
    val df = remote("dbtable" -> "NATION")
    assert(df.schema.fieldNames.toSeq ==
      Seq("N_NATIONKEY", "N_NAME", "N_REGIONKEY"))
    assert(df.count() == 10)
  }

  test("query-source scan (reference RemoteSource::Query)") {
    val df = remote("query" ->
      "SELECT n_name, n_regionkey FROM nation WHERE n_regionkey < 3")
    assert(df.schema.fieldNames.toSeq == Seq("N_NAME", "N_REGIONKEY"))
    assert(df.count() == 6)
  }

  test("remote VIEW scans like a table; aggregate pushes through it") {
    val df = remote("dbtable" -> "NATION_VIEW")
    assert(df.schema.fieldNames.toSeq ==
      Seq("N_NATIONKEY", "N_NAME", "N_REGIONKEY"))
    // the view's own WHERE (n_regionkey < 3) applies remotely
    assert(df.count() == 6)
    val agg = df.groupBy(col("N_REGIONKEY")).agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: true"), s"plan: $plan")
    assert(agg.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(0 -> 2, 1 -> 2, 2 -> 2))
  }

  test("filter pushdown is exact: compiled into remote SQL, visible in plan") {
    val df = remote("dbtable" -> "NATION")
      .filter(col("N_REGIONKEY") === 1 && col("N_NAME").startsWith("A"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("N_REGIONKEY"), s"plan: $plan")
    assert(df.collect().map(_.getString(1)).toSet == Set("ARGENTINA"))
  }

  test("scalar-fn filter pushdown (r19): LENGTH/LOWER ship as remote SQL") {
    // an OR tree mixing two scalar fns is inexpressible in the v1
    // Filter algebra — it must travel the v2 ScalarPredicateSQL path
    // as ONE pushed predicate (reference excludes ALL scalar fns,
    // transform.rs:53-77; this is beyond-reference surface)
    val df = remote("dbtable" -> "NATION")
      .filter(length(col("N_NAME")) === 6 || lower(col("N_NAME")) === "algeria")
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("LENGTH("), s"pushed: $pushed\nplan: $plan")
    assert(pushed.contains("LOWER("), s"pushed: $pushed")
    assert(df.collect().map(_.getString(1)).toSet ==
      Set("ALGERIA", "BRAZIL", "CANADA", "FRANCE"))
  }

  test("non-whitelisted scalar fn declines: Spark evaluates, rows correct") {
    // SQRT is deliberately absent from the whitelist (per-engine float
    // rounding on an Exact filter) — the predicate must stay Spark-side
    val df = remote("dbtable" -> "NATION")
      .filter(sqrt(col("N_REGIONKEY")) > 1.5)
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    assert(!pushed.contains("SQRT"), s"pushed: $pushed")
    val keys = df.collect().map(_.getInt(2))
    assert(keys.nonEmpty && keys.forall(k => math.sqrt(k) > 1.5))
  }

  test("limit pushdown") {
    val df = remote("dbtable" -> "NATION").limit(4)
    assert(df.count() == 4)
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("PushedLimit: 4") || df.count() == 4)
  }

  test("column pruning rewrites remote SELECT list") {
    val df = remote("dbtable" -> "NATION").select("N_NAME")
    assert(df.schema.fieldNames.toSeq == Seq("N_NAME"))
    assert(df.count() == 10)
  }

  test("empty projection keeps row counts correct (0-column scan)") {
    val df = remote("dbtable" -> "NATION").groupBy().count()
    assert(df.collect().head.getLong(0) == 10)
  }

  test("count(*) complete aggregate pushdown (reference count1_agg)") {
    val df = remote("dbtable" -> "NATION").agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(df.collect().head.getLong(0) == 10)
    assert(plan.contains("PushedAggregates: true"), s"plan: $plan")
  }

  test("min/max aggregate pushdown") {
    val df = remote("dbtable" -> "NATION")
      .agg(min(col("N_NATIONKEY")).as("lo"), max(col("N_NATIONKEY")).as("hi"))
    val row = df.collect().head
    assert(row.getInt(0) == 0 && row.getInt(1) == 9)
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedAggregates: true"))
  }

  test("pushed MIN/MAX over TIME decode by the column's remote type") {
    val all = remote("dbtable" -> "ALL_TYPES")
    val times = all.select("C_TIME").collect().filterNot(_.isNullAt(0))
      .map(_.getLong(0))
    assert(times.nonEmpty)
    val df = all.agg(min(col("C_TIME")), max(col("C_TIME")))
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedAggregates: true"))
    val row = df.collect().head
    assert((row.getLong(0), row.getLong(1)) == ((times.min, times.max)))
  }

  test("MIN over a structcol column stays Spark-side and equals Spark's own") {
    val table = "STRUCT_MIN"
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => () }
    st.executeUpdate(s"CREATE TABLE $table (K INT, J VARCHAR(128))")
    st.executeUpdate(s"""INSERT INTO $table VALUES
      | (1, '{"a": 3, "s": "x"}'), (2, '{"a": 1, "s": "z"}'),
      | (3, '{"a": 1, "s": "y"}'), (4, NULL)""".stripMargin)
    st.close(); c.close()
    val df = remote("dbtable" -> table, "structcol.J" -> "a INT, s STRING")
    val agg = df.agg(min(col("J")))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregates: false"))
    val read = df.select("J")
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(read.collect().toSeq), read.schema)
    val want = local.agg(min(col("J"))).collect().head
    assert(want.getStruct(0) == Row(1, "y"))
    assert(agg.collect().head == want)
  }

  test("GROUP BY complete aggregate pushdown: remote groups, no Spark agg") {
    val df = remote("dbtable" -> "NATION")
      .groupBy(col("N_REGIONKEY"))
      .agg(count(lit(1)).as("n"), min(col("N_NATIONKEY")).as("lo"),
        max(col("N_NATIONKEY")).as("hi"))
      .orderBy(col("N_REGIONKEY"))
    ScanSqlLog.clear()
    val rows = df.collect()
    // 10 nations, regionkey = i % 5 -> 5 groups of 2
    assert(rows.length == 5)
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSeq == (0 until 5).map(i => (i, 2L, i, i + 5)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupBy: [\"N_REGIONKEY\"]"), s"plan: $plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"Spark planned its own aggregate over a complete pushdown: $plan")
    assert(ScanSqlLog.recent.exists(_.contains("GROUP BY")),
      s"remote SQL missing GROUP BY: ${ScanSqlLog.recent}")
  }

  test("COUNT(DISTINCT col) complete aggregate pushdown") {
    val df = remote("dbtable" -> "NATION")
      .agg(countDistinct(col("N_REGIONKEY")).as("n_regions"),
        count(lit(1)).as("n"))
    ScanSqlLog.clear()
    val row = df.collect().head
    assert(row.getLong(0) == 5 && row.getLong(1) == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: true"), s"plan: $plan")
    assert(!plan.contains("HashAggregate"), s"plan: $plan")
    assert(ScanSqlLog.recent.exists(_.contains("COUNT(DISTINCT")),
      s"remote SQL missing COUNT(DISTINCT: ${ScanSqlLog.recent}")
  }

  test("filter + GROUP BY pushdown compose in one remote SQL") {
    val df = remote("dbtable" -> "NATION")
      .filter(col("N_NATIONKEY") < 6)
      .groupBy(col("N_REGIONKEY"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("N_REGIONKEY"))
    ScanSqlLog.clear()
    val rows = df.collect()
    // keys 0..5, regionkey = i % 5 -> region 0 has {0, 5}, 1..4 one each
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 2L), (1, 1L), (2, 1L), (3, 1L), (4, 1L)))
    val sql = ScanSqlLog.recent.filter(s => s.contains("GROUP BY"))
    assert(sql.exists(s => s.contains("WHERE") && s.contains("GROUP BY")),
      s"filter and grouping should share one remote query: ${ScanSqlLog.recent}")
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  test("GROUP BY pushdown declines unsupported shapes (Spark aggregates)") {
    // grouping by an expression (not a bare column) cannot push down
    val df = remote("dbtable" -> "NATION")
      .groupBy((col("N_REGIONKEY") % 2).as("parity"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("parity"))
    val rows = df.collect()
    assert(rows.map(r => r.getLong(1)).sum == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"expression grouping should stay Spark-side: $plan")
  }

  test("timestamp/date edge cases round-trip (reference timestamp_test shape)") {
    // reference fixture covers pre-epoch, year-0001, year-9999 and
    // sub-second precision (SURVEY §5, postgres_init.sql tail); the
    // proleptic-calendar boundary (pre-1582 dates) is where JDBC
    // Date/Timestamp vs java.time rebasing bugs live
    val table = "EDGE_TS"
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => () }
    st.executeUpdate(
      s"CREATE TABLE $table (ID INT NOT NULL, TS TIMESTAMP, DT DATE)")
    val edges = Seq(
      (1, "0001-01-03 00:00:00", "0001-01-03"),
      (2, "1582-10-04 12:00:00", "1582-10-04"), // Julian/Gregorian cutover eve
      (3, "1969-12-31 23:59:59.123456", "1969-12-31"), // pre-epoch
      (4, "1970-01-01 00:00:00", "1970-01-01"),
      (5, "9999-12-31 23:59:59.999999", "9999-12-31"))
    val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?)")
    edges.foreach { case (id, ts, dt) =>
      ps.setInt(1, id)
      ps.setTimestamp(2, java.sql.Timestamp.valueOf(ts))
      ps.setDate(3, java.sql.Date.valueOf(dt))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
    // source of truth: what the JDBC driver itself hands back
    val rs = st.executeQuery(s"SELECT ID, TS, DT FROM $table ORDER BY ID")
    val direct = Iterator.continually(rs).takeWhile(_.next()).map { r =>
      (r.getInt(1), r.getTimestamp(2).toLocalDateTime, r.getDate(3).toLocalDate)
    }.toSeq
    rs.close(); st.close(); c.close()
    // the scan must agree with the driver value-for-value
    val got = remote("dbtable" -> table)
      .orderBy(col("ID")).collect().map { r =>
        // DateType's external type is java.sql.Date under the default
        // (non-java8API) setting — normalize to LocalDate
        (r.getInt(0), r.getAs[java.time.LocalDateTime](1),
          r.getDate(2).toLocalDate)
      }.toSeq
    assert(got == direct, s"$got vs $direct")
  }

  test("multi-partition range scan returns the same rows") {
    val df = remote("dbtable" -> "NATION",
      "partitioncolumn" -> "N_NATIONKEY", "lowerbound" -> "0",
      "upperbound" -> "10", "numpartitions" -> "3")
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 10)
    assert(df.select("N_NATIONKEY").collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 10))
  }

  test("all-types round trip incl. all-NULL row (reference fixture shape)") {
    val df = remote("dbtable" -> "ALL_TYPES")
    val rows = df.orderBy(col("C_INT").asc_nulls_last).collect()
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getAs[Int]("C_INT") == 42)
    assert(r.getAs[Long]("C_BIGINT") == 1234567890123L)
    assert(r.getAs[Short]("C_SMALL") == 7)
    assert(r.getAs[Double]("C_DOUBLE") == 3.25)
    assert(r.getAs[Float]("C_REAL") == 1.5f)
    assert(r.getAs[java.math.BigDecimal]("C_DEC")
      .compareTo(new java.math.BigDecimal("12345.67")) == 0)
    assert(r.getAs[String]("C_CHAR") == "chars".padTo(10, ' '))
    assert(r.getAs[String]("C_VARCHAR") == "varchars")
    assert(r.getAs[String]("C_CLOB") == "a clob value")
    assert(r.getAs[Array[Byte]]("C_BLOB").toSeq == Seq[Byte](1, 2, 3))
    assert(r.getAs[java.sql.Date]("C_DATE").toString == "2024-03-15")
    // TIME convention: µs since midnight as Long (SURVEY §1.4)
    assert(r.getAs[Long]("C_TIME") ==
      (10L * 3600 + 30 * 60 + 45) * 1000000L)
    assert(r.getAs[java.time.LocalDateTime]("C_TS") ==
      java.time.LocalDateTime.parse("2024-03-15T10:30:45.123456"))
    assert(r.getAs[Boolean]("C_BOOL"))
    assert(r.length == 14, "every ALL_TYPES column is asserted above")
    val nullRow = rows(1)
    assert((0 until nullRow.length).forall(nullRow.isNullAt))
  }

  test("timestamp is TZ-naive (TimestampNTZType) like reference Timestamp(µs,None)") {
    val df = remote("dbtable" -> "ALL_TYPES")
    assert(df.schema("C_TS").dataType == TimestampNTZType)
    val v = df.filter(col("C_INT").isNotNull).select("C_TS")
      .collect().head.getAs[java.time.LocalDateTime](0)
    assert(v == java.time.LocalDateTime.parse("2024-03-15T10:30:45.123456"))
  }

  test("failed write task rolls back every flushed batch (task atomicity)") {
    import spark.implicits._
    val table = "TX_ROLLBACK"
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => () }
    st.executeUpdate(s"CREATE TABLE $table (ID INT NOT NULL)")
    st.close(); c.close()
    // one partition, batchsize 2: batch {1,2} flushes fine, then the
    // NULL violates NOT NULL and fails the task mid-write
    val bad = Seq[Integer](1, 2, 3, null).toDF("ID").coalesce(1)
    intercept[Exception] {
      bad.write.format("graft-remote")
        .option("url", DerbyFixture.url).option("dbtable", table)
        .option("batchsize", "2")
        .mode("append").save()
    }
    val back = remote("dbtable" -> table)
    assert(back.count() == 0,
      "a failed task must not leave its earlier flushed batches behind")
    // and a clean write through the same path still lands
    Seq[Integer](7, 8).toDF("ID").coalesce(1)
      .write.format("graft-remote")
      .option("url", DerbyFixture.url).option("dbtable", table)
      .mode("append").save()
    assert(remote("dbtable" -> table).count() == 2)
  }

  test("staged write (stagingwrite=true) is job-atomic and cleans up") {
    import spark.implicits._
    val table = "STG_TGT"
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => () }
    st.executeUpdate(s"CREATE TABLE $table (ID INT NOT NULL)")
    st.close(); c.close()
    def stagingTables: Seq[String] = remote("command" -> "list_tables")
      .collect().map(_.getString(0)).filter(_.startsWith("GRAFT_STG")).toSeq
    // FAILURE: the NULL passes into nullable staging, then the job-commit
    // INSERT..SELECT violates the target's NOT NULL -> one rollback, so
    // the rows the healthy partition wrote never became visible
    intercept[Exception] {
      Seq[Integer](1, 2, 3, null).toDF("ID").repartition(2)
        .write.format("graft-remote")
        .option("url", DerbyFixture.url).option("dbtable", table)
        .option("stagingwrite", "true")
        .mode("append").save()
    }
    assert(remote("dbtable" -> table).count() == 0,
      "job-atomic append must be all-or-nothing")
    assert(stagingTables.isEmpty, "staging table must be dropped on failure")
    // SUCCESS: everything lands exactly once, staging dropped
    Seq[Integer](5, 6, 7).toDF("ID").repartition(2)
      .write.format("graft-remote")
      .option("url", DerbyFixture.url).option("dbtable", table)
      .option("stagingwrite", "true")
      .mode("append").save()
    assert(remote("dbtable" -> table).collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(5, 6, 7))
    assert(stagingTables.isEmpty, "staging table must be dropped on success")
  }

  test("staged write strips all-NULL identity columns at job scope") {
    import spark.implicits._
    val table = "STG_IDENT"
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => () }
    st.executeUpdate(
      s"""CREATE TABLE $table (
         | id INT NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
         | name VARCHAR(64) NOT NULL)""".stripMargin)
    st.close(); c.close()
    Seq((null: Integer, "staged_a"), (null: Integer, "staged_b"))
      .toDF("ID", "NAME")
      .write.format("graft-remote")
      .option("url", DerbyFixture.url).option("dbtable", table)
      .option("stagingwrite", "true")
      .mode("append").save()
    val back = remote("dbtable" -> table).collect()
    // Derby generated the ids (GENERATED ALWAYS rejects explicit values)
    assert(back.length == 2 && back.forall(!_.isNullAt(0)))
    assert(back.map(_.getInt(0)).distinct.length == 2)
  }

  test("append write via PreparedStatement batch, then read back") {
    import spark.implicits._
    val df = Seq((100, "ZAMBIA", 4), (101, "ZIMBABWE", 4))
      .toDF("N_NATIONKEY", "N_NAME", "N_REGIONKEY")
    df.write.format("graft-remote").option("url", DerbyFixture.url)
      .option("dbtable", "NATION").mode("append").save()
    val back = remote("dbtable" -> "NATION")
      .filter(col("N_NATIONKEY") >= 100)
    assert(back.count() == 2)
  }

  test("auto-increment stripping: writing NULL ids lets Derby generate them") {
    // id is GENERATED ALWAYS: an INSERT naming it would fail — proof the
    // writer strips all-NULL auto-increment columns (reference insert.rs:157-205)
    val schema = StructType(Seq(
      StructField("ID", IntegerType, nullable = true),
      StructField("NAME", StringType, nullable = false)))
    val data = spark.createDataFrame(
      java.util.List.of(Row(null, "Tyke"), Row(null, "Quacker")), schema)
    data.write.format("graft-remote").option("url", DerbyFixture.url)
      .option("dbtable", "SIMPLE_TABLE").mode("append").save()
    val back = remote("dbtable" -> "SIMPLE_TABLE")
    assert(back.count() == 5)
    assert(back.filter(col("NAME") === "Tyke").count() == 1)
    // generated ids are distinct and non-null
    assert(back.select("ID").collect().map(_.getInt(0)).distinct.length == 5)
  }

  test("literal-SQL insert mode (reference Literalize path)") {
    import spark.implicits._
    val df = Seq((200, "KENYA", 0)).toDF("N_NATIONKEY", "N_NAME", "N_REGIONKEY")
    df.write.format("graft-remote").option("url", DerbyFixture.url)
      .option("dbtable", "NATION").option("literalinsert", "true")
      .mode("append").save()
    assert(remote("dbtable" -> "NATION")
      .filter(col("N_NAME") === "KENYA").count() == 1)
  }

  test("overwrite mode is rejected (reference table.rs:434-441)") {
    import spark.implicits._
    val df = Seq((1, "X", 0)).toDF("N_NATIONKEY", "N_NAME", "N_REGIONKEY")
    val e = intercept[Exception] {
      df.write.format("graft-remote").option("url", DerbyFixture.url)
        .option("dbtable", "NATION").mode("overwrite").save()
    }
    assert(e.getMessage.toLowerCase.contains("truncate") ||
      e.getMessage.toLowerCase.contains("overwrite"))
  }

  test("allowoverwrite=true: truncate-and-append, direct and staged") {
    import spark.implicits._
    val table = "OVW_TGT"
    val c = DriverManager.getConnection(DerbyFixture.url)
    val st = c.createStatement()
    try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => () }
    st.executeUpdate(s"CREATE TABLE $table (ID INT NOT NULL)")
    st.close(); c.close()
    def write(ids: Seq[Integer], staged: Boolean): Unit =
      ids.toDF("ID").write.format("graft-remote")
        .option("url", DerbyFixture.url).option("dbtable", table)
        .option("allowoverwrite", "true")
        .option("stagingwrite", staged.toString)
        .mode("overwrite").save()
    write(Seq(1, 2, 3), staged = false)
    write(Seq(7, 8), staged = false) // direct replace: old rows gone
    assert(remote("dbtable" -> table).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(7, 8))
    write(Seq(11, 12, 13), staged = true) // atomic staged replace
    assert(remote("dbtable" -> table).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(11, 12, 13))
    // a failed staged overwrite must leave the OLD rows intact (the
    // DELETE shares the aborted transaction)
    val c2 = DriverManager.getConnection(DerbyFixture.url)
    val st2 = c2.createStatement()
    st2.executeUpdate(s"ALTER TABLE $table ADD CONSTRAINT OVW_POS CHECK (ID > 0)")
    st2.close(); c2.close()
    intercept[Exception] { write(Seq(21, -1), staged = true) }
    assert(remote("dbtable" -> table).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(11, 12, 13),
      "failed staged overwrite must keep the previous rows")
    // append mode still appends under allowoverwrite
    Seq[Integer](14).toDF("ID").write.format("graft-remote")
      .option("url", DerbyFixture.url).option("dbtable", table)
      .option("allowoverwrite", "true").mode("append").save()
    assert(remote("dbtable" -> table).count() == 4)
  }

  test("transform renames/adds columns; filters on renamed column still push down") {
    val df = remote("dbtable" -> "NATION",
      "transformclass" -> "graft.sources.RenameTransform")
    assert(df.schema.fieldNames.toSeq ==
      Seq("N_NATIONKEY", "name_up", "N_REGIONKEY", "name_len"))
    val filtered = df.filter(col("name_up") === "BRAZIL")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("n_name") || plan.contains("N_NAME"), s"plan: $plan")
    val row = filtered.collect().head
    assert(row.getAs[String]("name_up") == "BRAZIL")
    assert(row.getAs[Int]("name_len") == 6)
  }

  test("transform receives dialect + remote-native schema (reference " +
      "transform.rs:17-21): branch on TIME-as-long vs plain BIGINT") {
    val df = remote("dbtable" -> "ALL_TYPES",
      "transformclass" -> "graft.sources.TimeRenderTransform")
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // both are LongType in the RAW Spark schema; only the remote schema
    // tells them apart — C_TIME got rendered, C_BIGINT untouched
    assert(byName("C_TIME") == StringType, s"schema: ${df.schema}")
    assert(byName("C_BIGINT") == LongType)
    val rows = df.select(col("C_TIME"), col("C_BIGINT"))
      .collect().sortBy(r => Option(r.getAs[String](0)).getOrElse(""))
    assert(rows.map(_.getAs[String]("C_TIME")).toSeq == Seq(null, "10:30:45"))
    assert(rows(1).getAs[Long]("C_BIGINT") == 1234567890123L)
    // pushdown: a filter on the rendered TIME column is vetoed (filter
    // still applied by Spark), one on an untouched column pushes down
    assert(df.filter(col("C_TIME") === "10:30:45").count() == 1)
    val pushed = df.filter(col("C_INT") === 42)
    assert(pushed.count() == 1)
  }

  test("transform rows follow Spark's Row types: getDecimal reads a decimal") {
    val df = remote("dbtable" -> "ALL_TYPES",
      "transformclass" -> "graft.sources.DecimalReadTransform")
    val seen = df.filter(col("C_INT") === 42).select("DEC_SEEN").collect()
    assert(seen.map(_.getDecimal(0)).toSeq ==
      Seq(new java.math.BigDecimal("12345.67")))
  }

  test("a transform scan logs its remote SQL like a plain scan") {
    ScanSqlLog.clear()
    remote("dbtable" -> "NATION",
      "transformclass" -> "graft.sources.RenameTransform").collect()
    assert(ScanSqlLog.recent.exists(q =>
      q.startsWith("SELECT") && q.contains("NATION")), ScanSqlLog.recent)
  }

  test("filter on computed transform column is NOT pushed but still correct") {
    val df = remote("dbtable" -> "NATION",
      "transformclass" -> "graft.sources.RenameTransform")
      .filter(col("name_len") === 5 && col("N_NATIONKEY") < 100)
    assert(df.collect().map(_.getAs[String]("name_up")).toSet ==
      Set("EGYPT", "INDIA"))
  }

  test("list_tables metadata command (reference ListMdbTables)") {
    val df = remote("command" -> "list_tables")
    val names = df.collect().map(_.getString(0)).toSet
    assert(names.contains("NATION") && names.contains("SIMPLE_TABLE"))
    assert(df.schema.fieldNames.toSeq == Seq("table_name", "table_type"))
  }

  test("statistics: exact COUNT with pushed filters (reference O5)") {
    val n = Jdbc.count(
      RemoteOptions(Map("url" -> DerbyFixture.url, "dbtable" -> "NATION")),
      Seq("\"N_REGIONKEY\" = 1"))
    assert(n == 2)
  }

  test("enablestatistics: the scan's row count is the exact pushed-filter " +
      "count, capped by a pushed limit; absent without the option") {
    def scan(df: org.apache.spark.sql.DataFrame) = {
      val scans = df.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => s
      }
      assert(scans.size == 1, df.queryExecution.optimizedPlan.toString)
      scans.head
    }
    def nation(extra: (String, String)*) =
      remote(("dbtable" -> "NATION") +: extra: _*)
        .filter(col("N_REGIONKEY") === 1)
    val filtered = nation("enablestatistics" -> "true")
    val s = scan(filtered)
    assert(s.scan.description().contains("PushedFilters: [\"N_REGIONKEY\" = 1]"),
      s.scan.description())
    val exact = nation().count()
    assert(exact == 2)
    assert(s.stats.rowCount.contains(BigInt(exact)))
    Seq(1 -> 1L, 100 -> exact).foreach { case (n, rows) =>
      val limited = scan(filtered.limit(n))
      assert(limited.scan.description().contains(s"PushedLimit: $n"),
        limited.scan.description())
      assert(limited.stats.rowCount.contains(BigInt(rows)), s"limit $n")
    }
    assert(scan(nation()).stats.rowCount.isEmpty)
  }

  test("no connection leaks across scans (reference pool lifecycle test)") {
    remote("dbtable" -> "NATION").count()
    remote("dbtable" -> "NATION").filter(col("N_REGIONKEY") === 0).collect()
    val (opened, closed) = GraftConnections.state
    assert(opened == closed, s"opened=$opened closed=$closed")
  }

  test("a scan whose remote execute fails returns its connection") {
    DerbyFixture.init
    val (opened0, closed0) = GraftConnections.state
    intercept[java.sql.SQLException] {
      new FastRowReader(
        RemoteOptions(Map("url" -> DerbyFixture.url, "dbtable" -> "NATION")),
        "SELECT NO_SUCH_COLUMN FROM NATION", Nil, new StructType())
    }
    val (opened, closed) = GraftConnections.state
    assert((opened - opened0, closed - closed0) == ((1L, 1L)))
  }

  test("a filtered single-table read probes the remote schema once") {
    // one borrow for the schema probe at load, one for the reader: the
    // table reuses the schema the load inferred instead of probing again
    val before = GraftConnections.opened.get
    val rows = remote("dbtable" -> "NATION")
      .filter(col("N_REGIONKEY") === 0).collect()
    assert(rows.nonEmpty)
    val borrows = GraftConnections.opened.get - before
    assert(borrows == 2, s"expected 2 connection borrows, saw $borrows")
  }

  test("dialect SQL generation matches reference rewrite shapes") {
    val d = PostgresDialect
    val t = RemoteSource.TableRef(Seq("public", "t"))
    assert(d.rewriteQuery(t, Seq("\"a\" > 1"), Some(5), Some(Seq("a", "b"))) ==
      """SELECT "a", "b" FROM "public"."t" WHERE ("a" > 1) LIMIT 5""")
    val q = RemoteSource.Query("SELECT * FROM t")
    assert(d.rewriteQuery(q, Nil, None, None) ==
      "SELECT * FROM (SELECT * FROM t) AS __subquery")
    assert(OracleDialect.rewriteQuery(t, Nil, Some(3), None) ==
      """SELECT * FROM (SELECT * FROM "public"."t") WHERE ROWNUM <= 3""")
    assert(DerbyDialect.rewriteQuery(t, Nil, Some(3), None) ==
      """SELECT * FROM "public"."t" FETCH NEXT 3 ROWS ONLY""")
    assert(MySqlDialect.quote("we`ird") == "`we``ird`")
    assert(d.countQuery(t, Seq("x = 1")) ==
      """SELECT COUNT(1) FROM "public"."t" WHERE (x = 1)""")
    // non-SELECT queries are not rewritable (reference mod.rs:239-248)
    assert(!d.isRewritable(RemoteSource.Query("SHOW TABLES")))
  }

  test("filter compiler covers the sources.Filter algebra") {
    import org.apache.spark.sql.sources._
    val d = SqliteDialect
    assert(d.compileFilter(EqualTo("a", 5)).contains("\"a\" = 5"))
    assert(d.compileFilter(In("a", Array(1, 2))).contains("\"a\" IN (1, 2)"))
    assert(d.compileFilter(And(IsNull("a"), GreaterThan("b", 1.5)))
      .contains("(\"a\" IS NULL) AND (\"b\" > 1.5)"))
    assert(d.compileFilter(StringContains("s", "x%y"))
      .contains("\"s\" LIKE '%x\\%y%' ESCAPE '\\'"))
    assert(d.compileFilter(Not(EqualTo("a", "it's")))
      .contains("NOT (\"a\" = 'it''s')"))
    // NaN can't be rendered portably -> refused
    assert(d.compileFilter(EqualTo("a", Double.NaN)).isEmpty)
  }
}

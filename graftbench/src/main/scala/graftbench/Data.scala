package graftbench

import java.sql.{Connection, Timestamp}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same rows; the
  * program under test only ever sees the generated inputs. */
object Data {
  private def rnd(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  val vocab: IndexedSeq[String] = ("join hash row batch scan column customer filter small slow " +
    "merge order vector line table data agg value key stream window a spark part group big " +
    "sort query fast the").split(" ").toIndexedSeq

  private def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")

  // ---- the reference benchmark's 6-column mixed schema --------------

  /** (INT, DOUBLE, ~200 B binary, ~200 B text, JSON text, TIMESTAMP).
    * Doubles are multiples of 1/4 so every sum is exact in any order. */
  final case class Mixed(cInt: Int, cDouble: Double, cBytes: Array[Byte],
      cText: String, cJson: String, cTs: Timestamp)

  val mixedDdl: String =
    "(C_INT INT, C_DOUBLE DOUBLE, C_BYTES VARCHAR(256) FOR BIT DATA, " +
      "C_TEXT VARCHAR(320), C_JSON VARCHAR(96), C_TS TIMESTAMP)"

  /** Write targets hold the binary column as BLOB(1K), the type the
    * connector's literal and staged write paths render for binary
    * values (the repo's ConnectorBench uses the same DDL). */
  val mixedWriteDdl: String =
    "(C_INT INT, C_DOUBLE DOUBLE, C_BYTES BLOB(1K), " +
      "C_TEXT VARCHAR(320), C_JSON VARCHAR(96), C_TS TIMESTAMP)"

  val mixedSchema: StructType = StructType(Seq(
    StructField("C_INT", IntegerType), StructField("C_DOUBLE", DoubleType),
    StructField("C_BYTES", BinaryType), StructField("C_TEXT", StringType),
    StructField("C_JSON", StringType), StructField("C_TS", TimestampType)))

  private val tsBase = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  def mixed(seed: Long, salt: Long, keys: Seq[Int]): IndexedSeq[Mixed] = {
    val r = rnd(seed, salt)
    keys.toIndexedSeq.map { k =>
      val bytes = new Array[Byte](190 + r.nextInt(21))
      var i = 0
      while (i < bytes.length) { bytes(i) = r.nextInt(256).toByte; i += 1 }
      val text = {
        val b = new StringBuilder
        while (b.length < 190 + r.nextInt(20)) b ++= vocab(r.nextInt(vocab.size)) += ' '
        b.result().trim
      }
      // ~1 in 10 payloads is a JSON array, so the fn-filter on the
      // first character selects a strict subset
      val json =
        if (r.nextInt(10) == 0) s"""[${r.nextInt(1000)},"t${r.nextInt(50)}"]"""
        else s"""{"k":${r.nextInt(1000)},"tag":"t${r.nextInt(50)}"}"""
      Mixed(k, r.nextInt(400000) * 0.25, bytes, text, json,
        new Timestamp(tsBase + k * 37000L + r.nextInt(1000)))
    }
  }

  def mixedRow(m: Mixed): Row = Row(m.cInt, m.cDouble, m.cBytes, m.cText, m.cJson, m.cTs)

  /** Plain-JDBC bulk load (one batch, one commit): fixture loads never
    * time the connector's own write path. */
  def loadMixed(c: Connection, table: String, rows: Seq[Mixed]): Unit = {
    val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?,?,?,?,?,?)")
    try {
      rows.foreach { m =>
        ps.setInt(1, m.cInt); ps.setDouble(2, m.cDouble); ps.setBytes(3, m.cBytes)
        ps.setString(4, m.cText); ps.setString(5, m.cJson); ps.setTimestamp(6, m.cTs)
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  // ---- the star schema on the remote (sf0.1 dimension sizes) --------

  def loadStar(c: Connection, seed: Long): Unit = {
    val st = c.createStatement()
    Seq(
      "CREATE TABLE REGION (R_REGIONKEY INT, R_NAME VARCHAR(32))",
      "CREATE TABLE NATION (N_NATIONKEY INT, N_NAME VARCHAR(64), N_REGIONKEY INT)",
      "CREATE TABLE SUPPLIER (S_SUPPKEY BIGINT, S_NAME VARCHAR(64), S_NATIONKEY INT, S_ACCTBAL DOUBLE)",
      "CREATE TABLE CUSTOMER (C_CUSTKEY BIGINT, C_NAME VARCHAR(64), C_NATIONKEY INT, " +
        "C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(16))").foreach(st.executeUpdate)
    st.close()
    def batch(sql: String, n: Int)(set: (java.sql.PreparedStatement, Int) => Unit): Unit = {
      val ps = c.prepareStatement(sql)
      (0 until n).foreach { i => set(ps, i); ps.addBatch() }
      ps.executeBatch(); ps.close()
    }
    batch("INSERT INTO REGION VALUES (?,?)", 5) { (p, i) => p.setInt(1, i); p.setString(2, regions(i)) }
    batch("INSERT INTO NATION VALUES (?,?,?)", 25) { (p, i) =>
      p.setInt(1, i); p.setString(2, s"NATION_$i"); p.setInt(3, i % 5) }
    val rs = rnd(seed, 11)
    batch("INSERT INTO SUPPLIER VALUES (?,?,?,?)", 1000) { (p, i) =>
      p.setLong(1, i); p.setString(2, f"Supplier#$i%09d"); p.setInt(3, rs.nextInt(25))
      p.setDouble(4, (rs.nextInt(44000) - 4000) * 0.25) }
    val rc = rnd(seed, 12)
    batch("INSERT INTO CUSTOMER VALUES (?,?,?,?,?)", 15000) { (p, i) =>
      p.setLong(1, i); p.setString(2, f"Customer#$i%09d"); p.setInt(3, rc.nextInt(25))
      p.setDouble(4, (rc.nextInt(44000) - 4000) * 0.25)
      p.setString(5, segments(rc.nextInt(segments.size))) }
  }

  private val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  // ---- the parquet fixture the local gates read ---------------------

  /** Row counts of the local-analytics fixture: the repo's sf0.001
    * TESTDATA shape for the tables the gates read, with 200 documents. */
  val localRows: Map[String, Int] = Map(
    "customer" -> 150, "orders" -> 1500, "lineitem" -> 6000, "documents" -> 200)

  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double =
    (lo + r.nextInt(hi - lo)) / 100.0

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  /** The parquet tables of [[localRows]], with the schemas of the repo's
    * TESTDATA fixtures; each table draws from its own seeded stream. */
  def writeLocal(spark: SparkSession, dir: String, seed: Long): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)
    val n = localRows

    val rc = rnd(seed, 21)
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(rc, -99999, 1000000), segments(rc.nextInt(segments.size)))))

    val prio = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rnd(seed, 24)
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until n("orders")).map(i => Row(i.toLong, ro.nextInt(n("customer")).toLong,
        "FOP".charAt(ro.nextInt(3)).toString, cents(ro, 100000, 50000000),
        day0.plusDays(ro.nextInt(2400)), prio(ro.nextInt(prio.size)))))

    val rl = rnd(seed, 25)
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until n("lineitem")).map(_ => Row(rl.nextInt(n("orders")).toLong,
        rl.nextInt(200).toLong, rl.nextInt(10).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, cents(rl, 90000, 10500000), rl.nextInt(11) / 100.0,
        rl.nextInt(9) / 100.0, "ANR".charAt(rl.nextInt(3)).toString,
        "FO".charAt(rl.nextInt(2)).toString, day0.plusDays(1 + rl.nextInt(2400)))))

    val langs = IndexedSeq("en", "en", "en", "es", "fr", "de", "zh")
    val rd = rnd(seed, 27)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until n("documents")).map { i =>
        // ~1 in 20 documents is a lightly edited copy of an earlier one,
        // so the dedup operators have near-duplicates to find
        val t =
          if (i > 10 && rd.nextInt(20) == 0) {
            val ws = texts(rd.nextInt(texts.size)).split(" ")
            ws(rd.nextInt(ws.length)) = "dup"
            ws.mkString(" ")
          } else words(rd, 8 + rd.nextInt(80))
        texts += t
        Row(i.toLong, t, langs(rd.nextInt(langs.size)), s"src${rd.nextInt(20)}", t.length.toLong)
      })
  }
}

package graftbench

import java.io.File
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GraftConnectionPool, RemoteOptions, ScanCodec}
import graft.operators.SampleOps

/** Embedded Derby database in a directory of the checkout. Default
  * durability: the log is synced at every commit. */
final class Derby(dir: File) {
  val path: String = new File(dir, "remote").getAbsolutePath
  val url: String = s"jdbc:derby:$path"
  def connect(): Connection = DriverManager.getConnection(url)
  def create(): Connection = DriverManager.getConnection(url + ";create=true")
  def shutdown(): Unit = {
    GraftConnectionPool.drainAll()
    try DriverManager.getConnection(url + ";shutdown=true")
    catch { case _: java.sql.SQLException => () } // 08006 = clean shutdown
  }
  def digest(sql: String): String = {
    val c = connect()
    try Check.ofQuery(c, sql) finally c.close()
  }
  /** Run a query and read every column of every row; wall ms. */
  def drain(sql: String): Double = {
    val c = connect()
    try {
      val t0 = System.nanoTime()
      val st = c.createStatement()
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      while (rs.next()) { var i = 1; while (i <= n) { rs.getObject(i); i += 1 } }
      rs.close(); st.close()
      (System.nanoTime() - t0) / 1e6
    } finally c.close()
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(FederatedRead, RemoteWrite, LocalAnalytics)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n (have ${all.map(_.name).mkString(", ")}, all)"))

  def connectorOpts(url: String, nproc: Int): Map[String, String] =
    Map("url" -> url, "poolmaxsize" -> nproc.toString)

  def collectDigest(df: DataFrame, byName: Boolean = false): Outcome = {
    val rows = df.collect().toSeq
    val names = df.columns.toSeq
    Outcome(() => Check.ofRows(names, rows, byName), rows.length)
  }
}

/** Connector read shapes over an embedded Derby remote. */
object FederatedRead extends Workload {
  import Workloads._
  val name = "federated_read"
  val minSteadyPasses = 4
  val warmPasses = 4
  val settlePasses = 6
  /** MIXED rows: ~8 MB of 4 KB pages against Derby's default page
    * cache of 1000 pages (4 MB), so full scans read past the cache. */
  val mixedRows = 12000

  final class F(val derby: Derby, spark: SparkSession, seed: Long, val nproc: Int) extends Fixture {
    val opts: Map[String, String] = connectorOpts(derby.url, nproc)
    override val remote: Option[RemoteOptions] = Some(RemoteOptions(opts))
    var ops: Seq[Op] = Nil
    override def replay(sql: String): Double = derby.drain(sql)
    override def info: Map[String, Any] = Map("mixed_rows" -> mixedRows,
      "star_rows" -> Map("REGION" -> 5, "NATION" -> 25, "SUPPLIER" -> 1000, "CUSTOMER" -> 15000))
    override def close(): Unit = derby.shutdown()

    def read(ctx: OpCtx, table: String, extra: (String, String)*): DataFrame =
      ctx.load(spark.read.format("graft-remote").options(opts)
        .option("dbtable", table).options(extra.toMap))
  }

  def setup(spark: SparkSession, dir: File, seed: Long, nproc: Int): Fixture = {
    val derby = new Derby(dir)
    val c = derby.create()
    try {
      c.setAutoCommit(false)
      c.createStatement().executeUpdate(s"CREATE TABLE MIXED ${Data.mixedDdl}")
      Data.loadMixed(c, "MIXED", Data.mixed(seed, 1, 0 until mixedRows))
      Data.loadStar(c, seed)
      c.commit()
    } finally c.close()
    new F(derby, spark, seed, nproc)
  }

  override def prepare(fx: Fixture): Unit = {
    val f = fx.asInstanceOf[F]
    val d = f.derby
    val lo = 1000
    val n = mixedRows
    val all6 = "C_INT, C_DOUBLE, C_BYTES, C_TEXT, C_JSON, C_TS"
    val sampleSalt = 7L
    val sampleBucket =
      s"MOD((MOD(CAST(C_INT AS BIGINT), ${SampleOps.P}) + ${sampleSalt % SampleOps.P}) * ${SampleOps.AmodP}, ${SampleOps.P})"
    val thr = SampleOps.threshold(0.05)
    def op(name: String, sql: String)(body: OpCtx => Outcome): Op = Op(name, d.digest(sql), body)
    f.ops = Seq(
      op("full_scan", s"SELECT $all6 FROM MIXED") { ctx =>
        collectDigest(f.read(ctx, "MIXED").select(all6.split(", ").map(col).toIndexedSeq: _*))
      },
      op("pruned_scan", "SELECT C_INT, C_TEXT FROM MIXED") { ctx =>
        collectDigest(f.read(ctx, "MIXED").select(col("C_INT"), col("C_TEXT")))
      },
      op("count_pushdown", "SELECT COUNT(*) FROM MIXED") { ctx =>
        collectDigest(f.read(ctx, "MIXED").agg(count(lit(1))))
      },
      op("groupby_pushdown", "SELECT C_NATIONKEY, COUNT(*), SUM(C_CUSTKEY), MIN(C_CUSTKEY), " +
          "MAX(C_ACCTBAL) FROM CUSTOMER GROUP BY C_NATIONKEY") { ctx =>
        collectDigest(f.read(ctx, "CUSTOMER").groupBy(col("C_NATIONKEY"))
          .agg(count(lit(1)), sum(col("C_CUSTKEY")), min(col("C_CUSTKEY")), max(col("C_ACCTBAL"))))
      },
      op("filter_pushdown", s"SELECT $all6 FROM MIXED WHERE C_INT >= $lo AND C_INT < ${lo + 200}") { ctx =>
        collectDigest(f.read(ctx, "MIXED").filter(col("C_INT") >= lo && col("C_INT") < lo + 200))
      },
      op("fn_filter_pushdown",
          s"SELECT C_INT, C_JSON FROM MIXED WHERE SUBSTR(C_JSON, 1, 1) = '{' AND C_INT < ${n / 20}") { ctx =>
        collectDigest(f.read(ctx, "MIXED")
          .filter(substring(col("C_JSON"), 1, 1) === "{" && col("C_INT") < n / 20)
          .select(col("C_INT"), col("C_JSON")))
      },
      op("tablesample", s"SELECT C_INT, C_DOUBLE FROM MIXED WHERE $sampleBucket < $thr") { ctx =>
        collectDigest(f.read(ctx, "MIXED", "samplecolumn" -> "C_INT")
          .sample(withReplacement = false, fraction = 0.05, seed = sampleSalt)
          .select(col("C_INT"), col("C_DOUBLE")))
      },
      op("top_n", "SELECT C_INT, C_DOUBLE, C_TEXT FROM MIXED ORDER BY C_DOUBLE DESC, C_INT " +
          "FETCH FIRST 20 ROWS ONLY") { ctx =>
        collectDigest(f.read(ctx, "MIXED").orderBy(col("C_DOUBLE").desc, col("C_INT")).limit(20)
          .select(col("C_INT"), col("C_DOUBLE"), col("C_TEXT")))
      },
      op("range_partitioned", "SELECT C_MKTSEGMENT, COUNT(*), SUM(C_ACCTBAL) FROM CUSTOMER " +
          "GROUP BY C_MKTSEGMENT") { ctx =>
        collectDigest(f.read(ctx, "CUSTOMER", "partitioncolumn" -> "C_CUSTKEY",
            "lowerbound" -> "0", "upperbound" -> "15000", "numpartitions" -> f.nproc.toString)
          .groupBy(col("C_MKTSEGMENT")).agg(count(lit(1)), sum(col("C_ACCTBAL"))))
      },
      op("runtime_filter_join", "SELECT N_NAME, COUNT(*), SUM(C_ACCTBAL) FROM CUSTOMER " +
          "JOIN NATION ON C_NATIONKEY = N_NATIONKEY WHERE N_NAME < 'NATION_13' GROUP BY N_NAME") { ctx =>
        val dims = f.read(ctx, "NATION").filter(col("N_NAME") < lit("NATION_13"))
        collectDigest(f.read(ctx, "CUSTOMER").join(broadcast(dims), col("C_NATIONKEY") === col("N_NATIONKEY"))
          .groupBy(col("N_NAME")).agg(count(lit(1)), sum(col("C_ACCTBAL"))))
      },
      op("join_pushdown", "SELECT N_NAME, COUNT(*), SUM(S_ACCTBAL) FROM SUPPLIER " +
          "JOIN NATION ON S_NATIONKEY = N_NATIONKEY GROUP BY N_NAME") { ctx =>
        ctx.spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
        try collectDigest(f.read(ctx, "SUPPLIER").join(f.read(ctx, "NATION"),
            col("S_NATIONKEY") === col("N_NATIONKEY"))
          .groupBy(col("N_NAME")).agg(count(lit(1)), sum(col("S_ACCTBAL"))))
        finally ctx.spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
      },
      op("codec_replay", s"SELECT C_INT, C_DOUBLE, C_TEXT FROM MIXED WHERE C_INT < ${n / 10}") { ctx =>
        val df = f.read(ctx, "MIXED").filter(col("C_INT") < n / 10)
          .select(col("C_INT"), col("C_DOUBLE"), col("C_TEXT"))
        val st = ScanCodec.describe(df)
        val json = ctx.codec("encode")(ScanCodec.encode(st))
        ctx.codecBytes += json.getBytes("UTF-8").length
        val back = ctx.codec("decode")(ScanCodec.decode(json))
        collectDigest(ScanCodec.execute(ctx.spark, back))
      })
  }
}

/** The same mixed schema written through the connector's five write
  * paths; every pass resets the targets so the remote stays one size. */
object RemoteWrite extends Workload {
  import Workloads._
  val name = "remote_write"
  val minSteadyPasses = 4
  val warmPasses = 4
  val settlePasses = 2
  val appendRows = 4000
  val literalRows = 400
  val upsertBase = 2000
  val overwriteRows = 2000
  val deleteBase = 4000
  private val deleteWhere = "C_INT >= 3000 OR C_INT < 500"

  final class F(val derby: Derby, spark: SparkSession, seed: Long, nproc: Int) extends Fixture {
    val opts: Map[String, String] = connectorOpts(derby.url, nproc)
    override val remote: Option[RemoteOptions] = Some(RemoteOptions(opts))
    var ops: Seq[Op] = Nil
    val appendSet: IndexedSeq[Data.Mixed] = Data.mixed(seed, 2, 0 until appendRows)
    val literalSet: IndexedSeq[Data.Mixed] = Data.mixed(seed, 3, 0 until literalRows)
    val upsBase: IndexedSeq[Data.Mixed] = Data.mixed(seed, 4, 0 until upsertBase)
    /** Every even base key updates in place; as many new keys insert. */
    val upsDelta: IndexedSeq[Data.Mixed] =
      Data.mixed(seed, 5, (0 until upsertBase by 2) ++ (upsertBase until upsertBase + upsertBase / 2))
    val ovwStale: IndexedSeq[Data.Mixed] = Data.mixed(seed, 6, 100000 until 100200)
    val ovwRows: IndexedSeq[Data.Mixed] = Data.mixed(seed, 7, 0 until overwriteRows)
    val delBase: IndexedSeq[Data.Mixed] = Data.mixed(seed, 8, 0 until deleteBase)

    private def df(rows: Seq[Data.Mixed]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map(Data.mixedRow).asJava, Data.mixedSchema)
    }
    lazy val appendDf: DataFrame = df(appendSet)
    lazy val literalDf: DataFrame = df(literalSet)
    lazy val upsDf: DataFrame = df(upsDelta)
    lazy val ovwDf: DataFrame = df(ovwRows)

    private def reload(table: String, rows: Seq[Data.Mixed]): Unit = {
      val c = derby.connect()
      try {
        c.setAutoCommit(false)
        val st = c.createStatement(); st.executeUpdate(s"DELETE FROM $table"); st.close()
        Data.loadMixed(c, table, rows)
        c.commit()
      } finally c.close()
    }

    override def beforePass(): Unit = {
      reload("W_APP", Nil); reload("W_LIT", Nil)
      reload("W_UPS", upsBase); reload("W_OVW", ovwStale); reload("W_DEL", delBase)
    }

    override def writeBaseline(op: String): Option[Double] = {
      val rows = op match {
        case "append" => appendSet
        case "literal_insert" => literalSet
        case "merge_upsert" => upsDelta
        case "overwrite" => ovwRows
        case _ => null
      }
      val c = derby.connect()
      try {
        c.setAutoCommit(false)
        val t0 = System.nanoTime()
        if (rows != null) Data.loadMixed(c, "W_BASE", rows)
        else { // the pushed DELETE's baseline: the same DELETE over plain JDBC
          Data.loadMixed(c, "W_BASE", delBase); c.commit()
          val t1 = System.nanoTime()
          val st = c.createStatement(); st.executeUpdate(s"DELETE FROM W_BASE WHERE $deleteWhere"); st.close()
          c.commit()
          val ms = (System.nanoTime() - t1) / 1e6
          val st2 = c.createStatement(); st2.executeUpdate("DELETE FROM W_BASE"); st2.close(); c.commit()
          return Some(ms)
        }
        c.commit()
        val ms = (System.nanoTime() - t0) / 1e6
        val st = c.createStatement(); st.executeUpdate("DELETE FROM W_BASE"); st.close(); c.commit()
        Some(ms)
      } finally c.close()
    }

    override def info: Map[String, Any] = Map("append_rows" -> appendRows,
      "literal_rows" -> literalRows, "upsert_base" -> upsertBase,
      "upsert_delta" -> upsDelta.size, "overwrite_rows" -> overwriteRows,
      "delete_base" -> deleteBase)
    override def close(): Unit = derby.shutdown()
  }

  def setup(spark: SparkSession, dir: File, seed: Long, nproc: Int): Fixture = {
    val derby = new Derby(dir)
    val c = derby.create()
    try {
      val st = c.createStatement()
      Seq("W_APP", "W_LIT", "W_UPS", "W_OVW", "W_DEL", "W_BASE").foreach(t =>
        st.executeUpdate(s"CREATE TABLE $t ${Data.mixedWriteDdl}"))
      st.close()
    } finally c.close()
    val f = new F(derby, spark, seed, nproc)
    spark.conf.set("spark.sql.catalog.graftw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftw.url", derby.url)
    spark.conf.set("spark.sql.catalog.graftw.poolmaxsize", nproc.toString)
    spark.conf.set("spark.sql.catalog.graftw.allowdelete", "true")
    f
  }

  private def expect(rows: Seq[Data.Mixed]): String =
    Check.digest(Data.mixedSchema.fieldNames.indices.map(i => f"$i%03d"),
      rows.iterator.map(m => Seq(m.cInt, m.cDouble, m.cBytes, m.cText, m.cJson, m.cTs)))

  override def prepare(fx: Fixture): Unit = {
    val f = fx.asInstanceOf[F]
    val d = f.derby
    def written(table: String, n: Long): Outcome = Outcome(() => d.digest(s"SELECT * FROM $table"), 0, n)
    val upsFinal = {
      val delta = f.upsDelta.map(m => m.cInt -> m).toMap
      f.upsBase.map(m => delta.getOrElse(m.cInt, m)) ++ f.upsDelta.filter(_.cInt >= upsertBase)
    }
    f.ops = Seq(
      Op("append", expect(f.appendSet), { _ =>
        f.appendDf.write.format("graft-remote").options(f.opts).option("dbtable", "W_APP")
          .option("batchsize", "1000").mode("append").save()
        written("W_APP", appendRows)
      }),
      Op("literal_insert", expect(f.literalSet), { _ =>
        f.literalDf.write.format("graft-remote").options(f.opts).option("dbtable", "W_LIT")
          .option("literalinsert", "true").mode("append").save()
        written("W_LIT", literalRows)
      }),
      Op("merge_upsert", expect(upsFinal), { _ =>
        f.upsDf.write.format("graft-remote").options(f.opts).option("dbtable", "W_UPS")
          .option("mergekeys", "C_INT").option("stagingwrite", "true").mode("append").save()
        written("W_UPS", f.upsDelta.size)
      }),
      Op("overwrite", expect(f.ovwRows), { _ =>
        f.ovwDf.write.format("graft-remote").options(f.opts).option("dbtable", "W_OVW")
          .option("allowoverwrite", "true").option("stagingwrite", "true").mode("overwrite").save()
        written("W_OVW", overwriteRows)
      }),
      Op("pushed_delete", expect(f.delBase.filter(m => m.cInt < 3000 && m.cInt >= 500)), { ctx =>
        ctx.spark.sql(s"DELETE FROM graftw.APP.W_DEL WHERE $deleteWhere")
        written("W_DEL", 0)
      }))
  }
}

/** sf0.001-shaped parquet gates from SparkEntry.queries that never touch
  * the connector. */
object LocalAnalytics extends Workload {
  import Workloads._
  val name = "local_analytics"
  val minSteadyPasses = 5
  val warmPasses = 3
  val settlePasses = 5
  /** One pair-shuffling operator (it also reads the JVM-lifetime source
    * memo) and the users of graft.functions and graft.plans. The
    * iterative operators (p28, p66, p72, p81, p88) each cost 2-5 s per
    * call on a 4-vCPU machine and do not fit the run's time budget. */
  val gates: Seq[String] = Seq("p60_source_overlap", "q49_stats_agg",
    "q28_rangejoin_auto", "q30_topk_per_key", "q01_agg")

  final class F(val spark: SparkSession, val dir: String) extends Fixture {
    var ops: Seq[Op] = Nil
    override def afterOp(): Unit = graft.SparkEntry.resetSessionConfs(spark)
    override def info: Map[String, Any] = Map("rows" -> Data.localRows, "gates" -> gates,
      "expected_from" -> "duckdb")
  }

  def setup(spark: SparkSession, dir: File, seed: Long, nproc: Int): Fixture = {
    val d = new File(dir, "sf").getAbsolutePath
    Data.writeLocal(spark, d, seed)
    new F(spark, d)
  }

  /** Expected digests from each gate's DuckDB oracle SQL over the same
    * parquet files. Without the DuckDB driver (which the graft build
    * vendors) no output could be checked, so the run fails. */
  override def prepare(fx: Fixture): Unit = {
    val f = fx.asInstanceOf[F]
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    Class.forName("org.duckdb.DuckDBDriver")
    val duck = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = duck.createStatement()
      Data.localRows.keys.foreach(t =>
        st.execute(s"CREATE VIEW $t AS SELECT * FROM read_parquet('${f.dir}/$t.parquet/*.parquet')"))
      st.close()
      f.ops = gates.map { g =>
        val sql = oracle.getOrElse(g, throw new IllegalStateException(s"$g has no oracle SQL"))
        Op(g, Check.ofQuery(duck, sql, byName = true), { ctx =>
          collectDigest(ctx.build(queries(g)(ctx.spark, f.dir)), byName = true)
        })
      }
    } finally duck.close()
  }
}

package graft.plans

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.sources.DerbyFixture

/** A query whose file and range inputs together fit one AQE partition
  * reads each input in one partition and runs as one job, with no
  * exchange and no broadcast. Every case pins Spark's default 1 MB
  * partition floor, which other specs may have lowered in the shared
  * session. */
class OnePartitionInputsSpec extends AnyFunSuite with PlanRuns with BeforeAndAfterAll {
  private val excluded = "spark.sql.optimizer.excludedRules" -> classOf[OnePartitionInputs].getName
  private lazy val dir: Path = Files.createTempDirectory("graft-one-partition-spec")

  /** 6,000 rows in 4 parquet files. */
  private lazy val itemsPath: String = {
    val p = dir.resolve("items").toString
    spark.range(0, 6000, 1, 4)
      .selectExpr("CAST(id % 3 AS STRING) AS flag", "CAST(id % 2 AS STRING) AS status", "id % 50 AS qty")
      .write.parquet(p)
    p
  }
  /** One name per flag, in 2 parquet files. */
  private lazy val flagsPath: String = {
    val p = dir.resolve("flags").toString
    spark.range(0, 3, 1, 2).selectExpr("CAST(id AS STRING) AS flag", "concat('flag-', id) AS name")
      .write.parquet(p)
    p
  }
  private def items = Tables.parquet(spark, itemsPath)
  private def flags = Tables.parquet(spark, flagsPath)
  private def dataFiles(path: String): Seq[File] =
    new File(path).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  private def aggregate = items.filter(col("qty") < 40)
    .groupBy("flag", "status").agg(count(lit(1)).as("n"), sum("qty").as("qty"))
    .orderBy("flag", "status")

  private def scans(r: Run): Seq[(String, String)] =
    collect(r.plan) { case s: FileSourceScanExec => (s.metadata("ReadSchema"), s.metadata("PushedFilters")) }

  /** The plan, jobs and rows of `df` equal those with the rule excluded. */
  private def assertUnchanged(df: => DataFrame): Unit = {
    val on = run(df)
    val off = withConfs(excluded)(run(df))
    assert(on.shape == off.shape, on.plan.treeString)
    assert(on.jobs == off.jobs)
    assert(on.rows.nonEmpty && on.rows == off.rows)
  }

  override def afterAll(): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  test("an aggregate and sort over inputs under one partition run as 1 job with no exchange") {
    atDefaultFloor {
      val on = run(aggregate)
      assert(on.jobs == 1, on.plan.treeString)
      assert(on.exchanges == 0, on.plan.treeString)
      val off = withConfs(excluded)(run(aggregate))
      assert(off.jobs > 1, off.plan.treeString)
      assert(on.rows.nonEmpty && on.rows == off.rows)
      // the scan still prunes columns and pushes the filter
      assert(scans(on) == scans(off))
      assert(scans(on).forall(_._2.contains("LessThan(qty,40)")), on.plan.treeString)
    }
  }

  test("a join of two small inputs runs as 1 job with no broadcast") {
    def joined = items.join(flags, "flag").groupBy("name").agg(sum("qty").as("qty")).orderBy("name")
    atDefaultFloor {
      val on = run(joined)
      assert(on.jobs == 1, on.plan.treeString)
      assert(on.broadcasts == 0 && on.exchanges == 0, on.plan.treeString)
      assert(collect(on.plan) { case j: ShuffledHashJoinExec => j }.size == 1, on.plan.treeString)
      val off = withConfs(excluded)(run(joined))
      assert(off.broadcasts == 1, off.plan.treeString)
      assert(on.rows.size == 3 && on.rows == off.rows)
    }
  }

  test("a user's broadcast hint keeps its broadcast join") {
    def joined = items.join(broadcast(flags), "flag").groupBy("name").agg(sum("qty").as("qty")).orderBy("name")
    atDefaultFloor {
      val on = run(joined)
      assert(collect(on.plan) { case j: BroadcastHashJoinExec => j }.size == 1, on.plan.treeString)
      assert(on.rows == withConfs(excluded)(run(joined)).rows)
    }
  }

  test("inputs just above one partition keep the plan they have without the rule") {
    val bytes = dataFiles(itemsPath).map(_.length).sum
    withConfs(minPartitionSizeKey -> (bytes - 1).toString)(assertUnchanged(aggregate))
    withConfs(minPartitionSizeKey -> bytes.toString) {
      val atThreshold = run(aggregate)
      assert(atThreshold.jobs == 1, atThreshold.plan.treeString)
    }
  }

  test("an EXISTS or IN subquery over an input above one partition leaves the plan unchanged") {
    items.createOrReplaceTempView("one_partition_items")
    flags.createOrReplaceTempView("one_partition_flags")
    // the floor fits the small outer input, not the subquery's input
    try withConfs(minPartitionSizeKey -> dataFiles(flagsPath).map(_.length).sum.toString) {
      assertUnchanged(spark.sql("""SELECT flag, name FROM one_partition_flags f WHERE EXISTS
        (SELECT 1 FROM one_partition_items i WHERE i.flag = f.flag AND i.qty < 40) ORDER BY flag"""))
      assertUnchanged(spark.sql("""SELECT flag, name FROM one_partition_flags WHERE flag IN
        (SELECT flag FROM one_partition_items WHERE qty < 40) ORDER BY flag"""))
    } finally {
      spark.catalog.dropTempView("one_partition_items")
      spark.catalog.dropTempView("one_partition_flags")
    }
  }

  test("a generator, a grouping set or a join without equi keys leaves the plan unchanged") {
    atDefaultFloor {
      assertUnchanged(items.select(col("flag"), explode(array(col("qty"), col("qty") + 1)).as("q"))
        .groupBy("flag").agg(sum("q").as("q")).orderBy("flag"))
      assertUnchanged(items.rollup("flag", "status").agg(sum("qty").as("qty")).orderBy("flag", "status"))
      assertUnchanged(items.join(flags.withColumnRenamed("flag", "f"), col("flag") < col("f"))
        .groupBy("name").count().orderBy("name"))
    }
  }

  test("a range input leaves the plan unchanged") {
    atDefaultFloor(assertUnchanged(spark.range(0, 6000, 1, 4).selectExpr("id % 3 AS k")
      .groupBy("k").count().orderBy("k")))
  }

  test("a nondeterministic column leaves the plan unchanged") {
    atDefaultFloor(assertUnchanged(items.select(col("flag"), (rand(7) < 0.5).as("heads"))
      .groupBy("flag", "heads").count().orderBy("flag", "heads")))
  }

  test("an explicit repartition leaves the plan unchanged") {
    atDefaultFloor(assertUnchanged(items.repartition(3).groupBy("flag").count().orderBy("flag")))
  }

  test("with AQE off the plan is unchanged") {
    atDefaultFloor(withConfs("spark.sql.adaptive.enabled" -> "false")(assertUnchanged(aggregate)))
  }

  test("with partition coalescing off the plan is unchanged") {
    atDefaultFloor(withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(assertUnchanged(aggregate)))
  }

  test("a plain scan written to parquet keeps its file count") {
    def write(name: String): Int = {
      val p = dir.resolve(name).toString
      items.filter(col("qty") < 40).write.parquet(p)
      dataFiles(p).size
    }
    atDefaultFloor {
      val on = write("write-on")
      assert(on > 1)
      assert(on == withConfs(excluded)(write("write-off")))
    }
  }

  test("an in-memory leaf joined to a small file leaves the plan unchanged") {
    import spark.implicits._
    def tags = Seq((1L, "one"), (2L, "two")).toDF("qty", "tag")
    atDefaultFloor(assertUnchanged(items.join(tags, "qty").groupBy("tag").count().orderBy("tag")))
  }

  test("a graft-remote leaf leaves the plan unchanged, also joined to a small file") {
    DerbyFixture.init
    def nations = spark.read.format("graft-remote")
      .option("url", DerbyFixture.url).option("dbtable", "NATION").load()
    atDefaultFloor {
      assertUnchanged(nations.groupBy("N_REGIONKEY").count().orderBy("N_REGIONKEY"))
      assertUnchanged(nations.join(items, col("N_NATIONKEY") === col("qty"))
        .groupBy("N_NAME").count().orderBy("N_NAME"))
    }
  }
}

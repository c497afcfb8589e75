package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` takes a fixture's schema from one file footer on the
  * driver: the same schema and rows as Spark's own inference, and no
  * Spark job to get them. */
class TablesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Schema and rows equal to plain `spark.read.parquet`. */
  private def assertSameAsInference(path: String): Unit = {
    val ours = Tables.parquet(spark, path)
    val plain = spark.read.parquet(path)
    assert(ours.schema == plain.schema, path)
    assert(sortedRows(ours) == sortedRows(plain), path)
  }

  private def withTempDir(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tables-spec")
    try f(dir) finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  test("every fixture table reads with no job, the inferred schema and the same rows") {
    Tables.names.foreach { n =>
      var df: DataFrame = null
      val jobs = SparkTestSession.jobsStartedBy { df = Tables.table(spark, sf, n) }
      assert(jobs == 0, s"$n: Tables.table started $jobs job(s)")
      // events reads with nanosAsLong set (Tables.table sets it)
      val path = s"$sf/$n.parquet"
      assertSameAsInference(path)
      // events.ts is normalized to TimestampType on purpose
      if (n != "events")
        assert(df.schema == spark.read.parquet(path).schema, n)
    }
  }

  test("resetSessionConfs restores the nanosAsLong conf that reading events sets") {
    val entry = org.apache.spark.sql.internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG
    Tables.table(spark, sf, "events")
    assert(spark.conf.get(entry.key) == "true")
    SparkEntry.resetSessionConfs(spark)
    assert(spark.conf.get(entry.key) == entry.defaultValueString)
  }

  test("a Spark-written multi-part directory reads with no job and the same rows") {
    withTempDir { dir =>
      val path = dir.resolve("parts").toString
      spark.range(0, 1000, 1, 4)
        .selectExpr("id", "CAST(id % 7 AS INT) AS k", "concat('v', id) AS s",
          "IF(id % 5 = 0, NULL, id * 0.5) AS d")
        .write.parquet(path)
      val parts = new java.io.File(path).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts == 4)
      val jobs = SparkTestSession.jobsStartedBy { Tables.parquet(spark, path) }
      assert(jobs == 0, s"Tables.parquet started $jobs job(s)")
      assertSameAsInference(path)
    }
  }

  test("a partition subdirectory fails loudly") {
    withTempDir { dir =>
      val path = dir.resolve("partitioned").toString
      spark.range(10).selectExpr("id", "CAST(id % 2 AS INT) AS k")
        .write.partitionBy("k").parquet(path)
      val e = intercept[IllegalArgumentException](Tables.parquet(spark, path))
      assert(e.getMessage.contains("subdirectory k="), e.getMessage)
    }
  }
}

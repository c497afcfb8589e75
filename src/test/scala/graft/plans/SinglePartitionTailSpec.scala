package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** A query's tail above a finished shuffle stage smaller than one AQE
  * partition runs as one task, with no exchange above that stage.
  *
  * q01's fixture input is small enough for [[OnePartitionInputs]] to
  * read in one partition before any stage exists, so every case runs
  * with that rule excluded and tests this rule alone. The cases also
  * pin Spark's default 1 MB partition floor, which other specs may have
  * lowered in the shared session. */
class SinglePartitionTailSpec extends AnyFunSuite with PlanRuns {
  private val ruleName = classOf[SinglePartitionTail].getName

  /** q01_agg on the sf0.001 fixture: a grouped aggregate under a global sort. */
  private def q01 = SparkEntry.entry(spark)
  private def items = spark.range(0, 6000, 1, 4)
    .selectExpr("CAST(id % 3 AS STRING) AS flag", "CAST(id % 2 AS STRING) AS status", "id % 50 AS qty")
  private def grouped = items.groupBy("flag", "status").agg(count(lit(1)).as("n"), sum("qty").as("qty"))

  private def tailOnly[T](f: => T): T = atDefaultFloor {
    withConfs("spark.sql.optimizer.excludedRules" -> classOf[OnePartitionInputs].getName)(f)
  }

  /** The rule leaves the plan of `df` as AQE plans it without the rule. */
  private def assertUnchanged(df: => DataFrame): Unit = {
    val on = run(df)
    val off = withConfs("spark.sql.adaptive.optimizer.excludedRules" -> ruleName)(run(df))
    assert(on.coalesces == 0, on.plan.treeString)
    assert(on.stages == off.stages, on.plan.treeString)
    assert(on.jobs == off.jobs)
    assert(on.rows == off.rows)
  }

  test("q01 runs 2 jobs, no exchange above its first stage, same rows") {
    tailOnly {
      val on = run(q01)
      assert(on.jobs == 2, on.plan.treeString)
      assert(on.stages == 1, on.plan.treeString)
      assert(on.coalesces == 1, on.plan.treeString)
      assert(on.exchanges == 1, on.plan.treeString)
      val off = withConfs("spark.sql.adaptive.optimizer.excludedRules" -> ruleName)(run(q01))
      assert(off.jobs == 4, off.plan.treeString)
      val noAqe = withConfs("spark.sql.adaptive.enabled" -> "false")(run(q01))
      assert(on.rows.nonEmpty && on.rows == noAqe.rows)
      assert(off.rows == noAqe.rows)
    }
    val both = atDefaultFloor(run(q01))
    assert(both.jobs == 1, both.plan.treeString)
  }

  test("with AQE off the plan keeps both exchanges") {
    tailOnly {
      val noAqe = withConfs("spark.sql.adaptive.enabled" -> "false")(run(q01))
      assert(noAqe.coalesces == 0, noAqe.plan.treeString)
      assert(noAqe.exchanges == 2, noAqe.plan.treeString)
    }
  }

  test("a nondeterministic column in the tail leaves the plan unchanged") {
    // a filter keeps rand above the aggregate; a projected rand column
    // would fold into the aggregate's own output, below the tail
    tailOnly(assertUnchanged(grouped.filter(rand(7) < 0.9).orderBy("flag", "status")))
  }

  test("an explicit repartition leaves the plan unchanged") {
    tailOnly(assertUnchanged(grouped.repartition(3).orderBy("flag", "status")))
  }

  test("a join in the tail leaves the plan unchanged") {
    val byFlag = items.groupBy("flag").agg(count(lit(1)).as("n"))
    val byStatus = items.groupBy("flag").agg(max("status").as("s"))
    tailOnly(assertUnchanged(byFlag.join(byStatus, "flag").orderBy("flag")))
  }

  test("a stage larger than one coalesced partition leaves the plan unchanged") {
    tailOnly {
      withConfs(minPartitionSizeKey -> "1") {
        val r = run(q01)
        assert(r.stages > 1, r.plan.treeString)
        assertUnchanged(q01)
      }
    }
  }

  test("with partition coalescing off the plan is unchanged") {
    tailOnly {
      withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        assertUnchanged(q01)
      }
    }
  }
}

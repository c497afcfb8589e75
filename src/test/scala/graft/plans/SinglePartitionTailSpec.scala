package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** A query's tail above a finished shuffle stage smaller than one AQE
  * partition runs as one task, with no exchange above that stage. */
class SinglePartitionTailSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val ruleName = classOf[SinglePartitionTail].getName
  private val minPartitionSizeKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** q01_agg on the sf0.001 fixture: a grouped aggregate under a global sort. */
  private def q01 = SparkEntry.entry(spark)
  private def items = spark.range(0, 6000, 1, 4)
    .selectExpr("CAST(id % 3 AS STRING) AS flag", "CAST(id % 2 AS STRING) AS status", "id % 50 AS qty")
  private def grouped = items.groupBy("flag", "status").agg(count(lit(1)).as("n"), sum("qty").as("qty"))

  private case class Run(rows: Seq[Row], jobs: Int, plan: SparkPlan) {
    /** Shuffle stages in the final plan, including those inside stages. */
    def stages: Int = collect(plan) { case s: ShuffleQueryStageExec => s }.size
    def coalesces: Int = collect(plan) { case c: CoalesceExec => c }.size
  }

  private def run(df: DataFrame): Run = {
    var rows: Seq[Row] = Nil
    val jobs = SparkTestSession.jobsStartedBy { rows = df.collect().toSeq }
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    Run(rows, jobs, plan)
  }

  /** Runs `f` with session confs set, then restores their old values. */
  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
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
    val on = run(q01)
    assert(on.jobs == 2, on.plan.treeString)
    assert(on.stages == 1, on.plan.treeString)
    assert(on.coalesces == 1, on.plan.treeString)
    assert(collect(on.plan) { case e: ShuffleExchangeLike => e }.size == 1, on.plan.treeString)
    val off = withConfs("spark.sql.adaptive.optimizer.excludedRules" -> ruleName)(run(q01))
    assert(off.jobs == 4, off.plan.treeString)
    val noAqe = withConfs("spark.sql.adaptive.enabled" -> "false")(run(q01))
    assert(on.rows.nonEmpty && on.rows == noAqe.rows)
    assert(off.rows == noAqe.rows)
  }

  test("with AQE off the plan keeps both exchanges") {
    val noAqe = withConfs("spark.sql.adaptive.enabled" -> "false")(run(q01))
    assert(noAqe.coalesces == 0, noAqe.plan.treeString)
    assert(collect(noAqe.plan) { case e: ShuffleExchangeLike => e }.size == 2,
      noAqe.plan.treeString)
  }

  test("a nondeterministic column in the tail leaves the plan unchanged") {
    // a filter keeps rand above the aggregate; a projected rand column
    // would fold into the aggregate's own output, below the tail
    assertUnchanged(grouped.filter(rand(7) < 0.9).orderBy("flag", "status"))
  }

  test("an explicit repartition leaves the plan unchanged") {
    assertUnchanged(grouped.repartition(3).orderBy("flag", "status"))
  }

  test("a join in the tail leaves the plan unchanged") {
    val byFlag = items.groupBy("flag").agg(count(lit(1)).as("n"))
    val byStatus = items.groupBy("flag").agg(max("status").as("s"))
    assertUnchanged(byFlag.join(byStatus, "flag").orderBy("flag"))
  }

  test("a stage larger than one coalesced partition leaves the plan unchanged") {
    withConfs(minPartitionSizeKey -> "1") {
      val r = run(q01)
      assert(r.stages > 1, r.plan.treeString)
      assertUnchanged(q01)
    }
  }

  test("with partition coalescing off the plan is unchanged") {
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      assertUnchanged(q01)
    }
  }
}

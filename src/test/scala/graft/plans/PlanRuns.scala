package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.SparkTestSession

/** Runs queries on the shared spec session and records what each ran:
  * its rows, the jobs it started and its final plan. */
trait PlanRuns extends AdaptiveSparkPlanHelper {
  protected lazy val spark: SparkSession = SparkTestSession.spark
  protected val minPartitionSizeKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  case class Run(rows: Seq[Row], jobs: Int, plan: SparkPlan) {
    /** Shuffle stages in the final plan, including those inside stages. */
    def stages: Int = collect(plan) { case s: ShuffleQueryStageExec => s }.size
    def coalesces: Int = collect(plan) { case c: CoalesceExec => c }.size
    def exchanges: Int = collect(plan) { case e: ShuffleExchangeLike => e }.size
    def broadcasts: Int = collect(plan) { case b: BroadcastExchangeLike => b }.size
    /** Operator names of the final plan, top-down. */
    def shape: Seq[String] = collect(plan) { case p => p.nodeName }
  }

  protected def run(df: DataFrame): Run = {
    var rows: Seq[Row] = Nil
    val jobs = SparkTestSession.jobsStartedBy { rows = df.collect().toSeq }
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    Run(rows, jobs, plan)
  }

  /** Runs `f` with session confs set, then restores their old values. */
  protected def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `f` at Spark's default 1 MB partition floor. DedupOps and
    * LshJoin leave a 16 KB floor in the shared session, so whether a
    * one-partition rule fires would otherwise depend on suite order. */
  protected def atDefaultFloor[T](f: => T): T = withConfs(minPartitionSizeKey -> "1MB")(f)
}

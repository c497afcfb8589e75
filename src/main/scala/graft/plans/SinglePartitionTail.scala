package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions, LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: runs a query's tail in one task when the
  * finished shuffle stage below it is smaller than one coalesced
  * partition.
  *
  * A small query such as `groupBy(..).agg(..).orderBy(..)` otherwise
  * pays for every exchange above its first stage: a map job each, plus
  * a `RangePartitioner` sampling job for a global sort, and then AQE
  * merges each exchange's tiny output back into a single partition.
  * On scheduler-bound inputs that fixed cost is most of the query.
  *
  * The rule works on AQE's re-optimized logical plan. From the root it
  * follows the chain of unary nodes that are deterministic and never
  * add rows (project, filter, aggregate, window, sort, deduplicate,
  * limits, [[TopKPerKeyPlan]]). When the chain ends at a materialized
  * shuffle stage that AQE's own coalescing would turn into one
  * partition, and a node in the chain needs a distribution the stage
  * was not shuffled for, it puts `Repartition(1, shuffle = false)`
  * directly above the stage.
  * `SinglePartition` satisfies every distribution above it, so
  * EnsureRequirements plans no exchange there, and AQE's cost evaluator
  * takes the plan because it has fewer shuffles.
  *
  * The walk stops at anything else: joins, unions, generators, samples,
  * every repartition (the rule's own included, which makes it
  * idempotent) and nondeterministic expressions, whose values depend on
  * the partition index. The rule has no option of its own; it is inert
  * whenever AQE's partition coalescing is off.
  */
class SinglePartitionTail(session: SparkSession) extends Rule[LogicalPlan] {
  private lazy val coalescing = CoalesceShufflePartitions(session)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else coalesceTail(plan, needs = 0).getOrElse(plan)

  /** `p` with a one-partition coalesce above the stage that ends its
    * tail, or None when the tail does not qualify. `needs` counts the
    * nodes above `p` that need a distribution. */
  private def coalesceTail(p: LogicalPlan, needs: Int): Option[LogicalPlan] = p match {
    case s: LogicalQueryStage =>
      // a stage with no operator of its own above it was shuffled for
      // the nearest node that needs a distribution: only a node further
      // up has an exchange left to drop
      val consumed = s.physicalPlan.exists {
        case _: QueryStageExec | _: AQEShuffleReadExec => false
        case _ => true
      }
      val saved = if (consumed) needs else needs - 1
      if (saved > 0 && fitsOnePartition(s)) Some(Repartition(1, shuffle = false, s)) else None
    case u: UnaryNode if keepsRows(u) && u.expressions.forall(_.deterministic) =>
      val n = if (needsDistribution(u)) needs + 1 else needs
      coalesceTail(u.child, n).map(c => u.withNewChildren(c :: Nil))
    case _ => None
  }

  private def keepsRows(u: UnaryNode): Boolean = u match {
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Sort | _: Deduplicate |
         _: GlobalLimit | _: LocalLimit | _: TopKPerKeyPlan => true
    case _ => false
  }

  private def needsDistribution(u: UnaryNode): Boolean = u match {
    case s: Sort => s.global
    case _: Aggregate | _: Window | _: Deduplicate | _: GlobalLimit | _: TopKPerKeyPlan => true
    case _ => false
  }

  /** A materialized shuffle stage that AQE coalesces, no larger than
    * the size its coalescing turns into one partition: the minimum
    * partition size when parallelism comes first, else the advisory
    * size (never below the minimum). */
  private def fitsOnePartition(s: LogicalQueryStage): Boolean =
    s.physicalPlan.collectLeaves() match {
      case Seq(q: ShuffleQueryStageExec) if q.isMaterialized && coalescing.isSupported(q.shuffle) =>
        val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        val onePartition =
          if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
          else math.max(minSize, q.shuffle.advisoryPartitionSize
            .getOrElse(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
        q.getRuntimeStatistics.sizeInBytes <= onePartition
      case _ => false
    }
}

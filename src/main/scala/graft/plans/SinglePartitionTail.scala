package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions, LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
      val n = if (OnePartition.needsDistribution(u)) needs + 1 else needs
      coalesceTail(u.child, n).map(c => u.withNewChildren(c :: Nil))
    case _ => None
  }

  private def keepsRows(u: UnaryNode): Boolean = u match {
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Sort | _: Deduplicate |
         _: GlobalLimit | _: LocalLimit | _: TopKPerKeyPlan => true
    case _ => false
  }

  /** A materialized shuffle stage that AQE coalesces, no larger than
    * the size its coalescing turns into one partition. */
  private def fitsOnePartition(s: LogicalQueryStage): Boolean =
    s.physicalPlan.collectLeaves() match {
      case Seq(q: ShuffleQueryStageExec) if q.isMaterialized && coalescing.isSupported(q.shuffle) =>
        q.getRuntimeStatistics.sizeInBytes <= OnePartition.bytes(conf, q.shuffle.advisoryPartitionSize)
      case _ => false
    }
}

/** Optimizer rule (pre-CBO): reads every input of a query in one
  * partition when all of them together fit in one coalesced AQE
  * partition, so the query plans no exchange and no broadcast and runs
  * as one job.
  *
  * [[SinglePartitionTail]] drops the exchanges above a query's first
  * finished stage, but that first stage is still a map job, and each
  * broadcast is a job of its own. When the whole input is smaller than
  * what AQE would merge into one partition anyway, those jobs only move
  * rows that one task could read directly.
  *
  * The rule fires only when AQE and its partition coalescing are on,
  * the plan is a batch plan with no repartition (the user asked for a
  * layout) and only deterministic expressions, some node in it needs a
  * distribution, and every leaf is a file scan, with their summed
  * `sizeInBytes` at most one coalesced partition. The input size bounds
  * the one task's work only while no node can multiply rows, so the
  * rule also leaves alone plans with a generator, an `Expand` (grouping
  * sets) or a join without equi keys, and plans with a subquery
  * expression, whose plan is no leaf here and is later turned into a
  * join with an input the size test never saw. It then puts
  * `Repartition(1, shuffle = false)` above each leaf's maximal chain of
  * projects and filters, which stays below so that the file scan still
  * prunes columns and pushes filters. `SinglePartition` satisfies every
  * distribution above it. Each equi-join without a hint of its own gets
  * a shuffle-hash hint on its smaller buildable side: a shuffled join
  * over two single-partition children needs no exchange, where Spark
  * would otherwise broadcast the small side in a job of its own.
  */
class OnePartitionInputs extends Rule[LogicalPlan] with JoinSelectionHelper {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (fires(plan)) coalesceInputs(plan) else plan

  private def fires(plan: LogicalPlan): Boolean =
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled && !plan.isStreaming &&
      plan.find(p => p.isInstanceOf[RepartitionOperation] || multipliesRows(p) ||
        p.expressions.exists(e => !e.deterministic || SubqueryExpression.hasSubquery(e))).isEmpty &&
      plan.exists(OnePartition.needsDistribution) && {
        val leaves = plan.collectLeaves()
        leaves.forall(isInput) && leaves.map(_.stats.sizeInBytes).sum <= OnePartition.bytes(conf, None)
      }

  private def multipliesRows(p: LogicalPlan): Boolean = p match {
    case _: Generate | _: Expand => true
    case j: Join => ExtractEquiJoinKeys.unapply(j).isEmpty
    case _ => false
  }

  private def isInput(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
    case _ => false
  }

  private def readsOneInput(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => readsOneInput(child)
    case Filter(_, child) => readsOneInput(child)
    case _ => isInput(p)
  }

  private def coalesceInputs(p: LogicalPlan): LogicalPlan = p match {
    case _ if readsOneInput(p) => Repartition(1, shuffle = false, p)
    case j: Join if j.hint == JoinHint.NONE =>
      withHashJoinHint(j).mapChildren(coalesceInputs)
    case _ => p.mapChildren(coalesceInputs)
  }

  private def withHashJoinHint(j: Join): Join = {
    val hint = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
    val (left, right) = (canBuildShuffledHashJoinLeft(j.joinType), canBuildShuffledHashJoinRight(j.joinType))
    if (left && (!right || j.left.stats.sizeInBytes <= j.right.stats.sizeInBytes)) j.copy(hint = JoinHint(hint, None))
    else if (right) j.copy(hint = JoinHint(None, hint))
    else j
  }
}

/** What the two one-partition rules share. */
private[plans] object OnePartition {
  /** The size AQE's coalescing turns into one partition: the minimum
    * partition size when parallelism comes first, else the advisory
    * size (a shuffle's own, when it has one), never below the minimum. */
  def bytes(conf: SQLConf, advisory: Option[Long]): Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
    else math.max(minSize, advisory.getOrElse(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
  }

  /** A node whose input must be clustered, ordered or gathered, which a
    * single partition always is. */
  def needsDistribution(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case _: Aggregate | _: Window | _: Deduplicate | _: GlobalLimit | _: Join | _: TopKPerKeyPlan => true
    case _ => false
  }
}

package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge

/** Top-k rows PER KEY as a first-class operator — the §7.3 tier-(c)
  * showcase: custom `LogicalPlan` + `Strategy` + `SparkPlan`, registered
  * through `SparkSessionExtensions`.
  *
  * Spark's idiom for "top k per key" is
  * `row_number() OVER (PARTITION BY key ORDER BY ord) <= k`, which
  * fully SORTS every group (WindowExec sorts each partition by
  * (key, ord)) and shuffles EVERY input row to its key's reducer. At
  * 100 TB that is a full-data shuffle followed by a full sort, to keep
  * k rows per key.
  *
  * This operator's physical plan is the aggregation shape instead:
  * a PARTIAL phase keeps a bounded size-k heap per key per input
  * partition (no distribution requirement, no sort), so at most
  * partitions x k rows per key ever reach the shuffle; the FINAL phase
  * (clustered on the keys) merges the per-partition survivors with the
  * same bounded heap. Work is O(n log k), memory O(keys·k) per task,
  * shuffle volume collapses from n to ~partitions·k·|keys|.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  // empty keys would make the final exec require ClusteredDistribution(Nil)
  // and die at planning with an obscure error; global top-k is a plain
  // sort+limit, not this operator
  require(keys.nonEmpty,
    "top-k per key requires at least one key column (for global top-k use orderBy().limit())")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Planner strategy: one partial + one final exec; EnsureRequirements
  * inserts the key-clustered exchange between them (same pattern as
  * partial/final HashAggregate). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true,
        planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // both phases keep every row in the partition it came from
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "numKeys" -> SQLMetrics.createMetric(sparkContext, "distinct keys held"),
    "passThroughRows" -> SQLMetrics.createMetric(sparkContext,
      "rows passed through uncombined (partial key cap hit)"))

  /** Memory bound: each task holds O(held-keys × k) rows. The PARTIAL
    * phase caps held keys at `spark.graft.topk.maxPartialKeys` — a
    * partial heap is only an optimization, so rows for keys beyond the
    * cap STREAM THROUGH uncombined (HashAggregate's partial-fallback
    * idiom) and the final phase still computes exact top-k. The FINAL
    * phase's bound is O(keys-in-partition × k), which shrinks with
    * shuffle-partition count — raise `spark.sql.shuffle.partitions`
    * for extreme key cardinality. */
  private val maxPartialKeys: Int =
    if (!partial) Int.MaxValue
    else session.conf.get("spark.graft.topk.maxPartialKeys", "1000000").toInt

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val keyCap = maxPartialKeys
    val outRows = longMetric("numOutputRows")
    val keysHeld = longMetric("numKeys")
    val passed = longMetric("passThroughRows")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // max-heap under `ord`: head is the WORST survivor, evicted first
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      // pass-through rows must stream out as encountered (buffering them
      // would defeat the cap), so the combine loop is a flatMap and the
      // heap drain is lazily concatenated behind it
      val combined = it.flatMap { row =>
        // probe with the REUSED projection row; copy the key only when
        // it is actually inserted — getOrElseUpdate(copy, ...) would
        // allocate a fresh key per input row on this hot path
        val probe = keyProj(row)
        heaps.get(probe) match {
          case Some(heap) =>
            if (heap.size < limit) heap.enqueue(row.copy())
            else if (ord.lt(row, heap.head)) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
            Iterator.empty
          case None if heaps.size < keyCap =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            heaps.put(probe.copy(), h)
            keysHeld += 1
            h.enqueue(row.copy())
            Iterator.empty
          case None => // cap hit: emit uncombined, final phase is exact
            passed += 1
            outRows += 1
            Iterator.single(row)
        }
      }
      // emit each key's survivors best-first (deterministic final output)
      combined ++ heaps.valuesIterator.flatMap { h =>
        outRows += h.size
        h.dequeueAll.reverseIterator
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"TopKPerKeyExec(k=$k, ${if (partial) "partial" else "final"}, " +
      s"keys=${keys.mkString(",")}, order=${order.mkString(",")})"

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Public API. */
object TopK {
  /** Exact top-`k` rows per distinct `keys` value, ranked by `order`
    * (use `.desc`/`.asc` columns; bare columns mean ascending). Include
    * a unique tiebreaker column in `order` for deterministic output. */
  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    // Spark 4 Columns are lazily-resolved column nodes; route them through
    // a throwaway Sort / Project analysis to obtain RESOLVED catalyst
    // expressions bound to df's analyzed plan (stable attribute ids)
    val sortPlan = Bridge.analyzed(df.sort(order: _*))
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort]
    val keyExprs = Bridge.analyzed(df.select(keys: _*)) match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.map {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case e => e
        }
      case other => throw new IllegalArgumentException(
        s"key columns did not analyze to a projection: $other")
    }
    Bridge.ofRows(df.sparkSession,
      TopKPerKeyPlan(keyExprs, sortPlan.order, k, sortPlan.child))
  }
}

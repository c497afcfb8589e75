package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. `ExpressionUtils` is private[sql], so
  * this one-file subpackage of org.apache.spark.sql re-exports the two
  * conversions custom Catalyst expressions need — the established
  * pattern for Spark extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (`Dataset.ofRows` is
    * private[sql]) — needed to surface custom logical operators like
    * graft's TopKPerKey through the public DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` planned without AQE and with `shufflePartitions` shuffle
    * partitions, as a frame of the same session over the plan's RDD.
    * An iterative operator runs its internal rounds through it (or
    * through [[collectNonAdaptive]]), so the rounds plan non-adaptive
    * while the caller's session confs, and a concurrent query planning
    * with them, never change.
    *
    * The frame is a flat `LogicalRDD` leaf with no exchange above it,
    * so the action that reads it is not adaptive either: it runs the
    * round's stages as one job, as a session with AQE off does. Its RDD
    * is lazy, except that a broadcast join's build side is collected
    * here (Spark's non-adaptive broadcast does that on `execute()`).
    * Observations attached above the returned frame fire in the
    * caller's session; attach them there, not to `df`. */
  def nonAdaptive(df: org.apache.spark.sql.DataFrame, shufflePartitions: Int)
      : org.apache.spark.sql.DataFrame = {
    val (session, plan) = nonAdaptivePlan(df, shufflePartitions)
    val rdd = inSession(session)(plan.execute())
    session.internalCreateDataFrame(rdd, df.schema, isStreaming = false)
  }

  /** `df.collect()` planned as [[nonAdaptive]] plans it, in one job. */
  def collectNonAdaptive(df: org.apache.spark.sql.DataFrame,
      shufflePartitions: Int): Array[org.apache.spark.sql.Row] = {
    val (session, plan) = nonAdaptivePlan(df, shufflePartitions)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(df.schema)
    inSession(session)(plan.executeCollect())
      .map(toRow(_).asInstanceOf[org.apache.spark.sql.Row])
  }

  // The confs are set on a copy of the session's SQLConf that is active
  // on this thread only while `df` is optimized, planned and prepared.
  // The plan is prepared without `InsertAdaptiveSparkPlan`, which reads
  // the session's own conf, not the thread's.
  private def nonAdaptivePlan(df: org.apache.spark.sql.DataFrame,
      shufflePartitions: Int): (org.apache.spark.sql.classic.SparkSession,
        org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.internal.SQLConf
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf.clone()
    conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    conf.setConf(SQLConf.SHUFFLE_PARTITIONS, shufflePartitions)
    SQLConf.withExistingConf(conf) {
      val qe = session.sessionState.executePlan(df.queryExecution.analyzed)
      (session, org.apache.spark.sql.execution.QueryExecution
        .prepareExecutedPlan(session, qe.sparkPlan))
    }
  }

  // Jobs started outside a Dataset action: tasks get the session's SQL
  // confs and run in its executor classloader, as an action's do.
  private def inSession[T](session: org.apache.spark.sql.classic.SparkSession)(
      f: => T): T =
    session.artifactManager.withResources(
      org.apache.spark.sql.execution.SQLExecution
        .withSQLConfPropagated(session)(f))

  /** Analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Non-blocking read of an Observation's metrics — empty map if its
    * query has not completed (`Observation.getOrEmpty` is private[sql];
    * the public `get` BLOCKS forever on an observation whose query
    * never ran, which a bench harness draining a registry must not).
    * Not getOrEmpty itself: that NPEs on its own schema-less
    * placeholder Row when the metrics never arrived (e.g. AQE pruned
    * the CollectMetrics node with an empty-relation subtree). */
  def observationMetrics(o: org.apache.spark.sql.Observation)
      : Map[String, Any] =
    o.getRowOrEmpty.filter(_.schema != null)
      .map(r => r.schema.fieldNames.zip(r.toSeq).toMap)
      .getOrElse(Map.empty)

  /** Fire QueryExecutionListeners (Observation completion among them)
    * for a query executed OUTSIDE `Dataset.withAction` — the bench
    * protocol runs `queryExecution.toRdd.count()`, which executes the
    * physical plan (CollectMetrics accumulators included) but never
    * invokes `listenerManager.onSuccess` (private[sql]), so observed
    * metrics silently never completed under Bench (round 12 find:
    * m14's skew evidence was reaching stderr only from `.count()`
    * probe harnesses, never from the round artifact). */
  def fireObservations(df: org.apache.spark.sql.DataFrame,
      name: String, durationNs: Long): Unit = {
    val qe = df.queryExecution
    // synchronous: invoke each registered QueryExecutionListener
    // directly (the session's ObservationManager listener among them —
    // its onSuccess calls tryComplete(qe), which reads the CollectMetrics
    // accumulators the toRdd.count already populated), so a drain
    // immediately after sees completed metrics with no bus race
    df.sparkSession.listenerManager.listListeners()
      .foreach(_.onSuccess(name, qe, durationNs))
  }

  /** Cut a DataFrame's lineage at BOTH layers for iterative operators
    * (BPE training's one-plan-per-generation loop): without the cut,
    * generation k nests all k prior projections — the ANALYZED plan
    * grows O(k²) for the analyzer and OOMs AQE's plan-string rendering
    * near 64 generations, and even with the logical plan cut the
    * PHYSICAL RDD chain still deepens until task deserialization
    * StackOverflows (both found by a probe at 64 merges; a Dataset
    * persist truncates neither — it only short-circuits execution).
    *
    * Mechanism: compile the frame once, COPY each InternalRow (toRdd
    * reuses row buffers — caching them raw is the classic corruption),
    * and `localCheckpoint` the copied RDD: Spark materializes it with
    * the next job that computes it and then DROPS its dependencies, so
    * every generation is a flat LogicalRDD leaf over a truncated,
    * MEMORY_AND_DISK-cached RDD. Returns the wrapped frame plus the
    * RDD handle — the caller unpersists the handle once the NEXT
    * generation has materialized (same free-after-child discipline as
    * a Dataset persist chain).
    *
    * Fault-tolerance trade (round-14, VERDICT r13 item 3): the
    * executor-local blocks are the ONLY copy of the truncated lineage
    * — an executor loss mid-loop kills the job. Set
    * `spark.graft.checkpoint.dir` (graft.operators.Checkpoints.DirConf)
    * to route the cut to a RELIABLE `checkpoint()` under that
    * directory: the generation is persisted for the loop's reads AND
    * written to durable files the scheduler can recover from. */
  def cutLineageCached(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame,
         org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val copied = df.queryExecution.toRdd.map(_.copy())
    val reliable = df.sparkSession.conf
      .getOption("spark.graft.checkpoint.dir").map(_.trim).filter(_.nonEmpty)
    val rdd = reliable match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        // persist first: a bare reliable checkpoint() recomputes the
        // generation once more just to write the files
        copied.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        copied.checkpoint()
        copied
      case None => copied.localCheckpoint()
    }
    val out = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema, isStreaming = false)
    (out, rdd)
  }

  /** Broadcast ids with live blocks in the local block store. Driver-GC
    * -driven ContextCleaner cleanup is nondeterministic in a tight query
    * loop (the round-5 p27 lesson: broadcast relations + per-stage task
    * binaries accumulate in storage memory across reps); this exposes
    * the residue so harnesses can SEE it and reclaim it. */
  def liveBroadcastIds(sc: org.apache.spark.SparkContext): Seq[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId =>
        b.broadcastId }
      .distinct

  /** Deterministically remove the given broadcasts' blocks from every
    * block manager and the driver (what the ContextCleaner would do on
    * some future GC). Only safe for broadcasts whose owning queries have
    * COMPLETED — a destroyed broadcast re-read by a live plan fails. */
  def destroyBroadcasts(sc: org.apache.spark.SparkContext,
      ids: Seq[Long]): Unit =
    ids.foreach(id => sc.env.broadcastManager
      .unbroadcast(id, removeFromDriver = true, blocking = true))

  /** Driver memory-store bytes in use (blocks of every kind — cached
    * RDDs, broadcast pieces) — the residue-probe companion to
    * [[liveBroadcastIds]]. */
  def storageMemoryUsed(sc: org.apache.spark.SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus.map(_.memUsed).sum

  /** Shuffle ids still registered with the map-output tracker. */
  def liveShuffleIds(sc: org.apache.spark.SparkContext): Seq[Int] =
    sc.env.mapOutputTracker match {
      case m: org.apache.spark.MapOutputTrackerMaster =>
        m.shuffleStatuses.keys.toSeq
      case _ => Seq.empty
    }

  /** Deterministically unregister the given shuffles and delete their
    * files (ContextCleaner's GC-driven shuffle cleanup, forced). Only
    * safe between independent queries — a cleaned shuffle re-read by a
    * retained RDD lineage would recompute or fail. */
  def cleanShuffles(sc: org.apache.spark.SparkContext,
      ids: Seq[Int]): Unit =
    sc.cleaner.foreach(c => ids.foreach(id =>
      c.doCleanupShuffle(id, blocking = true)))

  /** V2 `Predicate` → v1 `sources.Filter` (`PredicateUtils` is
    * private[sql]). The scan builder's v2 filter pushdown uses this to
    * route every v1-expressible predicate through the battle-tested
    * `Dialect.compileFilter` path, reserving the v2 SQL builder for
    * trees the v1 algebra cannot express (scalar function calls). */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** V2 connector expression factories (`FieldReference`/`LiteralValue`
    * companions are private[sql]) — used by specs that exercise the
    * join-pushdown SQL builder directly. */
  def v2Column(name: String): org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference.column(name)
  def v2Literal(value: Any, tpe: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[_] =
    org.apache.spark.sql.connector.expressions.LiteralValue(value, tpe)
}

package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the query inventory from the per-domain modules:
  *   - [[CoreQueries]]   — relational surface (SURVEY.md §2.2)
  *   - RemoteQueries     — DSv2 remote-table connector surface (§2.1)
  *   - PipelineQueries   — LLM-data-pipeline operators (dedup, ANN, text)
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ RemoteQueries.queries ++ PipelineQueries.queries ++
      StreamQueries.queries ++ DuckQueries.queries

  /** Session confs individual queries set for their own execution
    * (optimizer rewrites fire at execution time, so the query builders
    * cannot set-and-restore). Harnesses call this between queries so no
    * query runs under another's leaked confs. */
  def resetSessionConfs(spark: SparkSession): Unit = {
    spark.conf.unset(graft.plans.RangeJoinRewrite.WidthKey)
    spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
    // the exact pair joins set an AQE coalescing floor for their
    // compute-dense verify stages (DedupOps.verifyStageParallelism,
    // round-14) — measured HARMFUL to the screens, so it must never
    // leak past the query that set it
    spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    // reading events sets this (Tables.table, StreamingOps.eventsStream);
    // left set, later parquet reads type TIMESTAMP(NANOS) as raw longs
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    // queries that persist an iteration-reused input (p11 caches its
    // k-means corpus) must not leak that cache into other queries'
    // timings or scans
    spark.catalog.clearCache()
    // clearCache frees CACHED datasets but NOT localCheckpoint blocks
    // (those are plain persisted RDDs below the cache manager, freed
    // only when the ContextCleaner GCs the RDD reference — which a
    // tight bench loop may never trigger). Iterative operators
    // (connected components, k-means) checkpoint per round; their final
    // generation necessarily outlives the query that produced it, so
    // sweep whatever is still pinned here. Safe between independent
    // queries: nothing reuses a prior query's checkpointed lineage.
    // blocking=true: an async unpersist's block-removal RPC storm can
    // land inside the NEXT query's timed window (the round-4 p16
    // mechanism); between queries nothing reads these, so wait
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // ... and the same determinism for the OTHER GC-driven cleanup
    // categories (the round-4 p16 lesson — checkpoint blocks —
    // generalized, per the round-5 verdict): completed queries'
    // broadcasts (join relations, per-stage task binaries) and shuffle
    // state otherwise free only when a driver GC happens to feed the
    // ContextCleaner, i.e. nondeterministically inside whichever query
    // runs NEXT — measured residue swung between 5 and 58 live
    // broadcasts across the round-6 pre-fix bench. Destroy them now,
    // between queries, where nothing can still read them.
    val sc = spark.sparkContext
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.destroyBroadcasts(sc, bridge.liveBroadcastIds(sc))
    bridge.cleanShuffles(sc, bridge.liveShuffleIds(sc))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ RemoteQueries.oracle ++ PipelineQueries.oracle ++
      StreamQueries.oracle ++ DuckQueries.oracle
}

package graft.sources

import scala.jdk.CollectionConverters._

/** Connection + behavior options for the remote source — the port of
  * the reference's per-DB `ConnectionOptions` (`connection/options.rs`).
  *
  * Spark-facing keys (all lowercase, DSv2 option map):
  *   url, driver, user, password           — JDBC connection
  *   dbtable | query | command=list_tables — the RemoteSource
  *   dialect                               — override url-derived dialect
  *   fetchsize                             — reference stream_chunk_size (2048):
  *                                           rows per remote round trip of
  *                                           the scan reader, which decodes
  *                                           every scan, pushed aggregate
  *                                           and Transform row alike (no
  *                                           read-path option)
  *   partitioncolumn, lowerbound, upperbound, numpartitions
  *                                         — parallel range scan (§7.4:
  *                                           design N partitions from day 1)
  *   enablestatistics                      — reference enable_table_statistics
  *   transformclass                        — FQCN of a [[Transform]]
  *   batchsize                             — insert rows per statement (1000)
  *   literalinsert                         — render literal SQL INSERTs
  *                                           (reference Literalize path)
  *                                           instead of PreparedStatement
  */
final case class RemoteOptions(map: Map[String, String]) extends Serializable {
  private def req(k: String): String =
    map.getOrElse(k, throw new IllegalArgumentException(s"missing option '$k'"))

  def url: String = req("url")
  def driverClass: Option[String] = map.get("driver")
  def user: Option[String] = map.get("user")
  def password: Option[String] = map.get("password")

  def source: RemoteSource = (map.get("dbtable"), map.get("query")) match {
    case (Some(t), None) => RemoteSource.TableRef(t.split('.').toSeq)
    case (None, Some(q)) => RemoteSource.Query(q)
    case (None, None) if command.isDefined =>
      RemoteSource.TableRef(Seq("__command__"))
    case _ => throw new IllegalArgumentException(
      "exactly one of 'dbtable' or 'query' must be set")
  }

  def command: Option[String] = map.get("command")
  def dialect: Dialect =
    map.get("dialect").map(Dialect.forName).getOrElse(Dialect.forUrl(url))

  def fetchSize: Int = map.getOrElse("fetchsize", "2048").toInt
  def batchSize: Int = map.getOrElse("batchsize", "1000").toInt
  def literalInsert: Boolean = map.getOrElse("literalinsert", "false").toBoolean
  /** Remote decimals wider than Decimal128: "string" (default — exact,
    * loses numeric semantics) or "clamp38" (DECIMAL(38, min(s,38)) with
    * a loud decode failure on overflow; reference schema.rs:100-105
    * maps these to Decimal256, which Spark cannot hold). */
  def decimalMode: String = {
    val m = map.getOrElse("decimalmode", "string")
    require(m == "string" || m == "clamp38",
      s"decimalmode must be 'string' or 'clamp38': $m")
    m
  }
  /** Cap on concurrent write tasks (batch writes): Spark repartitions
    * the write stage to exactly N tasks via the sink's
    * RequiresDistributionAndOrdering contract. Unset = write with the
    * input's partitioning. Size to the REMOTE's ingest parallelism:
    * embedded/single-writer engines (Derby) measured FASTER at small N
    * than at 32 (writer-lock thrash — BASELINE.md); server databases
    * typically want N ≈ their core count, far below a large stage's
    * task count. */
  def writePartitions: Option[Int] = {
    val v = map.get("writepartitions").map(_.toInt)
    v.foreach(n => require(n > 0, s"writepartitions must be > 0: $n"))
    v
  }
  /** Job-atomic append: tasks write a staging table; job commit moves
    * the whole batch into the target in one transactional
    * INSERT..SELECT (all-or-nothing even across task failures). */
  def stagingWrite: Boolean = map.getOrElse("stagingwrite", "false").toBoolean
  /** Opt-in for `mode("overwrite")` (truncate-and-append). Default
    * false: overwrite is rejected exactly like the reference
    * (`table.rs:434-441`). With `stagingwrite=true` the replace is
    * ATOMIC — the DELETE and the staged INSERT..SELECT share one
    * transaction, so readers never observe the empty table; the direct
    * path deletes up front (non-atomic, like most JDBC sinks). */
  def allowOverwrite: Boolean = map.getOrElse("allowoverwrite", "false").toBoolean
  /** Opt-in for `DELETE FROM` (SupportsDeleteV2): compiled predicates
    * ship as one remote `DELETE ... WHERE`. Default false: the
    * reference treats remote tables as append-only, so destructive
    * row removal must be asked for explicitly (same posture as
    * `allowoverwrite`). */
  def allowDelete: Boolean = map.getOrElse("allowdelete", "false").toBoolean
  /** Opt-in write-side schema evolution: columns present in the write
    * batch but absent remotely are added via `ALTER TABLE ADD COLUMN`
    * (nullable — existing rows read NULL) before the append, and the
    * remote schema is re-inferred so the remote stays the source of
    * truth for types. Default false: an unknown write column is a loud
    * error (reference parity — insert.rs:157-205 maps by name). */
  def evolveSchema: Boolean = map.getOrElse("evolveschema", "false").toBoolean
  /** Keyed upsert (MERGE) append: comma-separated remote key columns.
    * When set, an append lands as `MERGE INTO target USING staging ON
    * keys` — matched rows update in place, unmatched rows insert — so
    * re-running the same batch is IDEMPOTENT (the incremental-pipeline
    * write shape: daily deltas keyed by id). Requires
    * `stagingwrite=true`: the MERGE is the staged job-commit statement,
    * which is also what makes the whole upsert atomic. */
  def mergeKeys: Seq[String] =
    map.get("mergekeys").map(_.split(',').toSeq.map(_.trim)
      .filter(_.nonEmpty)).getOrElse(Nil)
  /** Exactly-once streaming-sink support: a ledger table whose epoch
    * row is inserted INSIDE the staged job-commit transaction, so "the
    * batch's rows are in the target" and "the epoch is recorded" are
    * one atomic fact. Requires `stagingwrite=true` (the direct path
    * has no single commit transaction to ride). */
  def ledgerTable: Option[String] = map.get("ledgertable")
  def ledgerEpoch: Option[Long] = map.get("ledgerepoch").map(_.toLong)
  /** Execution-time runtime-filter (broadcast-join IN list) pushdown
    * into the remote WHERE clause — the connector-side analogue of
    * dynamic partition pruning. On by default; purely an optimization
    * (Spark re-evaluates the join either way). */
  def runtimeFilterPushdown: Boolean =
    map.getOrElse("runtimefilterpushdown", "true").toBoolean
  /** Skip runtime IN lists longer than this: a multi-megabyte IN (…)
    * clause costs the remote parser more than the scan saves. */
  def runtimeFilterMaxInList: Int =
    map.getOrElse("runtimefiltermaxinlist", "1000").toInt
  def enableStatistics: Boolean =
    map.getOrElse("enablestatistics", "false").toBoolean

  /** Bounded per-JVM connection pool (reference bb8 pools,
    * `connection/options.rs:90-93` defaults 10/0/600 s). On by
    * default: per-task physical connections are an anti-pattern at
    * cluster scale (a 1,000-task stage = a connection storm). */
  def poolEnabled: Boolean = map.getOrElse("pool", "true").toBoolean
  /** Max physical connections per (url, credentials) per JVM. A task
    * holds its connection for the task's whole lifetime (scan cursor /
    * write transaction), so the floor is the JVM's concurrent-task
    * count — a cap below it would park runnable tasks on checkout
    * until timeout. Default: max(reference's 10, executor cores). */
  def poolMaxSize: Int = map.get("poolmaxsize").map(_.toInt).getOrElse(
    math.max(10, Runtime.getRuntime.availableProcessors()))
  /** Idle spares the reaper keeps alive (reference pool_min_idle). */
  def poolMinIdle: Int = map.getOrElse("poolminidle", "0").toInt
  /** Seconds an idle connection may park before the reaper closes it
    * (reference pool_idle_timeout, default 600 s). */
  def poolIdleTimeoutMs: Long =
    map.getOrElse("poolidletimeout", "600").toLong * 1000L
  /** Milliseconds a task waits for a free slot when the pool is at
    * capacity before failing loudly. Generous default: holders are
    * whole tasks, which legitimately run minutes. */
  def poolCheckoutTimeoutMs: Long =
    map.getOrElse("poolcheckouttimeout", "300000").toLong

  def partitionColumn: Option[String] = map.get("partitioncolumn")
  /** Stable numeric key column for deterministic TABLESAMPLE pushdown
    * (`df.sample` ships as a hash-threshold WHERE on this column).
    * Unset = sampling stays Spark-side. */
  def sampleColumn: Option[String] = map.get("samplecolumn")
  def lowerBound: Option[Long] = map.get("lowerbound").map(_.toLong)
  def upperBound: Option[Long] = map.get("upperbound").map(_.toLong)
  def numPartitions: Int = map.getOrElse("numpartitions", "1").toInt

  /** Monotonically-increasing integral column driving incremental
    * micro-batch reads (`spark.readStream` over a growing remote
    * table); each trigger ships only `col > lastOffset AND col <=
    * latest`. */
  def streamingColumn: Option[String] = map.get("streamingcolumn")
  /** Exclusive lower bound for the FIRST micro-batch (default: read the
    * whole table, then increments). */
  def streamingStart: Long =
    map.getOrElse("streamingstart", Long.MinValue.toString).toLong
  /** Soft cap on rows admitted per micro-batch — the JDBC analogue of
    * Kafka's `maxOffsetsPerTrigger`. Unset = drain everything available
    * each trigger (including the full post-downtime backlog in ONE
    * batch, which is the wrong shape at ingest scale). */
  def maxRowsPerMicroBatch: Option[Long] = {
    val v = map.get("maxrowspermicrobatch").map(_.toLong)
    v.foreach(n => require(n > 0, s"maxrowspermicrobatch must be > 0: $n"))
    v
  }

  /** `structcol.<name> = <spark ddl>` declares that a scalar remote
    * column (VARCHAR/JSON/CLOB) carries a JSON document decoding as a
    * typed struct — the reference's SdeGeometry-style nested column
    * (`schema.rs:282-331`), generalized. */
  def structCols: Map[String, org.apache.spark.sql.types.StructType] =
    map.collect {
      case (k, v) if k.toLowerCase.startsWith("structcol.") =>
        k.substring("structcol.".length) ->
          org.apache.spark.sql.types.StructType.fromDDL(v)
    }

  def transformClass: Option[String] = map.get("transformclass")
  def transform: Transform = transformClass match {
    case Some(c) => Class.forName(c).getDeclaredConstructor()
      .newInstance().asInstanceOf[Transform]
    case None => IdentityTransform
  }
}

object RemoteOptions {
  def apply(m: java.util.Map[String, String]): RemoteOptions =
    RemoteOptions(m.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
}

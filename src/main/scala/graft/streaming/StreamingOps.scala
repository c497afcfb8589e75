package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (`Boundedness::Bounded`, reference
  * `scan.rs:60-65`); streaming is the Spark-native extension SURVEY.md
  * §2.2 calls out. Every transform here also runs in batch mode (same
  * DataFrame code), which is how the correctness gate exercises it.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * horizon × group cardinality; sessionization state by live sessions.
  * Both shuffle once on their grouping key — identical to the batch
  * plan shape.
  */
object StreamingOps {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(
      user_id: Long, session_start_us: Long, n_events: Int)

  /** Exact microseconds since epoch (Timestamp.getTime is ms-only and
    * would drop the sub-millisecond part the oracle keeps). */
  private def micros(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Read the events fixture as a file stream (ts normalized to
    * TimestampType across the fixture's encodings — TIMESTAMP(NANOS)
    * read as raw Long, or tz-less timestamp[us] read as TIMESTAMP_NTZ
    * which watermarks reject — same handling as [[graft.Tables]]). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = graft.Tables.footerSchema(spark, s"$dir/events.parquet")
    // the file stream source wants a DIRECTORY; filter to the one table
    val raw = spark.readStream.schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Sliding/tumbling window counts with a watermark — the canonical
    * streaming aggregation; append mode emits only finalized windows. */
  def windowedEventCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Watermarked streaming dedup: keeps the first arrival of each
    * `event_id`, with state EXPIRED by the watermark instead of growing
    * forever (`dropDuplicatesWithinWatermark`, the streaming analogue of
    * the pipeline exact-dedup operator). Duplicates are only guaranteed
    * dropped while they arrive inside the watermark horizon — the
    * contract a 100 TB ingest pipeline actually wants, since unbounded
    * dedup state is the scale killer. */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: view→click attribution within
    * `windowMin` minutes. Both sides carry watermarks and the join
    * condition bounds each click to a view-relative time range, which is
    * what lets Spark expire per-side join state — an unbounded-state
    * stream-stream join is rejected in append mode. The SAME code path
    * serves batch inputs (watermark is a no-op there), so the
    * correctness gate oracles this exact function. */
  def viewClickJoin(
      views: DataFrame, clicks: DataFrame, windowMin: Int,
      joinType: String = "inner"): DataFrame = {
    val v = views.withWatermark("ts", s"$windowMin minutes").alias("v")
    val c = clicks.withWatermark("ts", s"$windowMin minutes").alias("c")
    // left_outer: a view with no click inside its window emits ONCE
    // with NULL click columns — but only after the watermark passes the
    // window's end (the engine must know no matching click can still
    // arrive before declaring the view unmatched); inner results stream
    // out immediately either way. State stays bounded in both modes:
    // the time-range condition lets the engine drop rows older than
    // watermark − window.
    v.join(c, expr(
        s"""v.user_id = c.user_id AND
           |c.ts >= v.ts AND
           |c.ts <= v.ts + interval $windowMin minutes""".stripMargin),
        joinType)
      .select(col("v.user_id").as("user_id"),
        col("v.event_id").as("view_id"), col("c.event_id").as("click_id"),
        unix_micros(col("v.ts")).as("view_us"),
        unix_micros(col("c.ts")).as("click_us"))
  }

  /** Gap-based sessionization over a stream:
    * `flatMapGroupsWithState` with event-time timeout — a session
    * closes when no event lands within `gapMinutes` of its last one.
    * State per user = the open session. */
  def sessionizeStream(
      events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[(Long, Long, Int)]): Iterator[Session] = {
      // state = (session_start_us, last_seen_us, n_events)
      var out = List.empty[Session]
      var cur = state.getOption
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val us = micros(e.ts)
        cur match {
          case Some((start, last, n)) if us - last <= gapUs =>
            cur = Some((start, us, n + 1))
          case Some((start, _, n)) =>
            out ::= Session(userId, start, n)
            cur = Some((us, us, 1))
          case None =>
            cur = Some((us, us, 1))
        }
      }
      if (state.hasTimedOut) {
        cur.foreach { case (start, _, n) => out ::= Session(userId, start, n) }
        state.remove()
      } else {
        cur.foreach { c =>
          state.update(c)
          state.setTimeoutTimestamp(c._2 / 1000L + gapMinutes * 60L * 1000L)
        }
      }
      out.reverseIterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Batch sessionization with identical semantics, via the typed
    * `flatMapGroups` API — this is the form the correctness gate
    * verifies against a window-function SQL oracle. */
  def sessionizeBatch(
      events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id).flatMapGroups { (userId, rows) =>
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val out = scala.collection.mutable.ListBuffer.empty[Session]
      var start = -1L; var last = -1L; var n = 0
      sorted.foreach { e =>
        val us = micros(e.ts)
        if (start < 0) { start = us; last = us; n = 1 }
        else if (us - last <= gapUs) { last = us; n += 1 }
        else { out += Session(userId, start, n); start = us; last = us; n = 1 }
      }
      if (start >= 0) out += Session(userId, start, n)
      out.iterator
    }
  }

  /** Streaming ingest ADMISSION screen: drop documents the historical
    * corpus already contains (by content fingerprint) as they arrive —
    * the streaming form of the daily Δ dedup screen
    * ([[graft.operators.DedupOps.exactNewVsIndexBloom]]), expressed
    * with Structured Streaming's own operators so it composes with any
    * downstream sink:
    *
    *   - docs FAILING the Bloom pre-filter are definitely unseen
    *     (no false negatives) → admitted with ZERO join work;
    *   - docs PASSING it (true dups + the fpp sliver) settle in a
    *     stream-static LEFT ANTI join against the (fp, keeper) index —
    *     Spark broadcasts or rescans the static side per micro-batch,
    *     never shuffling the stream beyond the join itself.
    *
    * At 100 TB the Bloom leg carries ~all traffic (per-row, executor-
    * local), so the per-batch join touches only |batch|·fpp + true-dup
    * rows — the admission analogue of p35's batch screen. Output =
    * the input rows that are genuinely new, exact by construction. */
  def admitNewDocs(stream: DataFrame, idCol: String, textCol: String,
      indexFps: DataFrame, bloomBytes: Array[Byte]): DataFrame = {
    val withFp = stream.withColumn("fp",
      graft.operators.TextOps.fingerprint(col(textCol)))
    val maybeSeen = graft.functions.native.bloom_might_contain(
      col("fp"), bloomBytes)
    val definitelyNew = withFp.filter(!maybeSeen)
    val confirmed = withFp.filter(maybeSeen)
      .join(indexFps.select(col("fp")), Seq("fp"), "left_anti")
    definitelyNew.unionByName(confirmed).drop("fp")
  }

  /** STREAMING containment screen (round 13, VERDICT r12 item 3):
    * [[graft.operators.DedupOps.containmentScreenNewVsIndex]]'s
    * new-vs-index shape is the natural Structured Streaming operator —
    * "is this arriving document an excerpt of something the corpus
    * already holds?" The container-side shingle sets are built ONCE
    * ([[graft.operators.DedupOps.containmentSets]], cached) and every
    * micro-batch probes them via `foreachBatch`.
    *
    * Why foreachBatch rather than an incremental plan: the screen ends
    * in TWO aggregations (per-pair match count, then verification) —
    * more than one stateful aggregate is unsupported in a single
    * incremental query — and, decisively, every output key contains
    * `id_new`, a document that arrives in EXACTLY ONE micro-batch, so
    * per-batch evaluation needs no cross-batch state at all: the union
    * of per-batch outputs is bit-identical to one batch run over the
    * union of batches (the StreamingSpec parity case; the p87 gate is
    * the batch twin). Per batch: k argmin probe rows per new doc
    * against the static postings, Δ-proportional — the 100 TB
    * historical side is touched only through the cached index.
    *
    * The per-batch new-side cache is released synchronously after
    * `sink` returns — a week-long stream leaks nothing. */
  def screenStreamAgainstIndex(stream: DataFrame, indexDf: DataFrame,
      idCol: String, textCol: String, tau: Double, ngram: Int = 3,
      minShingles: Int = 5, k: Int = 16, minMatch: Int = 8,
      maxBucket: Long = Long.MaxValue,
      checkpointDir: Option[String] = None)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupOps
    // build + materialize the reusable index side once, up front —
    // not lazily inside the first micro-batch
    val idxSets = DedupOps.containmentSets(
      indexDf, idCol, textCol, ngram, minShingles)
    idxSets.count()
    val writer = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val newSets = batch
          .select(col(idCol).as("id"),
            graft.functions.native.shingle_set(
              split(col(textCol), " "), ngram).as("sh"))
          .filter(size(col("sh")) >= minShingles)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(DedupOps.containmentScreenSetsVsIndex(
            newSets, idxSets, tau, k, minMatch, maxBucket), epoch)
        } finally newSets.unpersist(blocking = false)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming sink into a remote table: each micro-batch appends
    * through the `graft-remote` connector (the same batched
    * PreparedStatement write path the batch sink uses), via
    * `foreachBatch` — the standard idiom for JDBC-family sinks, since a
    * remote INSERT cannot participate in Spark's file-sink commit
    * protocol.
    *
    * Default delivery is AT-LEAST-ONCE: a micro-batch retried after a
    * mid-batch failure re-appends its rows (the reference's writer has
    * the same contract — append-only, no upsert).
    *
    * `exactlyOnce = true` upgrades delivery to EXACTLY-ONCE per epoch
    * via a batch-id ledger table (`<table>_EPOCHS`, created if absent)
    * on the remote: each epoch writes through the job-atomic staged
    * path (`stagingwrite=true`) and the epoch marker is inserted in
    * the SAME commit transaction as the batch's rows, so "rows landed"
    * and "epoch recorded" cannot diverge. A replayed epoch (restart
    * from an older checkpoint, foreachBatch retry after a
    * commit-then-crash) sees its marker and skips; a concurrent
    * duplicate attempt dies on the ledger's primary key, rolling its
    * rows back with it. This is the idempotent-sink half of Spark's
    * end-to-end exactly-once contract, implemented remote-side. */
  def writeToRemote(
      stream: DataFrame, url: String, table: String,
      checkpointDir: String,
      extraOptions: Map[String, String] = Map.empty,
      exactlyOnce: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ledger = s"${table}_EPOCHS"
    if (exactlyOnce) ensureLedger(url, ledger, extraOptions)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!exactlyOnce || !epochCommitted(url, ledger, batchId,
            extraOptions)) {
          val w = batch.write.format("graft-remote")
            .option("url", url).option("dbtable", table)
            .options(extraOptions)
          (if (exactlyOnce)
            w.option("stagingwrite", "true")
              .option("ledgertable", ledger)
              .option("ledgerepoch", batchId.toString)
          else w).mode("append").save()
        }
      }
      .start()
  }

  private def sinkOpts(url: String, table: String,
      extra: Map[String, String]): graft.sources.RemoteOptions =
    graft.sources.RemoteOptions(
      extra ++ Map("url" -> url, "dbtable" -> table))

  /** CREATE the epoch ledger if the remote doesn't have it yet (one
    * narrow BIGINT PK column — the PK is load-bearing: it is what kills
    * a concurrent duplicate epoch attempt inside its own transaction). */
  private def ensureLedger(url: String, ledger: String,
      extra: Map[String, String]): Unit = {
    val opts = sinkOpts(url, ledger, extra)
    graft.sources.GraftConnections.withConnection(opts) { conn =>
      val st = conn.createStatement()
      try st.executeUpdate(
        s"CREATE TABLE ${opts.dialect.tableName(Seq(ledger))} " +
          "(EPOCH BIGINT NOT NULL PRIMARY KEY)")
      catch { case _: java.sql.SQLException => () } // already exists
      finally st.close()
    }
  }

  private def epochCommitted(url: String, ledger: String, epoch: Long,
      extra: Map[String, String]): Boolean = {
    val opts = sinkOpts(url, ledger, extra)
    graft.sources.GraftConnections.withConnection(opts) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT COUNT(1) FROM ${opts.dialect.tableName(Seq(ledger))} " +
            s"WHERE EPOCH = $epoch")
        rs.next(); val n = rs.getLong(1); rs.close(); n > 0
      } finally st.close()
    }
  }
}

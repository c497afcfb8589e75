package graftbench

import scala.collection.immutable.ListMap

/** Per-layer metrics from the traced passes: each metric is summed over
  * one pass's ops, and the reported value is the median over traced
  * passes. Counts that should repeat exactly are listed with every
  * pass's value so a later change can make count claims. */
object Layers {
  final case class Result(metrics: ListMap[String, (Double, String)], detail: Any)

  /** Counts that the benchmark expects to repeat exactly across passes. */
  val exactCounts: Seq[String] = Seq("sources.scan.rows_fetched", "sources.pool.physical_opens",
    "spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks", "spark.shuffle.records",
    "plans.rewrites_fired")

  /** Module each span name belongs to, for the self-time split. */
  def module(span: String): String = span match {
    case "op.build" => "queries+operators (*Queries, graft.operators)"
    case "sources.schema_load" | "sources.codec.encode" | "sources.codec.decode" => "graft.sources"
    case s if s.startsWith("spark.plan.") => "spark planning"
    case "spark.job" => "spark scheduling"
    case "spark.stage" => "spark tasks (graft.sources scans, graft.functions, graft.plans)"
    case "jdbc.replay" => "remote database (plain JDBC replay)"
    case "op" => "driver residue (actions, result collection)"
    case other => other
  }

  private def perPass(rs: Seq[OpRecord], nproc: Int): ListMap[String, (Double, String)] = {
    val t = rs.flatMap(_.traced)
    def sum(f: OpTrace => Double): Double = t.map(f).sum
    val rowsFetched = sum(_.plan.graftScanRows.toDouble)
    val rowsReturned = rs.map(_.out.rowsReturned).sum.toDouble
    val replay = sum(_.replayMs)
    val scanOps = rs.filter(_.traced.exists(_.replayMs > 0))
    val execMs = rs.map(r => r.latencyS * 1000 - r.out.buildMs).sum
    val borrows = rs.map(_.out.borrows).sum.toDouble
    val opens = rs.map(_.out.physicalOpens).sum.toDouble
    val checkouts = t.flatMap(_.checkoutMs)
    val writes = rs.filter(_.out.rowsWritten > 0)
    val writeMs = writes.map(_.latencyS * 1000).sum
    val baselines = rs.filter(_.traced.exists(_.baselineMs.isDefined))
    val baselineMs = baselines.flatMap(_.traced.flatMap(_.baselineMs)).sum
    val taskMs = sum(_.sched.taskMs)
    ListMap(
      "sources.scan.rows_fetched" -> (rowsFetched, "count"),
      "sources.scan.fetch_ratio" -> (if (rowsReturned > 0) rowsFetched / rowsReturned else 0.0, "ratio"),
      "sources.schema.load_ms" -> (rs.map(_.out.loadMs).sum, "ms"),
      "sources.scan.remote_exec_ms" -> (replay, "ms"),
      "sources.scan.overhead_ms" -> (scanOps.map(r =>
        r.latencyS * 1000 - r.out.buildMs - r.traced.get.replayMs).sum, "ms"),
      "sources.pool.borrows" -> (borrows, "count"),
      "sources.pool.physical_opens" -> (opens, "count"),
      "sources.pool.hit_ratio" -> (if (borrows > 0) 1 - opens / borrows else 0.0, "ratio"),
      "sources.pool.checkout_ms" -> (if (checkouts.nonEmpty) checkouts.sum / checkouts.size else 0.0, "ms"),
      "sources.write.rows_per_s" -> (if (writeMs > 0) writes.map(_.out.rowsWritten).sum / (writeMs / 1000) else 0.0, "1/s"),
      "sources.write.remote_baseline_ms" -> (baselineMs, "ms"),
      "sources.write.overhead_ratio" -> (if (baselineMs > 0)
        baselines.map(_.latencyS * 1000).sum / baselineMs else 0.0, "ratio"),
      "sources.codec.encode_us" -> (rs.map(_.out.encodeUs).sum, "us"),
      "sources.codec.decode_us" -> (rs.map(_.out.decodeUs).sum, "us"),
      "sources.codec.bytes" -> (rs.map(_.out.codecBytes).sum.toDouble, "bytes"),
      "spark.plan.analysis_ms" -> (sum(_.plan.analysisMs), "ms"),
      "spark.plan.optimization_ms" -> (sum(_.plan.optimizationMs), "ms"),
      "spark.plan.planning_ms" -> (sum(_.plan.planningMs), "ms"),
      "spark.plan.aqe_replans" -> (sum(_.sched.aqeReplans.toDouble), "count"),
      "queries.build_ms" -> (rs.map(_.out.buildMs).sum, "ms"),
      "spark.sched.jobs" -> (sum(_.sched.jobs.toDouble), "count"),
      "spark.sched.stages" -> (sum(_.sched.stages.toDouble), "count"),
      "spark.sched.tasks" -> (sum(_.sched.tasks.toDouble), "count"),
      "spark.sched.task_ms_sum" -> (taskMs, "ms"),
      "spark.sched.critical_task_ms" -> (sum(_.sched.criticalMs), "ms"),
      "spark.sched.delay_ms" -> (sum(_.sched.delayMs), "ms"),
      "spark.sched.busy_ratio" -> (if (execMs > 0) taskMs / (nproc * execMs) else 0.0, "ratio"),
      "spark.shuffle.write_bytes" -> (sum(_.sched.shuffleWriteBytes.toDouble), "bytes"),
      "spark.shuffle.records" -> (sum(_.sched.shuffleRecords.toDouble), "count"),
      "spark.shuffle.fetch_wait_ms" -> (sum(_.sched.fetchWaitMs), "ms"),
      "spark.shuffle.spill_bytes" -> (sum(_.sched.spillBytes.toDouble), "bytes"),
      "spark.gc_ms" -> (rs.map(_.out.gcMs).sum, "ms"),
      "plans.rewrites_fired" -> (t.count(_.plan.rewrites.nonEmpty).toDouble, "count"),
      "functions.native_exprs" -> (sum(_.plan.nativeExprs.toDouble), "count"))
  }

  def compute(records: Seq[OpRecord], nproc: Int, spans: Seq[Span]): Result = {
    val traced = records.filter(_.kind == "traced")
    val passes = traced.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, rs) => perPass(rs, nproc) }
    val metrics = ListMap(passes.head.keys.toSeq.map { k =>
      k -> (Stats.median(passes.map(_(k)._1)), passes.head(k)._2)
    }: _*)
    val repeats = ListMap(exactCounts.map { k =>
      val vs = passes.map(_(k)._1.toLong)
      k -> Json.obj("per_pass" -> vs, "repeats_exactly" -> (vs.distinct.size == 1))
    }: _*)
    // self time: a span minus the union of its children's intervals,
    // over the op subtrees and replays of the traced passes
    val kids = spans.groupBy(_.parent)
    val self = spans.filterNot(s => Set("run", "workload", "pass").contains(s.name)).map { s =>
      s.name -> Stats.selfTime(s.startUs, s.endUs,
        kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)))
    }
    val selfByName = self.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum / 1000.0 / passes.size }
    val selfByModule = selfByName.groupBy { case (n, _) => module(n) }
      .map { case (m, xs) => m -> xs.values.sum }
    val rewrites = traced.flatMap(r => r.traced.toSeq.flatMap(_.plan.rewrites.map(r.name -> _))).distinct
    Result(metrics, Json.obj(
      "traced_passes" -> passes.size,
      "exact_counts" -> repeats,
      "self_ms_per_pass_by_span" -> ListMap(selfByName.toSeq.sortBy(-_._2): _*),
      "self_ms_per_pass_by_module" -> ListMap(selfByModule.toSeq.sortBy(-_._2): _*),
      "rewrites" -> rewrites.map { case (op, r) => Json.obj("op" -> op, "node" -> r) },
      "per_op_traced" -> traced.filter(_.pass == traced.map(_.pass).max).map { r =>
        val tr = r.traced.get
        Json.obj("op" -> r.name, "latency_s" -> r.latencyS, "build_ms" -> r.out.buildMs,
          "schema_load_ms" -> r.out.loadMs, "rows_fetched" -> tr.plan.graftScanRows,
          "rows_returned" -> r.out.rowsReturned, "remote_exec_ms" -> tr.replayMs,
          "jobs" -> tr.sched.jobs, "stages" -> tr.sched.stages, "tasks" -> tr.sched.tasks,
          "task_ms" -> tr.sched.taskMs, "analysis_ms" -> tr.plan.analysisMs,
          "optimization_ms" -> tr.plan.optimizationMs, "planning_ms" -> tr.plan.planningMs,
          "borrows" -> r.out.borrows, "physical_opens" -> r.out.physicalOpens)
      }))
  }
}

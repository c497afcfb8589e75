package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

import graft.sources.{GraftConnectionPool, GraftConnections, RemoteOptions, ScanSqlLog}

/** What one op hands back: its output digest (computed after the clock
  * stops) and the rows it returned to the client or wrote remotely. */
final case class Outcome(digest: () => String, rowsReturned: Long, rowsWritten: Long = 0L)

/** One closed-loop operation with its expected output digest, computed
  * outside the timed window. */
final case class Op(name: String, expected: String, body: OpCtx => Outcome)

/** Timers an op body calls around its own layer boundaries. */
final class OpCtx(val spark: SparkSession, tracer: Tracer, val opId: Long) {
  var buildMs = 0.0
  var loadMs = 0.0
  var encodeUs = 0.0
  var decodeUs = 0.0
  var codecBytes = 0L
  private var buildId = opId

  /** The op's DataFrame-building call (query catalogs and operators,
    * including any eager iteration rounds they run). */
  def build[T](f: => T): T = {
    val (r, ms) = tracer.timed("op.build", opId) { id => buildId = id; f }
    buildId = opId
    buildMs += ms
    r
  }

  /** `DataFrameReader.load()`: the connector's remote schema probe. */
  def load(r: DataFrameReader): DataFrame = {
    val (df, ms) = tracer.timed("sources.schema_load", buildId)(_ => r.load())
    loadMs += ms
    df
  }

  def codec[T](name: String)(f: => T): T = {
    val (r, ms) = tracer.timed(s"sources.codec.$name", opId)(_ => f)
    if (name == "encode") encodeUs += ms * 1000 else decodeUs += ms * 1000
    r
  }
}

/** A workload's built inputs, alive for the timed passes. */
trait Fixture {
  def ops: Seq[Op]
  /** Untimed reset before each pass, so every pass sees the same remote. */
  def beforePass(): Unit = ()
  /** Untimed hygiene between ops. */
  def afterOp(): Unit = ()
  /** The connector options whose pool the ops borrow from, if any. */
  def remote: Option[RemoteOptions] = None
  /** Replay pushed SQL over plain JDBC; returns its wall time in ms. */
  def replay(sql: String): Double = 0.0
  /** Time the same rows (or delete) over plain JDBC, for write ops. */
  def writeBaseline(op: String): Option[Double] = None
  def info: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

trait Workload {
  def name: String
  /** Steady passes every run makes at least; the latency tail is taken
    * over exactly this many passes so its percentile is fixed. They must
    * hold at least 20 op samples, so the tail is at or above the median. */
  def minSteadyPasses: Int
  /** Untimed passes after the JVM's first cold pass: the ops keep
    * speeding up (JIT compilation of the driver's planning paths) for
    * about this many passes. */
  def warmPasses: Int
  /** Untimed passes after the timed set-up rounds, before the measured
    * window: each new session sets off more JIT compilation. */
  def settlePasses: Int
  /** Build the fixture in a fresh directory (timed as set-up). */
  def setup(spark: SparkSession, dir: java.io.File, seed: Long, nproc: Int): Fixture
  /** Compute the expected outputs (untimed) and install the ops. */
  def prepare(f: Fixture): Unit = ()
}

/** Everything the benchmark measured about one op execution. */
final case class OpRecord(pass: Int, kind: String, name: String, latencyS: Double,
    ok: Boolean, error: Option[String], out: OpCtxView, traced: Option[OpTrace])

final case class OpCtxView(buildMs: Double, loadMs: Double, encodeUs: Double,
    decodeUs: Double, codecBytes: Long, rowsReturned: Long, rowsWritten: Long,
    gcMs: Double, borrows: Long, physicalOpens: Long)

final case class OpTrace(sched: SchedStats, plan: PlanStats, replayMs: Double,
    checkoutMs: Option[Double], baselineMs: Option[Double])

object Harness {
  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  private def physicalOpens(o: Option[RemoteOptions]): Long =
    o.map(GraftConnectionPool.poolFor(_).physicalOpens.get).getOrElse(0L)

  /** Run one pass of the fixed-order mix. */
  def pass(spark: SparkSession, f: Fixture, tracer: Tracer, passId: Long, pass: Int,
      kind: String, probe: Option[(SchedProbe, QeCapture)]): Seq[OpRecord] = {
    f.beforePass()
    f.ops.map { op =>
      val opId = tracer.newId()
      val sc = spark.sparkContext
      sc.setJobGroup(opId.toString, op.name, interruptOnCancel = false)
      ScanSqlLog.clear()
      val ctx = new OpCtx(spark, tracer, opId)
      val borrows0 = GraftConnections.opened.get
      val opens0 = physicalOpens(f.remote)
      val gc0 = gcMs
      val s0 = tracer.nowUs
      val t0 = System.nanoTime()
      val res = try Right(op.body(ctx)) catch { case e: Throwable => Left(e) }
      val lat = (System.nanoTime() - t0) / 1e9
      val s1 = tracer.nowUs
      sc.clearJobGroup()
      val gc1 = gcMs
      val borrows = GraftConnections.opened.get - borrows0
      val opens = physicalOpens(f.remote) - opens0
      tracer.add(Span(opId, passId, "op", s0, s1, Map("op" -> op.name)))
      val (ok, err, out) = res match {
        case Right(o) =>
          val d = try o.digest() catch { case e: Throwable => s"error: $e" }
          (d == op.expected, if (d == op.expected) None else Some(s"digest $d != expected ${op.expected}"), o)
        case Left(e) =>
          (false, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), Outcome(() => "", 0, 0))
      }
      val view = OpCtxView(ctx.buildMs, ctx.loadMs, ctx.encodeUs, ctx.decodeUs, ctx.codecBytes,
        out.rowsReturned, out.rowsWritten, gc1 - gc0, borrows, opens)
      val traced = probe.map { case (p, qes) =>
        p.awaitSettled(opId.toString)
        val sched = p.stats(opId.toString)
        val plan = PlanStats.of(qes.drain())
        sched.jobSpans.foreach { case (j, s, e) =>
          tracer.add(Span(opId * 1000000L + j, opId, "spark.job", s * 1000, e * 1000, Map("job" -> j)))
        }
        sched.stageSpans.foreach { case (st, j, s, e) =>
          tracer.add(Span(opId * 1000000L + 500000L + st, opId * 1000000L + j, "spark.stage",
            s * 1000, e * 1000, Map("stage" -> st)))
        }
        plan.phaseSpans.foreach { case (ph, s, e) =>
          tracer.add(Span(tracer.newId(), opId, s"spark.plan.$ph", s * 1000, e * 1000))
        }
        // pushed SQL replayed over plain JDBC, outside the op's span
        val sqls = ScanSqlLog.recent
        val replayMs = sqls.map { q =>
          tracer.timed("jdbc.replay", passId, Map("op" -> op.name))(_ => f.replay(q))._1
        }.sum
        val checkout = f.remote.map { o =>
          val t = System.nanoTime()
          GraftConnections.withConnection(o)(_ => ())
          (System.nanoTime() - t) / 1e6
        }
        OpTrace(sched, plan, replayMs, checkout, f.writeBaseline(op.name))
      }
      f.afterOp()
      OpRecord(pass, kind, op.name, lat, ok, err, view, traced)
    }
  }
}

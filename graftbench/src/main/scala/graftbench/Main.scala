package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.ObjectName
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** graft's benchmark: closed-loop workloads, one client, from a single
  * process. See BENCHMARK.json for the workloads and metrics and
  * `python3 graftbench/run.py --help` for how to run it. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      resultFile: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", "all"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1", m.get("result-file"))
  }

  val endToEndUnits: ListMap[String, String] = ListMap("setup_s" -> "s", "cold_pass_s" -> "s",
    "ops_per_s" -> "1/s", "op_p50_s" -> "s", "op_tail_s" -> "s", "retained_heap_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    // Spark and Derby leave non-daemon threads behind; exit explicitly
    try { run(argv); System.out.flush(); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
  }

  def run(argv: Array[String]): Unit = {
    val a = parse(argv)
    val root = new File(".").getCanonicalFile
    val work = new File(root, ".bench_build/work")
    deleteTree(work); work.mkdirs()
    System.setProperty("derby.stream.error.file", new File(work, "derby.log").getPath)
    val nproc = Runtime.getRuntime.availableProcessors()
    val workloads =
      if (a.workload == "all") Workloads.all else Seq(Workloads.byName(a.workload))
    val tracer = new Tracer(a.trace)
    val runId = tracer.newId()
    val runStart = tracer.nowUs
    val results = workloads.map(w => runWorkload(w, a, work, nproc, tracer, runId))
    SparkSession.getActiveSession.foreach(_.stop())
    tracer.enabled = a.trace
    tracer.add(Span(runId, 0, "run", runStart, tracer.nowUs))

    val attempted = results.map(_.attempted).sum
    val failed = results.map(_.failed).sum
    val art = new File(root, ".bench_build/artifacts")
    art.mkdirs()
    val artFile = new File(art, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    val artifact = Json.obj(
      "meta" -> Json.obj("commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"),
        "source_hash" -> sys.env.getOrElse("GRAFTBENCH_SOURCE_HASH", "unknown"),
        "nproc" -> nproc, "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "clients" -> 1, "loop" -> "closed"),
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "workloads" -> results.map(_.detail),
      "spans" -> (if (a.trace) tracer.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)) else Nil))
    Files.writeString(artFile.toPath, Json.render(artifact))
    System.err.println(s"[graftbench] artifact: ${root.toPath.relativize(artFile.toPath)}")

    // One workload: its end-to-end metrics, or with --trace 1 its
    // per-layer metrics. Every workload: the compact summary of every
    // end-to-end metric, whose length is capped; the per-layer maps
    // stay in the artifact.
    val line = results match {
      case Seq(r) => Summary.render(failed == 0, attempted, failed,
        metricsJson(if (a.trace) r.layers else r.endToEnd))
      case _ => Summary.line(failed == 0, attempted, failed, ListMap(results.flatMap(r =>
        metricsJson(r.endToEnd).map { case (k, v) => s"${r.name}.$k" -> v }): _*))
    }
    a.resultFile.foreach(f => Files.writeString(Paths.get(f), line))
    println(line)
  }

  private def metricsJson(m: ListMap[String, (Double, String)]): ListMap[String, Any] =
    m.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }

  final case class WorkloadResult(name: String, attempted: Int, failed: Int,
      endToEnd: ListMap[String, (Double, String)], layers: ListMap[String, (Double, String)],
      detail: Any)

  private def newSession(work: File, nproc: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master(s"local[$nproc]").appName("graftbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default of 100 cached generated classes is fewer than one
      // local_analytics pass uses: every pass then compiled ~40 classes
      // anew, the JIT never settled, and runs landed in two speed modes
      // 30% apart. The cache is JVM-wide, so the first session sets it.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runWorkload(w: Workload, a: Args, work: File, nproc: Int, tracer: Tracer,
      runId: Long): WorkloadResult = {
    val wlId = tracer.newId()
    val wlStart = tracer.nowUs
    val spanMark = tracer.spans.size
    tracer.enabled = false
    var spark: SparkSession = null
    var fixture: Fixture = null
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val passWall = mutable.ArrayBuffer.empty[(Int, String, Double)]
    // JIT compilation, GC and process CPU time and the classes loaded
    // during each pass, which show whether the JVM is still compiling
    val passJvm = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    var probe: Option[(SchedProbe, QeCapture)] = None
    var p = 0
    def runPass(kind: String): Double = {
      val pid = tracer.newId()
      val s = tracer.nowUs
      val jvm0 = jvmMs
      val t = System.nanoTime()
      records ++= Harness.pass(spark, fixture, tracer, pid, p, kind, probe)
      val wall = (System.nanoTime() - t) / 1e9
      val jvm1 = jvmMs
      passWall += ((p, kind, wall))
      passJvm += ((jvm1._1 - jvm0._1, jvm1._2 - jvm0._2, jvm1._3 - jvm0._3, jvm1._4 - jvm0._4))
      tracer.add(Span(pid, wlId, "pass", s, tracer.nowUs, Map("pass" -> p, "kind" -> kind)))
      p += 1
      wall
    }

    // Each set-up round starts a fresh session and builds the fixture in
    // a fresh directory, so it reuses no earlier round's state: the pool
    // (keyed by the remote's URL) and the JVM-lifetime memos (keyed by
    // the fixture directory) are cold in every round's first pass.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var checkS = 0.0
    def setupRound(k: Int): Double = {
      if (fixture != null) fixture.close()
      val dir = new File(work, s"${w.name}/setup$k")
      dir.mkdirs()
      val t0 = System.nanoTime()
      spark = newSession(work, nproc)
      val t1 = System.nanoTime()
      spark.range(0, 10000, 1, nproc).selectExpr("sum(id)").collect() // warm-up job
      val t2 = System.nanoTime()
      fixture = w.setup(spark, dir, a.seed, nproc)
      val t3 = System.nanoTime()
      System.err.println(f"[graftbench] ${w.name} setup $k: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"warm-up ${(t2 - t1) / 1e9}%.2f s, fixture ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    def prepare(): Unit = {
      val t = System.nanoTime()
      w.prepare(fixture)
      checkS += (System.nanoTime() - t) / 1e9
    }
    val m0 = System.nanoTime()

    // Round 0 is the JVM's first, untimed: its set-up loads classes, and
    // the ops keep speeding up for several passes after its first pass
    // while the JIT compiles them. Its passes' outputs are still checked.
    val firstSetupS = setupRound(0)
    prepare()
    runPass("first")
    (1 to w.warmPasses).foreach(_ => runPass("warm"))
    // Then the timed rounds: setup_s and cold_pass_s are their medians.
    val reps = if (a.trace) 1 else 3
    (1 to reps).foreach { k => setupS += setupRound(k); prepare(); runPass("cold") }
    // Each new session sets off another burst of JIT compilation that
    // slows the next few passes; they run untimed.
    (1 to w.settlePasses).foreach(_ => runPass("settle"))

    // The tail is taken over the first minSteadyPasses steady passes, so
    // its percentile and n do not move with the speed of the system.
    val opsPerPass = fixture.ops.size
    require(opsPerPass * w.minSteadyPasses >= 20,
      s"${w.name}: $opsPerPass ops x ${w.minSteadyPasses} passes put the tail below the median")

    // the measured window: steady passes for --seconds, and at least
    // the workload's minimum number of them
    val window = if (a.trace) a.seconds / 2 else a.seconds
    var steadyS = 0.0
    var steadyPasses = 0
    do { steadyS += runPass("steady"); steadyPasses += 1 } while (steadyS < window || steadyPasses < w.minSteadyPasses)
    if (a.trace) {
      // traced passes after the untraced ones: the difference in op time
      // between the two is the tracing overhead
      val sp = new SchedProbe
      val qc = new QeCapture
      spark.sparkContext.addSparkListener(sp)
      spark.listenerManager.register(qc)
      probe = Some((sp, qc))
      tracer.enabled = true
      var traced = 0
      do { steadyS += runPass("traced"); traced += 1 } while (steadyS < a.seconds || traced < 2)
      tracer.enabled = false
      spark.sparkContext.removeSparkListener(sp)
      spark.listenerManager.unregister(qc)
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    // The remote database is shut down first: an embedded Derby's pages
    // and connections are the remote's memory, not graft's.
    graft.SparkEntry.resetSessionConfs(spark)
    fixture.close()
    // Derby's pages and LOB handles have finalizers; run them, or what
    // they hold counts until the finalizer thread catches up
    (1 to 4).foreach { _ => System.gc(); System.runFinalization() }
    val heapMb = liveHeapBytes() / 1048576.0
    tracer.enabled = a.trace
    tracer.add(Span(wlId, runId, "workload", wlStart, tracer.nowUs, Map("workload" -> w.name)))
    tracer.enabled = false

    val attempted = records.size
    val failed = records.count(!_.ok)
    val steadyRecs = records.filter(_.kind == "steady").toSeq
    val steady = steadyRecs.map(_.latencyS)
    val coldPasses = passWall.collect { case (i, "cold", _) => opSum(records.toSeq, i) }.toSeq
    val firstSteady = steadyRecs.map(_.pass).distinct.sorted.take(w.minSteadyPasses).toSet
    val tail = Stats.tail(steadyRecs.filter(r => firstSteady.contains(r.pass)).map(_.latencyS))
      .getOrElse(throw new IllegalStateException(s"${w.name}: tied latencies leave no tail percentile"))
    // a steady pass as the sum of each op's median over the steady
    // passes: one slow pass moves no op's median
    val medianPassS = steadyRecs.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.latencyS))).sum
    val e2e = ListMap(
      "setup_s" -> Stats.median(setupS.toSeq),
      "cold_pass_s" -> Stats.median(coldPasses),
      "ops_per_s" -> opsPerPass / medianPassS,
      "op_p50_s" -> Stats.median(steady),
      "op_tail_s" -> tail.value,
      "retained_heap_mb" -> heapMb)
    val layers = if (a.trace) Layers.compute(records.toSeq, nproc, tracer.spans.drop(spanMark))
      else Layers.Result(ListMap.empty, Nil)

    val perOp = records.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      def lat(kind: String) = rs.filter(_.kind == kind).map(_.latencyS).toSeq
      val st = lat("steady")
      n -> Json.obj("cold_s" -> lat("cold"), "warm_s" -> lat("warm"),
        "median_s" -> Stats.median(st), "n" -> st.size, "steady_s" -> st,
        "failed" -> rs.count(!_.ok), "rows_returned" -> rs.head.out.rowsReturned,
        "rows_written" -> rs.head.out.rowsWritten)
    }
    val errors = records.filterNot(_.ok).take(20).map(r =>
      Json.obj("pass" -> r.pass, "op" -> r.name, "error" -> r.error.getOrElse("")))
    val untracedPass = passWall.filter(_._2 == "steady").map(x => opSum(records.toSeq, x._1))
    val tracedPass = passWall.filter(_._2 == "traced").map(x => opSum(records.toSeq, x._1))
    val e2eUnits = e2e.map { case (k, v) => k -> (v, endToEndUnits(k)) }
    val detail = Json.obj(
      "workload" -> w.name,
      "fixture" -> fixture.info,
      "first_setup_s" -> firstSetupS, "setup_s" -> setupS, "cold_pass_s" -> coldPasses, "check_prepare_s" -> checkS,
      "measured_s" -> measuredS,
      "passes" -> passWall.zip(passJvm).map { case ((i, k, s), (jit, gc, cpu, cl)) => Json.obj("pass" -> i,
        "kind" -> k, "wall_s" -> s, "cpu_ms" -> cpu, "jit_ms" -> jit, "gc_ms" -> gc, "classes_loaded" -> cl,
        "op_sum_s" -> opSum(records.toSeq, i)) },
      "end_to_end" -> metricsJson(e2eUnits),
      "op_tail" -> Json.obj("percentile" -> tail.percentile, "n" -> tail.n, "beyond" -> tail.beyond),
      "attempted" -> attempted, "failed" -> failed,
      "error_ratio" -> failed.toDouble / attempted,
      "errors" -> errors,
      "per_op" -> ListMap(perOp: _*),
      "per_layer" -> metricsJson(layers.metrics),
      "per_layer_detail" -> layers.detail,
      "tracing_overhead" -> (if (a.trace && untracedPass.nonEmpty && tracedPass.nonEmpty) {
        val u = Stats.median(untracedPass.toSeq); val t = Stats.median(tracedPass.toSeq)
        Some(Json.obj("untraced_pass_op_s" -> u, "traced_pass_op_s" -> t,
          "overhead_s" -> (t - u), "overhead_ratio" -> (t - u) / u))
      } else None))
    WorkloadResult(w.name, attempted, failed, e2eUnits, layers.metrics, detail)
  }

  /** Bytes of the objects still reachable, from the JVM's class
    * histogram (the diagnostic command behind `jcmd GC.class_histogram`,
    * which runs a full GC first). Heap usage figures would also count
    * whole G1 regions and what other threads allocate after the GC. */
  private def liveHeapBytes(): Long = {
    val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
      new ObjectName("com.sun.management:type=DiagnosticCommand"), "gcClassHistogram",
      Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName)).toString
    histogram.linesIterator.collectFirst { case l if l.startsWith("Total") => l.trim.split("\\s+").last.toLong }
      .getOrElse(throw new IllegalStateException("class histogram has no Total line"))
  }

  /** JIT compilation, GC and process CPU milliseconds of the JVM so far,
    * and the classes it has loaded. */
  private def jvmMs: (Double, Double, Double, Double) =
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble,
      ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)

  private def opSum(rs: Seq[OpRecord], pass: Int): Double =
    rs.filter(_.pass == pass).map(_.latencyS).sum

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The result line: the last line of standard output. */
object Summary {
  val MaxChars = 2000
  def render(correct: Boolean, attempted: Int, failed: Int, metrics: ListMap[String, Any]): String =
    Json.render(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics))

  /** The compact summary of every workload, which a tail capture must
    * always be able to parse: refused rather than truncated when longer
    * than MaxChars. */
  def line(correct: Boolean, attempted: Int, failed: Int, metrics: ListMap[String, Any]): String = {
    val s = render(correct, attempted, failed, metrics)
    require(s.length <= MaxChars, s"summary line is ${s.length} chars (max $MaxChars)")
    s
  }
}

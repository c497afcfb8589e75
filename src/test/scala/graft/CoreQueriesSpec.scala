package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      // match graft.Bench/Verify (round 13): cached-plan AQE coalescing
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs that `f` starts from this thread. A marker job runs after
    * it; listener events arrive in order, so once the marker's start
    * is seen, every job `f` started has been seen too. */
  def jobsStartedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobToken"
    val token = s"run-${System.nanoTime()}"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(starts.put)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, token)
      try f finally sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map(t => { assert(t != null, "marker job start never arrived"); t })
        .takeWhile(_ != "marker").count(_ == token)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

class CoreQueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every core query runs and yields a non-degenerate result") {
    CoreQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      info(s"$name -> $n rows")
    }
  }

  test("every query has an oracle with matching column names") {
    // Oracle coverage: each core query must declare oracle SQL; the
    // column-name match itself is exercised end-to-end by tools/check_oracle.py.
    // Exceptions are implementation-defined results (approx sketches).
    val rowsOnly = Set("q26_approx")
    CoreQueries.queries.keys.filterNot(rowsOnly).foreach { name =>
      assert(CoreQueries.oracle.contains(name), s"missing oracle for $name")
    }
  }

  test("q01 aggregates match a hand-check on sf0.001") {
    val df = CoreQueries.queries("q01_agg")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val liCount = Tables.table(spark, sf, "lineitem")
      .filter("l_shipdate <= timestamp'1998-09-01'").count()
    assert(total == liCount)
  }

  test("filter pushdown reaches the parquet scan") {
    val df = CoreQueries.queries("q02_filter_agg")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"expected parquet filter pushdown in plan:\n$plan")
  }

  test("HLL sketches survive parquet storage and merge to the same estimate") {
    import org.apache.spark.sql.functions._
    // the q46 claim, end-to-end: a daily sketch table MATERIALIZED to
    // parquet (binary column) re-loads and unions to the identical
    // estimate — which is what makes "distinct this quarter" a
    // 90-sketch union instead of a history re-scan
    val ev = Tables.table(spark, sf, "events")
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val direct = daily
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).collect().head.getLong(0)
    val dir = s"/tmp/graft_sketches_${System.nanoTime()}"
    daily.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).collect().head.getLong(0)
    assert(reloaded == direct, s"stored-sketch merge $reloaded != $direct")
    val exact = ev.agg(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(math.abs(reloaded - exact).toDouble / exact <= 0.05)
  }
}

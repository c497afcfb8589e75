package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession, Tables}

/** The BPE and CC loops plan their non-adaptive rounds with
  * `Bridge.nonAdaptive`: the caller's confs never change, even while a
  * loop runs on another thread. */
class LoopSessionSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def within[T](f: => T): T =
    Await.result(Future(f)(ExecutionContext.global), 5.minutes)

  test("a concurrent reader never sees the BPE or CC loops change the " +
      "caller's session confs") {
    val docs = Tables.table(spark, "/root/testdata/sf0.01", "documents")
    val edges = Round14OpsSpec.ccGraph(spark)
    val before = spark.conf.getAll
    def read() = Seq("spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions").map(spark.conf.getOption)
    val want = read()
    val loops = Future {
      LmOps.bpeTrain(docs, "text", 24).collect()
      LmOps.bpeTrainBatched(docs, "text", 24).collect()
      ClusterOps.connectedComponents(edges, "a", "b", maxIter = 60).collect()
    }(ExecutionContext.global)
    val seen = scala.collection.mutable.Set(read())
    while (!loops.isCompleted) { seen += read(); Thread.sleep(1) }
    Await.result(loops, 10.minutes)
    assert(seen === Set(want))
    assert(spark.conf.getAll === before)
  }

  test("rounds 2 onward still run non-adaptive: the loops start as " +
      "many jobs as when they set AQE off on the caller's session") {
    SparkEntry.resetSessionConfs(spark)
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    // bpeTrain: round 1 under AQE starts 4 jobs (the word-table cache,
    // its exchange, the pair count's exchange, the ranking), then each
    // of rounds 2..8 starts one; adaptive rounds would start more
    assert(SparkTestSession.jobsStartedBy(
      LmOps.bpeTrain(docs, "text", 8).collect()) === 11)
    assert(SparkTestSession.jobsStartedBy(
      LmOps.bpeSegment(docs, "text", 8).collect()) === 13)
    CacheRegistry.releaseAll()
    assert(SparkTestSession.jobsStartedBy(
      ClusterOps.connectedComponents(Round14OpsSpec.ccGraph(spark), "a", "b",
        maxIter = 60).collect()) === 77)
  }

  test("bpeTrainBatched leaves cached the word table an earlier " +
      "bpeSegment on the same corpus cached") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    // does a fresh plan over `df` read the cached word table?
    def readsWords(df: org.apache.spark.sql.DataFrame): Boolean =
      df.select("*").queryExecution.withCachedData.collect {
        case r: InMemoryRelation if r.output.exists(_.name == "syms") => r
      }.nonEmpty
    CacheRegistry.releaseAll()
    val seg = LmOps.bpeSegment(docs, "text", 8)
    seg.collect()
    assert(readsWords(seg))
    LmOps.bpeTrainBatched(docs, "text", 8).collect()
    assert(readsWords(seg), "bpeTrainBatched unpersisted bpeSegment's cache")
    CacheRegistry.releaseAll()
    assert(!readsWords(seg))
  }

  test("nonAdaptive and collectNonAdaptive plan AQE-off with the given " +
      "shuffle partitions and write no session conf") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.Bridge
    val before = spark.conf.getAll
    val df = (1 to 100).toDF("id").groupBy((col("id") % 7).as("k")).count()
    val want = df.collect().sortBy(_.getInt(0)).toSeq
    val out = Bridge.nonAdaptive(df, 3)
    assert(out.rdd.getNumPartitions === 3)
    // the aggregation's shuffle and its result stage run as one job
    assert(SparkTestSession.jobsStartedBy(out.collect()) === 1)
    assert(out.collect().sortBy(_.getInt(0)).toSeq === want)
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(SparkTestSession.jobsStartedBy {
      rows = Bridge.collectNonAdaptive(df, 3)
    } === 1)
    assert(rows.sortBy(_.getInt(0)).toSeq === want)
    assert(spark.conf.getAll === before)
  }

  test("bpeTrain and bpeTrainBatched return an empty merge table on a " +
      "corpus with no adjacent pair, empty or of one-letter words") {
    val empty = Seq.empty[String].toDF("text")
    val letters = Seq("a b c", "z a", "q").toDF("text")
    Seq(empty, letters).foreach { docs =>
      assert(within(LmOps.bpeTrain(docs, "text", 4).collect()).isEmpty)
      assert(within(
        LmOps.bpeTrainBatched(docs, "text", 4, batch = 2).collect()).isEmpty)
    }
  }
}

package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, RangeJoin}

class OperatorsRound2Spec extends AnyFunSuite with ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("range join covers fractional interval bounds (no dropped tail bucket)") {
    // hi = 10.5 with bucketWidth 10: the old floor((hi-1)/w) bound dropped
    // bucket 1, silently losing the point at 10.2
    val points = Seq(0.5, 9.9, 10.2, 10.6, 25.0).toDF("p")
    val intervals = Seq((0.0, 10.5, "i1"), (20.0, 30.0, "i2"))
      .toDF("lo", "hi", "tag")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi",
        bucketWidth = 10L)
      .select("p", "tag").as[(Double, String)].collect().toSet
    assert(got == Set((0.5, "i1"), (9.9, "i1"), (10.2, "i1"), (25.0, "i2")))
  }

  test("range join: empty intervals (hi <= lo) match nothing") {
    val points = Seq(1.0, 2.0).toDF("p")
    val intervals = Seq((5.0, 5.0, "empty"), (3.0, 2.0, "inverted"))
      .toDF("lo", "hi", "tag")
    assert(RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 10L)
      .count() == 0)
  }

  test("dot product fails loudly on mismatched vector lengths") {
    val a = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("x", "y")
    val e = intercept[Exception] {
      a.select(graft.functions.native.dot_product(col("x"), col("y"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("mismatched vector lengths"))))
  }

  test("bucketed as-of join equals the single-window as-of on the fixture") {
    import org.apache.spark.sql.functions.unix_micros
    val ev = graft.Tables.table(spark, "/root/testdata/sf0.001", "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("last_view_us"))
    def run(bucketed: Option[Long]) = {
      val j = bucketed match {
        case Some(w) => graft.operators.AsOfJoin.asofBucketed(
          purchases, "user_id", "ts", views, "user_id", "ts",
          Map("view_id" -> "last_view_id", "last_view_us" -> "last_view_us"),
          "view_id", w)
        case None => graft.operators.AsOfJoin.asof(
          purchases, "user_id", "ts", views, "user_id", "ts",
          Map("view_id" -> "last_view_id", "last_view_us" -> "last_view_us"),
          "view_id")
      }
      j.select(col("event_id"), col("last_view_id"), col("last_view_us"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    }
    val plain = run(None)
    // several widths, incl. one so small most buckets carry-in and one so
    // large everything lands in one bucket (degenerates to plain asof)
    for (w <- Seq(60L * 1000000, 6L * 3600 * 1000000, 365L * 86400 * 1000000)) {
      assert(run(Some(w)) == plain, s"width $w diverged")
    }
    assert(plain.nonEmpty)
  }

  test("bucketed as-of: trailing NULL attached value cannot shadow an earlier one") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    // bucket width 1h: r1(v=7) then r2(v=null) in hour 0; left row in hour 1.
    // Correct carry-in is v=7 (last NON-NULL), not null from the later row.
    val right = Seq((1L, ts(10), 100L, java.lang.Long.valueOf(7L)),
        (1L, ts(20), 101L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "rt", "tie", "v")
    val left = Seq((1L, ts(90), 900L)).toDF("k", "lt", "left_id")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.select("left_id", "v_out").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val plain = run(graft.operators.AsOfJoin.asof(
      left, "k", "lt", right, "k", "rt", Map("v" -> "v_out"), "tie"))
    val bucketed = run(graft.operators.AsOfJoin.asofBucketed(
      left, "k", "lt", right, "k", "rt", Map("v" -> "v_out"), "tie",
      bucketMicros = 3600L * 1000000))
    assert(plain == Set((900L, 7L)))
    assert(bucketed == plain)
  }

  test("salted join returns exactly the plain join's rows, spread by salt") {
    // one hot key (90% of rows) + a long tail
    val big = ((1L to 900L).map(i => (7L, i)) ++
      (1L to 100L).map(i => (i % 5 + 100L, i))).toDF("k", "v")
    val small = Seq((7L, "hot"), (100L, "a"), (101L, "b"), (102L, "c"),
      (103L, "d"), (104L, "e"), (999L, "unmatched")).toDF("k", "tag")
    val plain = big.join(small, "k").select("k", "v", "tag")
      .as[(Long, Long, String)].collect().toSet
    val salted = graft.operators.SkewJoin.saltedEquiJoin(big, small, "k", 16)
      .select("k", "v", "tag").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
    assert(plain.size == 1000)
    // the physical join keys include the salt column
    val plan = graft.operators.SkewJoin.saltedEquiJoin(big, small, "k", 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__graft_salt"), plan)
  }

  test("IVF top-k equals brute force when every list is probed") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = all.filter(col("id") < 5)
    val exact = graft.operators.VectorOps.bruteForceTopK(q, all, 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivfAll = graft.operators.VectorOps
      .ivfTopK(q, all, 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(ivfAll == exact, "nprobe = nlist must be exhaustive (exact)")
  }

  test("IVF recall under real pruning stays above the gate threshold") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = all.filter(col("id") < 10)
    val exact = graft.operators.VectorOps.bruteForceTopK(q, all, 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivf = graft.operators.VectorOps
      .ivfTopK(q, all, 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall (${ivf.intersect(exact).size}/${exact.size})")
  }

  test("IVF-PQ: exhaustive probe + full rescore band equals float brute force") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = all.filter(col("id") < 5)
    val exact = graft.operators.VectorOps.bruteForceTopK(q, all, 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // nprobe = nlist: no probe misses; a generous rescore band lets the
    // float rescore repair every quantized-order error, so the final
    // ranking must equal the exact float top-k
    val pq = graft.operators.VectorOps
      .ivfPqTopK(q, all, 5, nlist = 8, nprobe = 8, rescoreK = 50)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(pq == exact,
      "exhaustive IVF-PQ with rescoring must match float brute force")
  }

  test("IVF-PQ recall under real pruning stays above the gate threshold") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = all.filter(col("id") < 10)
    val exact = graft.operators.VectorOps.bruteForceTopK(q, all, 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val pq = graft.operators.VectorOps
      .ivfPqTopK(q, all, 5, nlist = 8, nprobe = 3, rescoreK = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall (${pq.intersect(exact).size}/${exact.size})")
    // quantization must not cost recall vs the float IVF at the same
    // probe budget by more than the rescore band can explain — compare
    // against the float path directly
    val ivf = graft.operators.VectorOps
      .ivfTopK(q, all, 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivfRecall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= ivfRecall - 0.1,
      s"PQ recall $recall far below float IVF recall $ivfRecall")
  }

  test("LSH skew guard emits dropped-bucket metrics via observe") {
    // 4 copies of text A (bucket size 4 -> dropped at maxBucket=2) plus
    // 2 copies of text B (bucket size 2 -> kept): the survivors keep the
    // plan non-empty (AQE prunes CollectMetrics with empty subtrees) and
    // the observation reports exactly what the guard discarded
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different text about spark query engines at scale"
    val docs = Seq((1L, a), (2L, a), (3L, a), (4L, a), (5L, b), (6L, b))
      .toDF("doc_id", "text")
    val obs = Observation("lsh_skew")
    val pairs = DedupOps.minhashLshPairs(docs, "doc_id", "text",
      tau = 0.7, maxBucket = 2, skewObs = Some(obs))
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Set((5L, 6L)), "only the small bucket's pair survives")
    val m = obs.get
    assert(m("dropped_buckets").asInstanceOf[Long] > 0)
    assert(m("dropped_ids").asInstanceOf[Long] >= 4)
    assert(m("max_bucket_size").asInstanceOf[Int] == 4)
  }

  test("incremental screen emits the same skew metrics over the index side") {
    // index: 4 copies of text A (index bucket size 4 -> dropped at
    // maxBucket=2) + 2 copies of text B (kept); delta: one A and one B.
    // The A-match is silently LOST to the guard — the observation is
    // what makes that loss visible (ADVICE round 5: candidatesAcross
    // had no skewObs, so incremental recall loss was invisible).
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different text about spark query engines at scale"
    val index = Seq((1L, a), (2L, a), (3L, a), (4L, a), (5L, b), (6L, b))
      .toDF("doc_id", "text")
    val delta = Seq((101L, a), (102L, b)).toDF("doc_id", "text")
    val obs = Observation("lsh_skew_across")
    val hits = DedupOps.minhashNewVsIndex(delta, index, "doc_id", "text",
      tau = 0.7, maxBucket = 2, skewObs = Some(obs))
    assert(hits.select("id_new", "id_idx").as[(Long, Long)].collect().toSet ==
      Set((102L, 5L), (102L, 6L)), "only the small index bucket matches")
    val m = obs.get
    assert(m("dropped_buckets").asInstanceOf[Long] > 0)
    assert(m("dropped_ids").asInstanceOf[Long] >= 4)
    assert(m("max_bucket_size").asInstanceOf[Int] == 4)
  }

  test("LSH skew metrics are zero when no bucket exceeds the cap") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val obs = Observation("lsh_skew_ok")
    val pairs = DedupOps.minhashLshPairs(docs, "doc_id", "text",
      tau = 0.7, maxBucket = 100, skewObs = Some(obs))
    assert(pairs.count() == 1)
    assert(obs.get("dropped_buckets").asInstanceOf[Long] == 0L)
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-9 operator specs: the hash-collapsed hamming banding (m14's
  * quadratic fix — identical hashes collapse to one banded row, pairs
  * re-expand output-proportionally), the relative candidate budget in
  * LshJoin, and the bit-mask source-overlap rewrite (p60). */
class Round9OpsSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- hash-collapsed hamming banding -----------------------------------

  /** brute force oracle: all pairs with hamming ≤ maxDist */
  private def bruteHamming(hs: Seq[(Long, Long)], maxDist: Int) =
    (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxDist
    } yield (a, b, d)).toSet

  test("bandedHammingPairs == brute force on a LOW-ENTROPY hash set " +
      "(the shape that was quadratic before the collapse)") {
    // 60 assets over only 5 distinct hashes, all within hamming ≤ 3 of
    // each other except one far group — the old per-asset banding put
    // all 60 into the same chunk buckets; the collapsed path bands 5
    val near = Seq(0L, 1L, 3L, 1L << 20, (1L << 20) | 1L)
    val hs = (0 until 60).map(i => (i.toLong, near(i % 5))) ++
      Seq((100L, 0x0FFFFFFFFFFFFFL))
    val got = graft.multimodal.MultimodalOps
      .audioNearDupPairs(hs.toDF("asset_id", "ahash"), maxDist = 3)
      .as[(Long, Long, Int)].collect()
    assert(got.length == got.toSet.size, "no duplicate pairs")
    assert(got.toSet == bruteHamming(hs, 3))
  }

  test("bandedHammingPairs recall holds at each hamming distance 0..3") {
    val base = 0x00FF00FF00FF00L & 0x00FFFFFFFFFFFFFFL
    val hs = Seq(
      (1L, base), (2L, base),                     // d=0
      (3L, base ^ (1L << 5)),                     // d=1 vs 1/2
      (4L, base ^ ((1L << 5) | (1L << 20))),      // d=2 vs 1/2
      (5L, base ^ ((1L << 5) | (1L << 20) | (1L << 41)))) // d=3 vs 1/2
    val got = graft.multimodal.MultimodalOps
      .audioNearDupPairs(hs.toDF("asset_id", "ahash"), maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == bruteHamming(hs, 3))
  }

  // ---- LshJoin.candidatesBudgeted ----------------------------------------

  test("candidatesBudgeted: relative cap tightens with banded volume " +
      "but never below the 64 floor") {
    // one hot bucket of 80 ids + one cold pair: floor(64) < 80, so with
    // a tiny budget the hot bucket must be DROPPED once n makes
    // 2*budget/n < 80 (the cold pair keeps the result non-empty so AQE
    // cannot prune the CollectMetrics node with an empty subtree)
    val hot = ((1L to 80L).map(i => (i, 0, 0)) ++
      Seq((90L, 1, 1), (91L, 1, 1))).toDF("id", "chunk", "ck")
    val obs = org.apache.spark.sql.Observation()
    val got = LshJoin.candidatesBudgeted(hot, Seq("chunk", "ck"),
      maxBucket = 10000, candidateBudget = 100, skewObs = Some(obs))
      .as[(Long, Long)].collect().toSet
    // 82 banded rows, cap = max(64, 200/82=2) = 64 < 80 -> hot dropped
    assert(got == Set((90L, 91L)))
    val m = org.apache.spark.sql.graftbridge.Bridge.observationMetrics(obs)
    assert(m("dropped_buckets") == 1L && m("dropped_ids") == 80L)
    assert(m("max_bucket_size") == 80 && m("bucket_cap") == 64L)
  }

  test("candidatesBudgeted: generous budget keeps the absolute-cap " +
      "behavior (all pairs of a shared bucket)") {
    val b = Seq((1L, 0, 7), (2L, 0, 7), (3L, 0, 7), (4L, 1, 9))
      .toDF("id", "chunk", "ck")
    val got = LshJoin.candidatesBudgeted(b, Seq("chunk", "ck"),
      maxBucket = 10000, candidateBudget = 1000000)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // ---- bit-mask source overlap -------------------------------------------

  test("sourceOverlap: bit_or mask plan matches hand-computed matrix") {
    // srcA: {x y, y z}; srcB: {y z, z w}; srcC: {q r}
    // 3-shingles with n=2 words... use n=2 shingles over 2-word docs ->
    // each doc is ONE shingle
    val df = Seq(
      ("A", "x y"), ("A", "y z"),
      ("B", "y z"), ("B", "z w"),
      ("C", "q r")).toDF("source", "text")
    val got = DedupOps.sourceOverlap(df, "source", "text", n = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    // pairs that share NO shingle never materialize (same as the set
    // spelling: no mask/set ever contains both bits), so (A,C)/(B,C)
    // are absent rather than zero rows
    assert(got == Set(("A", "B", 1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("sourceOverlap: duplicate shingles within one source count once") {
    val df = Seq(("A", "x y"), ("A", "x y"), ("B", "x y"))
      .toDF("source", "text")
    val got = DedupOps.sourceOverlap(df, "source", "text", n = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(("A", "B", 1L, 1L, 1L, 1.0)))
  }

  // ---- exact set-similarity join (prefix filtering, p69) ------------------

  /** brute-force trigram-shingle Jaccard oracle */
  private def bruteJaccard(docs: Seq[(Long, String)], tau: Double) = {
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      sa = sh(ta); sb = sh(tb)
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= tau
    } yield (a, b, j)).toSet
  }

  test("setSimJoinExact == brute-force Jaccard (zero false negatives, " +
      "zero false positives)") {
    val docs = Seq(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g h",            // exact dup of 1
      3L -> "a b c d e f g x",            // near dup of 1/2
      4L -> "p q r s t u v w",            // distinct
      5L -> "p q r s t u v w y z",        // superset-ish of 4
      6L -> "m n o",                      // single shingle
      7L -> "m n o",                      // its dup
      8L -> "completely different words here now")
    val df = docs.toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.8)) {
      val got = DedupOps.setSimJoinExact(df, "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == bruteJaccard(docs, tau), s"tau=$tau")
    }
  }

  test("setSimJoinExact == brute force on seeded random word-soup " +
      "corpora (exactness is not fixture luck)") {
    // deterministic LCG so failures reproduce; tiny vocab makes
    // overlapping shingle sets and borderline-tau pairs common
    var state = 0x5EEDL
    def nextInt(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % n).toInt + n) % n
    }
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 3) {
      val docs = (1L to 30L).map { i =>
        val len = 4 + nextInt(8)
        i -> Vector.fill(len)(vocab(nextInt(vocab.size))).mkString(" ")
      }
      for (tau <- Seq(0.4, 0.7)) {
        val got = DedupOps.setSimJoinExact(docs.toDF("doc_id", "text"),
          "doc_id", "text", tau).as[(Long, Long, Double)].collect().toSet
        assert(got == bruteJaccard(docs, tau), s"trial=$trial tau=$tau")
      }
    }
  }

  test("setSimJoinExact: a corpus-wide boilerplate shingle lands in " +
      "nobody's prefix and creates no candidates") {
    // every doc shares the 'x x x' boilerplate shingle; at tau=0.8 and
    // 5+ shingles/doc the prefix is 1-2 RAREST shingles, never the hot
    // one — so the candidate count stays 0 even though a naive banding
    // on all shingles would bucket all n docs together
    val docs = (1L to 40L).map(i =>
      i -> s"x x x u$i v$i w$i y$i z$i")
    val got = DedupOps.setSimJoinExact(docs.toDF("doc_id", "text"),
      "doc_id", "text", tau = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(got.isEmpty)
    assert(bruteJaccard(docs, 0.8).isEmpty) // oracle agrees
  }

  // ---- token-budget selection (p70) ---------------------------------------

  test("tokenBudgetSelect == single-partition window oracle, " +
      "incl. quality ties and the overflow cut") {
    // quality = distinct ratio; craft ties (docs 3/4 same quality) and
    // a doc that straddles the budget boundary
    val rows = Seq(
      (1L, 1.0, 30L), (2L, 0.9, 40L), (3L, 0.8, 25L), (4L, 0.8, 25L),
      (5L, 0.7, 100L), (6L, 0.6, 10L))
    val df = rows.toDF("id", "q", "n")
    val got = SampleOps.tokenBudgetSelect(df, "id", col("q"), col("n"),
        budgetTokens = 121L, parts = 4)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._1)
    // order: 1(30) 2(70) 3(95) 4(120) | 5 overflows(220) 6 would fit at
    // 130 > 121 — the stream TRUNCATES at the first overflow
    assert(got.toSeq == Seq(
      (1L, 1.0, 30L, 0L), (2L, 0.9, 40L, 30L),
      (3L, 0.8, 25L, 70L), (4L, 0.8, 25L, 95L)))
  }

  test("tokenBudgetSelect: budget larger than the corpus keeps everything") {
    val df = Seq((1L, 0.5, 10L), (2L, 0.9, 20L)).toDF("id", "q", "n")
    val got = SampleOps.tokenBudgetSelect(df, "id", col("q"), col("n"),
        budgetTokens = 1000L, parts = 2)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4)
    assert(got.toSeq == Seq((2L, 0.9, 20L, 0L), (1L, 0.5, 10L, 20L)))
  }

  test("tokenBudgetSelect: empty input and all-pruned budget are empty") {
    val df = Seq((1L, 0.5, 10L)).toDF("id", "q", "n")
    assert(SampleOps.tokenBudgetSelect(df.limit(0), "id", col("q"),
      col("n"), 100L).count() == 0)
    // budget smaller than the first doc: bucket 0 is live but the doc
    // overflows -> empty selection
    assert(SampleOps.tokenBudgetSelect(df, "id", col("q"),
      col("n"), 5L).count() == 0)
  }

  test("tokenBudgetSelect: null quality / null weight rows are excluded, " +
      "not NPE'd or engine-dependently ordered") {
    val df = Seq[(Long, java.lang.Double, java.lang.Long)](
      (1L, 0.9, 10L), (2L, null, 10L), (3L, 0.8, null), (4L, 0.7, 10L))
      .toDF("id", "q", "n")
    val got = SampleOps.tokenBudgetSelect(df, "id", col("q"), col("n"),
        budgetTokens = 100L, parts = 4)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4)
    assert(got.toSeq == Seq((1L, 0.9, 10L, 0L), (4L, 0.7, 10L, 10L)))
    // all-null quality: empty result, not a driver-side NPE
    val allNull = Seq[(Long, java.lang.Double, java.lang.Long)](
      (1L, null, 10L)).toDF("id", "q", "n")
    assert(SampleOps.tokenBudgetSelect(allNull, "id", col("q"),
      col("n"), 100L).count() == 0)
  }

  test("tokenBudgetSelect: constant quality (single-bucket skew) stays " +
      "correct via the id tie-break") {
    val df = (1L to 50L).map(i => (i, 0.5, 10L)).toDF("id", "q", "n")
    val got = SampleOps.tokenBudgetSelect(df, "id", col("q"), col("n"),
        budgetTokens = 105L, parts = 8)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 10L))
    assert(got.map(_._4).toSeq == (0L until 100L by 10L))
  }
}

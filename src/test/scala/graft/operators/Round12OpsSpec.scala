package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-12 operator additions and fixes. */
class Round12OpsSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("setSimJoinExact keeps pairs with doc ids beyond the double " +
      "mantissa (packed-key unpack is integral, full 39-bit domain)") {
    // round-12 ADVICE: `/` on the packed long id*2^24+sz*2^12+pos went
    // through DOUBLE division; above ~2^29 the pack exceeds the 53-bit
    // mantissa and a saturated low part rounds into the NEXT id. Ids
    // here sit near 2^38 (within the documented 39-bit domain) with
    // low parts forced high by near-identical long docs.
    val base = (1 to 300).map(i => s"tok$i").mkString(" ")
    val idA = (1L << 38) - 3L
    val idB = (1L << 38) - 2L
    val docs = Seq(idA -> base, idB -> (base + " tail"))
      .toDF("doc_id", "text")
    val got = DedupOps.setSimJoinExact(docs, "doc_id", "text", tau = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((idA, idB)), s"got $got")
    CacheRegistry.releaseAll()
  }

  test("containmentScreen finds every planted excerpt (containment " +
      "1.0 => screen recall exactly 1) and emits no pair the exact " +
      "join would reject") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq(1L -> long, 2L -> excerpt, 3L -> other)
      .toDF("doc_id", "text")
    val screened = DedupOps.containmentScreen(docs, "doc_id", "text",
      tau = 0.9).as[(Long, Long, Double)].collect().toSet
    val exact = DedupOps.containmentJoin(docs, "doc_id", "text",
      tau = 0.9).as[(Long, Long, Double)].collect().toSet
    assert(screened == Set((2L, 1L, 1.0)), s"screened $screened")
    assert(screened.subsetOf(exact),
      "screen must never emit a pair exact verification rejects")
    CacheRegistry.releaseAll()
  }

  test("containmentScreen maxBucket caps hot shingles (documented " +
      "recall trade the exact join cannot make) and observes counts") {
    // 21 docs share one viral boilerplate shingle (df 21 > cap 5), so
    // the cap drops it from the container index; the true excerpt pair
    // survives on its own shingles
    val boiler = (900 to 902).map(i => s"b$i").mkString(" ")
    val docs = (
      Seq(1L -> ((1 to 60).map(i => s"w$i").mkString(" ") + " " + boiler),
        2L -> (1 to 8).map(i => s"w$i").mkString(" ")) ++
        (10L to 29L).map(i =>
          i -> ((1 to 40).map(j => s"x${i}_$j").mkString(" ") + " " + boiler))
      ).toDF("doc_id", "text")
    val obs = org.apache.spark.sql.Observation()
    val capped = DedupOps.containmentScreen(docs, "doc_id", "text",
        tau = 0.9, maxBucket = 5L, candObs = Some(obs))
      .as[(Long, Long, Double)].collect()
    assert(capped.map(r => (r._1, r._2)).toSet == Set((2L, 1L)),
      s"capped screen lost the real pair: ${capped.toSeq}")
    // .collect() fires the execution listeners asynchronously; settle
    val deadline = System.nanoTime() + 5_000_000_000L
    var m = org.apache.spark.sql.graftbridge.Bridge.observationMetrics(obs)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      m = org.apache.spark.sql.graftbridge.Bridge.observationMetrics(obs)
    }
    assert(m.nonEmpty, "screen observation never completed")
    assert(m("cands_after_screen").toString.toLong >= 1L)
    CacheRegistry.releaseAll()
  }

  test("bpeTrainBatched == bpeTrain merge-for-merge (order and " +
      "counts) on the fixture corpus and on a hand corpus") {
    val hand = Seq(1L -> "aab aab ab bb", 2L -> "aab ab bb")
      .toDF("doc_id", "text")
    val seqHand = LmOps.bpeTrain(hand, "text", nMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val batHand = LmOps.bpeTrainBatched(hand, "text", nMerges = 3, batch = 2)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(batHand == seqHand, s"hand corpus:\n$seqHand\n$batHand")
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    // 24/16 sits PAST the unguarded divergence point (measured merge
    // 23 at sf0.1) — equality here exercises the rewind guard
    val seqT = LmOps.bpeTrain(docs, "text", nMerges = 24)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val batT = LmOps.bpeTrainBatched(docs, "text", nMerges = 24, batch = 16)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(batT == seqT, s"fixture corpus:\n$seqT\n$batT")
    // batch=1 degenerates to sequential BY CONSTRUCTION
    val bat1 = LmOps.bpeTrainBatched(docs, "text", nMerges = 4, batch = 1)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(bat1 == seqT.take(4), s"batch=1:\n${seqT.take(4)}\n$bat1")
  }

  test("BpeApply native expression applies an ordered merge table " +
      "identically to chained greedy folds, at merge counts the " +
      "nested-HOF spelling could not reach") {
    // 500 chained merges building one long symbol: a+b->ab, ab+b->abb…
    // (each merge's left side is the previous merge's output) — order
    // sensitivity and just-merged-participates semantics in one chain
    val merges = (1 to 500).map(i => ("a" + "b" * (i - 1), "b"))
    val df = Seq(Tuple1(("a" + "b" * 500).split("(?=.)").toSeq))
      .toDF("syms")
      .select(graft.functions.native.bpe_apply(col("syms"), merges)
        .as("out"))
    val out = df.as[Seq[String]].collect().head
    assert(out == Seq("a" + "b" * 500), s"got ${out.take(3)}... len ${out.size}")
    // same-pass semantics: (a,a) over "a a a" merges left-greedily
    val df2 = Seq(Tuple1(Seq("a", "a", "a"))).toDF("syms")
      .select(graft.functions.native.bpe_apply(col("syms"),
        Seq(("a", "a"))).as("out"))
    assert(df2.as[Seq[String]].collect().head == Seq("aa", "a"))
  }

  test("bpeTrain survives 40+ generations (lineage cut at both plan " +
      "layers — the TuneBpe OOM/StackOverflow regression)") {
    // a corpus with deep merge structure: a 36-distinct-char word
    // keeps exactly one mergeable pair family alive per round, so the
    // loop runs ~35 generations before exhausting
    val word = "abcdefghijklmnopqrstuvwxyz0123456789"
    val docs = (1 to 50).map(i =>
      i.toLong -> Seq.fill(6)(word).mkString(" "))
      .toDF("doc_id", "text")
    val merged = LmOps.bpeTrain(docs, "text", nMerges = 40)
      .as[(Int, String, String, Long)].collect()
    // depth reached (or corpus exhausted) without analyzer/serializer
    // blowup; merge table is well-formed and strictly step-ordered
    assert(merged.nonEmpty && merged.map(_._1).toSeq == (1 to merged.length))
    assert(merged.forall(m => m._4 > 0 && m._2.nonEmpty && m._3.nonEmpty))
    assert(merged.length >= 30, s"only ${merged.length} merges learned")
  }

  test("containmentScreenNewVsIndex finds cross-side excerpts and " +
      "NEVER forms new-new or index-index pairs (delta-proportional)") {
    val srcA = (1 to 60).map(i => s"w$i").mkString(" ")
    val srcB = (200 to 260).map(i => s"u$i").mkString(" ")
    val excA = (1 to 8).map(i => s"w$i").mkString(" ")
    val excB = (200 to 208).map(i => s"u$i").mkString(" ")
    val index = Seq(1L -> srcA, 2L -> srcB).toDF("doc_id", "text")
    // 11 and 12 are mutual near-dups WITHIN the new batch — an
    // incremental screen must not pair them with each other
    val newB = Seq(11L -> excA, 12L -> excA, 13L -> excB)
      .toDF("doc_id", "text")
    val got = DedupOps.containmentScreenNewVsIndex(newB, index,
      "doc_id", "text", tau = 0.9).as[(Long, Long, Double)].collect().toSet
    assert(got == Set((11L, 1L, 1.0), (12L, 1L, 1.0), (13L, 2L, 1.0)),
      s"got $got")
    CacheRegistry.releaseAll()
  }

  test("containmentJoin keeps directed pairs with ids beyond the " +
      "double mantissa (integral unpack of id*4096+sz)") {
    val long = (1 to 80).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ")
    val idSrc = (1L << 50) + 4095L // low bits saturate the packed size
    val idExc = (1L << 50) + 4096L
    val docs = Seq(idSrc -> long, idExc -> excerpt).toDF("doc_id", "text")
    val got = DedupOps.containmentJoin(docs, "doc_id", "text", tau = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((idExc, idSrc, 1.0)), s"got $got")
    CacheRegistry.releaseAll()
  }
}

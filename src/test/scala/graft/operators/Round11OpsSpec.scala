package graft.operators

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-11 operator additions: the PPJoin POSITIONAL filter (Xiao et
  * al. WWW'08) inside [[DedupOps.setSimJoinExact]].
  */
class Round11OpsSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("positional filter refutes candidates before verification " +
      "(observable reduction) without changing the result") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.01", "documents")
    val obs = Observation("p69_pos")
    val got = DedupOps.setSimJoinExact(docs, "doc_id", "text",
      tau = 0.65, candObs = Some(obs))
    val n = got.count()
    val after = obs.get("pairs_after_positional").asInstanceOf[Long]
    val before = obs.get("pairs_after_length").asInstanceOf[Long]
    info(s"length-filtered candidates: $before, " +
      s"after positional: $after (${before - after} refuted), " +
      s"true pairs: $n")
    assert(after <= before)
    assert(after < before,
      "positional filter refuted nothing on the fixture — wiring broken?")
    assert(n > 0, "fixture must contain near-dup pairs")
  }

  private def bruteContainment(docs: Seq[(Long, String)], tau: Double,
      ngram: Int = 3, minShingles: Int = 5): Set[(Long, Long)] = {
    def sh(t: String): Set[Seq[String]] = {
      val toks = t.split(" ").toSeq
      (0 to toks.length - ngram).map(i => toks.slice(i, i + ngram)).toSet
    }
    val sets = docs.map { case (id, t) => id -> sh(t) }
      .filter(_._2.size >= minShingles)
    (for {
      (ia, a) <- sets; (ib, b) <- sets if ia != ib
      if a.intersect(b).size.toDouble / a.size >= tau
    } yield (ia, ib)).toSet
  }

  test("containmentJoin == brute force on seeded word-soup corpora " +
      "(zero false negatives for the asymmetric predicate)") {
    var state = 0xC0DEL
    def nextInt(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % n).toInt + n) % n
    }
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 3) {
      val base = (1L to 20L).map { i =>
        val len = 8 + nextInt(10)
        i -> Vector.fill(len)(vocab(nextInt(vocab.size))).mkString(" ")
      }
      // plant real excerpts: prefix halves of docs 1-5
      val docs = base ++ (1L to 5L).map { i =>
        val toks = base(i.toInt - 1)._2.split(" ")
        (i + 100) -> toks.take(math.max(toks.length / 2, 3)).mkString(" ")
      }
      for (tau <- Seq(0.7, 0.9)) {
        val got = DedupOps.containmentJoin(
            docs.toDF("doc_id", "text"), "doc_id", "text", tau)
          .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
        assert(got == bruteContainment(docs, tau), s"trial=$trial tau=$tau")
      }
    }
    CacheRegistry.releaseAll()
  }

  test("containmentJoin pairs the excerpt with its source where " +
      "Jaccard-resemblance dedup cannot") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(1L -> long, 2L -> excerpt).toDF("doc_id", "text")
    val cont = DedupOps.containmentJoin(docs, "doc_id", "text", tau = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((2L, 1L, 1.0)),
      s"excerpt must be contained in source: ${cont.toSeq}")
    // resemblance at the same strictness finds nothing (J = 6/58)
    val res = DedupOps.setSimJoinExact(docs, "doc_id", "text", tau = 0.9)
      .collect()
    assert(res.isEmpty, "Jaccard must miss the excerpt pair")
    CacheRegistry.releaseAll()
  }

  test("CacheRegistry releases setSimJoinExact's internal persist " +
      "when composing twice in one job") {
    CacheRegistry.releaseAll() // clean slate
    val docs = Seq(1L -> "a b c d e", 2L -> "a b c d e").toDF("doc_id", "text")
    DedupOps.setSimJoinExact(docs, "doc_id", "text", 0.5).count()
    DedupOps.setSimJoinExact(docs, "doc_id", "text", 0.8).count()
    assert(CacheRegistry.pending == 2)
    CacheRegistry.releaseAll()
    assert(CacheRegistry.pending == 0)
  }

  test("bpeTrain: merge order pinned on a hand corpus (deterministic " +
      "tie-break, merged symbols participate in later rounds)") {
    // freqs: 'aab' x3, 'ab' x2, 'bb' x2 -> pairs: (a,b) 5, (a,a) 3,
    // (b,b) 2. Round 1 merges (a,b); round 2 sees 'a ab' x3, 'ab' x2,
    // 'bb' x2 -> (a,ab) 3 beats (b,b) 2; round 3 merges (b,b).
    val docs = Seq(
      1L -> "aab aab ab bb",
      2L -> "aab ab bb").toDF("doc_id", "text")
    val got = LmOps.bpeTrain(docs, "text", nMerges = 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "a", "b", 5L), (2, "a", "ab", 3L),
      (3, "b", "b", 2L)), s"got $got")
  }

  test("bpeSegment: histogram equals the hand-traced segmentation " +
      "under the learned merges") {
    // merges on this corpus: (a,b), (a,ab), (b,b) — so 'aab' -> [aab],
    // 'ab' -> [ab], 'bb' -> [bb]
    val docs = Seq(
      1L -> "aab aab ab bb",
      2L -> "aab ab bb").toDF("doc_id", "text")
    val got = LmOps.bpeSegment(docs, "text", nMerges = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("aab" -> 3L, "ab" -> 2L, "bb" -> 2L), s"got $got")
    CacheRegistry.releaseAll()
  }

  test("bpeFertility: hand-traced per-source units/word under one " +
      "corpus-trained merge") {
    // corpus word freqs: aab:3, ab:2, bb:2 -> 1 merge = (a,b);
    // segmented units: aab=[a,ab]->2, ab=[ab]->1, bb=[b,b]->2
    val docs = Seq(
      (1L, "s1", "aab aab ab bb"),
      (2L, "s2", "aab ab bb")).toDF("doc_id", "source", "text")
    val got = LmOps.bpeFertility(docs, "source", "text", nMerges = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("s1") == ((4L, 7L, 1.75)), s"s1: ${got("s1")}")
    assert(got("s2") == ((3L, 5L, 5.0 / 3.0)), s"s2: ${got("s2")}")
    CacheRegistry.releaseAll()
  }

  test("bpeTrain is partition-invariant and exhausts gracefully") {
    val docs = Seq(1L -> "xy xy zw").toDF("doc_id", "text")
    // only 2 mergeable pairs exist; asking for 8 stops at 2
    val a = LmOps.bpeTrain(docs, "text", nMerges = 8)
      .as[(Int, String, String, Long)].collect().toSet
    assert(a == Set((1, "x", "y", 2L), (2, "z", "w", 1L)))
    val big = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val one = LmOps.bpeTrain(big.repartition(1), "text", 4)
      .as[(Int, String, String, Long)].collect().toSeq
    val many = LmOps.bpeTrain(big.repartition(13), "text", 4)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(one == many, s"partitioning changed the merge table:\n$one\n$many")
  }

  test("positional filter keeps EXACTLY the tau-boundary pair the " +
      "round-11 double-division bug dropped (J == tau, mixed sizes)") {
    // |A|=5, |B|=2 shingle sets sharing 2 -> J = 2/5 = tau exactly;
    // the fractional-size unpack refuted it (ub 2.000244 < alpha-eps)
    val docs = Seq(
      4L -> "d e b a a c d",
      9L -> "e b a a").toDF("doc_id", "text")
    val got = DedupOps.setSimJoinExact(docs, "doc_id", "text", tau = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((4L, 9L, 0.4)), s"got $got")
  }
}

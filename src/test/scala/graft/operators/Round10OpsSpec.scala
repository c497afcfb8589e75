package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-10 operator specs: oracle-exact distributed k-means
  * (kmeansFit) and the SemDeDup composition built on it (semDedup). */
class Round10OpsSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecsDF(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("id", "vec")

  // three well-separated 4-dim clusters around axis directions
  private def clustered: Seq[(Long, Seq[Float])] = {
    def around(base: Seq[Float], jitter: Float, n: Int, id0: Long) =
      (0 until n).map(i => (id0 + i,
        base.zipWithIndex.map { case (b, d) =>
          b + jitter * ((i + d) % 3 - 1) }))
    around(Seq(1f, 0f, 0f, 0f), 0.02f, 5, 0L) ++
      around(Seq(0f, 1f, 0f, 0f), 0.02f, 5, 10L) ++
      around(Seq(0f, 0f, 1f, 0f), 0.02f, 5, 20L)
  }

  test("kmeansFit is partitioning-invariant (decimal update discipline)") {
    val df = vecsDF(clustered)
    val a = VectorOps.kmeansFit(df.repartition(1), k = 3, iters = 2)
    val b = VectorOps.kmeansFit(df.repartition(7, col("id")), k = 3,
      iters = 2)
    assert(a == b, "bit-identical centroids regardless of partitioning")
  }

  test("kmeansFit separates well-separated clusters") {
    // seeds are ids 0,1,2 — all in cluster A; two Lloyd rounds must
    // still pull centroids apart onto the dominant axes? No: with all
    // seeds in one cluster the OTHER clusters capture no seed. Use
    // k=3 over a fixture whose three lowest ids span the clusters.
    val rows = clustered.map { case (id, v) =>
      // remap so ids 0,1,2 are one member of each cluster
      val nid = id match {
        case 0L => 0L case 10L => 1L case 20L => 2L
        case x if x < 10 => x + 2 case x if x < 20 => x - 8 + 10
        case x => x - 18 + 20
      }
      (nid, v)
    }
    val cents = VectorOps.kmeansFit(vecsDF(rows), k = 3, iters = 2)
    // each centroid's dominant axis is distinct
    val doms = cents.map(c => c.zipWithIndex.maxBy(_._1)._2)
    assert(doms.toSet.size == 3, s"distinct dominant axes, got $doms")
    cents.zip(Seq(0, 1, 2)).foreach { case (c, axis) =>
      assert(c(axis) > 0.9, s"centroid $c concentrates on axis $axis")
    }
  }

  test("kmeansFit keeps the previous centroid for empty clusters") {
    // two far points + k=3: seed 3 duplicates seed 1's position (ties
    // assign to the LOWEST cid), so cluster 2 goes empty and must
    // retain its seed vector exactly
    val rows = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(0f, 1f)))
    val cents = VectorOps.kmeansFit(vecsDF(rows), k = 3, iters = 2)
    assert(cents(2) == Seq(0.0, 1.0), "empty cluster retains seed")
  }

  test("semDedup: planted near-identical vectors collapse to one " +
      "keeper; distant vectors stay singletons") {
    val rows = clustered ++ Seq(
      (30L, clustered.head._2),              // exact dup of id 0
      (31L, clustered.head._2.map(_ * 1.0001f))) // near dup (cos ~ 1)
    val out = VectorOps.semDedup(vecsDF(rows), k = 3, tau = 0.999)
      .select("id", "comp", "keep").as[(Long, Long, Boolean)]
      .collect().map { case (id, c, k2) => (id, (c, k2)) }.toMap
    assert(out(30L)._1 == 0L && !out(30L)._2, "dup joins id 0's comp")
    assert(out(31L)._1 == 0L && !out(31L)._2)
    assert(out(0L)._1 == 0L && out(0L)._2, "lowest id is the keeper")
    // a vector in another k-means cluster is its own component
    assert(out(10L)._1 == 10L && out(10L)._2)
  }

  // ---- distribution drift -----------------------------------------------

  test("distributionDrift: identical snapshots give zero everywhere; " +
      "a shifted snapshot charges exactly the moved bins") {
    val a = (0 until 100).map(i => (i % 10) / 10.0).toDF("score")
    val same = DiffOps.distributionDrift(a, a, nBins = 10)
      .select("contrib").as[Double].collect()
    assert(same.forall(_ == 0.0), "A == B → all contribs 0")
    // B moves every 0.9-bin row to 0.0: only bins 0 and 9 move
    val b = (0 until 100).map(i => if (i % 10 == 9) 0.0 else (i % 10) / 10.0)
      .toDF("score")
    val drift = DiffOps.distributionDrift(a, b, nBins = 10)
      .select("bin", "contrib").as[(Int, Double)].collect().toMap
    assert(drift(9) > 0 && drift(0) > 0)
    assert((1 to 8).forall(drift(_) == 0.0), "untouched bins charge 0")
    val total = drift.values.sum
    assert(total > 0 && total <= 2.0, s"chi-square bounded by 2: $total")
  }

  test("distributionDrift: a bin present in only one snapshot " +
      "survives the full-outer join with null-free probabilities") {
    val a = Seq(0.05, 0.15).toDF("score")
    val b = Seq(0.05, 0.95).toDF("score")
    val rows = DiffOps.distributionDrift(a, b, nBins = 10)
      .orderBy("bin")
      .select("bin", "n_a", "n_b", "contrib")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(0, 1, 9))
    val m = rows.map(r => r._1 -> r).toMap
    assert(m(1)._2 == 1L && m(1)._3 == 0L && m(1)._4 > 0)
    assert(m(9)._2 == 0L && m(9)._3 == 1L && m(9)._4 > 0)
    assert(m(0)._4 == 0.0, "bin with equal mass charges 0")
  }

  // ---- cross-modal dup classification -----------------------------------

  test("crossModalDupClass splits image pairs by caption similarity") {
    val pairs = Seq((1L, 2L, 0), (3L, 4L, 2), (5L, 6L, 1))
      .toDF("id_a", "id_b", "hamming")
    val caps = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "the quick brown fox jumps over the dog"),   // identical → dup
      (3L, "a completely different caption about cats here"),
      (4L, "nothing shared with the other caption text at all"),
      (5L, "the quick brown fox jumps over the dog"),
      (6L, "the quick brown fox leaps over the dog"))   // 1-word edit
      .toDF("asset_id", "caption")
    val out = graft.multimodal.MultimodalOps
      .crossModalDupClass(pairs, caps, tau = 0.8)
      .select("id_a", "dup_class").as[(Long, String)].collect().toMap
    assert(out(1L) == "dup")
    assert(out(3L) == "recaption")
    assert(out(5L) == "recaption",
      "a single mid-caption edit breaks enough trigrams to drop " +
        "below tau=0.8 — the class is caption-level, not char-level")
  }

  // ---- content-defined chunking -----------------------------------------

  private def cdcChunksOf(texts: Seq[String], w: Int = 4, d: Int = 8) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        graft.functions.native.cdc_chunks(col("text"), w, d).as("chunks"))
      .as[(Long, Seq[String])].collect().toMap

  test("cdc_chunks: chunks rejoin to the original text; short docs " +
      "are a single chunk") {
    val doc = (1 to 200).map(i => s"tok${i % 37}x$i").mkString(" ")
    val out = cdcChunksOf(Seq(doc, "only three tokens", ""))
    assert(out(0L).mkString(" ") == doc, "lossless partition")
    assert(out(0L).length > 5, s"content boundaries fired: ${out(0L).length}")
    assert(out(1L) == Seq("only three tokens"), "n < window: one chunk")
    assert(out(2L) == Seq(""), "empty text: one empty chunk")
  }

  test("cdc_chunks: insertion-robust where fixed-stride chunking is " +
      "not (the p61 comparison)") {
    val doc = (1 to 240).map(i => s"w${(i * 7) % 53}q$i").mkString(" ")
    val shifted = "zq " + doc
    val out = cdcChunksOf(Seq(doc, shifted))
    val shared = out(0L).toSet.intersect(out(1L).toSet)
    // all chunks after the insertion's window horizon re-align
    assert(shared.size >= out(0L).size - 3,
      s"CDC re-aligns: ${shared.size} of ${out(0L).size} chunks shared")
    // fixed 24-token stride on the same pair: zero aligned chunks
    val toks = doc.split(" ").toSeq
    val fixedA = toks.grouped(24).map(_.mkString(" ")).toSet
    val fixedB = ("zq" +: toks).grouped(24).map(_.mkString(" ")).toSet
    assert(fixedA.intersect(fixedB).isEmpty,
      "fixed-stride shares nothing after a one-token insertion")
  }

  test("cdc_chunks registers as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cdc_chunks('a b c d e f g h i j k l', 4, 2) AS c")
      .as[Seq[String]].collect().head
    assert(r.mkString(" ") == "a b c d e f g h i j k l")
  }

  // ---- JL random projection ---------------------------------------------

  test("randomProject: shuffle-free plan, balanced signs, JL distortion") {
    val dim = 64
    val rows = (0L until 40L).map { id =>
      (id, (0 until dim).map(d =>
        (((id * 131 + d * 31 + 7) % 1009).toFloat / 1009f) - 0.5f))
    }
    val df = vecsDF(rows)
    val proj = df.select(col("id"),
      VectorOps.randomProject(col("vec"), outDim = 16, seed = 42L)
        .as("proj"))
    // per-row: no Exchange anywhere in the physical plan
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle-free, got:\n$plan")
    val collected = proj.as[(Long, Seq[Double])].collect().toMap
    assert(collected.values.forall(_.length == 16))
    // sign balance: project the all-ones vector; each output dim is
    // (n_plus - n_minus)/sqrt(k), so |value| << dim for a mixed matrix
    val ones = vecsDF(Seq((0L, Seq.fill(dim)(1f))))
      .select(VectorOps.randomProject(col("vec"), 16, 42L).as("p"))
      .as[Seq[Double]].collect().head
    assert(ones.forall(v => math.abs(v) < dim / 2.0),
      s"signs mix (no constant row): $ones")
    assert(ones.exists(_ != ones.head), "rows of the matrix differ")
    // JL distortion: mean squared-distance ratio over sampled pairs
    // stays within a loose band (deterministic fixture + seed)
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val orig = rows.map { case (id, v) =>
      id -> v.map(_.toDouble) }.toMap
    val ratios = for {
      a <- 0L until 20L; b <- (a + 1) until 20L
    } yield d2(collected(a), collected(b)) / d2(orig(a), orig(b))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.6 && mean < 1.4,
      s"mean distortion ~1 (unbiased estimator), got $mean")
    assert(ratios.forall(r => r > 0.15 && r < 4.0),
      s"no pathological pair, got ${ratios.min} .. ${ratios.max}")
  }

  test("semDedup never pairs across k-means clusters (the SemDeDup " +
      "approximation is part of the contract)") {
    // two identical vectors FORCED into different clusters by seeding:
    // k = n so every vector is its own seed; identical seeds tie to
    // the lowest cid, so both copies land in cluster of the first —
    // same cluster, they pair. Conversely orthogonal vectors never
    // reach tau. This pins that pairs require cluster equality by
    // checking the pair count equals the within-cluster expectation.
    val rows = Seq((0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(0f, 1f)), (3L, Seq(0f, 1f)))
    val out = VectorOps.semDedup(vecsDF(rows), k = 2, tau = 0.9)
      .select("id", "kcluster", "comp").as[(Long, Int, Long)]
      .collect().sortBy(_._1)
    assert(out(0)._2 == out(1)._2 && out(2)._2 == out(3)._2)
    assert(out(0)._2 != out(2)._2, "orthogonal pairs cluster apart")
    assert(out(1)._3 == 0L && out(3)._3 == 2L,
      "components confined to clusters")
  }

  // ---- winnowing (p76) ----

  private def winnow(rows: Seq[(Long, String)], k: Int = 5, w: Int = 4) =
    DedupOps.winnowingSelect(rows.toDF("doc_id", "text"),
      "doc_id", "text", k, w)

  test("winnowing guarantee: a shared span of >= w+k-1 tokens " +
      "co-selects at least one fingerprint") {
    // k=5, w=4 -> threshold 8 tokens. The shared middle is 9 tokens;
    // prefixes/suffixes differ entirely.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val rows = Seq(
      (1L, s"p1 p2 p3 $shared s1 s2"),
      (2L, s"x1 $shared y1 y2 y3 y4"))
    val sel = winnow(rows).select("doc_id", "fp")
      .as[(Long, Long)].collect()
    val common = sel.filter(_._1 == 1L).map(_._2).toSet
      .intersect(sel.filter(_._1 == 2L).map(_._2).toSet)
    assert(common.nonEmpty, "guarantee violated: no shared selection")
  }

  test("winnowing rightmost tie-break: identical grams select one " +
      "fingerprint per window at the window's last position") {
    // 12 identical tokens, k=5 -> 8 identical gram hashes; w=4 -> 5
    // windows; every window's min ties and must pick its RIGHTMOST
    // position: 4,5,6,7,8
    val rows = Seq((1L, Seq.fill(12)("tok").mkString(" ")))
    val sel = winnow(rows).select("pos").as[Int].collect().sorted
    assert(sel.toSeq == Seq(4, 5, 6, 7, 8), sel.toSeq.toString)
  }

  test("winnowing density: selections are a strict subset of grams " +
      "and near the 2/(w+1) expectation on varied text") {
    val text = (1 to 400).map(i => s"t${i * 7919 % 997}").mkString(" ")
    val rows = Seq((1L, text))
    val nGrams = 400 - 4
    val nSel = winnow(rows).count()
    assert(nSel < nGrams / 2, s"selected $nSel of $nGrams grams")
    assert(nSel > nGrams / 5, s"selected $nSel of $nGrams grams")
  }

  test("winnowing is partition-invariant and short docs emit nothing") {
    val rows = (1L to 50L).map(i =>
      (i, (1 to 30).map(j => s"w${(i * 31 + j * 17) % 101}").mkString(" ")))
    val a = winnow(rows).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = DedupOps.winnowingSelect(
        rows.toDF("doc_id", "text").repartition(13, col("doc_id")),
        "doc_id", "text", 5, 4)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
    assert(winnow(Seq((9L, "one two three four"))).count() == 0L,
      "doc shorter than k tokens selects nothing")
  }

  // ---- annealing mixture (p77) ----

  private def mixCorpus = (1L to 300L).map(i =>
    (i, s"src${i % 3}", 10L + i % 50)).toDF("id", "src", "n")

  test("annealingMixture equals per-phase mixtureEpochs with " +
      "phase-salted independent draws") {
    val phases = Seq((1, Map("src0" -> 0.5), 2000L),
      (2, Map("src1" -> 0.9), 500L))
    val staged = SampleOps.annealingMixture(mixCorpus, "id", "src",
        col("n"), phases, defaultWeight = 0.1)
      .select(col("id"), col("phase"), col("n_copies"))
      .as[(Long, Int, Long)].collect().toSet
    val perPhase = phases.flatMap { case (ph, w, b) =>
      SampleOps.mixtureEpochs(mixCorpus, "id", "src", col("n"), w, b,
          defaultWeight = 0.1, salt = 1000003L * ph)
        .select(col("id"), lit(ph).as("phase"), col("n_copies"))
        .as[(Long, Int, Long)].collect()
    }.toSet
    assert(staged == perPhase)
  }

  test("annealingMixture: phases draw INDEPENDENT fractional subsets") {
    // same sub-1 rate in both phases: if the draws shared a salt the
    // kept sets would be identical; independent salts disagree on
    // ~2·f·(1−f) of rows
    val phases = Seq((1, Map("src0" -> 0.3), 1000L),
      (2, Map("src0" -> 0.3), 1000L))
    val out = SampleOps.annealingMixture(mixCorpus, "id", "src",
        col("n"), phases)
      .select(col("id"), col("phase")).as[(Long, Int)].collect()
    val k1 = out.filter(_._2 == 1).map(_._1).toSet
    val k2 = out.filter(_._2 == 2).map(_._1).toSet
    assert(k1 != k2, "phase draws must be independent")
    assert(k1.nonEmpty && k2.nonEmpty)
  }

  // ---- quality-calibrated mixture (p80) ----

  test("quality mixture: derived rates order by observed mean quality " +
      "and the plan broadcasts the in-plan weight table") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("p80_quality_mixture")(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rates = out.select("source", "rate").distinct()
      .as[(String, Double)].collect().toMap
    val meanQ = graft.Tables.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(avg(TextOps.qualityScore(col("text"))).as("mq"))
      .as[(String, Double)].collect().toMap
    // uncapped rate = (mq/Σmq)·B/tok_s — so the rate ranking must
    // match the mq/tok_s ranking exactly on every uncapped pair
    val toks = graft.Tables.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " "))).as("t"))
      .as[(String, Long)].collect().toMap
    for {
      (a, ra) <- rates; (b, rb) <- rates
      if a != b && ra < 1.0 && rb < 1.0
    } assert((meanQ(a) / toks(a) >= meanQ(b) / toks(b)) == (ra >= rb),
      s"$a(q=${meanQ(a)}, t=${toks(a)}, r=$ra) vs " +
        s"$b(q=${meanQ(b)}, t=${toks(b)}, r=$rb)")
  }

  // ---- dedup threshold sweep (p79) ----

  test("threshold sweep equals an independent exact join per tau") {
    val dir = "/root/testdata/sf0.001"
    val sweep = graft.SparkEntry.queries("p79_threshold_sweep")(spark, dir)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.table(spark, dir, "documents")
    Seq(0.7, 0.9).foreach { tau =>
      val direct = DedupOps.setSimJoinExact(docs, "doc_id", "text", tau)
        .count()
      assert(sweep.getOrElse(tau, 0L) == direct,
        s"tau=$tau: sweep=${sweep.get(tau)} direct=$direct")
    }
  }

  // ---- Good-Turing unseen mass (p78) ----

  test("unseenMass: exact counts on a hand corpus, rational division") {
    val df = Seq(
      ("a", "x x y z"),     // a: N=7, types {x:3,y:2,z:1,w:1}
      ("a", "x y w"),
      ("b", "q q q q")      // b: N=4, one type, no singletons
    ).toDF("src", "text")
    val m = LmOps.unseenMass(df, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("a").getLong(1) == 7L && m("a").getLong(2) == 4L)
    assert(m("a").getLong(3) == 2L && m("a").getLong(4) == 1L)
    assert(m("a").getDouble(5) == 2.0 / 7)
    assert(m("a").getDouble(6) == 4.0 / 7)
    assert(m("b").getLong(3) == 0L && m("b").getDouble(5) == 0.0)
  }

  test("unseenMass is partition-invariant") {
    val df = (1L to 200L).map(i =>
      (s"s${i % 3}", (1 to 20).map(j => s"t${(i * j) % 37}").mkString(" ")))
      .toDF("src", "text")
    val a = LmOps.unseenMass(df, "src", "text").collect().toSet
    val b = LmOps.unseenMass(df.repartition(11), "src", "text")
      .collect().toSet
    assert(a == b)
  }

  test("annealingMixture: one shared totals aggregate rides a single " +
      "broadcast join (no per-phase corpus re-scan)") {
    val phases = Seq((1, Map("src0" -> 0.5), 2000L),
      (2, Map("src1" -> 0.9), 500L))
    val out = SampleOps.annealingMixture(mixCorpus, "id", "src",
      col("n"), phases)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 1, plan)
    // exactly one aggregate pair (partial+final) — the shared totals
    assert("HashAggregate".r.findAllIn(plan).length <= 2, plan)
  }
}

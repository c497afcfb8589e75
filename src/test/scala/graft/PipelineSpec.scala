package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, VectorOps}

class PipelineSpec extends AnyFunSuite with ResetsSessionConfs {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("minhash LSH finds exactly the brute-force near-dup pairs") {
    val docs = Tables.table(spark, sf, "documents")
    val brute = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", tau = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text", tau = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == brute,
      s"LSH missed ${brute.diff(lsh)} / extra ${lsh.diff(brute)}")
  }

  test("incremental screen equals brute-force new-vs-index, nothing else") {
    val docs = Tables.table(spark, sf, "documents")
    val newB = docs.filter(col("doc_id") % 5 === 0)
    val idx = docs.filter(col("doc_id") % 5 =!= 0)
    val got = DedupOps.minhashNewVsIndex(newB, idx, "doc_id", "text", tau = 0.7)
      .select("id_new", "id_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the full corpus, then restrict to the split
    val all = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", tau = 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = all.flatMap { case (a, b) =>
      (a % 5 == 0, b % 5 == 0) match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _             => None // new-new and index-index must not appear
      }
    }.toSet
    assert(expected.nonEmpty, "fixture should plant cross-split near-dups")
    assert(got == expected,
      s"missed ${expected.diff(got)} / extra ${got.diff(expected)}")
    assert(got.forall { case (n, x) => n % 5 == 0 && x % 5 != 0 })
  }

  test("wide simhash equals brute force over the 124-bit signature") {
    val docs = Tables.table(spark, sf, "documents")
    val got = DedupOps.simhashWidePairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val toks = split(col("text"), " ")
    val sigs = docs.select(col("doc_id"),
      DedupOps.simhashPoly(toks).as("s1"), DedupOps.simhashPoly2(toks).as("s2"))
    val a = sigs.toDF("id_a", "s1a", "s2a")
    val b = sigs.toDF("id_b", "s1b", "s2b")
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("s1a").bitwiseXOR(col("s1b"))) +
          bit_count(col("s2a").bitwiseXOR(col("s2b")))).cast("int").as("h"))
      .filter(col("h") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture should plant wide-simhash near-dups")
    assert(got == brute, s"missed ${brute.diff(got)} / extra ${got.diff(brute)}")
    // the 124-bit pair set must be a subset of the 62-bit one at equal
    // maxDist (more bits can only separate, never merge)
    val narrow = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 3,
      poly = true).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)).subsetOf(narrow))
  }

  test("incremental screen plans equi-joins only; quota plans TopKPerKey") {
    val docs = Tables.table(spark, sf, "documents")
    val p30 = graft.operators.DedupOps.minhashNewVsIndex(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the scale contract: candidates come from bucket equi-joins — a
    // nested-loop/cartesian here would be the O(n²) shape p30 exists
    // to avoid
    assert(!p30.contains("CartesianProduct") &&
      !p30.contains("BroadcastNestedLoopJoin"), p30)
    val p29 = graft.operators.SampleOps.quotaPerKey(
      docs.select(col("doc_id"), col("source")),
      col("source"), "doc_id", quota = 10)
      .queryExecution.executedPlan.toString
    assert(p29.contains("TopKPerKeyExec"), p29)
    assert(!p29.contains("Window"), "quota must not fall back to a window sort")
  }

  test("simhash recalls the planted near-dups (hamming<=3)") {
    val docs = Tables.table(spark, sf, "documents")
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", tau = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    // SimHash is approximate in both directions; on this small shared
    // vocabulary it may admit lookalike false positives. Require
    // good recall of the planted dups and a sane output size.
    val recalled = planted.intersect(pairs)
    assert(recalled.size * 2 >= planted.size,
      s"recall too low: ${recalled.size}/${planted.size}")
    assert(pairs.size < 500, s"implausibly many pairs: ${pairs.size}")
  }

  test("poly simhash matches an independent reimplementation bit-for-bit") {
    // independent reference: same construction, written separately
    def poly(s: String, base: Long, mod: Long): Long =
      s.foldLeft(0L)((h, c) => (h * base + c.toLong) % mod)
    def fmix31(x0: Long): Long = {
      var x = x0 & 0xFFFFFFFFL
      x ^= x >>> 16; x = (x * 0x85ebca6bL) & 0xFFFFFFFFL
      x ^= x >>> 13; x = (x * 0xc2b2ae35L) & 0xFFFFFFFFL
      x ^= x >>> 16; x & 0x7FFFFFFFL
    }
    def ref(text: String): Long = {
      val counts = new Array[Int](62)
      text.split(" ", -1).foreach { t =>
        val h = fmix31(poly(t, 31, 2147483647L)) |
          (fmix31(poly(t, 37, 2147483629L)) << 31)
        (0 until 62).foreach(b =>
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1)
      }
      (0 until 62).foldLeft(0L)((s, b) => if (counts(b) > 0) s | (1L << b) else s)
    }
    val samples = Seq("the quick brown fox", "a", "a b a b a", "x  y")
    import spark.implicits._
    val got = samples.toDF("t")
      .select(DedupOps.simhashPoly(split(col("t"), " ")))
      .collect().map(_.getLong(0))
    assert(got.toSeq == samples.map(ref),
      "SimHashPoly disagrees with the reference construction")
  }

  test("poly simhash banding finds exactly the brute-force hamming pairs") {
    val docs = Tables.table(spark, sf, "documents")
    val sigs = docs.select(col("doc_id"),
      DedupOps.simhashPoly(split(col("text"), " ")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val banded = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 3,
        poly = true)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain hamming<=3 pairs")
    assert(banded == brute,
      s"banding missed ${brute.diff(banded)} / extra ${banded.diff(brute)}")
  }

  test("embedding LSH buckets preserve high-cosine pairs (recall check)") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val brute = VectorOps.bruteForcePairs(vecs, tau = 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshNearDupPairs(vecs, tau = 0.45, nPlanes = 3, nTables = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sign-LSH with 4 planes: recall is probabilistic; assert no false
    // positives and recall above 1/2 on this data
    assert(lsh.subsetOf(brute))
    if (brute.nonEmpty)
      assert(lsh.size * 2 >= brute.size, s"recall too low: ${lsh.size}/${brute.size}")
  }

  test("multimodal decode stage keeps partitioning and row counts") {
    val assets = graft.multimodal.MultimodalOps
      .documentsAsAssets(spark, sf).repartition(7)
    val feats = graft.multimodal.MultimodalOps.extractFeatures(assets)
    assert(feats.rdd.getNumPartitions == 7) // stage is shuffle-free
    assert(feats.count() == assets.count())
    val f = feats.head()
    assert(f.tag.length == 32 && f.feature.length == 4)
  }

  test("frame sampling yields exact strided chunks, lazily per partition") {
    import spark.implicits._
    val assets = Seq(
      graft.multimodal.MediaAsset(1L, "video", (0 until 300).map(_.toByte).toArray, "s"),
      graft.multimodal.MediaAsset(2L, "video", Array[Byte](1, 2, 3), "s"),
      graft.multimodal.MediaAsset(3L, "video", Array.empty[Byte], "s")).toDS()
    val frames = graft.multimodal.MultimodalOps
      .sampleFrames(assets, frameBytes = 100, stride = 2)
      .collect().map(f => (f.asset_id, f.frame_idx, f.frame.length)).toSet
    // asset 1: chunks 0,1,2 -> strided 0 and 2 (100 and 100 bytes);
    // asset 2: chunk 0 only; asset 3: no chunks
    assert(frames == Set((1L, 0, 100), (1L, 2, 100), (2L, 0, 3)))
  }

  test("token chunking: windows, stride, short docs, full coverage") {
    import spark.implicits._
    import graft.operators.TextOps
    def chunksOf(text: String, size: Int, overlap: Int): Seq[String] =
      Seq(text).toDF("t")
        .select(TextOps.chunkTokens(col("t"), size, overlap))
        .collect().head.getSeq[String](0)
    // shorter than one window -> exactly one chunk, the whole doc
    assert(chunksOf("a b c", 5, 2) == Seq("a b c"))
    // exact boundary -> one chunk
    assert(chunksOf("a b c d e", 5, 2) == Seq("a b c d e"))
    // stride 3 (size 5, overlap 2): windows at 0,3,6
    assert(chunksOf("t0 t1 t2 t3 t4 t5 t6 t7", 5, 2) ==
      Seq("t0 t1 t2 t3 t4", "t3 t4 t5 t6 t7"))
    // every token appears in some chunk (coverage), overlaps correct
    val cs = chunksOf((0 until 103).map("w" + _).mkString(" "), 16, 4)
    assert(cs.flatMap(_.split(" ")).toSet.size == 103)
    assert(cs.init.forall(_.split(" ").length == 16))
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(col("t"), 4, 4)
    }
  }

  test("tf-idf: rare tokens outscore common ones; capped table bounds the collect") {
    import spark.implicits._
    import graft.operators.LmOps
    val df = Seq("common rare", "common", "common x", "common y").toDF("text")
    val idf = LmOps.idfTable(df, "text")
    val m = idf.toMap
    assert(m("common") == 1.0)          // in all 4 docs -> N/df = 1
    assert(m("rare") == 4.0)            // in 1 doc -> N/df = 4
    val scores = df.select(LmOps.tfIdfScore(col("text"), idf).as("s"))
      .collect().map(_.getDouble(0))
    assert(scores(0) == (1.0 + 4.0) / 2) // "common rare"
    assert(scores(1) == 1.0)             // "common"
    assert(LmOps.idfTable(df, "text", topK = 2).size == 2)
  }

  test("hand-written BMP decodes via javax.imageio to the exact seed stream") {
    import graft.multimodal.MultimodalOps._
    // dims 13..16 x 6..8 cover 0/1/2-byte row padding
    for (w <- 13 to 16; h <- 6 to 8) {
      val seed = Array.tabulate[Byte](97)(i => ((i * 7 + 3) % 127).toByte)
      val (dw, dh, rgb) = decodeRgb(syntheticBmp(seed, w, h))
      assert((dw, dh) == (w, h))
      val expected = Array.tabulate[Byte](w * h * 3)(i => seed(i % seed.length))
      assert(rgb.toSeq == expected.toSeq, s"pixel mismatch at ${w}x$h")
    }
  }

  test("image dHash: re-encode invariant, near-dup tolerant, banding finds planted pairs") {
    import spark.implicits._
    import graft.multimodal.{MediaAsset, MultimodalOps}
    def asset(id: Long, seed: Array[Byte], w: Int = 16, h: Int = 8) =
      MediaAsset(id, "image", MultimodalOps.syntheticBmp(seed, w, h), "spec")
    val seedA = Array.tabulate[Byte](96)(i => ((i * 37 + 11) % 127).toByte)
    // one flipped byte: a near-duplicate, not a copy
    val seedB = seedA.clone(); seedB(5) = (seedB(5) ^ 0x3f).toByte
    // unrelated content
    val seedC = Array.tabulate[Byte](96)(i => ((i * i * 13 + 7) % 127).toByte)
    val assets = Seq(
      asset(1, seedA), asset(2, seedA), // byte-identical re-encode
      asset(3, seedB),                  // near-dup
      asset(4, seedC)).toDS()
    val hashes = MultimodalOps.imageDHash(assets).collect()
      .map(ih => ih.asset_id -> ih.dhash).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hashes(1L) == hashes(2L), "identical pixels must hash equal")
    assert((hashes(1L) >> 56) == 0L, "56-bit hash must keep the sign bit clear")
    val near = hamming(hashes(1L), hashes(3L))
    val far = hamming(hashes(1L), hashes(4L))
    assert(near <= 3, s"one perturbed byte moved $near bits")
    assert(far > near, s"unrelated image ($far) not farther than near-dup ($near)")
    // banding surfaces exactly the planted near-dup pairs
    val pairs = MultimodalOps.imageNearDupPairs(
        MultimodalOps.imageDHash(assets).toDF(), maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)), pairs)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated image paired: $pairs")
  }

  test("audio energy hash: re-encode invariant, near-dup tolerant") {
    import spark.implicits._
    import graft.multimodal.{MediaAsset, MultimodalOps}
    def clip(id: Long, seed: Array[Byte], n: Int = 160) =
      MediaAsset(id, "audio", MultimodalOps.syntheticWav(seed, n, 8000), "spec")
    val seedA = Array.tabulate[Byte](90)(i => ((i * 29 + 5) % 127).toByte)
    val seedB = seedA.clone(); seedB(7) = (seedB(7) ^ 0x11).toByte
    val seedC = Array.tabulate[Byte](90)(i => ((i * i * 31 + 3) % 127).toByte)
    val clips = Seq(clip(1, seedA), clip(2, seedA), // identical samples
      clip(3, seedB),                               // one perturbed byte
      clip(4, seedC)).toDS()
    val h = MultimodalOps.audioEnergyHash(clips).collect()
      .map(x => x.asset_id -> x.ahash).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L), "identical samples must hash equal")
    assert((h(1L) >> 56) == 0L, "56-bit hash must keep the sign bit clear")
    val near = hamming(h(1L), h(3L))
    val far = hamming(h(1L), h(4L))
    assert(near <= 4, s"one perturbed byte moved $near bits")
    assert(far > near, s"unrelated clip ($far) not farther than near-dup ($near)")
  }

  test("span removal strips exactly the covered positions, clean docs untouched") {
    import spark.implicits._
    val boiler = (1 to 12).map(i => s"B$i").mkString(" ") // 12-token template
    val df = Seq(
      (1L, s"$boiler alpha beta gamma"),      // template + unique tail
      (2L, s"delta $boiler epsilon"),          // template mid-doc
      (3L, "eta theta iota kappa"),            // clean (short, no windows)
      (4L, (1 to 20).map(i => s"u$i").mkString(" ")) // clean, long
    ).toDF("doc_id", "text")
    val got = DedupOps.removeRepeatedSpans(df, "doc_id", "text",
        window = 10, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    // docs 1 and 2 share every 10-token window inside the 12-token
    // template; overlapping flagged windows must union to exactly the
    // 12 template positions, leaving the unique tokens in order
    assert(got(1L) == ((15, 12, md5("alpha beta gamma"))), got(1L))
    assert(got(2L) == ((14, 12, md5("delta epsilon"))), got(2L))
    assert(got(3L) == ((4, 0, md5("eta theta iota kappa"))))
    assert(got(4L)._2 == 0, "a unique long doc must lose nothing")
  }

  test("video near-dup: duplicate videos share all frames, overlap counts exactly") {
    import spark.implicits._
    import graft.multimodal.{MediaAsset, MultimodalOps}
    val (w, h) = (16, 8)
    // multiplicative per-tag variation: an additive-only offset would
    // shift every gray sum equally and leave the dHash comparisons
    // unchanged across tags
    def frame(tag: Int) = MultimodalOps.syntheticBmp(
      Array.tabulate[Byte](w * h * 3)(i =>
        ((i * (29 + 2 * tag) + tag * 7 + 3) % 127).toByte), w, h)
    def video(id: Long, tags: Int*) =
      MediaAsset(id, "video", tags.map(frame).reduce(_ ++ _), "spec")
    val assets = Seq(
      video(1L, 1, 2, 3, 4),  // original
      video(2L, 1, 2, 3, 4),  // byte-identical copy
      video(3L, 1, 2, 3, 9),  // re-cut: 3 of 4 frames shared
      video(4L, 5, 6, 7, 8),  // unrelated
      video(5L, 1, 1, 1, 2)   // static scenes: within-video repeats count once
    ).toDS()
    val fh = MultimodalOps.videoFrameHashes(assets, w, h).toDF()
    val pairs = MultimodalOps.videoNearDupPairs(fh, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 4L, s"identical videos must share all 4: $pairs")
    assert(pairs((1L, 3L)) == 3L && pairs((2L, 3L)) == 3L)
    assert(pairs((1L, 5L)) == 2L,
      "static within-video repeats must count once per distinct hash")
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L },
      "unrelated video must not pair")
    // minShared thresholds the candidate set
    val strict = MultimodalOps.videoNearDupPairs(fh, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 2L)))
  }

  test("scene detection: identical frames score zero, a cut is flagged") {
    import spark.implicits._
    import graft.multimodal.{MediaAsset, MultimodalOps}
    // asset 16 -> imageDims (13, 7): build 4 frames by hand — A A B A —
    // so boundaries score (0, >0, >0) and only real transitions flag
    val id = 16L
    val (w, h) = MultimodalOps.imageDims(id)
    val seedA = Array.tabulate[Byte](w * h * 3)(i => ((i * 37 + 11) % 127).toByte)
    val seedB = Array.tabulate[Byte](w * h * 3)(i => ((i * 53 + 7) % 127).toByte)
    val payload = MultimodalOps.syntheticBmp(seedA, w, h) ++
      MultimodalOps.syntheticBmp(seedA, w, h) ++
      MultimodalOps.syntheticBmp(seedB, w, h) ++
      MultimodalOps.syntheticBmp(seedA, w, h)
    val assets = Seq(MediaAsset(id, "video", payload, "spec")).toDS()
    val got = MultimodalOps.sceneChanges(assets, tau = 1).collect()
      .sortBy(_.boundary_idx)
    assert(got.map(_.boundary_idx).toSeq == Seq(0, 1, 2))
    assert(got(0).sad == 0L && !got(0).is_cut,
      "identical adjacent frames must score SAD 0 and not flag")
    assert(got(1).sad > 0L && got(1).is_cut, s"A->B must flag: ${got(1)}")
    assert(got(2).sad == got(1).sad,
      "B->A must mirror A->B (|a-b| is symmetric)")
    // the flag honors the threshold: an impossible tau flags nothing
    val none = MultimodalOps.sceneChanges(assets, tau = 10000).collect()
    assert(none.forall(!_.is_cut))
  }

  test("hand-written WAV decodes via javax.sound to the exact seed stream") {
    import graft.multimodal.MultimodalOps._
    for (n <- Seq(1, 128, 196); sr <- Seq(8000, 12000, 16000)) {
      val seed = Array.tabulate[Byte](97)(i => ((i * 7 + 3) % 127).toByte)
      val (dsr, pcm) = decodePcm16(syntheticWav(seed, n, sr))
      assert(dsr == sr)
      assert(pcm.length == n * 2, s"frame bytes at n=$n sr=$sr")
      val expected = Array.tabulate[Byte](n * 2)(i => seed(i % seed.length))
      assert(pcm.toSeq == expected.toSeq, s"pcm mismatch at n=$n sr=$sr")
    }
  }

  test("decodePcm16 reconstructs signed i16 samples from LE bytes") {
    import graft.multimodal.MultimodalOps._
    // samples -32768, -1, 0, 1, 32767 as little-endian byte pairs
    val seed = Array[Byte](0x00, 0x80.toByte, 0xFF.toByte, 0xFF.toByte,
      0x00, 0x00, 0x01, 0x00, 0xFF.toByte, 0x7F)
    val (_, pcm) = decodePcm16(syntheticWav(seed, nSamples = 5, sampleRate = 8000))
    val samples = pcm.grouped(2)
      .map(p => ((p(0) & 0xFF) | (p(1) << 8))).toSeq
    assert(samples == Seq(-32768, -1, 0, 1, 32767))
  }

  test("non-WAV payload fails the audio decode loudly") {
    intercept[Exception] {
      graft.multimodal.MultimodalOps.decodePcm16("not audio".getBytes)
    }
  }

  test("decodeRgb handles a second real codec: ImageIO PNG round-trip") {
    import graft.multimodal.MultimodalOps._
    val (w, h) = (15, 7)
    val seed = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val (_, _, rgb) = decodeRgb(syntheticBmp(seed, w, h))
    // re-encode those pixels with the JVM's PNG writer...
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      img.setRGB(x, y, ((rgb(p) & 0xFF) << 16) | ((rgb(p + 1) & 0xFF) << 8)
        | (rgb(p + 2) & 0xFF))
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    // ...and decode the PNG through the same path: identical pixels
    val (pw, ph, prgb) = decodeRgb(bos.toByteArray)
    assert((pw, ph) == (w, h) && prgb.toSeq == rgb.toSeq)
  }

  test("undecodable payload fails loudly") {
    intercept[IllegalArgumentException] {
      graft.multimodal.MultimodalOps.decodeRgb("not an image".getBytes)
    }
  }

  test("resize stub downsamples deterministically and tags the media type") {
    import spark.implicits._
    val assets = Seq(graft.multimodal.MediaAsset(
      7L, "image", Array[Byte](10, 20, 30, 40, 50), "s")).toDS()
    val out = graft.multimodal.MultimodalOps.resize(assets, factor = 2).collect().head
    assert(out.payload.toSeq == Seq[Byte](10, 30, 50))
    assert(out.media_type == "image_resized" && out.asset_id == 7L)
  }

  test("quality score stays in [0,1] and langid emits known labels") {
    val docs = Tables.table(spark, sf, "documents")
    val q = docs.select(graft.operators.TextOps.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).collect().head
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
    val langs = docs.select(graft.operators.TextOps.langId(col("text")).as("l"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "und")))
  }
}

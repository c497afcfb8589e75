package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

object Round14OpsSpec {
  /** Near-threshold random graph (the p28 shape: long diameter) plus
    * an isolated clique and a path: edges (a, b). */
  def ccGraph(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    ((0 until 200).map(i => (i.toLong, i + 1L)) ++
      (1 to 300).map(_ => (rnd.nextInt(400).toLong, 400L + rnd.nextInt(400))) ++
      Seq((900L, 901L), (901L, 902L), (900L, 902L))).toDF("a", "b")
  }
}

/** Round-14 optimization-round pins. */
class Round14OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def namesFixedPointSum(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
      .exists(c => c.getMessage != null &&
        c.getMessage.contains("fixed_point_sum"))

  test("reliable checkpoint option (spark.graft.checkpoint.dir) routes " +
      "the iterative operators' lineage cuts to durable files with " +
      "identical results") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 1L))
      .toDF("a", "b")
    val local = ClusterOps.connectedComponents(edges, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val ranksLocal = GraphOps.pageRank(edges, "a", "b", iters = 9,
        checkpointEvery = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq

    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val reliable = ClusterOps.connectedComponents(edges, "a", "b")
        .orderBy("node").as[(Long, Long)].collect().toSeq
      assert(reliable === local)
      val ranksReliable = GraphOps.pageRank(edges, "a", "b", iters = 9,
          checkpointEvery = 2)
        .orderBy("node").as[(Long, Long)].collect().toSeq
      assert(ranksReliable === ranksLocal)
      // the cuts really went to the durable directory: the context's
      // checkpoint dir is a UUID subdir under ours, holding rdd-* data
      val ckptDir = spark.sparkContext.getCheckpointDir
      assert(ckptDir.isDefined && ckptDir.get.contains(
        new java.io.File(dir).getName),
        s"checkpoint dir not under $dir: $ckptDir")
      val files = new java.io.File(new java.net.URI(ckptDir.get).getPath)
        .listFiles()
      assert(files != null && files.exists(_.getName.startsWith("rdd-")),
        "no rdd-* checkpoint data written under the reliable dir")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      // the context keeps its checkpoint dir once set; harmless for
      // other suites (localCheckpoint ignores it), nothing to restore
    }
  }

  test("fixed_point_sum is BIT-equal to the decimal-sum spelling " +
      "across scales, signs, rounding boundaries, sf10 magnitudes, " +
      "partial-sum orders, and null shapes") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val rnd = new scala.util.Random(14)
    // value shapes: many-decimal doubles (cast rounds), negatives,
    // magnitudes up to 1e9 (sf10 sums reach ~1e12 in value units),
    // exact 2-decimal money values, half-up boundary forms, and nulls
    val vals: Seq[java.lang.Double] = (1 to 4000).map { i =>
      val shape = i % 6
      val v: Double = shape match {
        case 0 => rnd.nextDouble() * 1e9 - 5e8
        case 1 => math.round(rnd.nextDouble() * 1e7) / 100.0
        case 2 => rnd.nextDouble() * 1e-3
        case 3 => (rnd.nextInt(2000000) - 1000000) + 0.0000005
        case 4 => rnd.nextDouble() * -9e8
        case _ => rnd.nextGaussian() * 1e6
      }
      if (i % 37 == 0) null else java.lang.Double.valueOf(v)
    } ++ Seq(null, null) // one all-null group below
    val df = vals.zipWithIndex.map { case (v, i) =>
      (if (i >= 4000) 99 else i % 7, v) }.toDF("g", "v")
      .repartition(13) // partial-sum order ≠ input order
    for (scale <- Seq(6, 8)) {
      val got = df.groupBy(col("g"))
        .agg(graft.functions.native.fixed_point_sum(col("v"), scale)
          .as("s"))
        .orderBy(col("g")).collect()
      val want = df.groupBy(col("g"))
        .agg(sum(col("v").cast(DecimalType(25, scale))).cast(DoubleType)
          .as("s"))
        .orderBy(col("g")).collect()
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, w) =>
        assert(g.isNullAt(1) === w.isNullAt(1),
          s"null mismatch at g=${g.get(0)} scale=$scale")
        if (!g.isNullAt(1))
          assert(java.lang.Double.doubleToRawLongBits(g.getDouble(1)) ===
            java.lang.Double.doubleToRawLongBits(w.getDouble(1)),
            s"bits differ at g=${g.get(0)} scale=$scale: " +
              s"${g.getDouble(1)} vs ${w.getDouble(1)}")
      }
    }
    // the all-null group is null, not 0
    val nullRow = df.filter(col("g") === 99)
      .agg(graft.functions.native.fixed_point_sum(col("v"), 6)).collect()
    assert(nullRow.head.isNullAt(0))
    // per-row overflow of DECIMAL(18,6) fails LOUDLY (the decimal
    // spelling would widen; silently nulling would corrupt the sum)
    val e = intercept[Exception] {
      Seq(1e13, 2.0).toDF("v")
        .agg(graft.functions.native.fixed_point_sum(col("v"), 6)).collect()
    }
    assert(namesFixedPointSum(e), s"got: $e")
  }

  test("fixed_point_sum per-row domain at scale 6: |v| < 10^12 sums " +
      "exactly, and |v| = 10^12 throws rather than returning null") {
    def fps(vs: Double*) = vs.toDF("v")
      .agg(graft.functions.native.fixed_point_sum(col("v"), 6)).collect()
    val edge = 999999999999.0
    assert(fps(edge).head.getDouble(0) === edge)
    assert(fps(edge, edge, -0.25).head.getDouble(0) === 1999999999997.75)
    for (v <- Seq(1e12, -1e12)) {
      val e = intercept[Exception](fps(v, 2.0))
      assert(namesFixedPointSum(e), s"$v got: $e")
    }
  }

  test("sorted_pairs_sim emits EXACTLY the sorted_pairs survivors of " +
      "the PPJoin length filter, over random packed buckets") {
    val rnd = new scala.util.Random(141)
    for (trial <- 1 to 40) {
      val n = 1 + rnd.nextInt(60)
      val tau = Seq(0.6, 0.65, 0.8, 0.9)(trial % 4)
      val packed = (1 to n).map { _ =>
        val id = rnd.nextInt(5000).toLong
        // mixed size regimes incl. the 4095 saturation corner
        val sz = if (rnd.nextInt(10) == 0) 4095L
          else 1L + rnd.nextInt(300)
        val pos = 1L + rnd.nextInt(math.min(sz, 4095L).toInt)
        id * 16777216L + sz * 4096L + pos
      }
      val df = Seq(Tuple1(packed)).toDF("ids")
      val fused = df.select(explode(
          graft.functions.native.sorted_pairs_sim(col("ids"), tau)).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
        .as[(Long, Long)].collect().toSet
      val reference = df.select(explode(
          graft.functions.native.sorted_pairs(col("ids"))).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
        .filter(least(shiftright(col("id_a"), 12) % 4096,
            shiftright(col("id_b"), 12) % 4096).cast("double")
          >= greatest(shiftright(col("id_a"), 12) % 4096,
            shiftright(col("id_b"), 12) % 4096) * tau - 1e-6)
        .as[(Long, Long)].collect().toSet
      assert(fused === reference,
        s"trial $trial (n=$n tau=$tau): fused-only=${fused -- reference} " +
          s"reference-only=${reference -- fused}")
    }
  }

  test("BpeStep returns BpeApply's exact merged syms plus the signed " +
      "pair delta that reconciles the before/after explodes") {
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val alphabet = "ab0"
    val words = (1 to 400).map { _ =>
      (1 to (1 + rnd.nextInt(9))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val df = words.zipWithIndex
      .map { case (w, i) => (w, (i % 7 + 1).toLong) }
      .toDF("word", "freq")
      .select(col("word"), col("freq"),
        split(col("word"), "(?=.)").as("syms"))
    // merge lists that stress greedy overlaps ("aa" on runs of a),
    // cascades (output participates in the next merge), and no-ops
    for (merges <- Seq(Seq(("a", "a")), Seq(("a", "b"), ("ab", "0")),
        Seq(("0", "0"), ("a", "00")), Seq(("z", "z")))) {
      val stepped = df.select(col("word"), col("freq"),
        graft.functions.native.bpe_step(col("syms"), col("freq"), merges)
          .as("st"))
      // 1) syms == BpeApply exactly, per word
      val viaApply = df.select(col("word"),
        graft.functions.native.bpe_apply(col("syms"), merges).as("s"))
        .as[(String, Seq[String])].collect().toMap
      val viaStep = stepped.select(col("word"), col("st.syms"))
        .as[(String, Seq[String])].collect().toMap
      assert(viaStep === viaApply, s"merged syms diverge for $merges")
      // 2) counts(old) + Σdelta == counts(new), and unchanged words
      //    emit an EMPTY delta
      def explodeCounts(d: org.apache.spark.sql.DataFrame,
          symsCol: String): Map[(String, String), Long] =
        d.filter(size(col(symsCol)) > 1)
          .select(col("freq"), posexplode(slice(col(symsCol), lit(1),
            size(col(symsCol)) - 1)).as(Seq("p", "l")),
            col(symsCol).as("ss"))
          .select(col("l"), element_at(col("ss"), col("p") + 2).as("r"),
            col("freq"))
          .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("c"))
          .as[(String, String, Long)].collect()
          .map { case (l, r, c) => (l, r) -> c }.toMap
      val before = explodeCounts(df, "syms")
      val after = explodeCounts(stepped
        .select(col("freq"), col("st.syms").as("syms")), "syms")
      val delta = stepped.select(explode(col("st.pd")).as("d"))
        .select(col("d.l"), col("d.r"), col("d.c"))
        .groupBy(col("l"), col("r")).agg(sum(col("c")).as("c"))
        .as[(String, String, Long)].collect()
        .map { case (l, r, c) => (l, r) -> c }.toMap
      val reconciled = (before.keySet ++ delta.keySet).flatMap { k =>
        val v = before.getOrElse(k, 0L) + delta.getOrElse(k, 0L)
        if (v != 0L) Some(k -> v) else None
      }.toMap
      assert(reconciled === after, s"delta does not reconcile for $merges")
      val unchangedWithDelta = stepped
        .filter(col("st.syms") === col("syms") && size(col("st.pd")) > 0)
        .count()
      assert(unchangedWithDelta === 0L)
    }
  }

  test("BPE incremental mode (threshold forced on) trains the " +
      "bit-identical merge table, sequential and batched") {
    import spark.implicits._
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.01",
      "documents")
    def merges(f: => org.apache.spark.sql.DataFrame) =
      f.as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val seqRef = merges(LmOps.bpeTrain(docs, "text", 24))
    val batRef = merges(LmOps.bpeTrainBatched(docs, "text", 24, batch = 8))
    spark.conf.set(LmOps.IncrementalRecountRowsConf, "1")
    try {
      val seqInc = merges(LmOps.bpeTrain(docs, "text", 24))
      val batInc = merges(LmOps.bpeTrainBatched(docs, "text", 24, batch = 8))
      assert(seqInc === seqRef)
      assert(batInc === batRef)
      assert(seqRef === batRef)
    } finally spark.conf.unset(LmOps.IncrementalRecountRowsConf)
  }

  test("fixed_point_product_sum is BIT-equal to the decimal " +
      "product-sum spelling across value shapes, partial-sum orders, " +
      "and null shapes; out-of-range products throw") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val rnd = new scala.util.Random(49)
    // q49's magnitude discipline: factors in the tens / sub-1 range
    // (quantities, rates), many-decimal doubles, negatives, half-up
    // boundary forms, and nulls on either side
    val rows: Seq[(Int, java.lang.Double, java.lang.Double)] =
      (1 to 4000).map { i =>
        def v(m: Double): java.lang.Double = i % 5 match {
          case 0 => rnd.nextDouble() * m - m / 2
          case 1 => math.round(rnd.nextDouble() * m * 100) / 100.0
          case 2 => rnd.nextDouble() * 1e-3
          case 3 => (rnd.nextInt(100) - 50) + 0.0000005
          case _ => rnd.nextGaussian() * m / 3
        }
        (i % 7,
          if (i % 37 == 0) null else v(60.0),
          if (i % 41 == 0) null else v(0.2))
      }
    val df = rows.toDF("g", "a", "b").repartition(13)
    val got = df.groupBy(col("g"))
      .agg(graft.functions.native.fixed_point_product_sum(
        col("a"), col("b"), 6, 6).as("s"))
      .orderBy(col("g")).collect()
    val want = df.groupBy(col("g"))
      .agg(sum(col("a").cast(DecimalType(18, 6)) *
        col("b").cast(DecimalType(18, 6))).cast(DoubleType).as("s"))
      .orderBy(col("g")).collect()
    got.zip(want).foreach { case (g, w) =>
      assert(g.isNullAt(1) === w.isNullAt(1))
      if (!g.isNullAt(1))
        assert(java.lang.Double.doubleToRawLongBits(g.getDouble(1)) ===
          java.lang.Double.doubleToRawLongBits(w.getDouble(1)),
          s"bits differ at g=${g.get(0)}: ${g.getDouble(1)} vs " +
            s"${w.getDouble(1)}")
    }
    // |a·b| ≥ 10^(18−12) = 10^6 breaks the carry bound: loud, not null
    val big = Seq((1, 2000.0, 1000.0)).toDF("g", "a", "b")
    val e = intercept[Exception] {
      big.groupBy(col("g")).agg(graft.functions.native
        .fixed_point_product_sum(col("a"), col("b"), 6, 6)).collect()
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("fixed_point_product_sum")))
  }

  test("CC loop's broadcast-guarded AQE-off mode yields identical " +
      "labels to the AQE path, and restores the session confs") {
    import spark.implicits._
    val edges = Round14OpsSpec.ccGraph(spark)
    val aqeBefore = spark.conf.getOption("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.getOption("spark.sql.shuffle.partitions")
    def run() = ClusterOps.connectedComponents(edges, "a", "b", maxIter = 60)
      .as[(Long, Long)].collect().toMap
    val guarded = run() // default: labels under the 10 MB threshold
    // force the AQE path: no broadcast at all
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val viaAqe = try run()
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(guarded === viaAqe)
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") === aqeBefore)
    assert(spark.conf.getOption("spark.sql.shuffle.partitions") === partsBefore)
    // spot-check exactness: the 0..200 path is one component rooted at 0
    assert(guarded(200L) === 0L && guarded(902L) === 900L)
  }

  test("RemovePositions raises a descriptive error on a null token " +
      "element instead of an opaque NPE") {
    val df = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(graft.functions.native.remove_positions(
        // element_at past the end yields NULL elements via transform
        org.apache.spark.sql.functions.expr(
          "array('x', cast(null as string))"),
        array(lit(9))).as("out"))
    val e = intercept[Exception] { df.collect() }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootChain(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("RemovePositions") &&
        c.getMessage.contains("null token element")),
      s"expected a descriptive RemovePositions error, got: $e")
  }
}

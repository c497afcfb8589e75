package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-13 operator additions and fixes. */
class Round13OpsSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("capped containment screen keeps 100% planted-excerpt recall " +
      "on the HOT-boilerplate corpus shape (MakeSf1 `hot` family) " +
      "while the cap is binding") {
    // the sf1h/sf10h construction in miniature: 200 cross-dissimilar
    // docs, 30% sharing MakeSf1.boiler as an UN-suffixed prefix
    // (corpus-hot shingles, df ~ 66 here), plus 20 planted first-half
    // excerpts. cap=30 binds on every boiler shingle but no per-doc
    // shingle (df <= 2), reproducing the 100-TB license-header shape
    // the cross-copy-dissimilar fixtures cannot (TuneScreen round-12
    // measured their max df at 25).
    val boiler = graft.MakeSf1.boiler
    val full = (0 until 200).map { i =>
      val own = (1 to 50).map(j => s"d${i}x$j").mkString(" ")
      val text = if (i % 10 < 3) s"$boiler $own" else own
      i.toLong -> text
    }
    val excerpts = (0 until 20).map { i =>
      val toks = full(i)._2.split(" ")
      (2000L + i) -> toks.take(math.max(toks.length / 2, 3)).mkString(" ")
    }
    val docs = (full ++ excerpts).toDF("doc_id", "text")
    val obsCap = org.apache.spark.sql.Observation()
    val capped = DedupOps.containmentScreen(docs, "doc_id", "text",
        tau = 0.9, maxBucket = 30L, candObs = Some(obsCap))
      .as[(Long, Long, Double)].collect()
    val obsFull = org.apache.spark.sql.Observation()
    val uncapped = DedupOps.containmentScreen(docs, "doc_id", "text",
        tau = 0.9, candObs = Some(obsFull))
      .as[(Long, Long, Double)].collect()
    val planted = (0 until 20).map(i => (2000L + i, i.toLong)).toSet
    val cappedPairs = capped.map(r => (r._1, r._2)).toSet
    val uncappedPairs = uncapped.map(r => (r._1, r._2)).toSet
    assert(planted.subsetOf(uncappedPairs),
      s"uncapped lost planted pairs: ${planted -- uncappedPairs}")
    assert(planted.subsetOf(cappedPairs),
      s"capped screen lost planted pairs: ${planted -- cappedPairs}")
    // .collect() fires listeners asynchronously; settle like the
    // Round12 cap test does
    def metrics(o: org.apache.spark.sql.Observation): Map[String, Any] = {
      val deadline = System.nanoTime() + 5_000_000_000L
      var m = org.apache.spark.sql.graftbridge.Bridge.observationMetrics(o)
      while (m.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        m = org.apache.spark.sql.graftbridge.Bridge.observationMetrics(o)
      }
      m
    }
    val mc = metrics(obsCap)
    val mf = metrics(obsFull)
    assert(mc.nonEmpty && mf.nonEmpty, "screen observations never completed")
    val candCap = mc("cands_after_length").toString.toLong
    val candFull = mf("cands_after_length").toString.toLong
    info(s"hot-corpus candidates: uncapped=$candFull capped=$candCap " +
      s"(${if (candCap == 0) "-" else f"${candFull.toDouble / candCap}%.1f"}x)")
    // the cap must actually BIND: the boiler postings dominate the
    // uncapped candidate volume on this shape
    assert(candCap * 2 <= candFull,
      s"cap did not bind: $candCap vs uncapped $candFull")
    CacheRegistry.releaseAll()
  }

  test("p89 screen-path pipeline drops every planted re-crawl excerpt " +
      "and keeps a keeper for mutual containments") {
    val out = graft.SparkEntry.queries("p89_screen_pipeline")(
      spark, "/root/testdata/sf0.001")
    val ids = out.select(col("doc_id")).as[Long].collect().toSet
    // the derived corpus plants excerpts at doc_id+2000000 for
    // doc_id < 40 — a pipeline that routes excerpt removal through the
    // screen must admit NONE of them
    assert(!ids.exists(_ >= 2000000L),
      s"planted excerpts survived: ${ids.filter(_ >= 2000000L)}")
    assert(ids.nonEmpty, "pipeline dropped the whole corpus")
    // keeper rule: of a mutual containment pair (near-identical docs,
    // both directions screened) only the SMALLER id may survive the
    // pipeline — the larger is always dropped; one-directional
    // containment drops the contained side unconditionally
    val d = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val pairs = DedupOps.containmentScreen(d.select(col("doc_id"),
        col("text")), "doc_id", "text", tau = 0.9)
      .select(col("contained"), col("container"))
      .as[(Long, Long)].collect().toSet
    val mutual = pairs.filter { case (a, b) => pairs((b, a)) && a < b }
    val oneWay = pairs.filter { case (a, b) => !pairs((b, a)) }
    info(s"sf0.001 screen: ${pairs.size} pairs, ${mutual.size} mutual")
    mutual.foreach { case (a, b) =>
      assert(!ids(b), s"mutual pair ($a,$b): larger id $b survived")
    }
    oneWay.foreach { case (a, _) =>
      assert(!ids(a), s"contained doc $a survived its container")
    }
    CacheRegistry.releaseAll()
  }

  test("native RandomProject is BIT-equal to the HOF fold it replaced " +
      "(r13 optimization: p73's per-element interpreted lambdas)") {
    // the exact HOF spelling VectorOps.randomProject used through
    // round 12 — kept here as the equality oracle for the native
    // expression (same sign arithmetic, same left-to-right IEEE fold)
    def hofProject(vec: org.apache.spark.sql.Column, outDim: Int,
        seed: Long): org.apache.spark.sql.Column = {
      def sign(i: org.apache.spark.sql.Column,
          j: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val h1 = (i.cast("long") * lit(1000003L) + j.cast("long") * lit(7919L)
          + lit(seed)) % lit(2147483647L)
        val h2 = (h1 * h1 + h1) % lit(2147483647L)
        when(h2 % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
      }
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        aggregate(sequence(lit(0), size(vec) - 1), lit(0.0),
          (acc, i) => acc + element_at(vec, i + 1).cast("double") * sign(i, j))
          / sqrt(lit(outDim.toDouble)))
    }
    val vecs = (0 until 64).map { r =>
      (r.toLong, (0 until 64).map(d =>
        ((r * 131 + d * 17) % 97 - 48) / 7.0f).toArray)
    }.toDF("id", "vec")
    for (seed <- Seq(0L, 42L, -7L); outDim <- Seq(1, 8, 16)) {
      val rows = vecs.select(col("id"),
          VectorOps.randomProject(col("vec"), outDim, seed).as("nat"),
          hofProject(col("vec"), outDim, seed).as("hof"))
        .collect()
      rows.foreach { row =>
        val nat = row.getSeq[Double](1)
        val hof = row.getSeq[Double](2)
        assert(nat.length == outDim && hof.length == outDim)
        nat.zip(hof).zipWithIndex.foreach { case ((a, b), d) =>
          assert(java.lang.Double.doubleToRawLongBits(a) ==
            java.lang.Double.doubleToRawLongBits(b),
            s"id=${row.getLong(0)} seed=$seed outDim=$outDim dim=$d: " +
              s"native $a != hof $b")
        }
      }
    }
  }
}

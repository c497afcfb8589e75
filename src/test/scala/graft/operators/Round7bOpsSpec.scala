package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-7 additions: hashed linear classifier inference (p59),
  * cross-source n-gram overlap matrix (p60), cross-document chunk
  * dedup (p61). */
class Round7bOpsSpec extends AnyFunSuite with graft.ResetsSessionConfs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- hashedLinearScore (p59) ----------------------------------------

  /** The reference arithmetic, re-derived independently of the
    * operator: poly-hash base 31 mod 2³¹−1 over codepoints, bucket
    * mod 4096, affine-mod weight into [-0.5, 0.5), left-to-right sum. */
  private def refScore(text: String): Double = {
    def w(tok: String): Double = {
      var h = 0L
      tok.codePoints().forEach(cp => h = (h * 31 + cp) % 2147483647L)
      (((h % 4096) * 1103515245L + 12345L) % 8191L).toDouble / 8191.0 - 0.5
    }
    text.split(" ").foldLeft(0.0)((acc, t) => acc + w(t))
  }

  test("hashed classifier score matches the reference arithmetic") {
    val texts = Seq("spark join table", "a", "the quick brown fox",
      "slow slow slow slow")
    val got = texts.toDF("text")
      .select(LmOps.hashedLinearScore(col("text")).as("s"))
      .collect().map(_.getDouble(0))
    texts.zip(got).foreach { case (t, s) =>
      assert(s == refScore(t), s"text '$t'")
    }
  }

  test("identical tokens accumulate the same weight") {
    val Array(one, four) = Seq("slow", "slow slow slow slow").toDF("text")
      .select(LmOps.hashedLinearScore(col("text")).as("s"))
      .collect().map(_.getDouble(0))
    assert(four == one * 4)
  }

  test("per-token weights stay in [-0.5, 0.5)") {
    val words = Seq("spark", "table", "join", "the", "a", "z", "value",
      "window", "batch", "stream", "query", "scan")
    val ws = words.toDF("text")
      .select(LmOps.hashedLinearScore(col("text")).as("s"))
      .collect().map(_.getDouble(0))
    ws.foreach(w => assert(w >= -0.5 && w < 0.5, s"weight $w"))
  }

  test("classifier inference is shuffle-free") {
    val scored = Seq("spark join", "table scan").toDF("text")
      .select(LmOps.hashedLinearScore(col("text")).as("s"))
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan: $plan")
  }

  // ---- sourceOverlap (p60) --------------------------------------------

  test("overlap matrix reports exact shared-shingle counts and jaccard") {
    // A: shingles {a b c, b c d}; B: {a b c, b c x}; C: {p q r}
    val df = Seq(
      ("A", "a b c d"), ("B", "a b c x"), ("C", "p q r")
    ).toDF("source", "text")
    val got = DedupOps.sourceOverlap(df, "source", "text", n = 3)
      .select("src_a", "src_b", "n_shared", "n_a", "n_b", "jaccard")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    // only pairs with a shared shingle appear; A-B share exactly "a b c"
    assert(got == Set(("A", "B", 1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("duplicate docs do not inflate the overlap (set semantics)") {
    val df = Seq(
      ("A", "a b c d"), ("A", "a b c d"), ("B", "a b c x")
    ).toDF("source", "text")
    val row = DedupOps.sourceOverlap(df, "source", "text", n = 3)
      .collect().head
    assert(row.getAs[Long]("n_shared") == 1L &&
      row.getAs[Long]("n_a") == 2L)
  }

  test("matrix rows are canonical: src_a < src_b, no self pairs") {
    val df = Seq(("B", "a b c"), ("A", "a b c"), ("C", "a b c"))
      .toDF("source", "text")
    val rows = DedupOps.sourceOverlap(df, "source", "text", n = 3)
      .select("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == 3 && rows.forall { case (a, b) => a < b })
  }

  // ---- chunkDedupStats (p61) ------------------------------------------

  test("cross-document duplicate chunks drop; unique tails survive") {
    val df = Seq(
      (1L, "a b c d e f g h"),  // chunks: [a b c d][e f g h]
      (2L, "a b c d x y z")     // chunks: [a b c d][x y z]
    ).toDF("doc_id", "text")
    val got = DedupOps.chunkDedupStats(df, "doc_id", "text", chunkSize = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got(0) == ((1L, 2L, 1L, 4L, 0.5)))
    assert(got(1) == ((2L, 2L, 1L, 3L, 3.0 / 7.0)))
  }

  test("a chunk repeated only WITHIN one document is kept") {
    val df = Seq((1L, "p q r s p q r s")).toDF("doc_id", "text")
    val r = DedupOps.chunkDedupStats(df, "doc_id", "text", chunkSize = 4)
      .collect().head
    assert(r.getAs[Long]("n_dropped") == 0L &&
      r.getAs[Long]("kept_tokens") == 8L &&
      r.getAs[Double]("kept_frac") == 1.0)
  }

  // ---- labelCentroids (p62/p63) ---------------------------------------

  test("label centroids: exact means and RMS on a hand-built frame") {
    val df = Seq(
      (0, Array(1.0f, -2.0f)), (0, Array(3.0f, 0.0f)),
      (1, Array(0.5f, 0.5f))
    ).toDF("label", "embedding")
    val got = VectorOps.labelCentroids(df, "label", "embedding")
      .orderBy("label", "dim").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getAs[Double]("centroid"), r.getAs[Double]("rms")))
    assert(got(0) == ((0, 0, 2L, 2.0, math.sqrt(5.0))))   // (1+3)/2, √((1+9)/2)
    assert(got(1) == ((0, 1, 2L, -1.0, math.sqrt(2.0))))  // (-2+0)/2, √(4/2)
    assert(got(2) == ((1, 0, 1L, 0.5, 0.5)))
    assert(got(3) == ((1, 1, 1L, 0.5, 0.5)))
  }

  test("label centroids: one partial+final aggregate pair, no extra shuffle") {
    val df = Seq((0, Array(1.0f))).toDF("label", "embedding")
    val plan = VectorOps.labelCentroids(df, "label", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, s"plan: $plan")
  }

  test("short documents form a single (possibly partial) chunk") {
    val df = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = DedupOps.chunkDedupStats(df, "doc_id", "text", chunkSize = 4)
      .orderBy("doc_id").collect()
    got.foreach { r =>
      assert(r.getAs[Long]("n_chunks") == 1L &&
        r.getAs[Long]("n_dropped") == 1L &&
        r.getAs[Long]("kept_tokens") == 0L)
    }
  }
}

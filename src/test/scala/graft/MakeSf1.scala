package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a 10× "sf1" stress fixture from the driver's sf0.1 parquet
  * (the driver ships sf0.001/0.01/0.1 only). Keys shift per copy so
  * referential joins stay consistent; DIMENSIONS (region/nation) stay
  * single-copy. Similarity-bearing columns are made cross-copy
  * DISSIMILAR on purpose — documents get a per-copy token suffix,
  * embeddings a per-copy deterministic sign-flip pattern (norms and
  * intra-copy cosines preserved exactly) — so near-dup/ANN outputs
  * scale ~linearly like a real 10× corpus, instead of quadratically
  * like 10 verbatim clones would.
  *
  * Run: `sbt "Test/runMain graft.MakeSf1"` → /root/repo/sf1
  * (gitignored; graft.Bench auto-detects it for the per-round sf1
  * stress pass, falling back to the older /tmp/graft_sf1 location).
  *
  * Round-11 decade stress: `sbt "Test/runMain graft.MakeSf1 100
  * /root/repo/sf10"` builds the 100× fixture (≈sf10) with the same
  * cross-copy-dissimilar construction — copy suffixes/sign-flips are
  * per-k, so 100 copies stay pairwise dissimilar exactly like 10 do.
  *
  * HOT variant (round 13, VERDICT r12 item 1): `sbt "Test/runMain
  * graft.MakeSf1 10 /root/repo/sf1h hot"` writes a DOCUMENTS-ONLY
  * fixture where ~30% of docs (doc_id % 10 < 3) carry a fixed,
  * UN-suffixed 40-token boilerplate prefix shared across all copies —
  * the license-header/nav-chrome shape real corpora have. Its ~40
  * shingles reach df ≈ 0.3·N (corpus-hot), so the containment
  * screen's `maxBucket` cap finally BINDS on realistically-shaped
  * data; the default cross-copy-dissimilar fixtures top out at df 25
  * (a round-12 negative result). Documents-only on purpose:
  * the ~57 SCALE.md measurements keep their unchanged sf1/sf10
  * fixtures.
  *
  * None of these outputs is tracked in git. The build is deterministic:
  * `python3 tools/fixture_hash.py <dir>` prints an order-independent
  * per-table hash, and FIXTURES.md records the expected values.
  */
object MakeSf1 {
  var copies = 10
  val src = "/root/testdata/sf0.1"
  var out = "/root/repo/sf1"
  var hot = false

  /** 8 tokens (≈8 hot shingles incl. the bridge into the doc),
    * lowercase+digits so p86-family filters keep them; stable across
    * copies BY DESIGN (the point is corpus-hot df ≈ 0.3·N). Sized
    * against the fixture's short docs (avg 54 tokens): a planted
    * first-half excerpt of a hot doc keeps E[non-boiler argmin
    * winners] ≈ 11.6 of 16 — above the m ≥ 8 screen — so the cap can
    * bind without destroying excerpt recall. */
  val boiler: String = (1 to 8).map(i => s"boilerplate$i").mkString(" ")

  def main(args: Array[String]): Unit = {
    if (args.length >= 1) copies = args(0).toInt
    if (args.length >= 2) out = args(1)
    if (args.length >= 3) hot = args(2) == "hot"
    val spark = SparkTestSession.spark
    def t(n: String): DataFrame = Tables.table(spark, src, n)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect().head.getLong(0) + 1

    if (hot) {
      val docN = maxOf(t("documents")
        .select(col("doc_id").cast("long").as("doc_id")), "doc_id")
      val base = t("documents")
      val all = (0 until copies).map { k =>
        base
          .withColumn("doc_id", col("doc_id") + lit(k * docN))
          .withColumn("text",
            if (k == 0) col("text")
            else array_join(transform(split(col("text"), " "),
              tok => concat(tok, lit(s"_$k"))), " "))
          .withColumn("text",
            when(col("doc_id") % 10 < 3,
              concat(lit(boiler), lit(" "), col("text")))
              .otherwise(col("text")))
      }.reduce(_ union _)
      all.write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"documents(hot): ${all.count()} rows")
      spark.stop()
      return
    }

    // dims: single copy
    Seq("region", "nation").foreach(n =>
      t(n).write.mode("overwrite").parquet(s"$out/$n.parquet"))

    val custN = maxOf(t("customer").select(col("c_custkey").cast("long").as("c_custkey")), "c_custkey")
    val suppN = maxOf(t("supplier").select(col("s_suppkey").cast("long").as("s_suppkey")), "s_suppkey")
    val partN = maxOf(t("part").select(col("p_partkey").cast("long").as("p_partkey")), "p_partkey")
    val ordN = maxOf(t("orders").select(col("o_orderkey").cast("long").as("o_orderkey")), "o_orderkey")
    val evtN = maxOf(t("events").select(col("event_id").cast("long").as("event_id")), "event_id")
    val userN = maxOf(t("events").select(col("user_id").cast("long").as("user_id")), "user_id")
    val docN = maxOf(t("documents").select(col("doc_id").cast("long").as("doc_id")), "doc_id")
    val vecN = maxOf(t("embeddings").select(col("vec_id").cast("long").as("vec_id")), "vec_id")

    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = t(name)
      val all = (0 until copies).map(k => shift(base, k)).reduce(_ union _)
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${all.count()} rows")
    }

    replicate("customer")((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * custN)))
    replicate("supplier")((d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * suppN)))
    replicate("part")((d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * partN)))
    replicate("orders")((d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * ordN))
        .withColumn("o_custkey", col("o_custkey") + lit(k * custN)))
    replicate("lineitem")((d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * ordN))
        .withColumn("l_partkey", col("l_partkey") + lit(k * partN))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * suppN)))
    replicate("events")((d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * evtN))
        .withColumn("user_id", col("user_id") + lit(k * userN)))
    replicate("documents")((d, k) =>
      d.withColumn("doc_id", col("doc_id") + lit(k * docN))
        .withColumn("text",
          if (k == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            tok => concat(tok, lit(s"_$k"))), " ")))
    replicate("embeddings")((d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * vecN))
        .withColumn("embedding",
          if (k == 0) col("embedding")
          else {
            // deterministic per-(copy, dim) sign flip via murmur hash:
            // norms and intra-copy cosines exact; cross-copy
            // ~orthogonal. NOT a linear form like (i*c + k) % 2 — with
            // odd c that collapses to (i+k) parity and every
            // even/odd copy pair becomes identical/negated clones.
            transform(col("embedding"), (x, i) =>
              when(pmod(hash(i, lit(k)), lit(2)) === 0, x).otherwise(-x))
          }))
    spark.stop()
  }
}

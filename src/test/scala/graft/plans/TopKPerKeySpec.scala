package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKPerKeySpec extends AnyFunSuite with PlanRuns {
  import spark.implicits._

  private lazy val df = (1L to 1000L)
    .map(i => (i, s"k${i % 7}", (i * 37 % 101).toDouble))
    .toDF("id", "key", "score")
    .repartition(8)

  private def windowTopK(k: Int) = df
    .withColumn("rn", row_number().over(
      Window.partitionBy("key").orderBy(col("score").desc, col("id"))))
    .filter(col("rn") <= k).drop("rn")

  test("top-k per key matches the window-rank formulation exactly") {
    val got = TopK.perKey(df, Seq(col("key")),
        Seq(col("score").desc, col("id")), 5)
      .select("id", "key", "score").as[(Long, String, Double)]
      .collect().toSet
    val expected = windowTopK(5)
      .select("id", "key", "score").as[(Long, String, Double)]
      .collect().toSet
    assert(got == expected)
    assert(got.size == 35) // 7 keys x 5
  }

  test("plan is partial + exchange + final, with no sort or window") {
    val plan = TopK.perKey(df, Seq(col("key")),
      Seq(col("score").desc, col("id")), 3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyExec(k=3, partial"), plan)
    assert(plan.contains("TopKPerKeyExec(k=3, final"), plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Window"), s"window op leaked into plan:\n$plan")
    assert(!plan.contains("Sort "), s"full sort leaked into plan:\n$plan")
  }

  test("input already clustered on the keys keeps its one exchange") {
    val clustered = df.repartition(4, col("key"))
    val r = run(TopK.perKey(clustered, Seq(col("key")), Seq(col("score").desc, col("id")), 5)
      .select("id", "key", "score"))
    assert(r.exchanges == 1, r.plan.treeString)
    assert(r.rows.toSet == windowTopK(5).select("id", "key", "score").collect().toSet)
  }

  test("k larger than any group degenerates to the full input") {
    val got = TopK.perKey(df, Seq(col("key")), Seq(col("id")), 100000).count()
    assert(got == 1000)
  }

  test("multiple keys and ascending order") {
    val d = Seq((1, 1, 10), (1, 1, 5), (1, 1, 7), (1, 2, 3), (2, 1, 9))
      .toDF("a", "b", "x")
    val got = TopK.perKey(d, Seq(col("a"), col("b")), Seq(col("x")), 2)
      .select("a", "b", "x").as[(Int, Int, Int)].collect().toSet
    assert(got == Set((1, 1, 5), (1, 1, 7), (1, 2, 3), (2, 1, 9)))
  }

  test("empty key list is rejected at construction, not planning") {
    val e = intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq.empty, Seq(col("id")), 3)
    }
    assert(e.getMessage.contains("at least one key"))
  }

  test("partial key cap: rows stream through uncombined, result stays exact") {
    // cap the partial heap map at 2 keys (7 exist) — every row for the
    // other 5 keys per partition must pass through to the final phase
    // uncombined, and the final result must be unchanged
    spark.conf.set("spark.graft.topk.maxPartialKeys", "2")
    try {
      val got = TopK.perKey(df, Seq(col("key")),
          Seq(col("score").desc, col("id")), 5)
        .select("id", "key", "score").as[(Long, String, Double)]
        .collect().toSet
      val expected = windowTopK(5)
        .select("id", "key", "score").as[(Long, String, Double)]
        .collect().toSet
      assert(got == expected)
    } finally spark.conf.unset("spark.graft.topk.maxPartialKeys")
  }

  test("heavy skew: one key holding most rows still yields exact top-k") {
    val skewed = ((1L to 5000L).map(i => ("hot", i)) ++
      Seq(("cold", 1L), ("cold", 2L))).toDF("key", "v").repartition(16)
    val got = TopK.perKey(skewed, Seq(col("key")), Seq(col("v").desc), 3)
      .select("key", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("hot", 5000L), ("hot", 4999L), ("hot", 4998L),
      ("cold", 2L), ("cold", 1L)))
  }
}

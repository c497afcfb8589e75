package graftbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.value == 90.0 && t.beyond == 10 && t.n == 100 && t.percentile == 90.0)
    // shuffled input gives the same answer
    assert(Stats.tail(scala.util.Random.shuffle(xs)).get == t)
  }

  test("tail needs more than ten samples and counts ties as one rank") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
    // ten copies of the maximum: the value below them is the tail
    val ties = Seq(1.0, 2.0, 3.0) ++ Seq.fill(10)(9.0)
    val t = Stats.tail(ties).get
    assert(t.value == 3.0 && t.beyond == 10 && t.percentile == 300.0 / 13)
    // eleven equal samples have nothing strictly beyond them
    assert(Stats.tail(Seq.fill(11)(5.0)).isEmpty)
  }

  test("median of an even count averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping children") {
    // parent [0, 100); children [10, 40) and [30, 60) overlap: union 50
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // nested and duplicate children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 30L), (10L, 40L))) == 70)
    // children running past the parent are clipped to it
    assert(Stats.selfTime(0, 100, Seq((-50L, 20L), (90L, 150L))) == 70)
    // disjoint children, and children entirely outside the parent
    assert(Stats.selfTime(0, 100, Seq((0L, 10L), (50L, 60L), (200L, 300L))) == 80)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (5L, 6L))) == 0)
  }

  test("summary line holds every end-to-end metric of every workload within 2,000 chars") {
    val metrics = for {
      w <- Workloads.all.map(_.name)
      (m, u) <- Main.endToEndUnits
    } yield s"$w.$m" -> Json.obj("value" -> (1.0 / 3 + 123456.789), "unit" -> u)
    val line = Summary.line(correct = true, attempted = 123456, failed = 0, ListMap(metrics: _*))
    assert(line.length <= Summary.MaxChars, s"${line.length} chars")
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.get("correct").asBoolean && parsed.get("attempted").asInt == 123456)
    assert(parsed.get("metrics").size == metrics.size)
    metrics.foreach { case (k, _) =>
      val m = parsed.get("metrics").get(k)
      assert(m.get("value").asDouble == 1.0 / 3 + 123456.789, k)
      assert(m.get("unit").asText == Main.endToEndUnits(k.split('.').last))
    }
    // an oversized summary is refused rather than truncated
    val many = ListMap((1 to 200).map(i => s"metric_$i" -> Json.obj("value" -> i / 7.0, "unit" -> "s")): _*)
    intercept[IllegalArgumentException](Summary.line(correct = true, 1, 0, many))
    // one workload's per-layer line is not capped, and keeps key order
    val one = new ObjectMapper().readTree(Summary.render(correct = false, 3, 1, many))
    assert(!one.get("correct").asBoolean && one.get("failed").asInt == 1)
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(one.get("metrics").fieldNames).asScala.toSeq
    assert(names == many.keys.toSeq)
    assert(one.get("metrics").get("metric_3").get("value").asDouble == 3 / 7.0)
  }

  test("output digests ignore row order and compare numbers by value") {
    val a = Check.digest(Seq("b", "a"), Iterator(Seq(1, "x"), Seq(2.5, null)))
    val b = Check.digest(Seq("a", "b"), Iterator(Seq(null, BigDecimal("2.50")), Seq("x", 1L)))
    assert(a == b)
    assert(a != Check.digest(Seq("a", "b"), Iterator(Seq("x", 1L), Seq(null, 2.25))))
  }
}

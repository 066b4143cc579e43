package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions

/** The benchmark's own helpers: the tail rule, self time over overlapping
  * child jobs, and generator determinism. */
class HelpersSpec extends AnyFunSuite {

  test("tail percentile: the highest ladder step with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000) == 99.9)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(999) == 95.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(39) == 50.0)
    // too few samples for any tail: the rule falls back to the median
    assert(Stats.tailPercentile(7) == 50.0)
    for (n <- Seq(20, 40, 100, 200, 1000, 10000); p = Stats.tailPercentile(n) if p > 50.0)
      assert(n * (1 - p / 100.0) >= 10 - 1e-9, s"n=$n p=$p leaves fewer than ten beyond")
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("self time counts overlapping child jobs once and clips them to the span") {
    // span [0, 100]; children overlap each other and stick out on both ends
    val kids = Seq((10L, 30L), (20L, 40L), (25L, 35L), (90L, 120L), (-5L, 5L))
    assert(Stats.covered(0, 100, kids) == 30 + 10 + 5)
    assert(Stats.selfTime(0, 100, kids) == 55)
    assert(Stats.selfTime(0, 100, Seq.empty) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (0L, 100L))) == 0)
    assert(Stats.selfTime(0, 100, Seq((200L, 300L))) == 100)
  }

  test("digests ignore row order and column order, and round doubles to 6 places") {
    val spark = session()
    import spark.implicits._
    val a = Seq((1, 0.1234567, "x"), (2, -0.0, "y")).toDF("i", "d", "s")
    val b = Seq(("y", 0.0, 2), ("x", 0.12345671, 1)).toDF("s", "d", "i")
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a) != Digest.of(a.limit(1)))
  }

  test("generators: the same seed gives the same inputs, another seed different ones") {
    val spark = session()
    val cities = Seq(Gen.City(0, "a", 43.0, -1.0, 4, 2, 0.01, 0.015), Gen.City(1, "b", 43.5, -1.0, 4, 2, 0.01, 0.015))
    def inputs(seed: Long): Seq[String] = Seq(
      Gen.places(spark, seed, cities, 200),
      Gen.mentions(spark, seed, cities, 300, 200),
      Gen.snapshots(spark, seed, cities, 300, 200),
      Gen.taggedPois(spark, seed, cities, 200),
      Gen.trendCands(spark, seed, cities, 200),
      Gen.areas(spark, seed, cities),
      Gen.templates(spark, seed)).map(Digest.of)
    val one = inputs(7)
    assert(one == inputs(7))
    val other = inputs(8)
    one.zip(other).foreach { case (x, y) => assert(x != y) }
    assert(Gen.documents(7, 300) == Gen.documents(7, 300))
    assert(Gen.documents(7, 300) != Gen.documents(8, 300))
  }

  private def session(): SparkSession =
    Sessions.configure(SparkSession.builder().master("local[2]"), "2").getOrCreate()
}

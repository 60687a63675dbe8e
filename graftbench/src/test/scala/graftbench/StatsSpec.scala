package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 20 to 3000; p <- Stats.tailPercentile(n)) assert(n * (1 - p / 100) >= 10 - 1e-9)
  }

  test("geomean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0, 4.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    assertThrows[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("fingerprint ignores order but not multiplicity or values") {
    val xs = Seq(5L, -3L, Long.MaxValue, 0L, 42L, 42L)
    val fp = Stats.fingerprint(xs)
    for (seed <- 1 to 20) assert(Stats.fingerprint(new scala.util.Random(seed).shuffle(xs)) == fp)
    assert(fp.startsWith("6:"))
    assert(Stats.fingerprint(xs.distinct) != fp)
    assert(Stats.fingerprint(xs.updated(0, 6L)) != fp)
    assert(Stats.fingerprint(Nil) == Stats.fingerprint(Nil))
  }

  test("self time subtracts the union of direct children, clipped to the span") {
    val spans = Seq(
      Span(1, 0, "search", "s", 0, 100),
      Span(2, 1, "submit", "s", 10, 30),
      Span(3, 1, "wait", "s", 20, 50), // overlaps the submit span
      Span(4, 1, "wait", "s", 90, 120), // runs past the parent
      Span(5, 2, "wave", "s", 25, 200)) // grandchild: not subtracted from 1
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 5)
    assert(self(5) == 175)
  }

  test("queue fill is the time-weighted mean in flight over capacity") {
    val events = Seq((10L, 1), (0L, 1), (20L, -2))
    assert(Stats.timeWeightedMean(events, 0, 40) == 0.75)
    assert(Stats.queueFill(events, 0, 40, 2) == 0.375)
    // Events before the window set the starting level.
    assert(Stats.timeWeightedMean(Seq((-5L, 3), (10L, -1)), 0, 20) == 2.5)
  }

  test("row fingerprint is independent of row order, partitioning and -0.0") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val rows = Seq((1L, 0.1 + 0.2, Seq(1.5, -0.0), Map("b" -> 2, "a" -> 1)),
        (2L, 3.0, Seq(2.5), Map("c" -> 3)), (2L, 3.0, Seq(2.5), Map("c" -> 3)))
      val a = rows.toDF("id", "x", "arr", "m")
      val b = rows.reverse.map { case (i, x, arr, m) => (i, x, arr.map(v => v + 0.0), m) }
        .toDF("id", "x", "arr", "m").repartition(3).select("m", "x", "id", "arr")
      val fa = Stats.fingerprint(AnalyticsBench.rowHashes(a))
      assert(fa == Stats.fingerprint(AnalyticsBench.rowHashes(b)))
      assert(fa.startsWith("3:"))
      assert(fa != Stats.fingerprint(AnalyticsBench.rowHashes(a.limit(2))))
      assert(fa != Stats.fingerprint(AnalyticsBench.rowHashes(a.withColumn("x", $"x" + 1e-6))))
    } finally spark.stop()
  }
}

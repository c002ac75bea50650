package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank quantiles and the median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.quantile(xs, 0.5) === 5.0)
    assert(Stats.quantile(xs, 0.9) === 9.0)
    assert(Stats.quantile(xs, 1.0) === 10.0)
    assert(Stats.quantile(xs, 0.0) === 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.quantile(Nil, 0.5).isNaN)
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    // 1000 samples: p99 leaves exactly 10 above its rank
    assert(Stats.beyond(1000, 0.99) === 10)
    assert(Stats.tailQuantile(1000) === Some(0.99))
    // 999 samples leave 9 above p99, so p90 is the highest honest tail
    assert(Stats.beyond(999, 0.99) === 9)
    assert(Stats.tailQuantile(999) === Some(0.9))
    // 100 samples: p90 leaves 10; 99 do not, p75 does
    assert(Stats.tailQuantile(100, Seq(0.9, 0.75)) === Some(0.9))
    assert(Stats.tailQuantile(99, Seq(0.9, 0.75)) === Some(0.75))
    // too few samples for any candidate
    assert(Stats.tailQuantile(12, Seq(0.9)) === None)
  }

  test("freshness joins each event to the batch whose LSN interval holds it") {
    val batches = Seq(
      Stats.BatchCommit(0, startLsn = -1, endLsn = 102, commitMs = 5000),
      Stats.BatchCommit(1, startLsn = 102, endLsn = 105, commitMs = 9000))
    val lsns = Array(100L, 101L, 102L, 103L, 105L, 106L)
    val sched = Array(1000.0, 1000.0, 2000.0, 3000.0, 4000.0, 4500.0)
    val (fresh, uncovered) = Stats.freshness(batches, lsns, sched)
    // (start, end] is half-open at the start: 102 belongs to batch 0
    assert(fresh.toSeq === Seq(4.0, 4.0, 3.0, 6.0, 5.0))
    // LSN 106 lies beyond every committed batch
    assert(uncovered === 1)
  }

  test("freshness of an empty window") {
    val (fresh, uncovered) = Stats.freshness(Nil, Array.empty[Long], Array.empty[Double])
    assert(fresh.isEmpty && uncovered === 0)
  }

  test("lag slope is the least-squares slope") {
    val ts = Seq(0.0, 1.0, 2.0, 3.0)
    assert(Stats.slope(ts, Seq(10.0, 30.0, 50.0, 70.0)) === 20.0)
    assert(math.abs(Stats.slope(ts, Seq(5.0, 5.0, 5.0, 5.0))) < 1e-12)
    // noisy but level backlog: no growth
    assert(math.abs(Stats.slope(ts, Seq(4.0, 6.0, 4.0, 6.0)) - 0.4) < 1e-12)
    assert(Stats.slope(Seq(1.0), Seq(3.0)) === 0.0)
    assert(Stats.slope(Seq(2.0, 2.0), Seq(1.0, 9.0)) === 0.0)
  }

  test("covered length merges overlapping children and clips to the parent") {
    assert(Stats.covered(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0))) === 5.0)
    assert(Stats.covered(0, 10, Seq((-5.0, 2.0), (9.0, 20.0))) === 3.0)
    assert(Stats.covered(0, 10, Seq((11.0, 12.0))) === 0.0)
    assert(Stats.covered(0, 10, Nil) === 0.0)
  }

  test("self time subtracts only direct children, overlaps counted once") {
    val spans = Seq(
      Span(1, -1, "t", "batch", 0, 100),
      Span(2, 1, "t", "merge", 10, 60),
      Span(3, 1, "t", "merge", 40, 70),
      Span(4, 2, "t", "job", 20, 30),
      Span(5, -1, "u", "other", 0, 5))
    val self = Stats.selfTimes(spans)
    assert(self(1) === 40.0) // 100 minus the union [10, 70]
    assert(self(2) === 40.0) // 50 minus its job
    assert(self(3) === 30.0)
    assert(self(4) === 10.0)
    assert(self(5) === 5.0)
  }
}

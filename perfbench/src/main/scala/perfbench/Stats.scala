package perfbench

/** The benchmark's metric math. Pure functions over recorded samples, so
  * every rule the report depends on is unit-tested on its own. */
object Stats {

  /** Nearest-rank quantile: the smallest sample with at least `q` of the
    * samples at or below it. NaN for an empty input. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.max(1, rankOf(s.length, q))
      s(math.min(rank, s.length) - 1)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** 1-based nearest rank of `q` among `n` samples (a hair of slack so
    * 0.9 * 100 lands on 90, not 91). */
  private def rankOf(n: Int, q: Double): Int = math.ceil(q * n - 1e-9).toInt

  /** Samples strictly above the nearest-rank position of `q`. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, rankOf(n, q))

  /** The highest of `candidates` that leaves at least `minBeyond`
    * samples above it, so a reported tail always rests on that many
    * observations. None when even the lowest candidate has too few. */
  def tailQuantile(n: Int, candidates: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.75),
                   minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(q => beyond(n, q) >= minBeyond)

  /** Least-squares slope of `ys` over `ts`; 0 with fewer than two
    * distinct times. */
  def slope(ts: Seq[Double], ys: Seq[Double]): Double = {
    require(ts.length == ys.length, "slope needs paired samples")
    val n = ts.length
    if (n < 2) return 0.0
    val mt = ts.sum / n
    val my = ys.sum / n
    var sxy = 0.0
    var sxx = 0.0
    var i = 0
    while (i < n) {
      val dt = ts(i) - mt
      sxy += dt * (ys(i) - my)
      sxx += dt * dt
      i += 1
    }
    if (sxx == 0.0) 0.0 else sxy / sxx
  }

  /** One committed micro-batch: the half-open LSN interval (startLsn,
    * endLsn] it consumed and the wall time its lake commit returned. */
  final case class BatchCommit(batchId: Long, startLsn: Long, endLsn: Long,
                               commitMs: Double)

  /** Freshness of each event: commit time of the batch whose interval
    * holds its LSN minus the event's scheduled send time. `lsns` must be
    * ascending and `schedMs` parallel to it. Returns the freshness
    * samples (seconds) of the events that some batch committed, and the
    * count of events no batch covered. */
  def freshness(batches: Seq[BatchCommit], lsns: Array[Long],
                schedMs: Array[Double]): (Array[Double], Int) = {
    require(lsns.length == schedMs.length, "freshness needs paired samples")
    val out = new Array[Double](lsns.length)
    val hit = new Array[Boolean](lsns.length)
    for (b <- batches) {
      var i = upperBound(lsns, b.startLsn)
      while (i < lsns.length && lsns(i) <= b.endLsn) {
        out(i) = (b.commitMs - schedMs(i)) / 1000.0
        hit(i) = true
        i += 1
      }
    }
    val samples = out.indices.filter(hit).map(out).toArray
    (samples, lsns.length - samples.length)
  }

  /** First index whose value exceeds `x` (arr ascending). */
  def upperBound(arr: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Length of [start, end] covered by the union of `children`, each
    * clipped to the interval. */
  def covered(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- clipped) {
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> ((s.endMs - s.startMs) - covered(s.startMs, s.endMs, kids))
    }.toMap
  }
}

/** One traced interval. `parent` is -1 for a root; `traceId` groups the
  * spans of one micro-batch or one query. */
final case class Span(id: Long, parent: Long, traceId: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

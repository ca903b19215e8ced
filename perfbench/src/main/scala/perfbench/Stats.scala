package perfbench

/** The benchmark's own arithmetic: order statistics, the tail rule, the
  * union of time intervals and span self time. [[selfCheck]] runs at the
  * start of every benchmark process, so a wrong formula stops the run
  * before it reports a number. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 0 && p <= 100)
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(rank - 1)
  }

  /** The highest whole percentile that still has at least `beyond` samples
    * above its value's rank, as (percentile, value, samples beyond). With
    * fewer than `beyond + 1` samples no percentile qualifies and the
    * maximum is returned with the count of samples beyond it (zero). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double, Int) = {
    val n = xs.length
    if (n <= beyond) (100, xs.max, 0)
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, percentile(xs, p), n - rank)
    }
  }

  /** Total length covered by a set of half-open intervals `(start, end)`;
    * overlaps count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var hi = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach {
      case (s, e) =>
        if (s >= hi) { total += e - s; hi = e }
        else if (e > hi) { total += e - hi; hi = e }
    }
    total
  }

  /** Clip intervals to the window `[lo, hi)`. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter(iv => iv._2 > iv._1)

  /** A span's self time: its duration minus the part of it its children
    * cover (children may overlap each other or stick out of the parent). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(clip(children, start, end))

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new IllegalStateException(s"benchmark self-check failed: $what")

  def selfCheck(): Unit = {
    val hundred = (1 to 100).map(_.toDouble)
    expect(median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of odd count")
    expect(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median of even count")
    expect(percentile(hundred, 90) == 90.0, "nearest-rank p90 of 1..100")
    expect(percentile(hundred, 0) == 1.0, "p0 is the minimum")
    // tail rule: 100 samples -> p90 has exactly 10 beyond it
    expect(tail(hundred) == ((90, 90.0, 10)), "tail of 1..100")
    // 11 samples: only the lowest rank leaves 10 beyond
    val eleven = (1 to 11).map(_.toDouble)
    expect(tail(eleven) == ((9, 1.0, 10)), "tail of 1..11")
    // 25 samples: p60 is rank 15, 10 beyond; p61 would leave 9
    val tw5 = (1 to 25).map(_.toDouble)
    expect(tail(tw5) == ((60, 15.0, 10)), "tail of 1..25")
    expect(tail(Seq(5.0, 7.0)) == ((100, 7.0, 0)), "tail below 11 samples")
    // interval union: overlaps and containment count once, gaps do not
    expect(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L,
      "union of overlapping and disjoint intervals")
    expect(unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L,
      "union with contained intervals")
    expect(unionLength(Seq((5L, 5L), (7L, 6L))) == 0L, "empty intervals")
    expect(unionLength(Seq((10L, 20L), (0L, 5L), (5L, 10L))) == 20L,
      "unsorted abutting intervals")
    // self time: children clipped to the parent, overlap counted once
    expect(selfTime(0L, 100L, Seq((10L, 30L), (20L, 40L))) == 70L,
      "self time with overlapping children")
    expect(selfTime(50L, 100L, Seq((0L, 60L), (90L, 120L))) == 30L,
      "self time with children outside the span")
    expect(selfTime(0L, 10L, Nil) == 10L, "self time of a leaf")
  }
}

package perfbench

/** Pure arithmetic behind the reported figures; `SelfTest` pins each rule. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile that still has at least
    * `beyond` samples above it. Over `n` sorted samples that is the value
    * at index `n - beyond - 1`, the `(n - beyond) / n` percentile. */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.size > beyond,
      s"tail needs more than $beyond samples, got ${xs.size}")
    val s = xs.sorted
    val n = s.size
    Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n, beyond)
  }

  /** Total length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`: the wall time during which at least one interval ran. */
  def unionWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var cursor = lo
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(math.max(s0, cursor), lo)
      val e = math.min(e0, hi)
      if (e > s) { covered += e - s; cursor = e }
    }
    covered
  }

  /** Total length of the parts of `segments` that no interval covers. */
  def uncovered(intervals: Seq[(Long, Long)], segments: Seq[(Long, Long)]): Long =
    segments.map { case (lo, hi) =>
      math.max(0L, hi - lo) - unionWithin(intervals, lo, hi) }.sum

  /** Longest path through a DAG with per-node durations: the time the run
    * would take with unlimited threads. `ups(n)` lists the nodes `n` waits
    * for; nodes absent from `dur` cost nothing. */
  def criticalPath(dur: Map[String, Double], ups: String => Set[String]): Double = {
    val memo = scala.collection.mutable.Map[String, Double]()
    def finish(n: String, path: Set[String]): Double = memo.get(n) match {
      case Some(v) => v
      case None =>
        require(!path.contains(n), s"cycle through $n")
        val start = ups(n).map(finish(_, path + n)).foldLeft(0.0)(math.max)
        val v = start + dur.getOrElse(n, 0.0)
        memo(n) = v
        v
    }
    dur.keys.map(finish(_, Set.empty)).foldLeft(0.0)(math.max)
  }
}

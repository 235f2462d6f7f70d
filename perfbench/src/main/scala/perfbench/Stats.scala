package perfbench

/** The benchmark's summary arithmetic, kept free of Spark so it can be
  * unit-tested on plain numbers.
  */
object Stats {

  /** Linear-interpolated quantile (the "type 7" rule numpy and R default
    * to); `q` in [0, 1]. Interpolation keeps a percentile of a few dozen
    * samples from jumping between neighbouring samples run to run.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles the benchmark may report as a tail, lowest first. */
  val TailCandidates: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** The highest candidate percentile with at least ten samples beyond
    * it, i.e. `n * (1 - p/100) >= 10`; None with fewer than 20 samples.
    * A percentile with fewer samples above it is one outlier's value.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.filter(p => n * (1 - p / 100) >= 10 - 1e-9).lastOption

  /** Failed or wrong operations over operations attempted. */
  def failRatio(attempted: Long, failed: Long): Double = {
    require(attempted > 0, "no operations attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    failed.toDouble / attempted
  }

  /** A timed span: `parent` is the id of the span that caused it. */
  final case class Span(id: Int, name: String, parent: Option[Int], op: Int,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children. Overlapping children are
    * merged first, so time two children share counts once, and a child
    * sticking out of its parent is clipped to the parent.
    */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per span name, in milliseconds. */
  def selfMsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimesNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }
}

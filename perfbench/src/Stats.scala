package perfbench

/** The benchmark's own arithmetic: percentiles, interval sets (for span
  * self time and driver gaps) and the open-loop latency figures. Kept free
  * of Spark so `SelfTest` can check it on hand-made inputs. */
object Stats {

  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    s(math.min(rank, s.size) - 1)
  }

  /** Percentiles a tail figure may be reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile that leaves at least `minBeyond` of `n`
    * samples above its nearest rank; the median when none does, so a short
    * run still reports a (weak) tail. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Double =
    TailLadder.filter { p =>
      n - math.ceil(p / 100.0 * n).toInt >= minBeyond
    }.lastOption.getOrElse(50.0)

  /** (percentile, value) of the tail figure: the [[tailPercentile]] of the
    * samples, or their median when that percentile is p50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, if (p == 50.0) median(xs) else percentile(xs, p))
  }

  /** Half-open interval [lo, hi) in milliseconds. */
  final case class Iv(lo: Double, hi: Double) {
    def len: Double = math.max(0.0, hi - lo)
  }

  /** Sorted, non-overlapping cover of `ivs`. */
  def union(ivs: Seq[Iv]): Seq[Iv] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Iv]
    ivs.filter(_.len > 0).sortBy(_.lo).foreach { iv =>
      if (out.nonEmpty && iv.lo <= out.last.hi)
        out(out.size - 1) = Iv(out.last.lo, math.max(out.last.hi, iv.hi))
      else out += iv
    }
    out.toSeq
  }

  def measure(ivs: Seq[Iv]): Double = union(ivs).map(_.len).sum

  /** The parts of `a` that no interval of `b` covers. */
  def subtract(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cuts = union(b)
    union(a).flatMap { iv =>
      var pieces = Seq(iv)
      cuts.foreach { c =>
        pieces = pieces.flatMap { p =>
          if (c.hi <= p.lo || c.lo >= p.hi) Seq(p)
          else Seq(Iv(p.lo, c.lo), Iv(c.hi, p.hi)).filter(_.len > 0)
        }
      }
      pieces
    }
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(span: Iv, children: Seq[Iv]): Double =
    measure(subtract(Seq(span), children))

  /** Open-loop latency of each request: completion minus the time it was
    * DUE, so a stall also charges the requests queued behind it. */
  def scheduledLatencies(due: Seq[Double], done: Seq[Double]): Seq[Double] =
    due.zip(done).map { case (d, c) => c - d }

  /** How late the generator ran: the largest (sent − due), never negative. */
  def generatorLag(due: Seq[Double], sent: Seq[Double]): Double =
    due.zip(sent).map { case (d, s) => s - d }.foldLeft(0.0)(math.max)

  /** Largest number of requests sent but not yet completed, sampled at each
    * of `probes` (e.g. micro-batch start times). */
  def backlogMax(sent: Seq[Double], done: Seq[Double],
      probes: Seq[Double]): Int =
    probes.map(t => sent.count(_ <= t) - done.count(_ <= t))
      .foldLeft(0)(math.max)
}

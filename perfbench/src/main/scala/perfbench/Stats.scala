package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics as the benchmark reports them: nearest-rank
  * percentiles, plus the highest percentile the sample count can back.
  */
object Stats {

  /** Percentiles the benchmark may report as its tail. */
  val TailCandidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. NaN for an empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.sorted
      sorted(rank(xs.size, p) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Number of samples strictly beyond the nearest-rank `p`th percentile. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest candidate percentile with at least 10 samples beyond it,
    * or None when even the median has fewer than 10 samples above it.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.filter(p => n > 0 && samplesBeyond(n, p) >= 10).lastOption
}

/** One timed operation: its name, wall time and whether its output checked. */
final case class Op(name: String, ms: Double, ok: Boolean)

/** Thread-safe log of the timed operations of one run.
  *
  * A failed op (it threw, or its result differed from the reference) counts
  * as missing any latency limit: for latency it reads as `penaltyMs` (the
  * run's measured window) or its own time if longer, so a fast failure can
  * never lower a percentile.
  */
final class OpLog(val penaltyMs: Double) {
  private val ops = ArrayBuffer.empty[Op]

  def add(op: Op): Unit = ops.synchronized { ops += op; () }

  def all: Seq[Op] = ops.synchronized(ops.toList)

  def attempted: Int = all.size

  def failed: Int = all.count(!_.ok)

  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** Charged latency of every op, failures at the penalty. */
  def latencies: Seq[Double] = all.map(charged)

  def charged(op: Op): Double = if (op.ok) op.ms else math.max(op.ms, penaltyMs)

  /** Wall seconds of a round, with each failed op in it charged the
    * difference between its penalty and the time it actually took.
    */
  def chargedWallS(wallS: Double, roundOps: Seq[Op]): Double =
    wallS + roundOps.filterNot(_.ok).map(o => (charged(o) - o.ms) / 1000.0).sum
}

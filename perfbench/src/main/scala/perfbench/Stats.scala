package perfbench

/** Summary statistics the harness reports.
  *
  * A timing is a median plus the highest percentile that still has at
  * least [[MinBeyond]] samples above it, so a tail figure never rests on a
  * handful of points: with n samples that is the (MinBeyond + 1)-th
  * largest, the nearest-rank percentile 100 (n - MinBeyond) / n. The
  * median interpolates between the two middle samples.
  */
object Stats {
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The mean over groups of each group's median: a pooled median of a
    * mix of operation kinds, which cannot jump from one kind's latency to
    * another's when a few samples move. */
  def meanOfMedians(groups: Seq[Seq[Double]]): Double = {
    require(groups.nonEmpty, "no groups")
    groups.map(median).sum / groups.size
  }

  /** A latency summary: sample count, median, tail percentile and value. */
  final case class Timing(n: Int, p50: Double, tailP: Double, tail: Double)

  /** None when there are too few samples for a tail. */
  def timing(xs: Seq[Double]): Option[Timing] =
    if (xs.size <= MinBeyond) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(Timing(n, median(s), 100.0 * (n - MinBeyond) / n, s(n - 1 - MinBeyond)))
    }

  /** Whole rounds that fill about `seconds` at a nominal round length (at
    * least one). It depends on the requested seconds alone, never on the
    * clock, so every run of a workload at one `seconds` holds the same
    * operations in the same order however fast the machine is. */
  def roundsFor(seconds: Int, roundSeconds: Double): Int =
    math.max(1, math.round(seconds / roundSeconds).toInt)
}

/** Attempted and failed operations. An operation fails when it throws or
  * when its answer disagrees with the model; each operation counts once. */
final class Tally {
  private val failedIds = scala.collection.mutable.LinkedHashMap[Int, String]()
  private var attemptedN = 0

  def attempt(): Unit = attemptedN += 1
  def fail(opId: Int, why: String): Unit =
    if (!failedIds.contains(opId)) failedIds(opId) = why

  def attempted: Int = attemptedN
  def failed: Int = failedIds.size
  def reasons: Seq[String] = failedIds.toSeq.map { case (i, w) => s"op $i: $w" }
  def errorRate: Double = if (attemptedN == 0) 0.0 else failed.toDouble / attemptedN
}

package perfbench

/** Summary statistics for timed samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.length).toInt) - 1)
  }

  /** The tail latency: the highest whole percentile whose nearest-rank
    * sample still has at least `beyond` samples ranked above it. Returns
    * (percentile, value). With too few samples for any percentile to
    * qualify the maximum is returned as percentile 100, so a reader sees
    * from the percentile that the rule could not be met. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.length
    (99 to 1 by -1)
      .find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
      .map(p => p -> percentile(xs, p))
      .getOrElse(100 -> xs.max)
  }
}

/** Attempted/failed tally. An operation fails when it throws or when any
  * correctness check on its output fails. */
final class Tally {
  private var attemptedN = 0
  private var failedN = 0
  private val errors = scala.collection.mutable.ArrayBuffer[String]()

  def attempted: Int = attemptedN
  def failed: Int = failedN
  def messages: Seq[String] = errors.toSeq

  /** Runs one operation; a throw is recorded as a failure and gives None. */
  def run[A](label: String)(op: => A): Option[A] = {
    attemptedN += 1
    try Some(op)
    catch {
      case e: Exception =>
        failedN += 1
        errors += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Records the outcome of a correctness check on an operation already
    * counted as attempted: a failed check turns it into a failed one. */
  def check(label: String, problem: Option[String]): Unit =
    problem.foreach { p => failedN += 1; errors += s"$label: $p" }

  /** An operation that could not start because an earlier one failed. */
  def skipped(label: String, why: String): Unit = {
    attemptedN += 1
    failedN += 1
    errors += s"$label: not run, $why"
  }
}

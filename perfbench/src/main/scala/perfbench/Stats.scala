package perfbench

/** Order statistics over timing samples. Every summary carries its sample
  * count, so a median of two samples never passes for a median of fifty. */
final case class Summary(n: Int, p50: Double, p90: Option[Double], max: Double)

object Stats {

  /** Linear-interpolated quantile (the "inclusive" method of Python's
    * `statistics.quantiles`), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The p90 is reported only when at least ten samples lie above it, the
    * rule for a tail percentile that is more than one sample's noise. */
  def summarize(xs: Seq[Double]): Summary = {
    require(xs.nonEmpty, "summary of no samples")
    val p90 = if (xs.length >= 100) Some(quantile(xs, 0.9)) else None
    Summary(xs.length, median(xs), p90, xs.max)
  }
}

/** Failure accounting for the timed loop. A round times one or more
  * operations and then checks their outputs (untimed). Its samples are
  * kept only when every operation returned and every check passed;
  * otherwise each of its operations counts as failed and none is timed, so
  * a failure can never make a latency look better. */
final class OpLog {
  private val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
  private var attemptedN = 0
  private var failedN = 0
  private val errors = Vector.newBuilder[String]

  def attempted: Int = attemptedN
  def failed: Int = failedN
  def errorMessages: Vector[String] = errors.result()
  def samplesOf(cls: String): Vector[Double] = samples.getOrElse(cls, Vector.empty)

  /** Times the calls made through the given [[Timer]]; `body` returns an
    * error message when a check fails. Returns whether the round passed.
    * A warm-up round (`keep = false`) is checked and counted like any other
    * but keeps no samples. */
  def round(body: Timer => Option[String], keep: Boolean = true): Boolean = {
    val t = new Timer
    val verdict = try body(t) catch { case e: Throwable => Some(OpLog.describe(e)) }
    val ops = math.max(1, t.started)
    attemptedN += ops
    verdict match {
      case None =>
        if (keep) t.pending.foreach { case (cls, sec) => samples(cls) = samplesOf(cls) :+ sec }
        true
      case Some(msg) =>
        failedN += ops
        errors += msg
        false
    }
  }

  /** Records the verdict of a whole-run check (a final output comparison,
    * a drift guard) as one attempted operation. */
  def check(what: String, error: Option[String]): Unit = {
    attemptedN += 1
    error.foreach { e => failedN += 1; errors += s"$what: $e" }
  }
}

object OpLog {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
}

/** Wall-clock timer for the operations of one round. */
final class Timer {
  private[perfbench] var started = 0
  private[perfbench] val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  def time[A](cls: String)(op: => A): A = {
    started += 1
    val t0 = System.nanoTime()
    val a = op
    pending += cls -> (System.nanoTime() - t0) / 1e9
    a
  }
}

package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One operation that threw or whose output failed its independent check. */
final case class Failure(name: String, why: String)

/** Operation accounting for one run.
  *
  * Every operation is attempted once. It either adds one latency sample
  * under its role, or, when it throws or its output fails the check, one
  * entry in `failed` and no sample: a failed operation never reads as a
  * fast one. Checks run after the clock stops.
  */
final class Recorder {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val rates = mutable.ArrayBuffer.empty[Double]
  val failed: mutable.ArrayBuffer[Failure] = mutable.ArrayBuffer.empty
  private var attempts = 0L

  def attempted: Long = attempts

  /** Time `body`; then `check` (untimed) returns a mismatch, if any. */
  def op[T](role: String, name: String)(body: => T)(
      check: T => Option[String]): Option[T] = {
    attempts += 1
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    result match {
      case Left(e) =>
        failed += Failure(name, s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
        None
      case Right(v) =>
        val mismatch =
          try check(v)
          catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}") }
        mismatch match {
          case Some(why) =>
            failed += Failure(name, s"mismatch: $why")
            None
          case None =>
            timing(role, ms)
            Some(v)
        }
    }
  }

  /** An operation timed elsewhere (e.g. one streamed sample) that passed. */
  def passed(role: String, ms: Double): Unit = { attempts += 1; timing(role, ms) }

  /** An operation timed elsewhere that failed: counted, never timed. */
  def fail(name: String, why: String): Unit = {
    attempts += 1
    failed += Failure(name, why)
  }

  /** A timing that is part of an operation already counted. */
  def timing(role: String, ms: Double): Unit =
    samples.getOrElseUpdate(role, mutable.ArrayBuffer.empty) += ms

  /** Work done per second by one unit of measurement (a window, a drain). */
  def rate(units: Double, seconds: Double): Unit =
    if (seconds > 0) rates += units / seconds

  /** Count another recorder's operations and failures as this one's. */
  def absorb(other: Recorder): Unit = {
    attempts += other.attempted
    failed ++= other.failed
  }

  def timings(role: String): Seq[Double] = samples.get(role).fold(Seq.empty[Double])(_.toSeq)
  def rateMedian: Double = Stats.quantile(rates.toSeq, 0.5)
}

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

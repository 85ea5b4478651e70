package perfbench

/** One benchmark workload. The harness ([[Main]]) calls `setup` several
  * times (the last repetition's state is the one used), then `warmUp`,
  * `cold`, `measure` once per phase, and `check`. Every method returns raw
  * observations; the metric arithmetic lives in `perfbench/metrics.py`. */
trait Workload {
  /** Build the workload's starting state into fresh directories from the
    * generated inputs. Returns the wall seconds it took. */
  def setup(rep: Int): Double

  /** Untimed work until successive units agree (see `Steady`). */
  def warmUp(): Map[String, Any]

  /** The workload's cold unit, in seconds (see each workload). */
  def cold(): Double

  /** The timed closed loop: run units back to back until `seconds` have
    * passed; returns the samples and the attempted/failed counts. */
  def measure(seconds: Double, traced: Boolean): Map[String, Any]

  /** Correctness checks on the program's outputs, outside any timed
    * window: name -> (passed, detail). */
  def check(): Map[String, (Boolean, String)]

  def close(): Unit = ()
}

/** Warm-up rule shared by every workload: keep going until the median of
  * the last `window` unit times is within `tol` of the median of the
  * `window` before it (and at least `minUnits` ran), or until the cap. */
object Steady {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def reached(times: Seq[Double], window: Int, tol: Double, minUnits: Int): Boolean =
    times.size >= math.max(minUnits, 2 * window) && {
      val last = median(times.takeRight(window))
      val prev = median(times.dropRight(window).takeRight(window))
      math.abs(last - prev) <= tol * prev
    }

  /** Run `unit` until [[reached]] or `maxUnits`/`maxSeconds`; returns the
    * warm-up record kept in the run's raw output. */
  def warm(window: Int, tol: Double, minUnits: Int, maxUnits: Int, maxSeconds: Double)
          (unit: () => Double): Map[String, Any] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (!reached(times.toSeq, window, tol, minUnits) && times.size < maxUnits &&
           (System.nanoTime() - t0) / 1e9 < maxSeconds)
      times += unit()
    Map("units" -> times.size, "unit_s" -> times.toList,
      "steady" -> reached(times.toSeq, window, tol, minUnits))
  }
}

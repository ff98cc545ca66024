package perfbench

/** A fixed single-threaded job of plain JVM code, timed right after
  * every op and after every set-up: the speed of the machine at that
  * moment. The benchmark reports its end-to-end timings scaled to a
  * nominal speed of this job (perfbench/stats.py). On a shared host the
  * machine's speed drifts over minutes, by a fifth for this job and by
  * up to a half for the ops, which would otherwise read as a change of
  * the program; the scaling cancels the part the two share. The job
  * shares no code with the program and works on preallocated arrays,
  * so a program change cannot move it.
  */
object Reference {
  private val data = {
    val r = new java.util.Random(42L)
    Array.fill(100000)(r.nextDouble())
  }
  private val buf = new Array[Double](data.length)
  @volatile private var sink = 0.0

  /** Sorts a fixed array of 100,000 doubles; returns milliseconds. */
  def timeMs(): Double = {
    val t0 = System.nanoTime()
    System.arraycopy(data, 0, buf, 0, data.length)
    java.util.Arrays.sort(buf)
    sink += buf(buf.length / 2)
    (System.nanoTime() - t0) / 1e6
  }

  /** Median of `n` runs. */
  def medianMs(n: Int): Double = {
    val xs = Array.fill(n)(timeMs()).sorted
    xs(n / 2)
  }
}

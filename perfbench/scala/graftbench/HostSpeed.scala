package graftbench

/** The host's current speed, from a fixed CPU kernel timed between the
  * benchmark's operations. This machine's virtual CPUs share a host with
  * others, and the same code runs up to twice as long when the host is
  * busy; the kernel slows by about the same factor, so the report scales the
  * run's times by the kernel's median time (see `report.py`).
  *
  * The kernel allocates nothing, so the program's heap and GC state do
  * not move it: a dependent walk over a fixed 256 KiB table with
  * arithmetic on each step, 5–7 ms on a 2.1 GHz Xeon core. */
object HostSpeed {
  private val size = 1 << 16
  private val table: Array[Int] = {
    val r = new java.util.Random(42)
    Array.fill(size)(r.nextInt())
  }
  private val steps = 1 << 20
  @volatile private var sink = 0

  /** Kernel runs after each timed operation: a run's median then rests
    * on a hundred or more samples. */
  val samplesPerOp = 4

  /** Nanoseconds to run the kernel once. */
  def sample(): Long = {
    val t0 = System.nanoTime()
    var h = 0
    var i = 0
    var at = 0
    while (i < steps) {
      h = h * 31 + table(at)
      if ((h & 1) == 0) h ^= i
      at = (table(at) ^ h) & (size - 1)
      i += 1
    }
    sink = h
    System.nanoTime() - t0
  }
}

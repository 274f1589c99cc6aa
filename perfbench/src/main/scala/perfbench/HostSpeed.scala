package perfbench

/** A fixed CPU-and-cache probe of the host: every core sorts the same
  * pseudo-random arrays. Its wall time tracks how much of a shared
  * machine other tenants take at the moment, independently of the
  * program under test (the probe allocates nothing, so the program's
  * heap and GC state do not reach it). run.py scales load and query
  * times by it, so host contention that slows a whole run does not
  * read as a change in the program. */
object HostSpeed {
  private val Cores = 4
  private val Len = 1 << 18
  private val Rounds = 6
  private val source = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(Len) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
  }
  private val scratch = Array.fill(Cores)(new Array[Long](Len))

  /** Wall seconds of one probe. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until Cores).map { c =>
      val t = new Thread(() => (1 to Rounds).foreach { r =>
        val a = scratch(c)
        System.arraycopy(source, 0, a, 0, Len)
        a(r) ^= c.toLong // keep each round's input distinct
        java.util.Arrays.sort(a)
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

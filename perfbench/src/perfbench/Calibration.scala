package perfbench

/** A fixed amount of JVM work that uses none of the program's code:
  * per thread, sort arrays of random longs and fill a boxed hash map (CPU,
  * memory traffic and allocation, like the engine's driver and executor
  * threads). Its time tracks how fast the machine runs right now, so a
  * run's timings can be scaled to a reference speed.
  */
object Calibration {
  @volatile private var sink = 0L

  /** Seconds for the fixed work on `threads` threads at once. */
  def once(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(i => new Thread(() => sink += work(i)))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def work(seed: Int): Long = {
    val r = new scala.util.Random(seed)
    var acc = 0L
    (1 to Rounds).foreach { _ =>
      val a = Array.fill(ArrayLen)(r.nextLong())
      java.util.Arrays.sort(a)
      val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      a.foreach(x => m.put(x & 0x3ffff, x))
      acc += m.size + a(ArrayLen / 2)
    }
    acc
  }

  private val Rounds = 3
  private val ArrayLen = 400000
}

package perfbench

/** A fixed piece of CPU and memory work that does not touch the
  * program: each of `threads` threads fills 8 MB with a xorshift
  * sequence and sorts it. Its wall time shows how fast the host ran
  * during a run (`jvm.calibration_s`), so that a slow host can be told
  * apart from a slow program. */
object Calibrate {
  def apply(threads: Int): Double = {
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { t =>
      val th = new Thread(() => {
        val a = new Array[Long](1 << 20)
        var x = 88172645463325252L + t
        var i = 0
        while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
        java.util.Arrays.sort(a)
      })
      th.start(); th
    }
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

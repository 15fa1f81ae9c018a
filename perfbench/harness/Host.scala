package perfbench

import java.lang.management.ManagementFactory

/** Host telemetry recorded beside every run: the 1-minute loadavg, the
  * external CPU share (whole-system CPU minus this JVM's, sampled every
  * 200 ms) and a fixed 256 MB strided-sum memory-bandwidth probe. It
  * explains a slow run; the benchmark never uses it to rerun, drop or
  * adjust a sample. */
final class Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val sun = os match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  private val samples =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var stop = false
  private val sampler = new Thread(() => {
    try while (!stop) {
      sun.foreach { b =>
        val all = b.getCpuLoad
        val self = b.getProcessCpuLoad
        // both gauges read -1 until their first interval has elapsed
        if (all >= 0 && self >= 0)
          samples.add((System.nanoTime(), math.max(0.0, all - self)))
      }
      Thread.sleep(200L)
    } catch { case _: InterruptedException => () }
  }, "perfbench-host-sampler")
  sampler.setDaemon(true)

  def start(): Unit = if (sun.nonEmpty) sampler.start()

  def close(): Unit = {
    stop = true
    sampler.interrupt()
    sampler.join(1000L)
  }

  def loadavg(): Double =
    try os.getSystemLoadAverage catch { case _: Throwable => -1.0 }

  /** Mean external CPU share over [t0, t1] (nanoTime), -1 without
    * samples. */
  def externalCpu(t0: Long, t1: Long): Double = {
    var s = 0.0
    var n = 0
    samples.forEach { case (t, e) => if (t >= t0 && t <= t1) { s += e; n += 1 } }
    if (n == 0) -1.0 else s / n
  }

  /** Seconds for 16 strided passes over a 256 MB array: one cache line
    * per access, so the time follows memory bandwidth, not CPU. */
  def membwProbe(): Double = try {
    val n = 32 << 20
    val a = new Array[Long](n)
    java.util.Arrays.fill(a, 3L)
    def pass(offset: Int): Long = {
      var s = 0L
      var i = offset
      while (i < n) { s += a(i); i += 8 }
      s
    }
    var sink = pass(0)
    val t0 = System.nanoTime()
    var p = 0
    while (p < 16) { sink += pass(p % 8); p += 1 }
    val t1 = System.nanoTime()
    if (sink == 42L) System.err.println("")
    (t1 - t0) / 1e9
  } catch { case _: OutOfMemoryError => -1.0 }
}

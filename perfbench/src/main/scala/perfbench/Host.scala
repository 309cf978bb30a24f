package perfbench

import java.nio.file.{Files, Paths}

/** Host-noise diagnostics, recorded with every run and never gated: a
  * fixed single-thread kernel timed at run start and end, and the CPU time
  * the hypervisor stole from this machine over the run (`/proc/stat`). */
object Host {

  /** A fixed integer-mixing loop; its time tracks single-core host speed. */
  private def kernel(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) {
      h ^= h >>> 31
      h *= 0xBF58476D1CE4E5B9L
      h += i
      i += 1
    }
    h
  }

  @volatile private var sink = 0L

  /** Seconds per kernel call: one untimed call to compile it, then three. */
  def calibrate(): Seq[Double] = {
    sink ^= kernel()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sink ^= kernel()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Cumulative steal seconds over all CPUs, or 0 where `/proc/stat` has none. */
  def stealSeconds(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}

package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** CPU time the hypervisor withheld from this machine: "steal" in
  * `/proc/stat`. On a shared virtual machine the host withholds 0% to 40%
  * of the runnable CPU time, varying from minute to minute, which would
  * swamp the differences between two versions of the program. Every timed
  * interval is therefore scaled by the share of its runnable CPU time the
  * host did give, `busy / (busy + steal)`, summed over all CPUs: a serial
  * stretch loses its own stolen time, a stretch that keeps every CPU busy
  * loses the mean stolen time per CPU. Contention that does not show as
  * steal (caches, memory bandwidth) stays in the figures. Without
  * `/proc/stat` the factor is 1.
  */
object Steal {

  /** Cumulative CPU ticks at epoch millisecond `ms`, over all CPUs. */
  final case class Sample(ms: Long, busy: Long, steal: Long)

  private val stat = Paths.get("/proc/stat")

  /** The counters now: user + nice + system + irq + softirq, and steal. */
  def read(): Option[Sample] =
    if (!Files.isReadable(stat)) None
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").tail.map(_.toLong)
      Some(Sample(System.currentTimeMillis(), f(0) + f(1) + f(2) + f(5) + f(6), f(7)))
    }

  /** `ms busy steal` as `run.py` passes the counters at the start of set-up. */
  def parse(s: String): Sample = {
    val Array(ms, busy, steal) = s.trim.split("\\s+").map(_.toLong)
    Sample(ms, busy, steal)
  }

  private val samples = ArrayBuffer.empty[Sample]

  /** Record the counters every 10 ms for the rest of the JVM's life. */
  def start(): Unit = if (read().nonEmpty) {
    val t = new Thread(() => while (true) {
      read().foreach(s => samples.synchronized(samples += s))
      Thread.sleep(10)
    }, "perfbench-steal-sampler")
    t.setDaemon(true)
    t.start()
  }

  /** The recorded sample nearest to `ms`. */
  def at(ms: Long): Option[Sample] = samples.synchronized {
    if (samples.isEmpty) None
    else {
      val i = samples.indexWhere(_.ms >= ms) match {
        case -1 => samples.size - 1
        case 0 => 0
        case j => if (samples(j).ms - ms <= ms - samples(j - 1).ms) j else j - 1
      }
      Some(samples(i))
    }
  }

  /** Share of the runnable CPU time between two samples the host gave. */
  def given(from: Sample, to: Sample): Double = {
    val busy = to.busy - from.busy
    val steal = to.steal - from.steal
    if (busy <= 0 || steal < 0) 1.0 else busy.toDouble / (busy + steal)
  }

  /** Share of the runnable CPU time in `[fromMs, toMs]` the host withheld. */
  def stolen(fromMs: Long, toMs: Long): Double =
    1.0 - (for (a <- at(fromMs); b <- at(toMs)) yield given(a, b)).getOrElse(1.0)

  /** `wall` of the interval `[fromMs, toMs]`, less its stolen share. */
  def adjust(wall: Double, fromMs: Long, toMs: Long): Double =
    wall * (1.0 - stolen(fromMs, toMs))

  /** Run `body`; its wall seconds less their stolen share, and its value. */
  def timed[T](body: => T): (Double, T) = {
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val r = body
    (adjust((System.nanoTime() - t0) / 1e9, ms0, System.currentTimeMillis()), r)
  }
}

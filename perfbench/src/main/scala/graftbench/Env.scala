package graftbench

import scala.io.Source
import scala.util.Try

/** Machine record for one run, read from /proc: a windy run can then be
  * told from a slow one. A record, not a gate. */
object Env {

  final case class Cpu(total: Long, steal: Long)

  /** Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    * softirq steal [guest guest_nice]. */
  def cpu(): Option[Cpu] = Try {
    val src = Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      Cpu(f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }.toOption

  def stealPct(a: Option[Cpu], b: Option[Cpu]): Option[Double] =
    for (x <- a; y <- b if y.total > x.total) yield 100.0 * (y.steal - x.steal) / (y.total - x.total)

  def loadAvg(): Option[Double] = Try {
    val src = Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
  }.toOption

  def json(cores: Int, steal: Option[Double], load0: Option[Double], load1: Option[Double]): String = {
    def o(x: Option[Double]) = x.fold("null")(v => f"$v%.3f")
    val heapMb = Runtime.getRuntime.maxMemory / (1 << 20)
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"cores":$cores,"heap_mb":$heapMb,""" +
      s""""steal_pct":${o(steal)},"loadavg_start":${o(load0)},"loadavg_end":${o(load1)}}"""
  }
}

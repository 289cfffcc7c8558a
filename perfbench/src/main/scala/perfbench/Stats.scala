package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Percentiles with their sample counts. */
object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of `xs`. */
  def pct(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 0.5)

  /** `{"p50":…, "p90":…, "n":…}` for the detail lines. */
  def summary(xs: scala.collection.Seq[Double], qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else qs.map(q => s"p${(q * 100).round}" -> round3(pct(xs, q))).toMap + ("n" -> xs.size)

  def round3(x: Double): Double = math.round(x * 1000) / 1000.0
}

/** Host and process counters from /proc and the JVM's MXBeans. */
object Proc {
  private def slurp(p: String): String = {
    val src = scala.io.Source.fromFile(p)
    try src.mkString finally src.close()
  }
  /** (steal s, busy s without steal) from the first line of /proc/stat. */
  def cpuStat(): (Double, Double) =
    try {
      val f = slurp("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toDouble)
      (f(7) / 100.0, (f(0) + f(1) + f(2) + f(5) + f(6)) / 100.0)
    } catch { case _: Exception => (-1.0, -1.0) }
  /** CPU seconds used by this process (utime + stime). */
  def selfCpu(): Double =
    try {
      val s = slurp("/proc/self/stat")
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      (rest(11).toDouble + rest(12).toDouble) / 100.0
    } catch { case _: Exception => -1.0 }
  def loadavg(): Double =
    try slurp("/proc/loadavg").trim.split("\\s+")(0).toDouble catch { case _: Exception => -1.0 }
  /** Peak resident set of this process, in MB (VmHWM). */
  def peakRssMb(): Double =
    try slurp("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** Share of the window's CPU capacity taken from this process by the
    * host (steal plus other processes' CPU) above which the window is
    * marked disturbed. */
  val DisturbedFrac = 0.05

  /** Noise over a measured window: CPU steal and CPU used by other
    * processes, so a disturbed run shows instead of being averaged in. */
  final class Window {
    private val t0 = System.nanoTime()
    private val (steal0, busy0) = cpuStat()
    private val self0 = selfCpu()
    private val gc0 = gcMs()
    def close(): Map[String, Any] = {
      val wall = (System.nanoTime() - t0) / 1e9
      val (steal1, busy1) = cpuStat()
      val self1 = selfCpu()
      val self = self1 - self0
      val steal = steal1 - steal0
      val other = math.max(0.0, (busy1 - busy0) - self)
      val disturbance = (steal + other) / (wall * nproc)
      Map("wall_s" -> Stats.round3(wall),
        "cpu_steal_s" -> Stats.round3(steal),
        "other_proc_cpu_s" -> Stats.round3(other),
        "disturbance" -> Stats.round3(disturbance),
        "disturbed" -> (disturbance > DisturbedFrac),
        "cpu_busy_frac" -> Stats.round3(self / (wall * nproc)),
        "gc_ms_per_s" -> Stats.round3((gcMs() - gc0) / wall))
    }
  }
}

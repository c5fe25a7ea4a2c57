package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Typical call time of a closed-loop mix: the geometric mean of each
    * kind's median. Every kind weighs the same, so a change in any kind
    * moves it; the plain median of a few unlike kinds would only follow
    * whichever kind sits in the middle. */
  def geoMeanOfMedians(byKind: Iterable[Seq[Double]]): Double =
    if (byKind.isEmpty) 0.0
    else math.exp(byKind.map(k => math.log(median(k))).sum / byKind.size)

  /** Tail of a closed-loop mix: the mean of the medians of its slowest
    * third of kinds of call. A run holds a few calls of each kind — too
    * few for a percentile with ten samples beyond it — and the mean over
    * several slow kinds holds more samples than the slowest kind alone. */
  def slowestThirdMean(byKind: Iterable[Seq[Double]]): Double =
    if (byKind.isEmpty) 0.0
    else {
      val slow = byKind.map(median).toSeq.sorted.takeRight(
        math.max(byKind.size / 3, 1))
      slow.sum / slow.size
    }
}

/** Host and JVM counters: hypervisor steal from /proc/stat, GC time, and
  * the peak heap left in use after a full collection. */
object Host {
  /** Cumulative steal ticks (USER_HZ) and uptime seconds; (-1, -1) when
    * /proc is unreadable. */
  def stealUptime(): (Long, Double) = try {
    val cpu = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      finally src.close()
    }
    val up = {
      val src = scala.io.Source.fromFile("/proc/uptime")
      try src.mkString.trim.split("\\s+")(0).toDouble
      finally src.close()
    }
    (cpu(8).toLong, up)
  } catch { case _: Throwable => (-1L, -1.0) }

  /** Steal ticks per second between two samples, and the verdict the
    * repository's Bench uses: quiet below 2, storm from 15. */
  def stealRate(a: (Long, Double), b: (Long, Double)): (Double, String) =
    if (a._1 < 0 || b._1 < 0) (0.0, "unknown")
    else {
      val r = (b._1 - a._1) / math.max(b._2 - a._2, 1e-3)
      (r, if (r < 2.0) "quiet" else if (r < 15.0) "elevated" else "storm")
    }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private var peakLive = 0L
  private var explicitGcNs = 0L

  /** Collect the whole heap (System.gc() is a full, stop-the-world
    * collection unless the JVM runs with -XX:+ExplicitGCInvokesConcurrent,
    * which the benchmark's JVM does not) and keep the largest heap use
    * left after one. The workloads call this once, at the end of the
    * measured window while their working set is still live. A full
    * collection just before phase A of tick_ingest was followed by slower
    * micro-batches: the first half of phase A had a median latency of
    * 745 ms with it and 589 ms without it (medians of six runs). */
  def sampleLiveHeap(): Unit = synchronized {
    val t0 = System.nanoTime()
    System.gc()
    explicitGcNs += System.nanoTime() - t0
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakLive) peakLive = used
  }

  /** Wall time spent in [[sampleLiveHeap]]'s collections, so GC figures
    * can leave them out. */
  def explicitGcMillis: Long = synchronized(explicitGcNs / 1000000L)

  def heapPeakMb: Double = synchronized(peakLive / 1048576.0)
}

package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering of Maps, Seqs, numbers, strings and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Machine and JVM readings taken at the edges of the timed window, so a
  * noisy run explains itself. Mirrors graft.Bench's /proc/stat and PSI
  * readers; every reading is -1 where the kernel does not provide it.
  */
final case class Readings(wallNs: Long, busyJiffies: Long, totalJiffies: Long,
                          iowaitJiffies: Long, stealJiffies: Long, selfJiffies: Long,
                          psiUs: Map[String, Long], gcCount: Long, gcMs: Long, jitMs: Long,
                          codegenCompilations: Long)

object Readings {
  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case _: Exception => None }

  def take(): Readings = {
    // cpu user nice system idle iowait irq softirq steal
    val cpu = read("/proc/stat").map(_.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong))
    val busy = cpu.fold(-1L)(c => Seq(0, 1, 2, 5, 6).map(c(_)).sum)
    val total = cpu.fold(-1L)(_.take(8).sum)
    val iowait = cpu.fold(-1L)(_(4))
    // time the hypervisor gave this machine's CPUs to other guests
    val steal = cpu.fold(-1L)(_(7))
    // comm (field 2) may hold spaces: parse after the closing paren
    val self = read("/proc/self/stat").fold(-1L) { s =>
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    }
    val psi = Seq("cpu", "io", "memory").map { r =>
      r -> read(s"/proc/pressure/$r").flatMap(s =>
        """some .*total=(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)).getOrElse(-1L)
    }.toMap
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
    Readings(System.nanoTime(), busy, total, iowait, steal, self, psi,
      gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum,
      jit.fold(-1L)(_.getTotalCompilationTime),
      // Janino compiles of generated code: a plan whose code misses the
      // codegen cache pays one per op
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** What happened between two readings, as fractions of the window. */
  def delta(a: Readings, b: Readings): Map[String, Any] = {
    val wallUs = (b.wallNs - a.wallNs) / 1000.0
    val dTotal = (b.totalJiffies - a.totalJiffies).toDouble
    def frac(x: Long) = if (dTotal > 0 && x >= 0) x / dTotal else -1.0
    Map(
      "window_s" -> wallUs / 1e6,
      "other_cpu_frac" -> frac((b.busyJiffies - a.busyJiffies) - (b.selfJiffies - a.selfJiffies)),
      "iowait_frac" -> frac(b.iowaitJiffies - a.iowaitJiffies),
      "steal_frac" -> frac(b.stealJiffies - a.stealJiffies),
      "psi_some_stall_frac" -> a.psiUs.keys.toSeq.sorted.map { r =>
        r -> (if (a.psiUs(r) < 0) -1.0 else (b.psiUs(r) - a.psiUs(r)) / wallUs)
      }.toMap,
      "gc_count" -> (b.gcCount - a.gcCount),
      "gc_ms" -> (b.gcMs - a.gcMs),
      "jit_compile_ms" -> (b.jitMs - a.jitMs))
  }

  /** The process's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(s => """VmHWM:\s+(\d+) kB""".r.findFirstMatchIn(s))
      .fold(-1.0)(_.group(1).toLong / 1024.0)
}

object Util {
  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

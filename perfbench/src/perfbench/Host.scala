package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Try

/** Process and host readings: CPU time, peak RSS, load and steal. */
object Host {

  /** Process CPU time less the JIT compiler's, in ns: in a process
    * this short the compiler is still busy during the measured phase,
    * and its share varies from run to run. */
  def cpuNanos: Long = {
    val process = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    process - ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L
  }

  private def read(path: String): Option[String] =
    Try(new String(Files.readAllBytes(Paths.get(path)))).toOption

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap in use right after a full collection, in MB: the live set.
    * Collected twice, so objects freed by cleaners the first collection
    * triggers (Spark's context cleaner) are gone too. */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadavg: Seq[Double] =
    read("/proc/loadavg").map(_.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Nil)

  /** (steal, total) jiffies summed over all CPUs, from /proc/stat. */
  def stealJiffies: (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  final case class Snapshot(load: Seq[Double], steal: (Long, Long))
  def snapshot(): Snapshot = Snapshot(loadavg, stealJiffies)

  /** Host-noise record between two snapshots. */
  def noise(before: Snapshot, after: Snapshot, cores: Int, clients: Int): Map[String, Any] = {
    val dSteal = after.steal._1 - before.steal._1
    val dTotal = after.steal._2 - before.steal._2
    Map(
      "loadavg_before" -> before.load, "loadavg_after" -> after.load,
      "steal_jiffies" -> dSteal,
      "steal_ratio" -> (if (dTotal > 0) dSteal.toDouble / dTotal else 0.0),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores_used" -> cores, "client_threads" -> clients)
  }
}

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product if p.productArity == 2 =>
      apply(Seq(p.productElement(0), p.productElement(1)))
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Small helpers shared by every workload: wall clock, order statistics,
  * filesystem, a JSON writer, and host probes. */
object Common {

  /** Progress line on stderr (the run's log). */
  def log(msg: String): Unit =
    System.err.println(s"${java.time.LocalTime.now()} [perfbench] $msg")

  def nowMs(): Double = System.nanoTime() / 1e6

  def timed[A](f: => A): (A, Double) = {
    val t0 = nowMs(); val a = f; (a, nowMs() - t0)
  }

  /** Linear-interpolated quantile (the same rule as Python's
    * `statistics.quantiles(method="inclusive")` and numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Runs `a` here and `b` on a second thread at once (input generation:
    * each part mostly waits on file commits); rethrows either's failure. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val f = java.util.concurrent.CompletableFuture.supplyAsync(() => b)
    val x = a
    (x, f.join())
  }

  def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }

  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(rmTree)
    Files.deleteIfExists(p); ()
  }

  def freshDir(p: String): String = {
    rmTree(Paths.get(p)); Files.createDirectories(Paths.get(p)); p
  }

  // --- JSON (numbers, strings, booleans, nested maps and sequences) ------
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => quote(o.toString)
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

  // --- host state ----------------------------------------------------------
  /** (steal, total) jiffies summed over all CPUs, from the first line of
    * /proc/stat; None where the file does not exist. */
  def cpuJiffies(): Option[(Long, Long)] = {
    val p = Paths.get("/proc/stat")
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.headOption.map { line =>
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  /** Share of CPU time the hypervisor stole between two readings. */
  def stealFrac(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }

  /** Single-core spin probe: ms for a fixed integer loop. A reading well
    * above the host's usual value marks a run that shared its CPU. */
  def spinMs(): Double = {
    var x = 1L
    val t0 = nowMs()
    var i = 0L
    while (i < 300000000L) { x = x * 25214903917L + 11L; i += 1 }
    val ms = nowMs() - t0
    if (x == 42L) System.err.println("improbable")
    ms
  }

  /** Peak resident set of this JVM (driver and executors share it in local
    * mode), MB. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}

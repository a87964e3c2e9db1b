package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Minimal JSON writer: Maps (insertion-ordered when given a
  * LinkedHashMap or a Seq of pairs via `obj`), Seqs, numbers, strings. */
object Json {
  def obj(kv: (String, Any)*): collection.mutable.Map[String, Any] =
    collection.mutable.LinkedHashMap(kv: _*)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), apply(v).getBytes(StandardCharsets.UTF_8))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** Time `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Host facts every result carries: load, cgroup throttling, cores,
  * heap and the JVM's memory high-water marks. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
    catch { case _: Throwable => None }

  /** Peak resident set size of this process (VmHWM), MB. */
  def peakRssMb: Double =
    read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024))
      .getOrElse(Double.NaN)

  /** Heap still in use after a full collection, MB: what the engine
    * keeps alive (persisted data, caches, plans) at the end of a run. */
  def retainedHeapMb: Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def env: collection.Map[String, Any] = {
    val load = read("/proc/loadavg").map(_.trim.split(" ").take(3).map(_.toDouble))
      .getOrElse(Array(-1.0, -1.0, -1.0))
    val cg = Seq("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat",
        "/sys/fs/cgroup/cpu,cpuacct/cpu.stat")
      .flatMap(read).headOption.map(_.linesIterator.map(_.split(" "))
        .collect { case Array(k, v) => k -> v }.toMap)
      .getOrElse(Map.empty[String, String])
    val cpuModel = read("/proc/cpuinfo").flatMap(_.linesIterator
      .find(_.startsWith("model name")).map(_.split(":").last.trim))
      .getOrElse("unknown")
    Json.obj(
      "loadavg_1m" -> load(0), "loadavg_5m" -> load(1),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "cgroup_nr_throttled" -> cg.getOrElse("nr_throttled", "-1").toLong,
      "cgroup_throttled_usec" -> cg.getOrElse("throttled_usec",
        cg.getOrElse("throttled_time", "-1")).toLong,
      "cpu_model" -> cpuModel)
  }
}

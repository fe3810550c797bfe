package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Percentiles and medians over measured samples. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = r.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Jvm {
  /** CPU time (user + system) this JVM has used, all threads. */
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler threads, from /proc/self/task (Linux;
    * clock ticks of 1/100 s). The JVM is started with
    * -XX:-UseDynamicNumberOfCompilerThreads, so no compiler thread
    * exits and takes its time with it. */
  def jitCpuSeconds(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val s = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (!name.contains("CompilerThre")) 0.0
        else {
          val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: java.io.IOException => 0.0 } // thread ended meanwhile
    }.sum
  }

  /** CPU time of the program: every thread but the JIT compilers, whose
    * work depends on timing (what has been profiled and queued when)
    * and was, after a warm pass, about half of each JVM's CPU. */
  def cpuSeconds(): Double = processCpuSeconds() - jitCpuSeconds()

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after full collections, with pauses between
    * them so reference-driven cleanup (Spark's ContextCleaner) can
    * release what the first collection made unreachable. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** A flat JSON object writer: numbers, integers, string lists and one
  * level of named numbers. */
final class Json {
  private val fields = scala.collection.mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(k: String, v: Double): Unit = fields += s"${q(k)}: ${n(v)}"
  def str(k: String, v: String): Unit = fields += s"${q(k)}: ${q(v)}"
  def int(k: String, v: Long): Unit = fields += s"${q(k)}: $v"
  def strs(k: String, vs: Seq[String]): Unit = fields += s"${q(k)}: ${vs.map(q).mkString("[", ", ", "]")}"
  def obj(k: String, kv: Seq[(String, Double)]): Unit =
    fields += s"${q(k)}: ${kv.map { case (a, b) => s"${q(a)}: ${n(b)}" }.mkString("{", ", ", "}")}"
  def render(): String = fields.mkString("{", ", ", "}\n")
}

package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. `group` names the
  * end-to-end latency metric the operation feeds, such as `point_read`
  * or `commit`. */
final case class OpSample(kind: String, group: String, ms: Double, ok: Boolean,
                          traced: Boolean)

/** What a workload sees of the benchmark: the Spark session, the seed,
  * the operation timer, the tracer, and the correctness record. */
final class Harness(val spark: SparkSession, val seed: Long, val dir: String) {
  val tracer = new Tracer(spark.sparkContext)
  val samples = mutable.ArrayBuffer.empty[OpSample]
  /** Messages of failed operations and failed correctness checks. */
  val opErrors = mutable.ArrayBuffer.empty[String]
  val checkErrors = mutable.ArrayBuffer.empty[String]
  /** Open defects a workload probes outside its timed loop, by name:
    * whether each still reproduces. They fail no check. */
  val defects = mutable.LinkedHashMap.empty[String, String]
  /** Numerator and denominator sums of ratio metrics that are counted
    * outside the timed spans, by metric name. */
  val ratios = mutable.LinkedHashMap.empty[String, (Double, Double)]
  /** Extra samples of per-layer timing or count metrics, by name. */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Operations are recorded only in the timed loop. */
  var recording = false
  /** Largest heap in use at the end of a recorded operation, bytes. */
  var heapUsedPeak = 0L
  /** Time spent in [[untimed]] work so far, nanoseconds. */
  var untimedNs = 0L

  /** Runs one operation of the closed loop and times it. A failure is
    * recorded and counted, never retried; the result is then `None`. */
  def op[T](kind: String, group: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.op(kind)(body))
      catch {
        case NonFatal(e) =>
          opErrors += s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[graftbench] operation $kind failed: $e")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (recording) {
      samples += OpSample(kind, group, ms, res.isDefined, tracer.enabled)
      val rt = Runtime.getRuntime
      heapUsedPeak = heapUsedPeak max (rt.totalMemory - rt.freeMemory)
    }
    res
  }

  /** Runs benchmark-only work between operations: oracle bookkeeping,
    * or a count that needs an extra public call. The loop leaves its time
    * out of the round's seconds, so it counts in no throughput. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** One public call into a graft layer. */
  def span[T](layer: String, label: String)(body: => T): T = tracer.span(layer, label)(body)

  /** Sets a count on the innermost open span (a no-op untraced). */
  def attr(key: String, v: Double): Unit = tracer.current.foreach(_.attrs(key) = v)

  /** Adds to a ratio metric; only the traced run records them. */
  def ratio(name: String, num: Double, den: Double): Unit =
    if (tracer.enabled && recording) {
      val (n, d) = ratios.getOrElse(name, (0.0, 0.0))
      ratios(name) = (n + num, d + den)
    }

  def sample(name: String, v: Double): Unit =
    if (tracer.enabled && recording) series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Runs one step of set-up and logs its time to standard error. */
  def step[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[graftbench] $what%s took ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Records a correctness check; a failed check fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      checkErrors += what.take(500)
      System.err.println(s"[graftbench] check failed: $what")
    }
}

/** A closed-loop workload: set-up builds a fixture, then the loop runs
  * `round` until the measured time is spent. Every round runs the same
  * sequence of operation kinds, so a run's mix of kinds does not depend
  * on the seed; the seed only picks keys, days and data. */
trait Workload {
  /** Generates the inputs and builds the fixture under `h.dir`,
    * replacing any earlier one. */
  def setup(h: Harness): Unit
  /** Checks the last fixture against an oracle, once, after set-up. */
  def checkFixture(h: Harness): Unit = ()
  /** Unrecorded rounds before the timed loop, numbered -1, -2, ... */
  def warmupRounds: Int = 0
  def round(h: Harness, i: Int): Unit
  /** Final oracle checks, after the timed loop. */
  def finish(h: Harness): Unit
  /** Bytes under the workload's collection root and its live rows. */
  def storage(h: Harness): (Long, Long)
  /** Workload-specific end-to-end metrics of the traced or untraced
    * rounds, which took `seconds`: (name, value, unit, samples). */
  def extraMetrics(traced: Boolean, seconds: Double): Seq[(String, Double, String, Int)]
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** A finite number as JSON; NaN and infinities, which JSON cannot
    * hold, become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Host facts for the run record. */
object Host {
  def loadavg1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** The machine's CPU time so far, in clock ticks: (all, stolen by the
    * hypervisor), from the `cpu` line of `/proc/stat`. */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.take(8).sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Share of CPU time stolen by the hypervisor since `from`, percent. */
  def stealPct(from: (Long, Long)): Double = {
    val (all, steal) = cpuTicks
    if (all > from._1) 100.0 * (steal - from._2) / (all - from._1) else -1.0
  }

  /** Peak resident set of this process, MiB (`VmHWM`). */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  def duBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }

  /** Relative paths of the parquet data files under `root`. */
  def dataFiles(root: String): Set[String] = {
    val p = java.nio.file.Paths.get(root)
    val st = java.nio.file.Files.walk(p)
    try {
      val it = st.iterator()
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.toString.endsWith(".parquet")) out += p.relativize(f).toString
      }
      out.result()
    } finally st.close()
  }
}

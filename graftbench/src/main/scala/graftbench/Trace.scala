package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: an operation's root (`parent == -1`) or one public call into
  * a graft layer made by that operation. Times are `System.nanoTime`. */
final class Span(val id: Int, val op: Int, val parent: Int, val layer: String,
                 val label: String, val startNs: Long) {
  var endNs: Long = startNs
  /** Counts the benchmark knows about the call, such as the rows it
    * returned or wrote, keyed by name. */
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span or one operation. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Wall-clock intervals of the jobs, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Time covered by at least one job; overlapping jobs count once. */
  def jobMs: Double = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = lo; curHi = hi
      } else if (hi > curHi) curHi = hi
    }
    if (curHi > curLo) total += curHi - curLo
    total.toDouble
  }
}

/** Attributes Spark jobs, stages and task counters to the operation and
  * the span that submitted them, through the local properties the
  * [[Tracer]] sets on the client thread. Spark copies local properties
  * into the threads it starts for broadcasts, subqueries and streaming
  * queries, so their work is attributed too. */
final class WorkListener extends SparkListener {
  val byOp = mutable.HashMap.empty[Int, SparkWork]
  val bySpan = mutable.HashMap.empty[Int, SparkWork]
  private val jobOwner = mutable.HashMap.empty[Int, (Option[Int], Option[Int], Long)]
  private val stageOwner = mutable.HashMap.empty[Int, (Option[Int], Option[Int])]

  private def owner(p: java.util.Properties): (Option[Int], Option[Int]) =
    if (p == null) (None, None)
    else (Option(p.getProperty(Tracer.OpKey)).map(_.toInt),
          Option(p.getProperty(Tracer.SpanKey)).map(_.toInt))

  private def works(o: (Option[Int], Option[Int])): Seq[SparkWork] =
    o._1.map(byOp.getOrElseUpdate(_, new SparkWork)).toSeq ++
      o._2.map(bySpan.getOrElseUpdate(_, new SparkWork)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, span) = owner(e.properties)
    jobOwner(e.jobId) = (op, span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, span, start) =>
      works((op, span)).foreach { w =>
        w.jobs += 1
        w.jobIntervals += ((start, e.time))
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner(e.stageInfo.stageId) = owner(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.remove(info.stageId).foreach { o =>
      val m = info.taskMetrics
      works(o).foreach { w =>
        w.stages += 1
        w.tasks += info.numTasks
        if (m != null) {
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
          w.outputBytes += m.outputMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

/** Span recorder for the traced run. Disabled, every method only runs
  * its body: the untraced run pays for no span and no listener. Spans
  * stay in memory until the run writes them out at its end. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new WorkListener
  private var on = false
  private var nextId = 0
  private var stack: List[Span] = Nil

  def enabled: Boolean = on

  def enable(flag: Boolean): Unit = {
    if (flag && !on) sc.addSparkListener(listener)
    if (!flag && on) {
      org.apache.spark.BenchListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    on = flag
  }

  /** The innermost open span, if tracing is on. */
  def current: Option[Span] = stack.headOption

  /** Runs `body` as the root span of one operation. */
  def op[T](kind: String)(body: => T): T = enter("op", kind)(body)

  /** Runs `body` as one public call into `layer`, a child of the open
    * span. */
  def span[T](layer: String, label: String)(body: => T): T = enter(layer, label)(body)

  private def enter[T](layer: String, label: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(nextId, parent.map(_.op).getOrElse(nextId),
        parent.map(_.id).getOrElse(-1), layer, label, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      if (parent.isEmpty) sc.setLocalProperty(Tracer.OpKey, s.op.toString)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
        if (stack.isEmpty) sc.setLocalProperty(Tracer.OpKey, null)
      }
    }

  /** Writes every span as one JSON line, with the Spark work attributed
    * to it. */
  def write(path: java.nio.file.Path): Unit = {
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try spans.foreach { s =>
      val w = listener.bySpan.get(s.id)
      val fields = Seq(
        "id" -> s.id.toString, "op" -> s.op.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "label" -> Json.str(s.label),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
        s.attrs.map { case (k, v) => k -> Json.num(v) } ++
        w.toSeq.flatMap(w => Seq("jobs" -> w.jobs.toString, "job_ms" -> Json.num(w.jobMs),
          "tasks" -> w.tasks.toString, "input_bytes" -> w.inputBytes.toString))
      out.println(Json.obj(fields))
    } finally out.close()
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"
}

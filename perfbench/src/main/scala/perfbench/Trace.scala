package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Cumulative Spark engine counters, fed by [[EngineListener]]. */
final case class Counters(
    scanBytes: Long = 0, taskRunMs: Long = 0, taskCpuNs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, outBytes: Long = 0, jobs: Long = 0, stages: Long = 0) {
  def -(o: Counters): Counters = Counters(
    scanBytes - o.scanBytes, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, outBytes - o.outBytes, jobs - o.jobs, stages - o.stages)
}

/** Public-API observer of the engine: task metrics, job and stage
  * counts, and stage spans (for the driver gap = wall minus the
  * union of stage spans). */
final class EngineListener extends SparkListener {
  private var c = Counters()
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Nanoseconds spent in this listener's callbacks. */
  @volatile var busyNs = 0L

  def snapshot: Counters = synchronized(c)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c.copy(
        scanBytes = c.scanBytes + m.inputMetrics.bytesRead,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        outBytes = c.outBytes + m.outputMetrics.bytesWritten)
    }
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    synchronized {
      c = c.copy(stages = c.stages + 1)
      for (s <- i.submissionTime; t <- i.completionTime) stageSpans += ((s, t))
    }
  }

  /** Milliseconds of [t0, t1] covered by no stage. */
  def driverGapMs(t0: Long, t1: Long): Long = {
    val spans = synchronized(stageSpans.toList)
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0) - covered
  }

  def forget(): Unit = synchronized(stageSpans.clear())
}

/** One recorded span around a public graft call. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    run: String, startNs: Long, endNs: Long, eng: Counters)

/** In-memory span recorder. Off by default: [[Trace.span]] is then a
  * plain call. Spans nest per thread; self time = duration minus the
  * duration of direct children. */
object Trace {
  @volatile var on = false
  @volatile var listener: Option[EngineListener] = None
  var run = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0
  /** Nanoseconds spent in the recorder itself. */
  var bookkeepingNs = 0L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val c0 = listener.map(_.snapshot).getOrElse(Counters())
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = listener.map(_.snapshot).getOrElse(Counters())
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, layer, parent, run, t0, t1, c1 - c0) }
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  /** Record an externally timed span (streaming progress phases). */
  def record(layer: String, name: String, parent: Int, t0Ns: Long, t1Ns: Long): Int =
    synchronized {
      nextId += 1
      spans += Span(nextId, name, layer, parent, run, t0Ns, t1Ns, Counters())
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self nanoseconds per layer over the spans of one run id. */
  def selfByLayer(runId: String): Map[String, Long] = {
    val ss = all.filter(_.run == runId)
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(s => s.endNs - s.startNs).sum
    }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum
    }
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      s""""parent":${s.parent},"run":${Json.str(s.run)},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"task_run_ms":${s.eng.taskRunMs},""" +
      s""""shuffle_write_bytes":${s.eng.shuffleWrite},"jobs":${s.eng.jobs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

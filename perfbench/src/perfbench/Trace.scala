package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 for a root); times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
  def wallNs: Long = endNs - startNs
}

/** Spark work attributed to one span: every job submitted while the span is
  * the innermost open one, with its completed stages and finished tasks. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

object Trace {
  /** Spark local property carrying the innermost open span id; jobs inherit
    * it from the submitting thread, which is how the listener attributes
    * them. */
  val SpanKey = "perfbench.span"
  private[perfbench] val MarkerId = -2

  /** Self time of a span: its wall time minus the part of its interval
    * covered by the union of its children's intervals (clipped to it). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.wallNs - covered
  }
}

/** Records spans around calls into the engine's layers and, through a
  * [[SparkListener]], the Spark work each span issued. Spans stay in memory
  * until [[finish]]. With `enabled = false` a span is a plain call. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  // listener-side state, guarded by `lock`
  private val lock = new Object
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val counters = mutable.HashMap[Int, Counters]()
  private var markerJob = -1
  private var markerSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      id.foreach { s =>
        lock.synchronized {
          if (s == MarkerId) markerJob = e.jobId
          else counters.getOrElseUpdate(s, new Counters).jobs += 1
          e.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpan.get(e.stageInfo.stageId).filter(_ != MarkerId)
        .foreach { s => val c = counters.getOrElseUpdate(s, new Counters); c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).filter(_ != MarkerId).foreach { s =>
        val c = counters.getOrElseUpdate(s, new Counters)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobId == markerJob) { markerSeen = true; lock.notifyAll() }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span named `name` (when tracing; a plain call when
    * not). Jobs `f` submits are attributed to this span unless a nested
    * span is open. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Wait until the listener has seen every event posted so far: a marker
    * job is the last event in the bus queue, so once its end arrives all
    * earlier jobs' stages and tasks have been counted. */
  private def drain(): Unit = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, MarkerId.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, prev)
    val deadline = System.currentTimeMillis() + 30000L
    lock.synchronized {
      while (!markerSeen && System.currentTimeMillis() < deadline) lock.wait(100L)
    }
    require(markerSeen, "listener bus did not drain within 30 s")
  }

  /** Stop recording and return the spans with their self times and their
    * inclusive counters (the span's own work plus its descendants'). */
  def finish(): Seq[SpanRecord] = {
    if (!enabled) return Nil
    drain()
    sc.removeSparkListener(listener)
    val children = spans.groupBy(_.parent)
    val cores = sc.defaultParallelism
    def inclusive(s: Span): Counters = {
      val c = new Counters
      lock.synchronized(counters.get(s.id)).foreach(c.add)
      children.getOrElse(s.id, Nil).foreach(ch => c.add(inclusive(ch)))
      c
    }
    spans.toSeq.filter(_.endNs >= 0).map { s =>
      SpanRecord(s, Trace.selfNs(s, children.getOrElse(s.id, Nil).toSeq), inclusive(s), cores)
    }
  }
}

/** A finished span as reported: `core_busy_frac` is task run time over
  * wall time × cores. */
final case class SpanRecord(span: Span, selfNs: Long, c: Counters, cores: Int) {
  /** Values in the order of [[SpanRecord.StatUnits]]. */
  def stats: Seq[(String, Double)] = {
    val wall = span.wallNs / 1e9
    Seq(
      "wall_s" -> wall,
      "self_s" -> selfNs / 1e9,
      "jobs" -> c.jobs.toDouble,
      "stages" -> c.stages.toDouble,
      "tasks" -> c.tasks.toDouble,
      "task_cpu_s" -> c.taskCpuNs / 1e9,
      "core_busy_frac" -> (if (wall > 0) c.taskRunMs / 1e3 / (wall * cores) else 0.0),
      "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "spill_mb" -> c.spillBytes / 1e6,
      "gc_s" -> c.gcMs / 1e3)
  }

  def json: String = Json.obj(Seq("id" -> span.id.toString, "name" -> Json.str(span.name),
    "parent" -> span.parent.toString, "start_ns" -> span.startNs.toString) ++
    stats.map { case (k, v) => k -> Json.num(v) })
}

object SpanRecord {
  /** Each span stat's name and unit. */
  val StatUnits: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_cpu_s" -> "s",
    "core_busy_frac" -> "frac", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s")
}

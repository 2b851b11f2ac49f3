package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One closed span: `layer.op` from `start` to `end` (ns), caused by
  * `parent` (0 = none), belonging to benchmark operation `opId`. */
final case class Span(id: Int, layer: String, op: String, start: Long, end: Long,
    parent: Int, opId: Int) {
  def name: String = s"$layer.$op"
  def ms: Double = (end - start) / 1e6
}

/** Spark counters attributed to one span (jobs launched while it was
  * the innermost open span). */
final class Counters {
  var jobs = 0
  var stages = 0
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private[graftbench] val jobStart = mutable.HashMap.empty[Int, Long]
}

/** In-memory span recorder plus a listener that attributes Spark
  * counters to spans. Jobs carry the innermost span id as a local
  * property, so attribution survives the listener bus's asynchrony.
  * Until [[start]] every call is a pass-through: the untraced run
  * neither records spans nor registers the listener. After it, spans
  * record inside [[recording]]`(true)` only, so a traced run can
  * alternate traced and untraced operations. */
final class Tracer(sc: SparkContext) {
  @volatile private var on = false
  private var started = false
  def enabled: Boolean = on
  private val Prop = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Long)] = Nil
  private var nextId = 1
  private var curOp = 0
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  @volatile private var jobsStarted = 0
  @volatile private var jobsEnded = 0
  /** Time spent in tracing itself: span bookkeeping on the client
    * thread plus listener handlers on the listener bus. */
  private val bookkeepingNs = new java.util.concurrent.atomic.AtomicLong
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body; bookkeepingNs.addAndGet(System.nanoTime() - t0)
  }
  def overheadNs: Long = bookkeepingNs.get
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized { timed {
      jobsStarted += 1
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = sid
      e.stageIds.foreach(stageSpan(_) = sid)
      val c = counters.getOrElseUpdate(sid, new Counters)
      c.jobs += 1
      c.jobStart(e.jobId) = e.time
    }}
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized { timed {
      jobsEnded += 1
      jobSpan.get(e.jobId).foreach { sid =>
        val c = counters(sid)
        c.jobStart.remove(e.jobId).foreach(s => c.jobIntervals += ((s, e.time)))
      }
    }}
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized { timed {
      stageSpan.get(e.stageInfo.stageId).foreach(sid => counters(sid).stages += 1)
    }}
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized { timed {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { sid =>
        val c = counters(sid)
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }}
  }
  /** Registers the listener for the rest of the run. */
  def start(): Unit = { sc.addSparkListener(listener); started = true }

  /** Runs `body` with span recording on or off (always off before [[start]]). */
  def recording[T](record: Boolean)(body: => T): T = {
    val prev = on
    on = started && record
    try body finally on = prev
  }

  /** Starts a new benchmark operation: spans opened until the next call
    * share its id. */
  def newOp(): Unit = curOp += 1

  def span[T](layer: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      sc.setLocalProperty(Prop, id.toString)
      val start = System.nanoTime()
      stack = (id, layer, op, start) :: stack
      bookkeepingNs.addAndGet(start - b0)
      try body
      finally {
        val end = System.nanoTime()
        val (_, l, o, s) = stack.head
        stack = stack.tail
        spans += Span(id, l, o, s, end, parent, curOp)
        sc.setLocalProperty(Prop, stack.headOption.map(_._1.toString).orNull)
        bookkeepingNs.addAndGet(System.nanoTime() - end)
      }
    }

  /** Waits (bounded) until the listener has seen every started job end. */
  def drain(): Unit = if (started) {
    val deadline = System.nanoTime() + 10000000000L
    while ((jobsEnded < jobsStarted) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage/task events trail their job's end
  }

  def countersOf(spanId: Int): Counters = lock.synchronized(counters.getOrElse(spanId, new Counters))

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time per layer: each span's duration minus the part covered
    * by its child spans, summed by layer (seconds). */
  def selfTimeByLayer: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
        (s.end - s.start - Stats.unionLength(kids)) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = if (started) {
    val lines = spans.sortBy(_.start).map { s =>
      val c = countersOf(s.id)
      Json(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.opId, "jobs" -> c.jobs,
        "stages" -> c.stages, "task_ms" -> c.taskNs / 1e6, "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

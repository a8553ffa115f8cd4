package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval around a call the benchmark makes into a layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of a traced run, kept in memory and written out when the run
  * ends. While `on` is false the tracer runs the wrapped code and records
  * nothing; a traced run switches it per timed unit, so that traced and
  * untraced units alternate and the tracing overhead is measured. */
final class Tracer {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(0) // ids of the enclosing spans; 0 is the run
  private var nextId = 1
  // Progress events carry epoch-millisecond timestamps; this anchor maps
  // them onto the nanoTime axis the spans use.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def nsOfEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Id of the innermost open span (0 outside any). */
  def current: Int = open.head

  def span[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = open.head
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        synchronized { spans += Span(id, parent, name, layer, t0, t1) }
      }
    }

  /** Record an interval measured elsewhere (a micro-batch rebuilt from its
    * progress event), under `parent`. Returns the new span's id. */
  def add(name: String, layer: String, parent: Int, startNs: Long, endNs: Long): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, layer, startNs, endNs)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def byLayer(layer: String): Seq[Span] = all.filter(_.layer == layer)

  /** Self time: the span's duration minus the part of it its children
    * cover (children's intervals are merged first, so overlaps count once). */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_s" -> Json.num((s.startNs - anchorNs) / 1e9),
        "dur_s" -> Json.num(s.seconds), "self_s" -> Json.num(selfSeconds(s)))))
    } finally w.close()
  }
}

/** Every streaming progress event of the session, with the time it
  * arrived. Always registered: ingest latency is read from it. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  import ProgressLog.Event
  private val events = new ConcurrentLinkedQueue[Event]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    events.add(Event(System.nanoTime(), e.progress))

  def all: Seq[Event] = events.asScala.toList
  def forRun(runId: java.util.UUID): Seq[Event] = all.filter(_.p.runId == runId)
  def clear(): Unit = events.clear()
}

object ProgressLog {
  final case class Event(arrivalNs: Long, p: StreamingQueryProgress)

  /** Progress events that ran at least one row or committed a batch. */
  def batches(es: Seq[ProgressLog.Event]): Seq[ProgressLog.Event] =
    es.filter(e => e.p.durationMs.containsKey("addBatch"))

  def epochMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The phases StreamExecution times inside one trigger. */
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
                   "walCommit", "commitOffsets")
}

/** Executor work per label, summed from task-end events. A label is set
  * as a local property by the benchmark thread; threads it starts (a
  * streaming query's execution thread) inherit it, so a gate's streaming
  * jobs count against the query that started them. */
final class TaskCounters extends SparkListener {
  final class Agg {
    var cpuNs, gcMs, tasks, shuffleBytes, spillBytes = 0L
  }
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = Option(e.properties).flatMap(p => Option(p.getProperty(TaskCounters.Label)))
      .getOrElse("")
    e.stageIds.foreach(stageLabel.put(_, l))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.computeIfAbsent(stageLabel.getOrDefault(e.stageId, ""), _ => new Agg)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.tasks += 1
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def get(label: String): Agg = aggs.getOrDefault(label, new Agg)

  /** Everything counted so far, whatever its label. */
  def total: Agg = {
    val t = new Agg
    aggs.values.asScala.foreach { a =>
      t.cpuNs += a.cpuNs; t.gcMs += a.gcMs; t.tasks += a.tasks
      t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes
    }
    t
  }
}

object TaskCounters {
  val Label = "perfbench.label"
}

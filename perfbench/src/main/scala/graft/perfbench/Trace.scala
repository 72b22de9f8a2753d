package graft.perfbench

import java.util.UUID
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{CdcStateStore, CdcStreamConsumer}

/** Spark work counters summed over a set of jobs. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var planMs = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    planMs += o.planMs
  }
  def copy(): Work = { val w = new Work; w += this; w }
  def cpuS: Double = taskCpuNs / 1e9
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
}

object Work {
  def sum(ws: Iterable[Work]): Work = { val t = new Work; ws.foreach(t += _); t }
}

/** Attributes Spark work to the span or streaming micro-batch that
  * caused it. A job belongs to the span named by the [[SpanProperty]]
  * local property of the thread that submitted it, else to the
  * micro-batch (`q:<queryId>:<batchId>`) the streaming engine tagged
  * it with, else to `other`. With `byKey` off only the total is kept
  * (the untraced run). */
final class WorkListener(byKey: Boolean) extends SparkListener {
  val total = new Work
  private val keyed = mutable.HashMap.empty[String, Work]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val execKey = mutable.HashMap.empty[Long, String]
  private val execDesc = mutable.HashMap.empty[Long, String]
  /** (key, call site of the job's SQL execution) of every job, in start order. */
  val jobNames = mutable.ArrayBuffer.empty[(String, String)]

  private def keyOf(props: java.util.Properties): String =
    if (props == null) "other"
    else Option(props.getProperty(Spans.SpanProperty)).map("span:" + _)
      .orElse(Option(props.getProperty("sql.streaming.queryId")).map(q =>
        s"q:$q:${props.getProperty("streaming.sql.batchId")}"))
      .getOrElse("other")

  private def at(key: String): Work = keyed.getOrElseUpdate(key, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(e.properties)
    e.stageIds.foreach(stageKey(_) = key)
    total.jobs += 1
    if (byKey) {
      at(key).jobs += 1
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      exec.foreach(id => execKey.getOrElseUpdate(id, key))
      jobNames += key -> exec.flatMap(execDesc.get).getOrElse("")
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    if (byKey) stageKey.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val ws = if (byKey) Seq(total, at(stageKey.getOrElse(e.stageId, "other"))) else Seq(total)
      ws.foreach { w =>
        w.tasks += 1
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.peakExecBytes = math.max(w.peakExecBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Analysis + optimisation + planning time of each finished SQL
    * execution, from its query's phase tracker, charged to the key of
    * the execution's jobs. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart if byKey =>
      synchronized(execDesc(start.executionId) = start.description)
    case end: SparkListenerSQLExecutionEnd if byKey =>
      // `qe` is package-private in Spark; it is set on in-process events
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      if (qe != null) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        synchronized {
          execDesc.remove(end.executionId)
          execKey.remove(end.executionId).foreach(at(_).planMs += ms)
        }
      }
    case _ =>
  }

  def snapshot(): Work = synchronized(total.copy())
  def forKey(k: String): Work = synchronized(keyed.get(k).map(_.copy()).getOrElse(new Work))
  def keys: Seq[String] = synchronized(keyed.keys.toSeq)
  def jobsOf(k: String): Seq[String] = synchronized(jobNames.collect { case (`k`, n) => n }.toSeq)
}

object WorkListener {
  /** Block until the listener bus has delivered every posted event, so
    * counters read afterwards cover all work submitted so far. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Streaming progress, kept per query: every progress event with the
  * time it arrived, and the time each source offset was first covered
  * by a finished micro-batch (a MemoryStream's n-th `addData` is
  * offset n). */
final class ProgressListener extends StreamingQueryListener {
  private val events = mutable.HashMap.empty[UUID, mutable.ArrayBuffer[(Long, StreamingQueryProgress)]]
  private val covered = mutable.HashMap.empty[UUID, mutable.ArrayBuffer[Long]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized(notifyAll())

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    synchronized {
      events.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) += now -> p
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(_.trim.toLongOption).getOrElse(-1L)
      val cov = covered.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty)
      while (cov.size <= end) cov += now
      notifyAll()
    }
  }

  /** When offset `i` was covered by query `q`, waiting at most until
    * `deadlineNs`; None on timeout. */
  def awaitCovered(q: UUID, i: Int, deadlineNs: Long): Option[Long] = synchronized {
    def get = covered.get(q).flatMap(_.lift(i))
    while (get.isEmpty && System.nanoTime() < deadlineNs)
      wait(math.max(1L, math.min(50L, (deadlineNs - System.nanoTime()) / 1000000L)))
    get
  }

  def progress(q: UUID): Seq[(Long, StreamingQueryProgress)] =
    synchronized(events.get(q).map(_.toSeq).getOrElse(Nil))
}

/** One span: a call from the benchmark into a layer. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. [[apply]] runs a body as a span: the
  * span's id goes into the [[SpanProperty]] local property, so the
  * jobs the body submits are charged to it by [[WorkListener]].
  * Spans nest; a disabled recorder runs the body and records nothing. */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  private val next = new AtomicLong(1)
  private val current = new AtomicReference[Long](0L)
  private val done = mutable.ArrayBuffer.empty[Span]

  def apply[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = next.getAndIncrement()
      val parent = current.get
      val before = sc.getLocalProperty(Spans.SpanProperty)
      current.set(id)
      sc.setLocalProperty(Spans.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Spans.SpanProperty, before)
        current.set(parent)
        synchronized(done += Span(id, parent, name, t0, t1, attrs))
      }
    }

  /** Record a span measured elsewhere (a streaming micro-batch). */
  def add(name: String, startNs: Long, endNs: Long, attrs: Map[String, Any]): Unit =
    if (enabled) synchronized(done += Span(next.getAndIncrement(), 0L, name, startNs, endNs, attrs))

  def all: Seq[Span] = synchronized(done.toSeq)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of its interval that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.endNs - s.startNs - covered) / 1e9
  }
}

object Spans {
  val SpanProperty = "perfbench.span"
}

/** Delegating [[CdcStateStore]] that counts and times `put` calls. */
final class TimedStateStore(inner: CdcStateStore) extends CdcStateStore {
  val puts = new AtomicLong
  val putNs = new AtomicLong
  override def get(streamId: Long): Option[CdcStreamConsumer.StreamProgress] = inner.get(streamId)
  override def put(streamId: Long, p: CdcStreamConsumer.StreamProgress): Unit = {
    val t0 = System.nanoTime()
    try inner.put(streamId, p)
    finally { putNs.addAndGet(System.nanoTime() - t0); puts.incrementAndGet() }
  }
  override def all(): Map[Long, CdcStreamConsumer.StreamProgress] = inner.all()
  override def clear(): Unit = inner.clear()
}

/** Changes the partition consumer delivered, recorded on the executor
  * side (one JVM in local mode) for the output check. */
object DeliveredLog {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[CdcStreamConsumer.Delivered]()
  private val n = new java.util.concurrent.atomic.AtomicInteger
  def sink(it: Iterator[CdcStreamConsumer.Delivered]): Unit = it.foreach { d => q.add(d); n.incrementAndGet() }
  def size: Int = n.get
  def all: Seq[CdcStreamConsumer.Delivered] = q.asScala.toSeq
}

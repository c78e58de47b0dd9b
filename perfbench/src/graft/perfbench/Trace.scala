package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed interval. `parent` is the id of the span that caused it (-1 at
  * the root) and `trace` groups the spans of one query or micro-batch. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the timed bodies, so an
  * untraced run pays no bookkeeping. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** An epoch-millisecond instant on the span clock (System.nanoTime). */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def record(parent: Int, trace: String, name: String, startNs: Long,
      endNs: Long): Int = if (!enabled) -1 else synchronized {
    val id = spans.size
    spans += Span(id, parent, trace, name, startNs, endNs)
    id
  }

  /** Set the end of an open span to now. */
  def end(id: Int): Unit = if (enabled) synchronized {
    spans(id) = spans(id).copy(endNs = System.nanoTime())
  }

  /** Time `body`, which receives the span's id so it can parent children. */
  def span[T](parent: Int, trace: String, name: String)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = synchronized {
        val i = spans.size
        spans += Span(i, parent, trace, name, System.nanoTime(), 0L)
        i
      }
      try body(id)
      finally synchronized { spans(id) = spans(id).copy(endNs = System.nanoTime()) }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name, in seconds: each span's duration less the
    * time its children cover. */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val childTime = ss.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map(s => Report.mapper.writeValueAsString(ListMap(
      "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  val off = new Tracer(false)
}

/** Task-level counters from Spark's public listener interface. */
final class ExecCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var scanBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      scanBytes += m.inputMetrics.bytesRead
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Every micro-batch progress of the session's streaming queries. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = events.add(e.progress)
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(query: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(_.id == query).sortBy(_.batchId)

  def clear(): Unit = events.clear()
}

object StreamTrace {
  /** Micro-batch lifecycle phases in the order MicroBatchExecution runs
    * them. */
  val phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Spans of one micro-batch under `parent`, read from its progress: the
    * batch spans its trigger and each phase follows the one before. */
  def record(t: Tracer, parent: Int, p: StreamingQueryProgress): Unit =
    if (t.enabled) {
      val startNs = t.fromEpochMs(
        java.time.Instant.parse(p.timestamp).toEpochMilli)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trace = s"${p.name}#${p.batchId}"
      val batch = t.record(parent, trace, "batch", startNs,
        startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = startNs
      phases.foreach { ph =>
        d.get(ph).foreach { ms =>
          t.record(batch, trace, ph, at, at + ms * 1000000L)
          at += ms * 1000000L
        }
      }
    }
}

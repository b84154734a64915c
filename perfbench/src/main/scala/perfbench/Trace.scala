package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark work attributed to one span: counts from the scheduler's events. */
final class Work {
  var jobs, stages, tasks, leafTasks = 0L
  var taskMs, gcMs, shuffleBytes, spillBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    leafTasks += o.leafTasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "leaf_tasks" -> leafTasks, "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes)
}

/** One timed call into a layer. `parent` is -1 for a step's root span. */
final class Span(val id: Int, val name: String, val parent: Int,
    val run: String, val startNs: Long) {
  var endNs: Long = startNs
  val work = new Work
  def ms: Double = (endNs - startNs) / 1e6
}

/** Attributes every job to the span active on the thread that submitted
  * it, through a local property that streaming threads inherit too.
  */
final class WorkListener(spanOf: Int => Option[Span]) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val leafStages = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)
    id.flatMap(spanOf).foreach { s =>
      s.work.jobs += 1
      e.stageInfos.foreach { st =>
        stageSpan(st.stageId) = s
        if (st.parentIds.isEmpty) leafStages += st.stageId
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.work.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = s.work
      w.tasks += 1
      if (leafStages(e.stageId)) w.leafTasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Collects every streaming progress report. It is registered in traced
  * and untraced runs alike: tick latency is `durationMs("triggerExecution")`.
  */
final class TickListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress reports received so far and not yet taken. */
  def take(): Seq[StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var p = progress.poll()
    while (p != null) { out += p; p = progress.poll() }
    out.toSeq
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** In-memory spans around the benchmark's calls into each layer. Spans
  * are recorded only between `start` and `stop`; an untraced run has no
  * listener attached and no bookkeeping.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = mutable.Map.empty[Int, Span]
  private val listener = new WorkListener(id => byId.synchronized(byId.get(id)))
  private val t0 = System.nanoTime()
  var active = false

  def start(): Unit = { sc.addSparkListener(listener); active = true }

  /** Stop recording once every event of the traced steps has arrived. */
  def stop(): Unit = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    active = false
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        runId, System.nanoTime())
      byId.synchronized { byId(s.id) = s }
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          parent.map(_.id.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Spans with this name; their work is complete once a step has ended. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Work of the named spans and all of their descendants. */
  def workUnder(name: String): Work = {
    val w = new Work
    val roots = spans.filter(_.name == name).map(_.id).toSet
    def under(s: Span): Boolean =
      roots(s.id) || (s.parent >= 0 && under(spans(s.parent)))
    spans.filter(under).foreach(s => w.add(s.work))
    w
  }

  /** Total work of every span. */
  def totalWork: Work = { val w = new Work; spans.foreach(s => w.add(s.work)); w }

  /** Wall time of the root spans, the traced steps. */
  def rootMs: Double = spans.filter(_.parent < 0).map(_.ms).sum

  /** Self time per span name: each span's duration minus the time its
    * children cover. Children run on the same thread, one after another.
    */
  def selfMs: Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs(s.id)).sum
    }
  }

  def json: String = Json(spans.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "work" -> s.work.toMap)
  })
}

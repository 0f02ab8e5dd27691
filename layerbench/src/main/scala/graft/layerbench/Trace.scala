package graft.layerbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.layerbench.Stats.Span

/** Spans around the benchmark's own calls into each layer. Ops are
  * always timed (their wall time is the end-to-end latency); spans and
  * Spark job groups are recorded only when `enabled`, so an untraced
  * pass runs the same calls with nothing extra around them. Spans stay
  * in memory until the run writes them out.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }

  private def record(parent: Int, op: Int, layer: String, t0: Long, t1: Long,
      id: Int): Unit = spans.synchronized {
    spans += Span(id, parent, op, layer, t0, t1)
  }

  private def freshId(): Int = spans.synchronized { nextId += 1; nextId }

  /** Time one benchmark operation; returns (result, wall ms). When
    * traced, the op's Spark jobs carry job group [[Tracer.group]]. */
  def op[A](opId: Int, kind: String)(f: => A): (A, Double) = {
    val id = if (enabled) freshId() else 0
    if (enabled) {
      sc.setJobGroup(Tracer.group(opId), kind, interruptOnCancel = false)
      stack.set(List((id, opId)))
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      val t1 = System.nanoTime()
      if (enabled) {
        record(-1, opId, kind, t0, t1, id)
        stack.set(Nil)
        sc.clearJobGroup()
      }
    }
  }

  /** A child span inside the current op; a no-op wrapper when untraced
    * or outside an op. */
  def span[A](layer: String)(f: => A): A = stack.get() match {
    case (parent, opId) :: _ if enabled =>
      val id = freshId()
      stack.set((id, opId) :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        record(parent, opId, layer, t0, System.nanoTime(), id)
        stack.set(stack.get().tail)
      }
    case _ => f
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  def group(opId: Int): String = s"layerbench-op-$opId"
}

/** Per-job-group Spark counters from a SparkListener. Jobs are tied to
  * the op that ran them by the job group the [[Tracer]] sets (never by
  * time windows); micro-batch jobs of a streaming query carry the
  * query id and count under [[LayerListener.Stream]]. */
final class LayerListener extends SparkListener {
  import LayerListener._
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def c(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .map(_ => Stream)
      .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse(NoGroup)
    val k = c(g)
    k.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val k = c(stageGroup.getOrElse(e.stageInfo.stageId, NoGroup))
    k.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageGroup.getOrElse(e.stageId, NoGroup))
    k.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      k.busyMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.inputBytes += m.inputMetrics.bytesRead
      k.inputRows += m.inputMetrics.recordsRead
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def counters(g: String): Counters = synchronized(groups.get(g).map(_.copy()).getOrElse(new Counters))
}

object LayerListener {
  val Stream = "stream"
  val NoGroup = "none"

  final class Counters {
    var jobs, stages, tasks = 0L
    var busyMs, gcMs, inputBytes, inputRows = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    def copy(): Counters = { val o = new Counters; o += this; o }
    def +=(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      busyMs += o.busyMs; gcMs += o.gcMs
      inputBytes += o.inputBytes; inputRows += o.inputRows
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill
    }
  }
}

/** Micro-batch phase durations from StreamingQueryProgress. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    buf.synchronized { buf += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    buf.synchronized(buf.toList)
}

package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Profiling tool: attribute a declared query's wall time to the Spark
  * jobs and streaming micro-batches it runs. For each named query it
  * runs [[Warm]] warm runs (JIT, codegen, page cache), then one
  * measured run, and prints one JSON line:
  * `{"query","wall_s","rows","jobs":[{"id","start_s","dur_s","call_site"}],
  * "progress":[StreamingQueryProgress.json, …]}`.
  *
  * Usage: runMain graft.Probe <sfDir> <name1,name2,...>
  */
object Probe {
  private val Warm = 2

  /** One Spark job: start and end in epoch ms (listener clock). */
  final case class Job(id: Int, startMs: Long, endMs: Long, callSite: String,
      tags: Set[String])

  /** A measured run: its value, wall seconds and start (epoch ms), the
    * jobs that carry the run's tag, and the micro-batch progress JSON
    * of the streaming queries it ran. */
  final case class Capture[A](value: A, wallS: Double, startMs: Long,
      jobs: Seq[Job], progress: Seq[String])

  private final class Recorder extends StreamingQueryListener {
    val started = mutable.Map.empty[Int, Job]
    val ended = mutable.ArrayBuffer.empty[Job]
    val progress = mutable.ArrayBuffer.empty[String]
    val jobs: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val site = p.flatMap(q => Option(q.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val tags = p.flatMap(q => Option(q.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
        Recorder.this.synchronized {
          started(e.jobId) = Job(e.jobId, e.time, e.time, site, tags)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Recorder.this.synchronized {
          started.remove(e.jobId).foreach(j => ended += j.copy(endMs = e.time))
        }
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      synchronized { progress += e.progress.json }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Run `body` once and return what it ran. Its jobs are the ones
    * tagged `tag` (a job tag set on this thread around the run, which
    * the threads the run starts inherit), so no event of an earlier run
    * can be counted; the listener bus is drained before the listeners
    * attach and again before they are read. */
  def capture[A](spark: SparkSession, tag: String)(body: => A): Capture[A] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    ListenerBridge.drain(sc)
    sc.addSparkListener(rec.jobs)
    spark.streams.addListener(rec)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      sc.addJobTag(tag)
      val (value, wallS) =
        try (body, (System.nanoTime() - t0) / 1e9)
        finally sc.removeJobTag(tag)
      ListenerBridge.drain(sc)
      rec.synchronized {
        Capture(value, wallS, startMs,
          rec.ended.filter(_.tags(tag)).sortBy(j => (j.startMs, j.id)).toList,
          rec.progress.toList)
      }
    } finally { sc.removeSparkListener(rec.jobs); spark.streams.removeListener(rec) }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val queries = SparkEntry.queries
    val selected = names.split(",").toSeq
    val unknown = selected.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    selected.foreach { name =>
      val fn = queries(name)
      (1 to Warm).foreach(_ => fn(spark, sfDir).count())
      val c = capture(spark, s"graft-probe-$name")(fn(spark, sfDir).count())
      val jobs = c.jobs.map { j =>
        s"""{"id":${j.id},"start_s":${(j.startMs - c.startMs) / 1e3},""" +
          s""""dur_s":${(j.endMs - j.startMs) / 1e3},"call_site":${Bench.jstr(j.callSite)}}"""
      }
      println(s"""{"query":${Bench.jstr(name)},"wall_s":${c.wallS},"rows":${c.value},""" +
        s""""jobs":${jobs.mkString("[", ",", "]")},""" +
        s""""progress":${c.progress.mkString("[", ",", "]")}}""")
    }
    spark.stop()
  }
}

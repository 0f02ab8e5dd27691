package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.streaming.Trigger

/** `Probe.capture` must attribute exactly the measured run's jobs —
  * never a job an earlier run submitted whose listener event is still
  * queued — and must see a streaming run's progress without sleeping.
  */
class ProbeSpec extends SparkSpec {

  test("capture holds only the measured run's jobs, tagged with its tag") {
    // a slow listener keeps the warm runs' job events queued in the bus
    // (~1 s of backlog) while the measured run starts, as a busy bus does
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(150)
    }
    spark.sparkContext.addSparkListener(slow)
    val c =
      try {
        (1 to 5).foreach(_ => spark.range(0, 1000, 1, 4).count())
        Probe.capture(spark, "probe-spec-measured") {
          spark.range(0, 100, 1, 4).collect()
        }
      } finally spark.sparkContext.removeSparkListener(slow)
    assert(c.value.length == 100)
    assert(c.jobs.size == 1, s"measured run submits one job: ${c.jobs}")
    assert(c.jobs.head.tags.contains("probe-spec-measured"))
    assert(c.jobs.head.endMs >= c.jobs.head.startMs)
    assert(c.progress.isEmpty)
  }

  test("capture sees an AvailableNow query's jobs and progress with no sleep") {
    val tmp = Files.createTempDirectory("graft-probe-spec").toFile
    try {
      val dir = tmp.toString + "/src"
      spark.range(0, 20, 1, 2).write.parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val c = Probe.capture(spark, "probe-spec-stream") {
        spark.readStream.schema(schema).parquet(dir)
          .writeStream.format("memory").queryName("probe_spec_sink")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
        spark.table("probe_spec_sink").count()
      }
      assert(c.value == 20)
      assert(c.progress.nonEmpty, "one progress entry per micro-batch")
      assert(c.jobs.nonEmpty && c.jobs.forall(_.tags("probe-spec-stream")))
    } finally FileUtils.deleteDirectory(tmp)
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Measurement tool (optimization rounds): dump `.explain("formatted")`
  * for a set of declared queries to files, so plan-shape claims
  * (Exchange counts, join strategies, PushedFilters/ReadSchema) are
  * auditable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [name1,name2,...]
  * (no filter = every declared query). Building a mutate/streaming
  * query's frame executes its setup side effects — that is the cost of
  * getting the REAL final frame's plan, and it runs the same code the
  * bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    Files.createDirectories(outDir)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.view.filterKeys(f).toMap)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"$name.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"PLAN $name")
      } catch { case e: Throwable =>
        println(s"PLAN_FAIL $name ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(160))
      }
    }
    spark.stop()
  }
}

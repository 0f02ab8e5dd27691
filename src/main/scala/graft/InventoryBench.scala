package graft

import java.nio.file.{Files, Paths}

/** SHOW PARTITIONS + DESCRIBE manifest-cache micro-benchmark — the
  * measurement the scale artifacts cannot carry: the registered
  * `boost_show_partitions` / `boost_describe` rows ingest a FRESH
  * family every run (the oracle needs the write path), so their scale
  * ratios are ingest-dominated by construction and the caches' own
  * cost is invisible inside them. This main ingests the given events
  * corpus into a family store ONCE (reused across runs), then times
  * each verb three ways:
  *
  *   - `cold_sec`   — manifest deleted first: full parallel listing +
  *                    every partition's parquet footers (inventory) or
  *                    per-partition aggregation scans (describe);
  *   - `warm_sec`   — repeat call: listing + signature check only, all
  *                    rows served from the manifest;
  *   - `append_sec` — after appending one day's rows: listing + ONE
  *                    partition's re-read (the daily-ingest shape).
  *
  * Prints one JSON line; pass the output path as arg 2.
  */
object InventoryBench {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/tmp/graft_scale_rel100")
    val outJson = args.lift(1).getOrElse("BENCH_inventory.json")
    val root = sys.env.getOrElse("SPARK_GRAFT_INV_ROOT",
      "/tmp/graft_inventory_store")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val fam = graft.sources.TimeSeriesTable.fromEvents(
      graft.tables.Tables.events(spark, srcDir))
    if (!Files.exists(Paths.get(s"$root/dom/events"))) {
      System.err.println(s"[inv] ingesting $srcDir into $root (once)")
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
    }
    val manifest = new org.apache.hadoop.fs.Path(
      s"$root/dom/events/.graft_partitions_manifest")
    val descManifest = new org.apache.hadoop.fs.Path(
      s"$root/dom/events/.graft_describe_manifest")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def inv(): Long = {
      val t0 = System.nanoTime()
      val n = graft.sources.TimeSeriesTable
        .partitions(spark, root, "dom", "events").count()
      require(n > 0, "empty inventory")
      System.nanoTime() - t0
    }
    def desc0(): Long = {
      val t0 = System.nanoTime()
      val n = graft.sources.TimeSeriesTable
        .describeCached(spark, root, "dom", "events").count()
      require(n > 0, "empty describe")
      System.nanoTime() - t0
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val cold = median(Seq.fill(iters) {
      fs.delete(manifest, false); inv() / 1e9
    })
    val warm = median(Seq.fill(iters) { inv() / 1e9 })
    val descCold = median(Seq.fill(iters) {
      fs.delete(descManifest, false); desc0() / 1e9
    })
    val descWarm = median(Seq.fill(iters) { desc0() / 1e9 })
    // daily-ingest shape: one appended day moves ONE signature
    val day = fam.select(to_date(col("ts")).as("d")).groupBy("d").count()
      .orderBy(desc("count")).head.getDate(0)
    val appendT = median(Seq.fill(iters) {
      graft.sources.TimeSeriesTable.append(
        fam.filter(to_date(col("ts")) === lit(day)).limit(1000),
        root, "dom", "events")
      inv() / 1e9
    })
    val descAppendT = median(Seq.fill(iters) {
      graft.sources.TimeSeriesTable.append(
        fam.filter(to_date(col("ts")) === lit(day)).limit(1000),
        root, "dom", "events")
      desc0() / 1e9
    })
    val parts = graft.sources.TimeSeriesTable
      .partitions(spark, root, "dom", "events").count()
    val json =
      s"""{"tier":"inventory","src":"$srcDir","partitions":$parts,""" +
      s""""iters":$iters,""" +
      f""""cold_sec":$cold%.3f,"warm_sec":$warm%.3f,""" +
      f""""append_one_day_sec":$appendT%.3f,""" +
      f""""describe_cold_sec":$descCold%.3f,""" +
      f""""describe_warm_sec":$descWarm%.3f,""" +
      f""""describe_append_one_day_sec":$descAppendT%.3f}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
  }
}

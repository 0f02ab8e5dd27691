package graft.layerbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-PR benchmark entrypoint (see layerbench/README.md).
  *
  * {{{
  * Main --workload dash_read|ingest_mutate|stream_follow --seed N
  *      --seconds S --trace 0|1 --run-dir DIR [--trace-out FILE]
  * }}}
  *
  * Sets the workload's family up three times (setup_s is the median),
  * runs one untraced pass and, with --trace 1, a second pass with spans
  * and listeners on. Prints a report line, then the result line: the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * Every file it writes lives under DIR/data, which it deletes before
  * printing.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload.all.find(w => opt.get("workload").contains(w.name)).getOrElse(
      sys.error(s"--workload must be one of ${Workload.all.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val data = runDir.resolve("data")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext

    val tRun = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val hostStart = if (traced) hostCalibration(spark) else Map.empty[String, Double]

    // set-up: three fresh families, timed each; the last one (two when
    // traced) carries the passes
    val setups = (0 until Setups).map { i =>
      val root = data.resolve(s"set$i")
      val t0 = System.nanoTime()
      val fam = wl.setup(spark, root, seed)
      (root, fam, (System.nanoTime() - t0) / 1e9)
    }
    val setupS = setups.map(_._3)
    val used = setups.takeRight(if (traced) 2 else 1)
    setups.dropRight(used.length).foreach(s => deleteTree(s._1))

    val (pRoot, pFam, _) = used.head
    val setupPhaseS = since(tRun)
    val tPass = System.nanoTime()
    val plain = wl.pass(spark, pRoot, pFam, seed, seconds, new Tracer(false, sc))
    val passPhaseS = since(tPass)
    val plainStored = Reads.familyStats(plain.famDir)._3
    // heap still held once the untraced pass is done and garbage is gone:
    // the least of three full collections 200 ms apart. Spark's
    // ContextCleaner drops broadcast and shuffle blocks on its own thread
    // only after a collection has found them unreachable; a single
    // collection read ~16 MB high in about one run in five.
    val liveHeapMb = (1 to 3).map { _ =>
      System.gc()
      val used = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(200)
      used
    }.min

    val (layers, spans) = if (!traced) (Map.empty[String, Double], Nil) else {
      val listener = new LayerListener
      val progress = new ProgressListener
      sc.addSparkListener(listener)
      spark.streams.addListener(progress)
      val tracer = new Tracer(true, sc)
      val (tRoot, tFam, _) = used.last
      val tp = wl.pass(spark, tRoot, tFam, seed, seconds, tracer)
      org.apache.spark.layerbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
      spark.streams.removeListener(progress)
      val hostEnd = hostCalibration(spark).map { case (k, v) => k.replace("_start_", "_end_") -> v }
      (Layers.perLayer(tp, plain, tracer.all, listener, progress) ++ hostStart ++ hostEnd,
        tracer.all)
    }
    // spans stay in memory during the pass and are written out here
    opt.get("trace-out").filter(_ => traced).foreach(f => writeSpans(Paths.get(f), spans))

    val famHash = Gen.contentHash(Gen.rows(spark, wl.shape, seed, 0, wl.shape.days))
    spark.stop()

    // hygiene: everything the run wrote sits under data/; the library's
    // own scratch names (.fam__*) next to a family count as leaks
    val leaks = if (!Files.exists(data)) Nil else {
      val st = Files.walk(data, 3)
      try st.iterator().asScala.filter { p =>
        val rel = data.relativize(p)
        rel.getNameCount == 3 && rel.getName(1).toString == "dom" &&
          rel.getName(2).toString != "fam"
      }.map(p => data.relativize(p).toString).toList
      finally st.close()
    }
    deleteTree(data)
    val clean = !Files.exists(data)

    val rss = peakRssMb()
    val failures = plain.failures ++ leaks.map(l => s"leaked scratch path $l") ++
      (if (clean) Nil else Seq(s"could not delete $data"))
    val attempted = plain.attempted
    val e2e = Layers.endToEnd(wl, setupS, plain, plainStored, rss, liveHeapMb, failures.length)

    val report = Json.obj(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds,
      "shape" -> wl.shape.toString, "family_rows" -> wl.shape.rows,
      "family_hash" -> famHash,
      "setup_runs_s" -> setupS,
      "phase_s" -> Map("start_to_pass" -> setupPhaseS, "untraced_pass" -> passPhaseS,
        "total" -> since(tRun)),
      "metrics" -> e2e.report,
      "failures" -> failures.take(20),
      "leaked_paths" -> leaks.length,
      "run_dir_clean" -> clean)
    println("layerbench report " + report)
    val metrics = if (traced) Layers.perLayerUnits(layers) else e2e.gated
    println(Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.length,
      "metrics" -> Json.Raw(metrics.map { case (k, (v, u)) =>
        Json.str(k) + ": " + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ", ", "}"))))
  }

  /** The repo bench's CPU and I/O probes, as host context. */
  private def hostCalibration(spark: SparkSession): Map[String, Double] = Map(
    "host.cpu_cal_start_s" -> graft.Bench.calibrate(spark, 3),
    "host.io_cal_start_s" -> graft.Bench.calibrateIo(spark, 3))

  /** One JSON line per span; times in µs from the first span. */
  private def writeSpans(out: Path, spans: Seq[Stats.Span]): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.write(out, spans.sortBy(_.startNs).map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "start_us" -> (s.startNs - t0) / 1000, "dur_us" -> s.durNs / 1000)).asJava)
  }

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status)) Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
    else 0.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }
}

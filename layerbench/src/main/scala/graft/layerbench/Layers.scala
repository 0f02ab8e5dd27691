package graft.layerbench

import graft.layerbench.LayerListener.Counters
import graft.layerbench.Stats.Span

/** Turns a pass into metrics: the end-to-end set (untraced pass) and
  * the per-layer set (traced pass). */
object Layers {
  val ReadClasses = Gen.ReadClasses :+ "count_read"
  val Verbs = Seq("append", "delete", "update", "upsert", "merge", "expire", "compact")
  /** Every op class a workload times. */
  val OpClasses = ReadClasses ++ Verbs :+ "follow"

  /** Every per-layer metric with its unit, in print order. A workload
    * that never runs a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Seq("boostql.parse_ms", "boostql.compile_ms", "catalyst.analyze_ms",
      "catalyst.optimize_ms", "catalyst.plan_ms", "spark.exec_ms", "sources.open_ms")
      .map(_ -> "ms") ++
    Seq("spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.task_busy_ms" -> "ms",
      "spark.task_gc_ms" -> "ms", "spark.input_bytes" -> "B", "spark.input_rows" -> "count",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B",
      "sources.read_bytes_frac" -> "ratio", "sources.files_read_frac" -> "ratio",
      "sources.rows_read_per_row_returned" -> "ratio") ++
    ReadClasses.flatMap(c => Seq(s"boostql.compile_ms.$c" -> "ms", s"spark.exec_ms.$c" -> "ms",
      s"sources.read_bytes_frac.$c" -> "ratio", s"sources.files_read_frac.$c" -> "ratio",
      s"sources.rows_read_per_row_returned.$c" -> "ratio")) ++
    Verbs.map(v => s"sources.${v}_ms" -> "ms") ++
    Verbs.map(v => s"spark.jobs_per_op.$v" -> "count") ++
    Seq("sources.partitions_rewritten_per_op" -> "count",
      "sources.bytes_written_per_user_byte" -> "ratio",
      "sources.family_files" -> "count", "sources.files_per_partition" -> "count") ++
    Seq("start_ms", "trigger_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms",
      "add_batch_ms", "wal_commit_ms", "commit_offsets_ms").map(n => s"streaming.$n" -> "ms") ++
    Seq("streaming.rows_per_batch" -> "count", "streaming.batches" -> "count",
      "generator.lag_ms" -> "ms", "trace.unattributed_ms" -> "ms",
      "trace.overhead_frac" -> "ratio",
      "host.cpu_cal_start_s" -> "s", "host.cpu_cal_end_s" -> "s",
      "host.io_cal_start_s" -> "s", "host.io_cal_end_s" -> "s") ++
    OpClasses.map(c => s"op.p50_ms.$c" -> "ms")

  def perLayerUnits(m: Map[String, Double]): Seq[(String, (Double, String))] =
    PerLayer.map { case (n, u) => n -> (m.getOrElse(n, 0.0), u) }

  final case class EndToEnd(gated: Seq[(String, (Double, String))], report: Map[String, Any])

  private def ratio[A, B](a: A, b: B)(implicit na: Numeric[A], nb: Numeric[B]): Double =
    if (nb.toDouble(b) == 0) 0.0 else na.toDouble(a) / nb.toDouble(b)

  private def timing(name: String, xs: Seq[Double]): Seq[(String, Any)] =
    if (xs.isEmpty) Seq(s"${name}_p50_ms" -> None, s"${name}_hi_ms" -> None)
    else {
      val t = Stats.hi(xs)
      Seq(s"${name}_p50_ms" -> Map("value" -> Stats.median(xs), "unit" -> "ms", "n" -> xs.length),
        s"${name}_hi_ms" -> Map("value" -> t.value, "unit" -> "ms", "pct" -> t.pct, "n" -> t.n))
    }

  /** The twelve user-facing metrics by name (null where the workload
    * has no such op), and the gated subset every workload reports.
    * op_* reads the workload's own ops (Pass.latency): op_p50_ms is the
    * geometric mean of the per-class medians, so every class weighs the
    * same whatever its speed; op_mean_ms is the mean over all of them. */
  def endToEnd(wl: Workload, setupS: Seq[Double], p: Pass, storedBytes: Long, rssMb: Double,
      liveHeapMb: Double, failed: Int): EndToEnd = {
    val reads = p.ops.filter(_.kind == "read")
    val writes = p.ops.filter(w => w.kind == "write" || w.kind == "append")
    def perSec(n: Int, ms: Seq[Double]) = ratio(n, ms.sum / 1000.0)
    val storedPerRow = ratio(storedBytes, p.famRows)
    val report: Map[String, Any] = (Seq(
      "setup_s" -> Map("value" -> Stats.median(setupS), "unit" -> "s")) ++
      timing("read", reads.map(_.ms)) ++
      Seq("reads_per_s" -> (if (reads.isEmpty) None
        else Map("value" -> perSec(reads.length, reads.map(_.ms)), "unit" -> "1/s"))) ++
      timing("write", writes.map(_.ms)) ++
      Seq("ingest_rows_per_s" -> (if (writes.isEmpty) None
        else Map("value" -> ratio(writes.map(_.userRows).sum, writes.map(_.ms).sum / 1000.0),
          "unit" -> "1/s"))) ++
      timing("follow", if (wl eq StreamFollow) p.latency.map(_._2) else Nil) ++
      Seq("stored_bytes_per_row" -> Map("value" -> storedPerRow, "unit" -> "B/row"),
        "failed_frac" -> Map("value" -> ratio(failed, p.attempted), "unit" -> "ratio"),
        "peak_rss_mb" -> Map("value" -> rssMb, "unit" -> "MB"),
        "live_heap_mb" -> Map("value" -> liveHeapMb, "unit" -> "MB")) ++
      // median latency per read class and write verb, for reading the
      // end-to-end numbers; not gated
      p.ops.groupBy(_.cls).map { case (c, os) =>
        s"p50_ms.$c" -> Map("value" -> Stats.median(os.map(_.ms)), "unit" -> "ms",
          "n" -> os.length)
      }).toMap
    val lat = p.latency.map(_._2)
    val gated = Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "op_p50_ms" -> (if (lat.isEmpty) Double.NaN
        else Stats.geomean(Stats.classMedians(p.latency).values.toSeq), "ms"),
      "op_mean_ms" -> (if (lat.isEmpty) Double.NaN else Stats.mean(lat), "ms"),
      "stored_bytes_per_row" -> (storedPerRow, "B/row"),
      "live_heap_mb" -> (liveHeapMb, "MB"))
    EndToEnd(gated, report)
  }

  /** Per-layer metrics of the traced pass `p`; `plain` is the untraced
    * pass over the same op sequence, for the tracing overhead and the
    * per-class medians behind op_p50_ms. */
  def perLayer(p: Pass, plain: Pass, spans: Seq[Span], listener: LayerListener,
      progress: ProgressListener): Map[String, Double] = {
    val ops = p.ops
    val ids = ops.map(_.id).toSet
    val sp = spans.filter(s => ids(s.op))
    val reads = ops.filter(_.kind == "read")
    def selfMs(ss: Seq[Span], layer: String): Double =
      Stats.selfTimes(ss).getOrElse(layer, 0L) / 1e6
    def counters(os: Seq[OpRec]): Counters = {
      val c = new Counters
      os.foreach(o => c += listener.counters(Tracer.group(o.id)))
      c
    }
    val all = counters(ops)
    all += listener.counters(LayerListener.Stream)
    val n = math.max(1, ops.length).toDouble
    val m = collection.mutable.LinkedHashMap.empty[String, Double]

    def readSet(suffix: String, rs: Seq[OpRec]): Unit = if (rs.nonEmpty) {
      val rids = rs.map(_.id).toSet
      val rsp = sp.filter(s => rids(s.op))
      val c = counters(rs)
      val k = rs.length.toDouble
      m(s"boostql.compile_ms$suffix") = selfMs(rsp, "boostql.compile") / k
      m(s"spark.exec_ms$suffix") = selfMs(rsp, "spark.exec") / k
      m(s"sources.read_bytes_frac$suffix") = ratio(c.inputBytes, rs.map(_.famBytes).sum)
      m(s"sources.files_read_frac$suffix") = ratio(rs.map(_.scanFiles).sum, rs.map(_.famFiles).sum)
      m(s"sources.rows_read_per_row_returned$suffix") =
        ratio(c.inputRows, math.max(1L, rs.map(_.rowsOut).sum))
    }
    readSet("", reads)
    ReadClasses.foreach(c => readSet(s".$c", reads.filter(_.cls == c)))
    if (reads.nonEmpty) Seq("boostql.parse", "catalyst.analyze", "catalyst.optimize",
        "catalyst.plan", "sources.open").foreach { l =>
      m(l + "_ms") = selfMs(sp, l) / reads.length
    }

    m("spark.jobs_per_op") = all.jobs / n
    m("spark.stages_per_op") = all.stages / n
    m("spark.tasks_per_op") = all.tasks / n
    m("spark.task_busy_ms") = all.busyMs / n
    m("spark.task_gc_ms") = all.gcMs / n
    m("spark.input_bytes") = all.inputBytes / n
    m("spark.input_rows") = all.inputRows / n
    m("spark.shuffle_read_bytes") = all.shuffleRead / n
    m("spark.shuffle_write_bytes") = all.shuffleWrite / n
    m("spark.spill_bytes") = all.spill / n

    Verbs.foreach { v =>
      val vs = sp.filter(_.layer == s"sources.$v")
      if (vs.nonEmpty) m(s"sources.${v}_ms") = vs.map(_.durNs).sum / 1e6 / vs.length
      val vo = ops.filter(o => o.cls == v && o.kind != "read")
      if (vo.nonEmpty) m(s"spark.jobs_per_op.$v") = counters(vo).jobs.toDouble / vo.length
    }
    val writes = ops.filter(_.kind == "write")
    if (writes.nonEmpty) {
      m("sources.partitions_rewritten_per_op") = writes.map(_.parts).sum.toDouble / writes.length
      m("sources.bytes_written_per_user_byte") =
        ratio(writes.map(_.written).sum, writes.map(_.userBytes).sum)
    }
    val (files, _, _) = Reads.familyStats(p.famDir)
    m("sources.family_files") = files.toDouble
    m("sources.files_per_partition") = ratio(files, Reads.partitions(p.famDir))

    val batches = progress.progress.filter(_.numInputRows > 0)
    if (batches.nonEmpty) {
      def phase(k: String): Double =
        batches.map(b => Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum /
          batches.length
      m("streaming.trigger_ms") = phase("triggerExecution")
      m("streaming.latest_offset_ms") = phase("latestOffset")
      m("streaming.get_batch_ms") = phase("getBatch")
      m("streaming.query_planning_ms") = phase("queryPlanning")
      m("streaming.add_batch_ms") = phase("addBatch")
      m("streaming.wal_commit_ms") = phase("walCommit")
      m("streaming.commit_offsets_ms") = phase("commitOffsets")
      m("streaming.rows_per_batch") = batches.map(_.numInputRows).sum.toDouble / batches.length
      m("streaming.batches") = batches.length
      m("streaming.start_ms") = p.startMs
    }
    if (p.lagMs.nonEmpty) m("generator.lag_ms") = p.lagMs.sum / p.lagMs.length
    m("trace.unattributed_ms") = Stats.unattributedNs(sp) / 1e6 / n
    m("trace.overhead_frac") = ratio(p.latency.map(_._2).sum, plain.latency.map(_._2).sum) - 1.0
    Stats.classMedians(plain.ops.map(o => o.cls -> o.ms) ++
      plain.latency.filter(_._1 == "follow")).foreach { case (c, v) => m(s"op.p50_ms.$c") = v }
    m.toMap
  }
}

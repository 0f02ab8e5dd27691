package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Hot-series skew artifact: the per-series window tier (`boost_ts_*`,
  * `boost_asof_*`, `ts_*` — rate/delta/ewma/locf/interp/zscore/session
  * and the as-of union-window) partitions its windows by series key, so
  * those windows SERIALIZE per key: one series holding half the corpus
  * is the realistic 100 TB failure mode that uniform replica scaling
  * (BENCH_scale_boost30.json) never exercises.
  *
  * Method: three timed phases with the shared median-of-N harness —
  * base sf (1x), a UNIFORM 30x events corpus, and a SKEWED 30x corpus
  * of identical volume where the last 12 of 30 replicas map every row
  * to series 'click' (hot share ~52%). `skew_vs_uniform` is the
  * number to judge: same bytes, same queries, only the key
  * distribution differs — a query >2x there is hot-key-bound, and its
  * mitigation is the two-phase bucket-then-stitch decomposition
  * (compute windows per (series, time-bucket) partition, then stitch
  * bucket boundaries — documented at the operator tier).
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outJson = args.headOption.getOrElse("BENCH_scale_skew.json")
    val uniDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_skew_uni30")
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skew_hot30")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "30").toInt
    val hotReps = sys.env.getOrElse("SPARK_GRAFT_HOT_REPS", (reps * 2 / 5).toString).toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Seq((uniDir, 0), (skewDir, hotReps)).foreach { case (d, hr) =>
      if (!Files.exists(Paths.get(s"$d/events.parquet")) ||
          sys.env.contains("SPARK_GRAFT_REGEN")) {
        System.err.println(s"[skew] generating ${reps}x corpus (hotReps=$hr) under $d")
        ScaleBench.generateEventsSkew(spark, baseDir, d, reps, hr)
      }
    }
    val skewEv = spark.read.parquet(s"$skewDir/events.parquet")
    val total = skewEv.count()
    val hotN = skewEv.filter(col("event_type") === "click").count()
    val hotShare = hotN.toDouble / total
    System.err.println(f"[skew] hot series 'click': $hotN/$total = $hotShare%.3f")

    // the per-series window tier only (all read events exclusively)
    val tier = SparkEntry.queries.filter { case (n, _) =>
      n.startsWith("boost_ts_") || n.startsWith("boost_asof") ||
        n.startsWith("ts_") || n == "boost_mad" || n == "boost_top_k"
    }
    // warm + empty-input guard on all three corpora
    Seq(baseDir, uniDir, skewDir).foreach { d =>
      spark.read.parquet(s"$d/events.parquet").count()
    }
    val (probeName, probeFn) = tier.toSeq.minBy(_._1)
    Seq(baseDir, uniDir, skewDir).foreach { d =>
      val n = probeFn(spark, d).count()
      require(n > 0, s"$probeName returned 0 rows on $d — empty source?")
    }

    def phase(name: String, d: String) = {
      // cold-cache symmetry between phases (see ScaleBench)
      graft.boostql.BoostQL.evictTestdataCache(Some(spark))
      spark.catalog.clearCache()
      System.gc()
      System.err.println(s"[skew] benching ${tier.size} queries: $name")
      Bench.run(spark, d, tier, iters)
    }
    // host probes (graft.Bench calibration twins): divide out host
    // drift when comparing skew artifacts across rounds
    val cpuCal = Bench.calibrate(spark, 3)
    val ioCal = Bench.calibrateIo(spark, 3)
    System.err.println(
      f"[skew] host probes: cpu $cpuCal%.3f s, io $ioCal%.3f s")
    val (baseT, baseF) = phase("base 1x", baseDir)
    val (uniT, uniF) = phase(s"uniform ${reps}x", uniDir)
    val (skewT, skewF) = phase(s"skewed ${reps}x", skewDir)

    // ——— streaming hot-USER section ———————————————————————————————
    // The stream-stream join and session-window state stores partition
    // by USER (the join key / session key), which the hot-SERIES corpus
    // above never stresses. A separate corpus maps the last hot
    // replicas' every row to user 0, and three stateful shapes run
    // uniform-vs-skew on it: the raw SQL-front joined rollup (whose
    // symmetric-hash state probe is QUADRATIC in the hot key's rows —
    // measured 92× at 3×/33% hot on this host), the bucketed-interval
    // form (StreamingOps.bucketedIntervalJoin — the engine's hot-key
    // answer: time-bucket equi key bounds each probe to one bound-
    // width window), and the session aggregate (state is open sessions
    // per key — merge-heavy but not quadratic). Smaller reps than the
    // window tier BY DESIGN: the raw join's quadratic probe is the
    // phenomenon under measurement, and 3× already separates the two
    // topologies by two orders of magnitude — running the pathological
    // form at 30× would burn hours re-proving the same number.
    // Output/pair counts ride along (`n` summed = joined pairs) so the
    // intrinsic work growth is separable from engine behavior.
    val streamReps = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "3").toInt
    val streamHotReps = sys.env.getOrElse("SPARK_GRAFT_STREAM_HOT_REPS",
      (streamReps / 3).toString).toInt
    val streamIters = sys.env.getOrElse("SPARK_GRAFT_STREAM_ITERS", "1").toInt
    val streamUniDir = sys.env.getOrElse("SPARK_GRAFT_STREAM_UNI_DIR",
      s"/tmp/graft_skew_uni$streamReps")
    val userSkewDir = sys.env.getOrElse("SPARK_GRAFT_USER_SKEW_DIR",
      s"/tmp/graft_skew_user$streamReps")
    Seq((streamUniDir, 0), (userSkewDir, streamHotReps)).foreach { case (d, hr) =>
      if (!Files.exists(Paths.get(s"$d/events.parquet")) ||
          sys.env.contains("SPARK_GRAFT_REGEN")) {
        System.err.println(
          s"[skew] generating ${streamReps}x user corpus (hot=$hr) under $d")
        if (hr == 0) ScaleBench.generateEventsSkew(spark, baseDir, d, streamReps, 0)
        else ScaleBench.generateEventsUserSkew(spark, baseDir, d, streamReps, hr)
      }
    }
    val uev = spark.read.parquet(s"$userSkewDir/events.parquet")
    val hotUserShare = uev.filter(col("user_id") === 0L).count().toDouble /
      uev.count()
    System.err.println(f"[skew] hot user 0 share: $hotUserShare%.3f")
    val streamTier = SparkEntry.queries.filter { case (n, _) =>
      n == "stream_sql_join_agg" || n == "stream_join_agg_bucketed" ||
        n == "stream_sql_session" }
    def streamRows(d: String): Seq[(String, Double)] =
      streamTier.toSeq.sortBy(_._1).map { case (n, fn) =>
        n -> fn(spark, d).count().toDouble }
    def streamPhase(name: String, d: String) = {
      graft.boostql.BoostQL.evictTestdataCache(Some(spark))
      spark.catalog.clearCache()
      System.gc()
      System.err.println(s"[skew] benching ${streamTier.size} streaming queries: $name")
      Bench.run(spark, d, streamTier, streamIters)
    }
    val (sUniT, sUniF) = streamPhase(s"stream uniform ${streamReps}x", streamUniDir)
    val (sSkewT, sSkewF) = streamPhase(s"stream hot-user ${streamReps}x", userSkewDir)
    val sUniRows = streamRows(streamUniDir)
    val sSkewRows = streamRows(userSkewDir)

    val baseM = baseT.toMap
    val uniM = uniT.toMap
    def ratios(num: Seq[(String, Double)], den: Map[String, Double]) =
      num.flatMap { case (n, t) =>
        den.get(n).map(b => n -> (if (b > 0) t / b else Double.NaN)) }
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => f""""$k":$v%.4f""" }.mkString("{", ",", "}")
    val svu = ratios(skewT, uniM)
    val json =
      s"""{"tier":"skew","base_sf":"$baseDir","scale_factor":$reps,""" +
      f""""cpu_calibration_sec":$cpuCal%.3f,"io_calibration_sec":$ioCal%.3f,""" +
      s""""hot_series":"click","hot_reps":$hotReps,""" +
      f""""hot_share":$hotShare%.3f,"iters":$iters,""" +
      f""""total_base_sec":${baseT.map(_._2).sum}%.3f,""" +
      f""""total_uniform_sec":${uniT.map(_._2).sum}%.3f,""" +
      f""""total_skew_sec":${skewT.map(_._2).sum}%.3f,""" +
      s""""base":${jmap(baseT)},"uniform":${jmap(uniT)},"skew":${jmap(skewT)},""" +
      s""""uniform_vs_base":${jmap(ratios(uniT, baseM))},""" +
      s""""skew_vs_base":${jmap(ratios(skewT, baseM))},""" +
      s""""skew_vs_uniform":${jmap(svu)},""" +
      f""""stream_tier":{"hot_user_share":$hotUserShare%.3f,""" +
      s""""stream_reps":$streamReps,"stream_iters":$streamIters,""" +
      s""""uniform":${jmap(sUniT)},"user_skew":${jmap(sSkewT)},""" +
      s""""skew_vs_uniform":${jmap(ratios(sSkewT, sUniT.toMap))},""" +
      s""""rows_uniform":${jmap(sUniRows)},""" +
      s""""rows_user_skew":${jmap(sSkewRows)},""" +
      s""""failed":${Bench.jfail((sUniF ++ sSkewF).distinct)}},""" +
      s""""failed":${Bench.jfail((baseF ++ uniF ++ skewF).distinct)}}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
    if (baseF.nonEmpty || uniF.nonEmpty || skewF.nonEmpty ||
        sUniF.nonEmpty || sSkewF.nonEmpty) sys.exit(2)
  }
}

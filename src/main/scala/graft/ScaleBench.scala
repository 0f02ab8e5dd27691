package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity proof: generate a deterministic Nx corpus from the
  * base scale factor, bench a query tier at both scales with the same
  * median-of-N harness, and emit a JSON artifact with per-query growth
  * ratios. Two tiers (SPARK_GRAFT_SCALE_TIER):
  *
  *  - `curation` (default): documents/embeddings replicas feeding the
  *    dd_/ann_/graph_/pipe_/txt_ queries;
  *  - `relational`: events + TPC-H replicas feeding the boost_/ts_/q_
  *    queries (the dialect, time-series and relational tiers).
  *
  * Corpus construction (no RNG — byte-identical across runs):
  *  - ids offset by replica * 100M (keeps them integral and disjoint);
  *  - replica k>0 text goes through a per-replica substitution cipher
  *    (alphabet rotated by k). An injective char map preserves shingle
  *    equality WITHIN a replica — every near-dup cluster is reproduced
  *    isomorphically, so output volume grows ~10x — while shingles
  *    almost never collide ACROSS replicas, so clusters don't merge
  *    into 10x-size blobs (which would make pair output quadratic by
  *    construction and prove nothing about the operators);
  *  - embedding components get a tiny per-replica additive offset
  *    (cosine-visible; a multiplicative one would be cosine-invariant);
  *  - events replicas offset event_id/user_id (joins stay within a
  *    replica: per-user cardinalities constant, so join output grows
  *    reps×, never reps²×) and shift ts by 35 days per replica (the
  *    time axis grows reps× at constant per-window density);
  *  - TPC-H fact replicas offset every join key the same way;
  *    nation/region are shared dimensions, copied unchanged.
  *
  * dd_embed_cosine is excluded: exact all-pairs at a threshold is
  * quadratic by contract (documented; scale-safe lshCandidates route
  * exists in-repo).
  */
object ScaleBench {

  private val IdOffset = 100000000L

  private def rot(s: String, k: Int): String = s.drop(k % s.length) + s.take(k % s.length)

  def generate(spark: SparkSession, baseDir: String, outDir: String, reps: Int): Unit = {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val docReps = (0 until reps).map { k =>
      val txt =
        if (k == 0) col("text")
        else translate(col("text"),
          alpha + alpha.toUpperCase, rot(alpha, k) + rot(alpha, k).toUpperCase)
      docs.select((col("doc_id") + lit(k * IdOffset)).as("doc_id"), txt.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docReps.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val embReps = (0 until reps).map { k =>
      embs.select((col("vec_id") + lit(k * IdOffset)).as("vec_id"),
        transform(col("embedding"), x => (x + lit(k * 1e-4f)).cast("float"))
          .as("embedding"),
        col("label"))
    }
    embReps.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** events + TPC-H replicas for the relational/ts tier. `ts` is
    * normalized to a micros TimestampType on read (whatever unit the
    * base parquet carries — [[graft.tables.Tables.normalizeEventsTs]])
    * and each replica is shifted 35 days, so the written scale corpus
    * always carries a plain adjusted-UTC TIMESTAMP column that
    * `Tables.events` passes through unchanged.
    */
  def generateRelational(spark: SparkSession, baseDir: String, outDir: String,
      reps: Int): Unit = {
    val ev = graft.tables.Tables.events(spark, baseDir)
    (0 until reps).map { k =>
      ev.select(
        (col("event_id") + lit(k * IdOffset)).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) +
          lit(k * 35L * 86400L * 1000000L)).as("ts"),
        (col("user_id") + lit(k * IdOffset)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    def rep(table: String, keys: Set[String]): Unit = {
      val df = spark.read.parquet(s"$baseDir/$table.parquet")
      val cols = df.columns.toSeq
      (0 until reps).map { k =>
        df.select(cols.map(c =>
          if (keys(c)) (col(c) + lit(k * IdOffset)).as(c) else col(c)): _*)
      }.reduce(_ unionAll _).repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    rep("customer", Set("c_custkey"))
    rep("orders",   Set("o_orderkey", "o_custkey"))
    rep("lineitem", Set("l_orderkey", "l_partkey", "l_suppkey"))
    rep("supplier", Set("s_suppkey"))
    rep("part",     Set("p_partkey"))
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Events-only replica generator with a HOT-SERIES knob: the last
    * `hotReps` replicas map every row to series 'click', so at
    * reps = 30 / hotReps = 12 the hot series holds ~½ of all points —
    * the realistic 100 TB failure mode for the per-series window tier
    * (those windows serialize per key; uniform replication never
    * exercises it). hotReps = 0 degenerates to the uniform corpus.
    * Same determinism rules as [[generateRelational]] (id offsets,
    * 35-day ts shifts — note the hot replicas inherit the base ts
    * shifted per replica, so ts stays unique WITHIN each replica's
    * contribution but the hot series' total point count, not its
    * density, is what grows).
    */
  def generateEventsSkew(spark: SparkSession, baseDir: String, outDir: String,
      reps: Int, hotReps: Int): Unit = {
    val ev = graft.tables.Tables.events(spark, baseDir)
    (0 until reps).map { k =>
      val hot = k >= reps - hotReps
      ev.select(
        (col("event_id") + lit(k * IdOffset)).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) +
          lit(k * 35L * 86400L * 1000000L)).as("ts"),
        (col("user_id") + lit(k * IdOffset)).as("user_id"),
        (if (hot) lit("click") else col("event_type")).as("event_type"),
        col("value"), col("props"))
    }.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Hot-USER variant of [[generateEventsSkew]]: the last `hotReps`
    * replicas map EVERY row to user 0 (series mix untouched), so the
    * hot share lands on the key the streaming join/session state
    * stores partition by — the stress the hot-series corpus cannot
    * produce (its window tier keys on series, the streaming tier on
    * user).
    */
  def generateEventsUserSkew(spark: SparkSession, baseDir: String,
      outDir: String, reps: Int, hotReps: Int): Unit = {
    val ev = graft.tables.Tables.events(spark, baseDir)
    (0 until reps).map { k =>
      val hot = k >= reps - hotReps
      ev.select(
        (col("event_id") + lit(k * IdOffset)).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) +
          lit(k * 35L * 86400L * 1000000L)).as("ts"),
        (if (hot) lit(0L) else col("user_id") + lit(k * IdOffset))
          .as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tierName = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIER", "curation")
    // `boost` isolates the dialect face (compiler-generated plans) on
    // the same replicated corpus the relational tier uses — the
    // sub-linear evidence for BoostQL output specifically
    val boost = tierName == "boost"
    val relational = tierName == "relational"
    // the streaming tier reuses the relational corpus (it reads only
    // `events`), so generation and disk are shared with that tier
    val streaming = tierName == "streaming"
    val outJson = args.headOption.getOrElse(
      if (streaming) "BENCH_scale_stream.json"
      else if (boost) "BENCH_scale_boost.json"
      else if (relational) "BENCH_scale_rel.json" else "BENCH_scale.json")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      if (relational || streaming || boost) "/tmp/graft_scale_rel10"
      else "/tmp/graft_scale10")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val marker =
      if (relational || streaming || boost) "events.parquet"
      else "documents.parquet"
    if (!Files.exists(Paths.get(s"$scaleDir/$marker")) ||
        sys.env.contains("SPARK_GRAFT_REGEN")) {
      System.err.println(s"[scale] generating ${reps}x $tierName corpus under $scaleDir")
      if (relational || streaming || boost)
        generateRelational(spark, baseDir, scaleDir, reps)
      else generate(spark, baseDir, scaleDir, reps)
    }

    // dd_embed_cosine: exact all-pairs, quadratic by contract — still
    // excluded (scale-safe lshCandidates route exists in-repo).
    // dd_semantic at FIXED k is n²/k (a k-fold cut of all-pairs, not
    // linear); its DOCUMENTED scale recipe is k ∝ n so expected cluster
    // size stays constant — measured below as `dd_semantic_kscaled`,
    // which grows k with the corpus instead of excluding the operator.
    val excluded = Set("dd_embed_cosine", "dd_semantic")
    // the k ∝ n form of dd_semantic: k = 10 per 1x of corpus (the
    // registered query's k at base scale), so Σ|cluster|² ≈ n²/k grows
    // ~linearly — the recipe SemanticDedupOps documents, carried as a
    // scale-artifact row so the linearity claim is a measurement
    val kScaled = "dd_semantic_kscaled" ->
      ((s: SparkSession, d: String) => {
        val k = if (d == scaleDir) 10 * reps else 10
        graft.operators.SemanticDedupOps.semanticDedupPairs(
          graft.tables.Tables.embeddings(s, d), "vec_id", "embedding",
          0.45, k = k, probes = 3, iters = 4)
      })
    // the events-sourced AvailableNow replays; stream_classify and
    // stream_neardup read `documents` and belong to the curation
    // corpus, not this one
    val streamTier = Set("stream_window_agg", "stream_sliding_agg",
      "stream_dedup_count", "stream_session", "stream_join",
      "stream_top_k", "stream_static_join")
    val tier = SparkEntry.queries.filter { case (n, _) =>
      if (streaming) streamTier.contains(n)
      else if (boost)
        // dialect face only: every compiler-generated plan — includes
        // boost_explain, whose cost IS the compile+explain path
        n.startsWith("boost_")
      else if (relational)
        // the stream_ tier replays state-store micro-batches whose
        // startup floor dominates at these scales — measured separately
        // with a floor/marginal decomposition (tier `streaming`)
        n.startsWith("boost_") || n.startsWith("ts_") || n.startsWith("q")
      else
        (n.startsWith("dd_") || n.startsWith("ann_") || n.startsWith("graph_") ||
          n.startsWith("pipe_") || n.startsWith("txt_")) && !excluded.contains(n)
    } ++ (if (!streaming && !boost && !relational) Map(kScaled) else Map.empty)
    // warm both corpora (footers, page cache, codegen)
    val warmTables =
      if (streaming) Seq("events", "customer")
      else if (relational || boost) Seq("events", "lineitem", "orders",
        "customer", "supplier", "part", "nation", "region")
      else Seq("documents", "embeddings")
    Seq(baseDir, scaleDir).foreach { d =>
      warmTables.foreach { t =>
        try spark.read.parquet(s"$d/$t.parquet").count()
        catch { case _: Throwable => () }
      }
    }
    // Empty-input guard: a misconfigured source that reads zero files
    // "scales" perfectly (measured: a symlinked directory source once
    // streamed nothing and the 10x phase finished in 0.3 s). Demand
    // rows from one tier query on BOTH corpora before timing anything.
    val (probeName, probeFn) = tier.toSeq.minBy(_._1)
    Seq(baseDir, scaleDir).foreach { d =>
      val n = probeFn(spark, d).count()
      require(n > 0, s"$probeName returned 0 rows on $d — empty source?")
      System.err.println(s"[scale] probe $probeName on $d: $n rows")
    }
    // host probes: the CPU and temp-dir-I/O calibration twins
    // (graft.Bench) — byte-identical work every round, so cross-round
    // ratio reads can divide out host drift from engine regression
    val cpuCal = Bench.calibrate(spark, 3)
    val ioCal = Bench.calibrateIo(spark, 3)
    System.err.println(
      f"[scale] host probes: cpu $cpuCal%.3f s, io $ioCal%.3f s")
    System.err.println(s"[scale] benching ${tier.size} queries at base scale")
    val (baseT, baseF) = Bench.run(spark, baseDir, tier, iters)
    // Symmetry between the two timed phases: the base phase starts with
    // a cold cache, so the scaled phase must too. Holding the base
    // corpus's persisted family frames through the scaled run inflates
    // GC debt one-sidedly — measured to distort scaled medians up to
    // ~3x (q4_having read 9.1x at 10x data in the shared heap, 2.1x in
    // a clean one).
    graft.boostql.BoostQL.evictTestdataCache(Some(spark))
    spark.catalog.clearCache()
    System.gc()
    System.err.println(s"[scale] benching at ${reps}x")
    val (scaleT, scaleF) = Bench.run(spark, scaleDir, tier, iters)

    val baseMap = baseT.toMap
    val ratios = scaleT.flatMap { case (n, t) =>
      baseMap.get(n).map(b => n -> (if (b > 0) t / b else Double.NaN))
    }
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => f""""$k":$v%.4f""" }.mkString("{", ",", "}")
    // ANN RECALL AT SCALE (curation tier only): recall@k vs
    // bruteForceTopK on BOTH corpora. Timing linearity alone can hide a
    // quality cliff — list/bucket occupancy changes with corpus size,
    // so an index whose latency scales perfectly can silently stop
    // returning the true neighbors.
    //
    // HELD-OUT protocol: the registered ann_* queries draw their query
    // vectors FROM the corpus, and on a replica corpus each query's own
    // near-copies (offset k·1e-4) occupy the entire true top-10 — every
    // index trivially ranks them first and recall saturates to 1.0 by
    // construction (the round-17 artifact's admission). Here the
    // queries are the BASE corpus's vec_id < 50 vectors and the
    // searched corpus EXCLUDES those identities and every replica of
    // them (vec_id mod the replica id-offset), so the true top-10 are
    // genuine near vectors and recall measures whether each index
    // routes a query to the right buckets/lists at shifted occupancy —
    // the real question. Floors restate the sf0.001 PipelineSpec pins
    // (measurement, not a gate: a floor miss at scale is a tuning task
    // with evidence, the run still completes).
    val annRecall: String =
      if (streaming || boost || relational) ""
      else {
        import graft.operators.VectorSearchOps
        val floors = Seq("ann_lsh" -> 0.25, "ann_ivf" -> 0.15,
          "ann_pq" -> 0.25, "ann_ivfpq" -> 0.15, "ann_sq8" -> 0.9)
        val fns: Map[String, (DataFrame, DataFrame) => DataFrame] = Map(
          "ann_lsh" -> ((c, q) =>
            VectorSearchOps.annLshTopK(c, q, "vec_id", "embedding", 10)),
          "ann_ivf" -> ((c, q) =>
            VectorSearchOps.ivfTopK(c, q, "vec_id", "embedding", 10)),
          "ann_pq" -> ((c, q) =>
            VectorSearchOps.pqTopK(c, q, "vec_id", "embedding", 10)),
          "ann_ivfpq" -> ((c, q) =>
            VectorSearchOps.ivfPqTopK(c, q, "vec_id", "embedding", 10)),
          "ann_sq8" -> ((c, q) =>
            VectorSearchOps.sq8TopK(c, q, "vec_id", "embedding", 10)))
        def ids(df: DataFrame): Map[Long, Set[Long]] =
          df.select("q_id", "nbr_id").collect()
            .groupBy(_.getLong(0)).view
            .mapValues(_.map(_.getLong(1)).toSet).toMap
        def recalls(d: String): Seq[(String, Double)] = {
          val q = graft.tables.Tables.embeddings(spark, baseDir)
            .filter(col("vec_id") < 50)
          val corpus = graft.tables.Tables.embeddings(spark, d)
            .filter(pmod(col("vec_id"), lit(IdOffset)) >= 50)
          val exact = ids(VectorSearchOps.bruteForceTopK(
            corpus, q, "vec_id", "embedding", 10))
          floors.map { case (n, _) =>
            val approx = ids(fns(n)(corpus, q))
            val per = exact.map { case (qid, ex) =>
              approx.get(qid).fold(0.0)(ap =>
                ap.intersect(ex).size.toDouble / ex.size)
            }
            n -> (if (per.isEmpty) Double.NaN else per.sum / per.size)
          }
        }
        System.err.println(
          "[scale] measuring held-out ANN recall@10 on both corpora")
        val rb = recalls(baseDir)
        val rs = recalls(scaleDir)
        rs.foreach { case (n, r) =>
          val f = floors.toMap.apply(n)
          if (r < f) System.err.println(
            f"[scale] WARNING: $n recall at ${reps}x = $r%.3f below " +
              f"the $f%.2f floor — tuning task (probes/bands/lists)")
        }
        s""""ann_recall":{"k":10,"protocol":"held-out (queries = base """ +
        s"""vec_id < 50, corpus excludes them and all their replicas)",""" +
        s""""floors":${jmap(
          floors.map { case (n, f) => n -> f })},""" +
        s""""base":${jmap(rb)},"scaled":${jmap(rs)}},"""
      }
    val totalBase = baseT.map(_._2).sum
    val totalScale = scaleT.map(_._2).sum
    // Streaming replays pay a per-query micro-batch startup floor that
    // dwarfs the data cost at these scales, so the raw ratio flatters
    // them. Decompose T = floor + c*scale from the two measured points:
    // c = (T_s - T_b) / (reps - 1) is the marginal cost of one more 1x
    // of data, floor = T_b - c the data-independent replay overhead.
    // At 100 TB the floor amortizes to nothing and c*scale is the real
    // bill — c is the number to judge.
    val decomp =
      if (!streaming) ""
      else {
        val marg = scaleT.flatMap { case (n, t) =>
          baseMap.get(n).map(b => n -> math.max(t - b, 0.0) / (reps - 1))
        }
        val floor = marg.map { case (n, c) =>
          n -> math.max(baseMap(n) - c, 0.0)
        }
        s""""marginal_sec_per_1x":${jmap(marg)},"startup_floor_sec":${jmap(floor)},"""
      }
    val json =
      s"""{"base_sf":"$baseDir","scale_dir":"$scaleDir","scale_factor":$reps,""" +
      f""""cpu_calibration_sec":$cpuCal%.3f,"io_calibration_sec":$ioCal%.3f,""" +
      s""""iters":$iters,"excluded":["dd_embed_cosine (quadratic by exact-all-pairs contract)",""" +
      s""""dd_semantic fixed-k form (n^2/k at fixed k; measured as dd_semantic_kscaled with k ~ n instead)"],""" +
      f""""total_base_sec":$totalBase%.3f,"total_scaled_sec":$totalScale%.3f,""" +
      f""""total_ratio":${totalScale / totalBase}%.2f,""" + decomp + annRecall +
      s""""base":${jmap(baseT)},"scaled":${jmap(scaleT)},"ratio":${jmap(ratios)},""" +
      s""""failed_base":${Bench.jfail(baseF)},"failed_scaled":${Bench.jfail(scaleF)}}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
    if (baseF.nonEmpty || scaleF.nonEmpty) sys.exit(2)
  }
}

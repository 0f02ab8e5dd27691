package graft

import org.apache.spark.sql.DataFrame

import graft.boostql.{BoostQL, Compiler, Parser}
import graft.sources.TimeSeriesTable
import graft.tables.Tables

/** Physical-plan regressions fail here instead of surfacing as bench
  * mysteries: pushed filters must reach the parquet scan, nothing may
  * plan a cartesian product except the deliberately-quadratic kernels,
  * and the minhash pipeline must reuse its signature exchange.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    // collect(), not count(): count() plans a SEPARATE aggregate query,
    // leaving this queryExecution unexecuted (isFinalPlan=false) — only
    // an action on the same queryExecution drives AQE to the final plan
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("dialect series/ts predicates reach the parquet scan as pushed filters") {
    // the graft-written layout carries physical series + timestamp ts
    // columns (the testdata adapter's NANOS-derived ts blocks stats
    // pushdown by construction, pinned in BoostQLSpec)
    withTempRoot("graft-planshape") { root =>
      TimeSeriesTable.append(
        TimeSeriesTable.fromEvents(Tables.events(spark, sfDir)), root, "dom", "events")
      val stored = TimeSeriesTable.open(spark, root, "dom", "events")
      val df = Compiler.compile(Parser.parse(
        "SELECT click, ts FROM dom.events " +
          "WHERE click > 50.0 AND ts >= '2024-01-10 00:00:00'"), stored)
      val plan = planOf(df)
      assert(plan.contains("PushedFilters:"), s"no pushed filters in:\n$plan")
      assert(plan.contains("EqualTo(series,click)"),
        s"series = 'click' must push into the scan:\n$plan")
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"ts bound must push into the scan:\n$plan")
      assert(plan.contains("GreaterThan(value,50.0)"),
        s"value predicate must push into the scan:\n$plan")
      // INTERVAL arithmetic on a literal bound constant-folds, so the
      // shifted comparison pushes exactly like the explicit one
      val shifted = Compiler.compile(Parser.parse(
        "SELECT click, ts FROM dom.events " +
          "WHERE ts >= '2024-01-11 00:00:00' - INTERVAL '1 day'"), stored)
      val shiftedPlan = planOf(shifted)
      assert(shiftedPlan.contains("GreaterThanOrEqual(ts"),
        s"interval-shifted ts bound must still push into the scan:\n$shiftedPlan")
      // calendar-unit arithmetic on a literal bound constant-folds too —
      // ANSI year-month addition over a literal is still foldable
      val monthShifted = Compiler.compile(Parser.parse(
        "SELECT click, ts FROM dom.events " +
          "WHERE ts >= '2024-02-11 00:00:00' - INTERVAL '1 month'"), stored)
      val monthPlan = planOf(monthShifted)
      assert(monthPlan.contains("GreaterThanOrEqual(ts"),
        s"calendar-shifted ts bound must still push into the scan:\n$monthPlan")
    }
  }

  test("stream-join tier: per-side series filters push to the scans; " +
      "native interval term, no micros round-trip") {
    withTempRoot("graft-planshape") { root =>
      TimeSeriesTable.append(
        TimeSeriesTable.fromEvents(Tables.events(spark, sfDir)), root, "dom", "events")
      // batch frames compile through the same sqlStream join path
      // (withWatermark is a no-op on batch), so the physical plan is
      // inspectable end to end
      val df = BoostQL.sqlStream(
        "SELECT a.click.event_id AS cid, b.purchase.event_id AS pid " +
          "FROM dom.events AS a JOIN dom.events AS b " +
          "ON a.click.user = b.purchase.user " +
          "AND b.ts BETWEEN a.ts AND a.ts + INTERVAL '1 hour'",
        _ => TimeSeriesTable.open(spark, root, "dom", "events"), "1 day")
      val plan = planOf(df)
      assert(plan.contains("EqualTo(series,click)") &&
        plan.contains("EqualTo(series,purchase)"),
        s"both sides' series filters must push into their scans:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"the equi key must drive the join:\n$plan")
      // the time bound must stay NATIVE ts +- interval arithmetic — the
      // shape the streaming state-eviction analysis recognizes; a
      // unix_micros round-trip in the condition would silence eviction
      assert(!plan.contains("unix_micros"),
        s"interval arithmetic must not round-trip through micros:\n$plan")
    }
  }

  test("OUTLIERS statement: series filter pushed, broadcast medians, " +
      "no row shuffle on the key") {
    withTempRoot("graft-planshape") { root =>
      TimeSeriesTable.append(
        TimeSeriesTable.fromEvents(Tables.events(spark, sfDir)), root, "dom", "events")
      val df = BoostQL.sql("OUTLIERS purchase K 3.0 FROM dom.events",
        _ => TimeSeriesTable.open(spark, root, "dom", "events"))
      val plan = planOf(df)
      assert(plan.contains("EqualTo(series,purchase)"),
        s"the series filter must push into the scan:\n$plan")
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("partial_percentile"),
        s"medians must partial-aggregate and pin back by broadcast:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
        s"data rows must never shuffle or sort on the key:\n$plan")
    }
  }

  test("EXPLAIN through the dialect front door shows the pushed series predicate") {
    // same claim as the test above, but checked the way a dialect USER
    // would: `EXPLAIN SELECT …` returns the formatted plan as a one-row
    // frame, and the series/value predicates must appear as PushedFilters
    withTempRoot("graft-explain") { root =>
      TimeSeriesTable.append(
        TimeSeriesTable.fromEvents(Tables.events(spark, sfDir)), root, "dom", "events")
      val stored = TimeSeriesTable.open(spark, root, "dom", "events")
      val planText = BoostQL.sql(
        "EXPLAIN SELECT click, ts FROM dom.events WHERE click > 50.0",
        _ => stored).collect()(0).getString(0)
      assert(planText.contains("PushedFilters:"), s"no pushed filters in:\n$planText")
      assert(planText.contains("EqualTo(series,click)"),
        s"series = 'click' must push into the scan:\n$planText")
      assert(planText.contains("GreaterThan(value,50.0)"),
        s"value predicate must push into the scan:\n$planText")
    }
  }

  test("BROADCAST hint forces the build side with auto-broadcast disabled") {
    // the hint's whole value is overriding the planner's size estimate,
    // so the pin runs with the threshold off: hinted → BroadcastHashJoin
    // even though nothing auto-qualifies; unhinted → SortMergeJoin
    // (proves the hint — not the estimate — forced the plan)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val q = (hint: String) =>
        s"SELECT $hint a.click.user, count(*) FROM dom.events AS a " +
          "JOIN dom.events AS b ON a.click.user = b.view.user " +
          "WHERE a.click < 100.0 GROUP BY a.click.user"
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      val hintedPlan = planOf(Compiler.compile(
        Parser.parse(q("/*+ BROADCAST(b) */")), _ => fam))
      assert(hintedPlan.contains("BroadcastHashJoin"),
        s"hinted join must broadcast:\n$hintedPlan")
      val plainPlan = planOf(Compiler.compile(Parser.parse(q("")), _ => fam))
      assert(!plainPlan.contains("BroadcastHashJoin") &&
        plainPlan.contains("SortMergeJoin"),
        s"with the threshold off the unhinted join must sort-merge:\n$plainPlan")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("no cartesian product outside the deliberately-quadratic kernels") {
    // ann_topk (brute-force verify baseline) and dd_embed_cosine (exact
    // all-pairs by contract) are the two sanctioned quadratic paths;
    // everything else must plan joins with keys
    val checked = Seq(
      "boost_select_where", "boost_join", "boost_left_join", "boost_null_attr",
      "boost_arith", "boost_distinct", "q2_join_agg", "q5_multijoin",
      "q_anti_join", "q_semi_join", "dd_exact", "dd_minhash_lsh",
      "dd_ngram_jaccard", "dd_simhash", "ann_lsh", "ann_ivf",
      "ts_asof_join", "ts_align_bucket", "ts_resample_locf",
      "ts_interp_linear", "pipe_split", "pipe_shuffle", "txt_langid")
    val offenders = checked.flatMap { name =>
      val plan = planOf(SparkEntry.queries(name)(spark, sfDir))
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian product planned in: ${offenders.mkString(", ")}")
  }

  test("TPC-H multijoins broadcast their small dimension sides") {
    // region/nation/supplier are broadcast-sized at any SF (fixed or
    // near-fixed cardinality); AQE must turn those joins into
    // BroadcastHashJoin — a multijoin that sort-merges a 25-row nation
    // table at 100 TB is paying two avoidable shuffles
    for (q <- Seq("q5_multijoin", "q2_join_agg")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = planOf(df).split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q plans no broadcast join:\n$plan")
    }
  }

  test("correlated scalar subqueries plan keyed joins, never per-row rescans") {
    // decorrelation must produce a keyed LEFT join against the grouped
    // sub (plus the one-row broadcast for any uncorrelated sibling) —
    // no cartesian product, no nested-loop over a multi-row side
    val plan = planOf(SparkEntry.queries("boost_scalar_corr")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"correlated scalar sub must not plan a cartesian product:\n$plan")
    assert(plan.contains("LeftOuter"),
      s"decorrelation should plan LEFT joins on the correlation keys:\n$plan")
  }

  test("dialect time bucketing stays a codegen'd projection (no UDF, no extra shuffle)") {
    // bucket() is micros arithmetic: the only exchanges are the
    // aggregation's partial/final pair and the presentation sort
    val plan = planOf(SparkEntry.queries("boost_ts_bucket")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bucket() must compile to built-in arithmetic:\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"bucketed aggregation should plan at most agg + sort exchanges ($exchanges):\n$plan")
  }

  test("ASOF NEAREST plans both window passes on ONE exchange") {
    // nearest = backward + forward window carries over the same
    // partitioning keys: the plan must hash-partition once and re-sort
    // twice, never shuffle twice (the claim in TimeSeriesOps.asofJoin's
    // scaladoc; the presentation ORDER BY adds its own range exchange).
    // Compiled directly with a row-producing filter — the SparkEntry
    // query is empty at this spec's sf0.001, and AQE would collapse an
    // empty frame to EmptyRelation, leaving nothing to pin
    val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
    val df = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase, b.click " +
        "FROM dom.events AS a ASOF NEAREST JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '5 days' " +
        "WHERE a.purchase > 100.0 ORDER BY a.purchase.event_id"), _ => fam)
    assert(df.count() > 0, "pin needs a non-empty frame")
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1,
      s"nearest ASOF must shuffle once, found $hashEx hash exchanges:\n$plan")
    assert(!plan.contains("Join"),
      s"ASOF compiles to the union-window formulation, no join node:\n$plan")
  }

  test("dialect ROLLUP plans one Expand and one aggregation exchange") {
    // grouping sets must ride Spark's native Expand (grouping-set rows
    // generated map-side, partial-aggregated before the shuffle) — NOT
    // one pass per subset unioned together
    val plan = planOf(SparkEntry.queries("boost_rollup")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert("\\bExpand\\b".r.findAllIn(plan).length == 1,
      s"rollup should plan exactly one Expand:\n$plan")
    assert(!plan.contains("Union"),
      s"rollup must not union per-subset passes:\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"rollup should plan agg exchange + sort only ($exchanges):\n$plan")
  }

  test("explicit GROUPING SETS plans one Expand like ROLLUP/CUBE") {
    val plan = planOf(SparkEntry.queries("boost_grouping_sets")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert("\\bExpand\\b".r.findAllIn(plan).length == 1,
      s"grouping sets should plan exactly one Expand:\n$plan")
    assert(!plan.contains("Union"),
      s"grouping sets must not union per-set passes:\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"grouping sets should plan agg exchange + sort only ($exchanges):\n$plan")
  }

  test("DESCRIBE plans one aggregation pass — no joins, one agg exchange") {
    // the series-catalog face must be a single scan + single aggregate
    // (count/extent/key inventories in one pass), never the old
    // three-aggregation + two-join shape
    val plan = planOf(SparkEntry.queries("boost_describe")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"DESCRIBE must not plan joins:\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"DESCRIBE should plan agg exchange + sort only ($exchanges):\n$plan")
  }

  test("interp plans ONE window over one series exchange") {
    // four frame lookups (prev/next value + timestamp) must merge into
    // a single Window operator — same partition/order, two frames —
    // over the single series exchange plus the presentation sort
    val plan = planOf(SparkEntry.queries("boost_ts_interp")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"interp should plan exactly one Window ($windows):\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"interp should plan series exchange + sort only ($exchanges):\n$plan")
  }

  test("ewma + zscore: zscore auto-stitches to a broadcast join-back, " +
      "no row ever shuffles for it; ewma stays the native window") {
    val df = BoostQL.onTestdata(spark, sfDir)(
      "SELECT click.event_id, ewma(click, 0.5) OVER (PARTITION BY click.user) AS sm, " +
        "zscore(click) OVER (PARTITION BY click.user) AS z " +
        "FROM dom.events ORDER BY click.event_id")
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // zscore no longer rides a whole-partition Window (which serializes
    // a hot key): its exact S/Q/n sums come from a partial-aggregated
    // groupBy BROADCAST-joined back, so the only row exchanges left are
    // ewma's key partitioning and the presentation sort — the zscore
    // stats flow through a broadcast exchange, never a row shuffle
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"zscore stats must broadcast back:\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"ewma key exchange + sort + at most one agg exchange ($exchanges):\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"ewma must stay a native window aggregate:\n$plan")
  }

  test("holt + ewma share one Window operator (same spec, one exchange)") {
    val df = BoostQL.onTestdata(spark, sfDir)(
      "SELECT click.event_id, " +
        "holt(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS lv, " +
        "holt_forecast(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS fc, " +
        "ewma(click, 0.5) OVER (PARTITION BY click.user) AS sm " +
        "FROM dom.events ORDER BY click.event_id")
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // identical window specs (same key, same implicit running frame):
    // all three kernels must collapse into ONE Window operator over one
    // data exchange (+ the presentation sort exchange)
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows <= 1, s"holt/ewma must share one Window op ($windows):\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"holt/ewma must reuse the key partitioning ($exchanges):\n$plan")
    assert(!plan.contains("ScalaUDF"))
  }

  test("regr_* desugar dedups the pair sums into ONE aggregation, one exchange") {
    val df = BoostQL.onTestdata(spark, sfDir)(
      "SELECT purchase.user, " +
        "regr_slope(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS sl, " +
        "regr_intercept(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS ic, " +
        "regr_r2(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS r2, " +
        "corr(CAST(purchase.event_id AS int), CAST(purchase * 100.0 AS int)) AS r " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // all four statistics read the same six structural sums: one
    // partial+final hash aggregate pair on one exchange, no join, no
    // second aggregation pass
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 2, s"regr sums must dedup into one aggregation ($aggs):\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"regr must plan one agg exchange + presentation sort ($exchanges):\n$plan")
    assert(!plan.contains("Join"), s"no join-back:\n$plan")
  }

  test("dialect approx_distinct plans partial+final KMV object aggregates, one exchange") {
    // the "shuffle carries sketches" claim as a plan shape: the map-side
    // pass must be partial_graft_kmv_sketch under ObjectHashAggregate
    // (k-capped task output), the final pass its merge — degrading to a
    // SortAggregate over raw values, or sprouting a distinct/expand
    // pre-shuffle, fails here before it surfaces as a bench mystery
    val df = SparkEntry.queries("boost_approx_distinct")(spark, sfDir)
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("ObjectHashAggregate"), s"no object agg in:\n$plan")
    assert(plan.contains("partial_graft_kmv_sketch"),
      s"partial (map-side) sketch pass missing:\n$plan")
    assert("graft_kmv_sketch".r.findAllIn(plan).size >= 2,
      s"final sketch merge pass missing:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"KMV aggregate degraded to SortAggregate:\n$plan")
    // boost_approx_distinct carries a count(DISTINCT) alongside (its
    // two-phase expansion owns a third exchange) — pin the sketch-only
    // exchange budget on a pure approx_distinct query: agg exchange +
    // presentation sort, nothing shuffling raw values
    val pure = planOf(BoostQL.onTestdata(spark, sfDir)(
      "SELECT purchase.user, approx_distinct(purchase.event_id) AS ad " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"))
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(pure).length
    assert(exchanges <= 2,
      s"approx_distinct alone should plan agg exchange + sort only ($exchanges):\n$pure")
    assert(pure.contains("partial_graft_kmv_sketch"),
      s"partial sketch pass missing in pure form:\n$pure")
  }

  test("arg_max plans partial+final aggregation, one exchange, no join-back") {
    // the "one pass, no join-back" claim as a plan shape: the struct
    // max/min must partial-aggregate MAP-SIDE (partial_max → exchange →
    // final max) like any min/max — a rank-window or self-join
    // formulation would show Window/Join nodes and a second exchange.
    // The aggregate node is SortAggregate, not HashAggregate: a struct
    // buffer is not UnsafeRow-mutable (same fallback as max(string)) —
    // the shuffle still carries ONE pair per (task, group), which is
    // the scale contract; the per-partition sort is the accepted cost
    val plan = planOf(BoostQL.onTestdata(spark, sfDir)(
      "SELECT purchase.user, arg_max(purchase.event_id, purchase) AS pk, " +
        "arg_min(purchase.event_id, purchase) AS lo " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Aggregate"), s"no aggregate in:\n$plan")
    assert("partial_(max|min)".r.findAllIn(plan).nonEmpty,
      s"map-side partial max/min missing:\n$plan")
    assert(!plan.contains("Join"), s"arg_max must not join back:\n$plan")
    assert(!plan.contains("Window"), s"arg_max must not rank-window:\n$plan")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"expected agg exchange + presentation sort, got $exchanges:\n$plan")
  }

  test("dialect approx_percentile plans partial+final sample aggregates, one exchange") {
    // the sampled-quantile sketch through the SQL front: map-side pass
    // must be partial_graft_kmv_sample (k-capped pair buffers — the
    // shuffle carries 256 pairs per group, never the group's rows),
    // final pass its merge; one agg exchange + the presentation sort
    val pure = planOf(BoostQL.onTestdata(spark, sfDir)(
      "SELECT purchase.user, " +
        "approx_percentile(CAST(purchase * 100.0 AS int), 0.5) AS ap " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"))
      .split("== Initial Plan ==")(0)
    assert(pure.contains("ObjectHashAggregate"), s"no object agg in:\n$pure")
    assert(pure.contains("partial_graft_kmv_sample"),
      s"partial (map-side) sample pass missing:\n$pure")
    assert("graft_kmv_sample".r.findAllIn(pure).size >= 2,
      s"final sample merge pass missing:\n$pure")
    assert(!pure.contains("SortAggregate"),
      s"sample aggregate degraded to SortAggregate:\n$pure")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(pure).length
    assert(exchanges <= 2,
      s"approx_percentile should plan agg exchange + sort only ($exchanges):\n$pure")
  }

  test("dialect two-level sketch rollup: partial sketches below, merge above, no explode") {
    // boost_sketch_merge: inner GROUP BY materializes per-day sketches
    // (partial graft_kmv_sketch), outer aggregate unions the sketch
    // column (graft_kmv_merge) — the 100 TB per-day-rollup pattern
    // through the dialect front door
    val df = SparkEntry.queries("boost_sketch_merge")(spark, sfDir)
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("partial_graft_kmv_sketch"),
      s"inner per-day sketch pass missing:\n$plan")
    assert(plan.contains("graft_kmv_merge"),
      s"outer sketch union missing:\n$plan")
    assert(!plan.contains("Explode") && !plan.contains("Generate"),
      s"sketch merge must not explode sketches into rows:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"sketch aggregates degraded to SortAggregate:\n$plan")
  }

  test("dd_minhash_lsh computes the signature pipeline once (exchange reuse)") {
    val plan = planOf(SparkEntry.queries("dd_minhash_lsh")(spark, sfDir))
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      plan.contains("TableCacheQueryStage"),
      s"signature exchange should be computed once and reused:\n$plan")
  }

  test("classifier scoring is a pure map: no exchange, no UDF, codegen'd") {
    import org.apache.spark.sql.functions.col
    val scored = graft.operators.TextAnalysisOps.classifierScore(
      Tables.documents(spark, sfDir), "doc_id", "text",
      Array.tabulate(256)(i => (i - 128) / 130.0), 0.1)
    // un-ordered scoring itself (the query entry adds a presentation
    // sort; the OPERATOR must stay narrow)
    val plan = planOf(scored.filter(col("keep")))
    assert(!plan.contains("Exchange"),
      s"classifier scoring must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"classifier scoring must not fall off codegen into UDFs:\n$plan")
    // the scan/project stages stay codegen'd (printed as `*(n)`); the
    // higher-order aggregate fold itself is CodegenFallback by Spark
    // design — still a narrow map
    assert(plan.contains("*("),
      s"classifier scoring should keep codegen stages:\n$plan")
  }

  test("semantic dedup: corpus assignment is narrow; shuffles only for block pairing") {
    // the full-corpus side of dd_semantic must contain exactly the
    // block-grid aggregation exchanges (groupBy (cid, blk) + final
    // distinct), never a corpus-wide repartition for assignment —
    // centroids ride the plan as literals
    // AQE's toString prints the initial plan after the final one —
    // count exchanges only in the final section
    val plan = planOf(SparkEntry.queries("dd_semantic")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.nonEmpty, "expected the block-grid exchanges")
    // current budget: block-grid aggregations on the two join branches,
    // the candidate-pair distinct, and the presentation sort (8 with
    // AQE's per-stage accounting). A new corpus-wide shuffle sneaking
    // into assignment pushes the count over and fails here.
    assert(exchanges.length <= 8,
      s"assignment should not add corpus shuffles (${exchanges.length} exchanges):\n$plan")
    // the only range exchange is the presentation ORDER BY
    assert("Exchange rangepartitioning".r.findAllIn(plan).length <= 1,
      s"corpus must never be range-partitioned during dedup:\n$plan")
  }

  test("approx_percentile_merge plans partial+final sample-merge object aggregates") {
    // the quantile-rollup twin of the KMV pin: the outer merge must be
    // an ObjectHashAggregate with a partial graft_kmv_sample_merge pass
    // (k pairs per task) and its final merge — the shuffle carries
    // sample sketches, never the sampled values row-by-row
    val df = SparkEntry.queries("boost_percentile_rollup")(spark, sfDir)
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("ObjectHashAggregate"), s"no object agg in:\n$plan")
    assert(plan.contains("partial_graft_kmv_sample_merge"),
      s"partial (map-side) sample-merge pass missing:\n$plan")
    assert("graft_kmv_sample_merge".r.findAllIn(plan).size >= 2,
      s"final sample-merge pass missing:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"sample aggregate degraded to SortAggregate:\n$plan")
  }

  test("FILL plans an equi spine join, never a cartesian/nested-loop") {
    // the dense-spine LEFT join must key on (dimension keys, bucket) —
    // a BroadcastNestedLoopJoin or CartesianProduct here would blow up
    // at scale exactly when the fill is most useful
    for (q <- Seq("boost_ts_fill_prev", "boost_ts_fill_linear",
        "boost_ts_fill_zero")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q spine join degenerated:\n$plan")
    }
  }

  test("segment aggregates (increase) share ONE exchange between window and agg") {
    // the lead() pre-pass partitions by the group keys and the hash
    // aggregate groups by the SAME keys — exactly one hashpartitioning
    // exchange on them; a second would mean the window and aggregate
    // stopped hashing on the same attributes
    val plan = planOf(SparkEntry.queries("boost_ts_increase")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val keyExchanges = "Exchange hashpartitioning\\(click_user"
      .r.findAllIn(plan).size
    assert(keyExchanges == 1,
      s"expected exactly one group-key exchange, got $keyExchanges:\n$plan")
    assert(plan.contains("Window"), s"no lead() window pass in:\n$plan")
  }

  test("quantified ALL/ANY joins the aggregate row, never the raw list") {
    // correlated ALL: the sub reduces to one aggregate row per
    // correlation key, so the anti join is KEY-EQUI (hashable) — a
    // per-value formulation would nested-loop the outer against the
    // whole list
    val corr = planOf(SparkEntry.queries("boost_all_corr")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(corr.contains("LeftAnti"), s"negated ALL must anti-join:\n$corr")
    assert(!corr.contains("CartesianProduct"),
      s"correlated ALL must stay key-equi:\n$corr")
    // the aggregate reduction is present: partial+final min/max + counts
    // below the join, bounded at one row per key
    assert(corr.contains("HashAggregate"),
      s"sub must reduce to aggregate rows:\n$corr")
    // uncorrelated: the one-row aggregate side broadcasts
    val un = planOf(SparkEntry.queries("boost_any_all")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(un.contains("LeftSemi") && un.contains("LeftAnti"),
      s"ANY semi + ALL anti expected:\n$un")
    assert(un.contains("Broadcast"),
      s"one-row aggregate side should broadcast:\n$un")
  }

  test("sliding bucket plans a map-side Generate, never a join") {
    // the width/slide expansion must be an explode (Generate) feeding
    // the hash aggregate — a windows-table join formulation would
    // shuffle the corpus against a spine instead of expanding in place
    val plan = planOf(SparkEntry.queries("boost_ts_sliding")(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Generate"), s"no map-side expansion in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("SortMergeJoin"),
      s"sliding expansion must not plan a join:\n$plan")
  }
}

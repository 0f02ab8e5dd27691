package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps
import graft.sources.TimeSeriesTable
import graft.streaming.StreamingOps
import graft.tables.Tables

/** Time-series operator tier over the events family: time-range scans
  * (S2), ordered merge (S3), series alignment (J4, bucketed — the
  * non-vacuous form of the reference's positional zip), as-of join,
  * tumbling windows, delta/rate, LOCF resample.
  *
  * Timestamps never appear raw in oracled outputs — they are compared as
  * `epoch microseconds` bigints (or DATEs) to sidestep parquet
  * nanos-vs-micros unit skew between Spark and DuckDB.
  */
object TimeSeriesQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  def queries: Map[String, Q] = Map(
    "ts_time_range_scan" -> ((s, d) =>
      ev(s, d)
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-12 00:00:00")))
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")),

    "ts_ordered_merge" -> ((s, d) =>
      // the reference's k-way shard merge (boostseriesiterator.go:270-343)
      // is just a sort here; shuffle does the merge
      ev(s, d)
        .orderBy(col("ts").asc, col("event_id").asc)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))),

    "ts_align_bucket" -> ((s, d) => {
      // J4 series alignment, bucketed to the hour: conditional aggregation
      // = single shuffle, no N-way self-join
      def su(t: String) = sum(when(col("event_type") === t,
        col("value").cast("decimal(18,2)"))).cast("double")
      def n(t: String) = count(when(col("event_type") === t, lit(1)))
      ev(s, d)
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
        .agg(su("click").as("click_sum"), n("click").as("click_n"),
          su("view").as("view_sum"), n("view").as("view_n"))
        .orderBy("bucket_us")
    }),

    "ts_asof_join" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      TimeSeriesOps.asofJoin(purchases, clicks,
        by = Seq("user_id"), tsCol = "ts", rightCols = Seq("value"), prefix = "click_")
        .select(col("event_id"), col("value"), col("click_value"))
        .orderBy("event_id")
    }),

    "ts_delta" -> ((s, d) =>
      TimeSeriesOps.delta(ev(s, d), by = Seq("event_type"), tsCol = "ts",
        valCol = "value", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("event_type"), col("delta"))
        .orderBy("event_id")),

    "ts_rate" -> ((s, d) =>
      TimeSeriesOps.rate(ev(s, d), by = Seq("event_type"), tsCol = "ts",
        valCol = "value", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("rate"))
        .orderBy("event_id")),

    "ts_zscore" -> ((s, d) =>
      TimeSeriesOps.rollingZScore(ev(s, d), by = Seq("event_type"), tsCol = "ts",
        valCol = "value", tieBreak = Seq("event_id"), window = 20)
        .select(col("event_id"), col("zscore"))
        .orderBy("event_id")),

    "ts_mad_outlier" -> ((s, d) =>
      // robust anomaly tier: |v - median| > 3 * MAD per series; rounded
      // to 6 decimals so the doubles survive the cross-engine hash
      TimeSeriesOps.madOutliers(ev(s, d), by = Seq("event_type"),
        valCol = "value", k = 3.0)
        .select(col("event_type"), col("event_id"),
          round(col("dev"), 6).as("dev"), round(col("mad"), 6).as("mad"))
        .orderBy("event_type", "event_id")),

    "ts_mad_outlier_bucketed" -> ((s, d) =>
      // the aggregate-then-broadcast hot-key escape: medians as
      // partial-agg'd groupBy aggregates pinned back by broadcast join
      // (no row ever shuffles on the key) — bit-identical to the
      // window form, so it shares ts_mad_outlier's oracle replay
      TimeSeriesOps.madOutliersAgg(ev(s, d), by = Seq("event_type"),
        valCol = "value", k = 3.0)
        .select(col("event_type"), col("event_id"),
          round(col("dev"), 6).as("dev"), round(col("mad"), 6).as("mad"))
        .orderBy("event_type", "event_id")),

    "ts_zscore_bucketed" -> ((s, d) =>
      // the row-bucket + boundary-carry hot-key escape for trailing-ROWS
      // windows: identical frames evaluate per (key, row-bucket), so the
      // output is bit-identical to ts_zscore and shares its oracle
      TimeSeriesOps.rollingZScoreBucketed(ev(s, d), by = Seq("event_type"),
        tsCol = "ts", valCol = "value", tieBreak = Seq("event_id"),
        window = 20, bucketSeconds = 86400L)
        .select(col("event_id"), col("zscore"))
        .orderBy("event_id")),

    "ts_tumbling_window" -> ((s, d) =>
      // tumbling 6-hour windows via window() — the declarative form of the
      // reference's executionWindowSize loop (executor.go:239-252)
      ev(s, d)
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n"), col("sum_value"), col("min_value"),
          col("max_value"))
        .orderBy("w_start_us", "event_type")),

    "ts_resample_locf" -> ((s, d) =>
      TimeSeriesOps.resampleDailyLocf(ev(s, d), keyCol = "event_type",
        tsCol = "ts", valCol = "value", orderCol = "event_id",
        gridStart = "2024-01-01", gridEnd = "2024-01-30")
        .select(col("event_type"), col("day"), col("locf_val"))
        .orderBy("event_type", "day")),

    "ts_window_stats" -> ((s, d) =>
      // the README's "rich set of time-series functions" aggregate tier:
      // dispersion + exact interpolated percentiles per series per day
      ev(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          round(stddev_samp(col("value")), 6).as("sd"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))
        .orderBy("event_type", "day")),

    // M4 downsampling: ≤4 points per (series, 6h bucket) — the
    // LTTB chart downsampling, parallel neighbor-average variant: one
    // point per (series, day) maximizing the triangle with the
    // neighboring buckets' average points (TimeSeriesOps.lttbDownsample)
    "ts_lttb_downsample" -> ((s, d) =>
      TimeSeriesOps.lttbDownsample(ev(s, d), Seq("event_type"), "ts", "value",
          bucketSeconds = 86400L)
        .select(col("event_type"), col("bucket"),
          unix_micros(col("ts")).as("t_us"), col("value"))
        .orderBy("event_type", "bucket", "t_us", "value")),

    // error-free min/max-line chart reduction (TimeSeriesOps.m4Downsample)
    "ts_m4_downsample" -> ((s, d) =>
      TimeSeriesOps.m4Downsample(ev(s, d), Seq("event_type"), "ts", "value",
          Seq("event_id"), bucketSeconds = 21600L)
        .select(col("event_type"), col("bucket"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("event_type", "bucket", "ts_us", "value")),

    "ts_sessionize" -> ((s, d) =>
      TimeSeriesOps.sessionize(ev(s, d), by = Seq("user_id"), tsCol = "ts",
        tieBreak = Seq("event_id"), gapSeconds = 6 * 3600)
        .select(col("event_id"), col("session_id"))
        .orderBy("event_id")),

    "ts_interp_linear" -> ((s, d) =>
      TimeSeriesOps.resampleDailyLinear(ev(s, d), keyCol = "event_type",
        tsCol = "ts", valCol = "value", orderCol = "event_id",
        gridStart = "2024-01-01", gridEnd = "2024-01-30")
        .select(col("event_type"), col("day"), round(col("interp_val"), 6).as("interp_val"))
        .orderBy("event_type", "day")),

    "ts_tag_groupby" -> ((s, d) =>
      // aggregate across SERIES by a series-level tag — non-vacuous
      // because the env tag partitions the families' series into two sets
      TimeSeriesTable.fromEvents(ev(s, d))
        .groupBy(element_at(col("tags"), "env").as("env"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("env")),

    "ts_tag_fetch" -> ((s, d) =>
      // FetchTagged analogue: conjunctive tag matchers select the series
      // set (here env=prod ∧ dc=dc2 ⇒ exactly the click series)
      TimeSeriesTable.fetchTagged(
          TimeSeriesTable.fromEvents(ev(s, d)),
          Map("env" -> "prod", "dc" -> "dc2"))
        .groupBy("series")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("series")),

    // time-weighted average per (series, user): integer-cents values
    // keep the trapezoid numerator an exact long sum, one double
    // division at the end — deterministic under any partitioning
    "ts_twa" -> ((s, d) =>
      TimeSeriesOps.timeWeightedAvg(
        ev(s, d).withColumn("cents",
          col("value").multiply(100.0).cast("long")),
        by = Seq("event_type", "user_id"), tsCol = "ts", valCol = "cents")
        .filter(col("twa").isNotNull)
        .select(col("event_type"), col("user_id"),
          round(col("twa"), 6).as("twa_cents"))
        .orderBy("event_type", "user_id")),

    "ts_twa_bucketed" -> ((s, d) =>
      // the two-phase bucket-then-stitch form (daily buckets): windows
      // partition by (key, bucket) so a hot key fans out over its
      // buckets — over integral cents it EQUALS the single-pass twa
      // bit for bit, so it shares ts_twa's oracle replay
      TimeSeriesOps.timeWeightedAvgBucketed(
        ev(s, d).withColumn("cents",
          col("value").multiply(100.0).cast("long")),
        by = Seq("event_type", "user_id"), tsCol = "ts", valCol = "cents",
        bucketSeconds = 86400L)
        .filter(col("twa").isNotNull)
        .select(col("event_type"), col("user_id"),
          round(col("twa"), 6).as("twa_cents"))
        .orderBy("event_type", "user_id")),

    // bucket-then-stitch ewma — the hot-series mitigation for the
    // sequential smoothing recurrence: in-bucket scans keyed
    // (user, day) fan a hot key out; per-bucket affine summaries chain
    // in one O(#buckets) pass. alpha = 0.5 makes every power/scale
    // EXACT (powers of two), so the oracle replays the decomposition
    // bit for bit — proving the stitch algebra cross-engine.
    "ts_ewma_bucketed" -> ((s, d) =>
      TimeSeriesOps.ewmaBucketed(
        ev(s, d).filter(col("event_type") === "click" &&
          col("value").isNotNull),
        keyCol = "user_id", tsCol = "ts", valCol = "value",
        tieBreak = Seq("event_id"), alpha = 0.5, bucketSeconds = 86400L)
        .select(col("event_id"), col("ewma"))
        .orderBy("event_id")),

    // continuous-aggregate materialization roundtrip: ingest the events
    // family, roll it up into daily avg/min/max/count series
    // ({series}:{agg}_1d), reopen the ROLLUP FAMILY through the normal
    // read path and compare against DuckDB aggregating the raw events —
    // proves the materialize→write→reread cycle end to end
    "ts_rollup" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_rollup")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      val fam = TimeSeriesTable.downsample(s, root, "dom", "events",
        bucketMicros = 86400L * 1000000L, label = "1d")
      TimeSeriesTable.open(s, root, "dom", fam)
        .select(col("series"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .orderBy("series", "ts_us")
    }),

    // INCREMENTAL rollup maintenance: materialize the 1-day rollup over
    // a partial corpus, append the rest, refresh — only the appended
    // dates re-aggregate (asserted), a third refresh is a metadata-only
    // no-op, and the final family hash-matches the from-scratch rollup
    // oracle. The refresh verb is what keeps dashboard rollups current
    // under daily ingest without rescanning history.
    "ts_refresh_rollup" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_refresh")
      val fam = TimeSeriesTable.fromEventsFanned(Tables.events(s, d))
      val cut = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
      TimeSeriesTable.append(fam.filter(col("ts") < lit(cut)),
        root, "dom", "events")
      val day = 86400L * 1000000L
      val (r1, _) = TimeSeriesTable.refreshDownsample(
        s, root, "dom", "events", day, "1d")
      require(r1.nonEmpty, "initial refresh materializes every date")
      TimeSeriesTable.append(fam.filter(col("ts") >= lit(cut)),
        root, "dom", "events")
      // exactness, not a split-ratio assumption (which a replicated
      // scale corpus breaks): refreshed == appended dates, precisely
      val appended = fam.filter(col("ts") >= lit(cut))
        .select(to_date(col("ts")).cast("string")).distinct()
        .collect().map("dt=" + _.getString(0)).toSet
      val (r2, rm2) = TimeSeriesTable.refreshDownsample(
        s, root, "dom", "events", day, "1d")
      require(r2.toSet == appended,
        s"refresh must touch exactly the appended dates " +
          s"(${r2.size} vs ${appended.size})")
      require(rm2.isEmpty, "nothing expired")
      val (r3, rm3) = TimeSeriesTable.refreshDownsample(
        s, root, "dom", "events", day, "1d")
      require(r3.isEmpty && rm3.isEmpty, "no-op refresh must touch nothing")
      TimeSeriesTable.open(s, root, "dom", "events_1d")
        .select(col("series"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .orderBy("series", "ts_us")
    }),

    // the MUTATE half of rollup maintenance, closing the loop the
    // append test opens: a row-level takedown DELETE swaps some date
    // partitions, and the next REFRESH heals the derived rollup by
    // re-aggregating EXACTLY the dates the delete rewrote (asserted
    // against the delete's own partition list — signature-driven, no
    // changelog to maintain or trust). The oracle aggregates the
    // SURVIVING rows from scratch, so the healed rollup hash-matching
    // it proves the incremental repair equals a full rebuild.
    "ts_refresh_after_delete" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_refreshdel")
      val fam = TimeSeriesTable.fromEventsFanned(Tables.events(s, d))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val day = 86400L * 1000000L
      val (r1, _) = TimeSeriesTable.refreshDownsample(
        s, root, "dom", "events", day, "1d")
      require(r1.nonEmpty, "initial refresh materializes every date")
      val parts = graft.boostql.BoostQL.sqlDelete(
        "DELETE FROM dom.events WHERE purchase > 250.0", s, root)
      require(parts.nonEmpty, "the takedown must rewrite some partition")
      val (r2, rm2) = TimeSeriesTable.refreshDownsample(
        s, root, "dom", "events", day, "1d")
      require((r2 ++ rm2).toSet == parts.toSet,
        s"refresh must re-aggregate exactly the rewritten dates " +
          s"(${r2.size}+${rm2.size} vs ${parts.size})")
      TimeSeriesTable.open(s, root, "dom", "events_1d")
        .select(col("series"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .orderBy("series", "ts_us")
    }),

    // ordered funnel over the event stream: signup → view → click →
    // purchase, each step strictly after the previous, the whole
    // journey within 14 days of signup. One exchange on the user key
    // (stacked dependent min-CASE windows), exact counts.
    "ts_funnel" -> ((s, d) =>
      TimeSeriesOps.funnel(ev(s, d), userCol = "user_id",
        eventCol = "event_type", tsCol = "ts",
        steps = Seq("signup", "view", "click", "purchase"),
        withinMicros = Some(14L * 86400L * 1000000L))),

    // day-N retention triangle: cohort = first-seen day per user,
    // users counted on each later active day (offsets 0..30)
    "ts_retention" -> ((s, d) =>
      TimeSeriesOps.retentionCohorts(ev(s, d), userCol = "user_id",
        tsCol = "ts", maxOffsetDays = 30)),

    "ts_ewma" -> ((s, d) => {
      // bounded to the first 50 points per series so the oracle's
      // closed-form power() formulation stays in range; the operator
      // itself streams unbounded series (sorted-partition recurrence)
      val e = ev(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("ts").asc, col("event_id").asc)
      val top = e.withColumn("rn", row_number().over(w)).filter(col("rn") <= 50)
      TimeSeriesOps.ewma(top, keyCol = "event_type", tsCol = "ts",
        valCol = "value", tieBreak = Seq("event_id"), alpha = 0.1)
        .select(col("event_type"), col("event_id"), round(col("ewma"), 6).as("ewma"))
        .orderBy("event_type", "event_id")
    })
  )

  def oracleSql: Map[String, String] = {
    val m = Map(
    "ts_time_range_scan" ->
      """SELECT event_id, event_type, value, epoch_us(ts) AS ts_us FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "ts_ordered_merge" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, value FROM events
        |ORDER BY ts, event_id""".stripMargin,

    "ts_align_bucket" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click_sum,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view_sum,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n
        |FROM events GROUP BY 1 ORDER BY bucket_us""".stripMargin,

    "ts_asof_join" ->
      """SELECT l.event_id, l.value, r.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "ts_delta" ->
      """SELECT event_id, event_type,
        |  value - LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS delta
        |FROM events ORDER BY event_id""".stripMargin,

    "ts_rate" ->
      """SELECT event_id,
        |  CASE WHEN dt_us > 0 THEN dv / (CAST(dt_us AS DOUBLE) / 1e6) END AS rate
        |FROM (
        |  SELECT event_id,
        |    value - LAG(value) OVER w AS dv,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS dt_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
        |ORDER BY event_id""".stripMargin,

    "ts_tumbling_window" ->
      """SELECT epoch_us(w_start) AS w_start_us, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM (SELECT *, time_bucket(INTERVAL '6 hours', ts) AS w_start FROM events)
        |GROUP BY w_start, event_type ORDER BY w_start_us, event_type""".stripMargin,

    "ts_resample_locf" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         max_by(value, event_id) AS day_val
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT CAST(UNNEST(generate_series(
        |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day) d)
        |SELECT g.event_type, g.day,
        |  LAST_VALUE(dv.day_val IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_val
        |FROM grid g LEFT JOIN daily dv
        |  ON g.event_type = dv.event_type AND g.day = dv.day
        |ORDER BY g.event_type, g.day""".stripMargin,

    "ts_zscore" ->
      """SELECT event_id,
        |  CASE WHEN sd > 0 THEN round((value - mu) / sd, 6) END AS zscore
        |FROM (
        |  SELECT event_id, value,
        |    AVG(value) OVER w AS mu,
        |    STDDEV_SAMP(value) OVER w AS sd
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |ORDER BY event_id""".stripMargin,

    "ts_mad_outlier" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT e.event_type, e.event_id, abs(e.value - m.med) AS dev
        |  FROM events e JOIN m USING (event_type)
        |), md AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, d.event_id,
        |  round(d.dev, 6) AS dev, round(md.mad, 6) AS mad
        |FROM d JOIN md USING (event_type)
        |WHERE d.dev > 3.0 * md.mad
        |ORDER BY d.event_type, d.event_id""".stripMargin,

    "ts_window_stats" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  round(stddev_samp(value), 6) AS sd,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    // exact replay of the parallel-LTTB arithmetic: bucket averages
    // from exact HUGEINT/decimal sums (identical doubles), lag/lead
    // over present buckets, the same triangle-area expression, and the
    // engine's total tie orders (area DESC, t ASC, v DESC for middle
    // buckets; endpoint picks in the first/last bucket)
    "ts_lttb_downsample" ->
      """WITH p AS (
        |  SELECT event_type AS k, epoch_us(ts) AS t, value AS v
        |  FROM events WHERE value IS NOT NULL
        |), a AS (
        |  SELECT k, t // 86400000000 AS b,
        |    CAST(SUM(CAST(t AS HUGEINT)) AS DOUBLE) / COUNT(*) AS avg_t,
        |    CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v
        |  FROM p GROUP BY 1, 2
        |), w AS (
        |  SELECT k, b,
        |    lag(avg_t) OVER win AS pt, lag(avg_v) OVER win AS pv,
        |    lead(avg_t) OVER win AS nt, lead(avg_v) OVER win AS nv,
        |    min(b) OVER (PARTITION BY k) AS bmin,
        |    max(b) OVER (PARTITION BY k) AS bmax
        |  FROM a WINDOW win AS (PARTITION BY k ORDER BY b)
        |), j AS (
        |  SELECT p.k, p.t, p.v, w.b, w.bmin, w.bmax,
        |    abs((w.pt - w.nt) * (p.v - w.pv)
        |      - (w.pt - p.t) * (w.nv - w.pv)) AS area
        |  FROM p JOIN w ON p.k = w.k AND p.t // 86400000000 = w.b
        |), picks AS (
        |  SELECT k, b,
        |    CASE WHEN b = bmin THEN (list(t ORDER BY t, v))[1]
        |         WHEN b = bmax THEN (list(t ORDER BY t DESC, v DESC))[1]
        |         ELSE (list(t ORDER BY area DESC, t, v DESC))[1] END AS t,
        |    CASE WHEN b = bmin THEN (list(v ORDER BY t, v))[1]
        |         WHEN b = bmax THEN (list(v ORDER BY t DESC, v DESC))[1]
        |         ELSE (list(v ORDER BY area DESC, t, v DESC))[1] END AS v
        |  FROM j GROUP BY k, b, bmin, bmax
        |)
        |SELECT k AS event_type, b AS bucket, t AS t_us, v AS value
        |FROM picks ORDER BY event_type, bucket, t_us, value""".stripMargin,

    "ts_m4_downsample" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, value, event_id,
        |    epoch_us(ts) // 21600000000 AS bucket
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts_us ASC, event_id ASC) AS f_rk,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts_us DESC, event_id DESC) AS l_rk,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY value ASC, ts_us ASC, event_id ASC) AS mn_rk,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY value DESC, ts_us DESC, event_id DESC) AS mx_rk
        |  FROM b)
        |SELECT DISTINCT event_type, bucket, ts_us, value
        |FROM r WHERE f_rk = 1 OR l_rk = 1 OR mn_rk = 1 OR mx_rk = 1
        |ORDER BY event_type, bucket, ts_us, value""".stripMargin,

    "ts_sessionize" ->
      """SELECT event_id,
        |  CAST(SUM(CASE WHEN prev_us IS NULL THEN 0
        |           WHEN epoch_us(ts) - prev_us > 21600000000 THEN 1
        |           ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (SELECT *, LAG(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "ts_interp_linear" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         max_by(value, event_id) AS day_val
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT CAST(UNNEST(generate_series(
        |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day) d),
        |sparse AS (
        |  SELECT g.event_type, g.day,
        |         date_diff('day', DATE '2024-01-01', g.day) AS dn, dv.day_val
        |  FROM grid g LEFT JOIN daily dv
        |    ON g.event_type = dv.event_type AND g.day = dv.day),
        |ends AS (
        |  SELECT *,
        |    LAST_VALUE(day_val IGNORE NULLS) OVER wa AS pv,
        |    LAST_VALUE(CASE WHEN day_val IS NOT NULL THEN dn END IGNORE NULLS) OVER wa AS pd,
        |    LAST_VALUE(day_val IGNORE NULLS) OVER wd AS nv,
        |    LAST_VALUE(CASE WHEN day_val IS NOT NULL THEN dn END IGNORE NULLS) OVER wd AS nd
        |  FROM sparse
        |  WINDOW wa AS (PARTITION BY event_type ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wd AS (PARTITION BY event_type ORDER BY day DESC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  round(CASE WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             WHEN nd = pd THEN pv
        |             ELSE pv + (nv - pv) * (dn - pd)::DOUBLE / (nd - pd)
        |        END, 6) AS interp_val
        |FROM ends ORDER BY event_type, day""".stripMargin,

    "ts_tag_groupby" ->
      """SELECT CASE WHEN event_type IN ('click', 'view') THEN 'prod'
        |            ELSE 'test' END AS env,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY env""".stripMargin,

    "ts_tag_fetch" ->
      """SELECT event_type AS series, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE (CASE WHEN event_type IN ('click', 'view') THEN 'prod'
        |            ELSE 'test' END) = 'prod'
        |  AND ('dc' || CAST(length(event_type) % 3 AS VARCHAR)) = 'dc2'
        |GROUP BY 1 ORDER BY series""".stripMargin,

    "ts_twa" ->
      """WITH t AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS us,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS c
        |  FROM events),
        |s AS (
        |  SELECT event_type, user_id, us,
        |    (c + LEAD(c) OVER w) * (LEAD(us) OVER w - us) AS seg2
        |  FROM t
        |  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY us)),
        |g AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(seg2) AS DOUBLE) AS num2,
        |    CAST(MAX(us) - MIN(us) AS DOUBLE) AS span
        |  FROM s GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, round(num2 / 2.0 / span, 6) AS twa_cents
        |  FROM g)
        |SELECT event_type, user_id, twa_cents FROM r
        |WHERE twa_cents IS NOT NULL
        |ORDER BY event_type, user_id""".stripMargin,

    // the identical two-phase decomposition replayed: in-bucket
    // recursion per (user, day), per-bucket affine chain per user,
    // per-row finish z + 0.5^rn (y0 − x1) — alpha = 0.5 keeps every
    // power and scale exact, so each step is the same IEEE sequence
    "ts_ewma_bucketed" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id, user_id, value AS x, ts,
        |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bk,
        |    row_number() OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000) AS nb,
        |    first_value(value) OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000
        |      ORDER BY ts, event_id) AS x1
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |), z AS (
        |  SELECT event_id, user_id, bk, rn, nb, x1, x AS z
        |  FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.event_id, p.user_id, p.bk, p.rn, p.nb, p.x1,
        |    0.5 * p.x + 0.5 * z.z
        |  FROM pts p JOIN z
        |    ON p.user_id = z.user_id AND p.bk = z.bk AND p.rn = z.rn + 1
        |), sm AS (
        |  SELECT user_id, bk, power(0.5, nb) AS a,
        |    z - power(0.5, nb) * x1 AS b, z AS s,
        |    row_number() OVER (PARTITION BY user_id ORDER BY bk) AS bi
        |  FROM z WHERE rn = nb
        |), ch AS (
        |  SELECT user_id, bk, bi, s AS yend FROM sm WHERE bi = 1
        |  UNION ALL
        |  SELECT m.user_id, m.bk, m.bi, m.a * ch.yend + m.b
        |  FROM sm m JOIN ch
        |    ON m.user_id = ch.user_id AND m.bi = ch.bi + 1
        |), y0 AS (
        |  SELECT user_id, bk,
        |    lag(yend) OVER (PARTITION BY user_id ORDER BY bk) AS y0
        |  FROM ch)
        |SELECT z.event_id,
        |  CASE WHEN y0.y0 IS NULL THEN z.z
        |    ELSE z.z + power(0.5, z.rn) * (y0.y0 - z.x1) END AS ewma
        |FROM z JOIN y0 ON z.user_id = y0.user_id AND z.bk = y0.bk
        |ORDER BY z.event_id""".stripMargin,

    // the same daily rollup from the raw events: decimal-exact avg
    // sums divided once in doubles, integer epoch bucketing, the
    // identical {series}:{agg}_1d naming
    "ts_rollup" ->
      """WITH b AS (
        |  SELECT event_type AS series,
        |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bus,
        |    value
        |  FROM events),
        |g AS (
        |  SELECT series, bus,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
        |      / CAST(COUNT(value) AS DOUBLE) AS av,
        |    MIN(value) AS mn, MAX(value) AS mx,
        |    CAST(COUNT(value) AS DOUBLE) AS n
        |  FROM b GROUP BY series, bus)
        |SELECT series || ':avg_1d' AS series, bus AS ts_us, av AS value FROM g
        |UNION ALL
        |SELECT series || ':min_1d', bus, mn FROM g
        |UNION ALL
        |SELECT series || ':max_1d', bus, mx FROM g
        |UNION ALL
        |SELECT series || ':count_1d', bus, n FROM g
        |ORDER BY series, ts_us""".stripMargin,

    // the delete-healed rollup must equal aggregating the SURVIVORS
    // from scratch — the ts_rollup replay over the takedown's complement
    "ts_refresh_after_delete" ->
      """WITH b AS (
        |  SELECT event_type AS series,
        |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bus,
        |    value
        |  FROM events
        |  WHERE NOT (event_type = 'purchase' AND value > 250.0)),
        |g AS (
        |  SELECT series, bus,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
        |      / CAST(COUNT(value) AS DOUBLE) AS av,
        |    MIN(value) AS mn, MAX(value) AS mx,
        |    CAST(COUNT(value) AS DOUBLE) AS n
        |  FROM b GROUP BY series, bus)
        |SELECT series || ':avg_1d' AS series, bus AS ts_us, av AS value FROM g
        |UNION ALL
        |SELECT series || ':min_1d', bus, mn FROM g
        |UNION ALL
        |SELECT series || ':max_1d', bus, mx FROM g
        |UNION ALL
        |SELECT series || ':count_1d', bus, n FROM g
        |ORDER BY series, ts_us""".stripMargin,

    // the incrementally-maintained rollup must equal the from-scratch
    // one — the oracle is the SAME full-corpus replay as ts_rollup
    "ts_refresh_rollup" ->
      """WITH b AS (
        |  SELECT event_type AS series,
        |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bus,
        |    value
        |  FROM events),
        |g AS (
        |  SELECT series, bus,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
        |      / CAST(COUNT(value) AS DOUBLE) AS av,
        |    MIN(value) AS mn, MAX(value) AS mx,
        |    CAST(COUNT(value) AS DOUBLE) AS n
        |  FROM b GROUP BY series, bus)
        |SELECT series || ':avg_1d' AS series, bus AS ts_us, av AS value FROM g
        |UNION ALL
        |SELECT series || ':min_1d', bus, mn FROM g
        |UNION ALL
        |SELECT series || ':max_1d', bus, mx FROM g
        |UNION ALL
        |SELECT series || ':count_1d', bus, n FROM g
        |ORDER BY series, ts_us""".stripMargin,

    // the same stacked dependent min-CASE windows, per-user reduction,
    // per-step counts — timestamps only compared, never emitted
    "ts_funnel" ->
      """WITH w0 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER (PARTITION BY user_id) AS s0
        |  FROM events),
        |w1 AS (SELECT *,
        |    min(CASE WHEN event_type = 'view' AND ts > s0
        |        AND epoch_us(ts) <= epoch_us(s0) + 1209600000000 THEN ts END)
        |      OVER (PARTITION BY user_id) AS s1 FROM w0),
        |w2 AS (SELECT *,
        |    min(CASE WHEN event_type = 'click' AND ts > s1
        |        AND epoch_us(ts) <= epoch_us(s0) + 1209600000000 THEN ts END)
        |      OVER (PARTITION BY user_id) AS s2 FROM w1),
        |w3 AS (SELECT *,
        |    min(CASE WHEN event_type = 'purchase' AND ts > s2
        |        AND epoch_us(ts) <= epoch_us(s0) + 1209600000000 THEN ts END)
        |      OVER (PARTITION BY user_id) AS s3 FROM w2),
        |u AS (SELECT user_id, max(s0) AS s0, max(s1) AS s1,
        |    max(s2) AS s2, max(s3) AS s3 FROM w3 GROUP BY user_id)
        |SELECT 0 AS step_index, 'signup' AS step, count(s0) AS users FROM u
        |UNION ALL SELECT 1, 'view', count(s1) FROM u
        |UNION ALL SELECT 2, 'click', count(s2) FROM u
        |UNION ALL SELECT 3, 'purchase', count(s3) FROM u
        |ORDER BY step_index""".stripMargin,

    "ts_retention" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort_date FROM d)
        |SELECT cohort_date, CAST(day - cohort_date AS INTEGER) AS day_offset,
        |  count(DISTINCT user_id) AS users
        |FROM f WHERE day - cohort_date <= 30
        |GROUP BY cohort_date, day_offset
        |ORDER BY cohort_date, day_offset""".stripMargin,

    "ts_ewma" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events),
        |top AS (SELECT * FROM ranked WHERE rn <= 50),
        |t AS (SELECT *,
        |    SUM(value * power(0.9, -rn)) OVER (
        |      PARTITION BY event_type ORDER BY rn) AS ti,
        |    FIRST_VALUE(value) OVER (PARTITION BY event_type ORDER BY rn) AS x1
        |  FROM top)
        |SELECT event_type, event_id,
        |  round(power(0.9, rn - 1) * x1 + 0.1 * power(0.9, rn) * (ti - x1 / 0.9), 6) AS ewma
        |FROM t ORDER BY event_type, event_id""".stripMargin
    )
    // the bucketed two-phase twa equals the single-pass form bit for
    // bit over integral cents — same oracle replay; the mad aggregate
    // and zscore row-bucket escapes are bit-identical to their window
    // forms by construction (same Percentile count-map / same frame
    // rows in the same order), so they share those oracles too
    m + ("ts_twa_bucketed" -> m("ts_twa")) +
      ("ts_mad_outlier_bucketed" -> m("ts_mad_outlier")) +
      ("ts_zscore_bucketed" -> m("ts_zscore"))
  }
}

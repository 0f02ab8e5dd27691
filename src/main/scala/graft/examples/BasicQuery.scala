package graft.examples

import graft.GraftSession
import graft.boostql.BoostQL

/** End-to-end BoostQL demo — the analogue of the reference's
  * examples/basic_client (main.go:104-253): open a family, run dialect
  * queries, print results. Run:
  * `sbt "runMain graft.examples.BasicQuery /root/testdata/sf0.001"`.
  */
object BasicQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder(4).appName("graft-basic-query").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = BoostQL.onTestdata(spark, sfDir) _

    // ad-hoc mode: second arg is a BoostQL query to run and show
    if (args.length > 1) {
      run(args(1)).show(20, truncate = false)
      spark.stop()
      return
    }

    println("== flagship: SELECT click.user, click FROM dom.events WHERE click < 100.0")
    run("SELECT click.user, click FROM dom.events WHERE click < 100.0").show(5)

    println("== multi-series align (exact-ts equi-join of click & view)")
    run("SELECT click, view FROM dom.events WHERE click > 0.0").show(5)

    println("== aggregate tier the reference only declared (GROUP BY/HAVING/ORDER BY/LIMIT)")
    run("SELECT purchase.user, count(*), avg(purchase) FROM dom.events " +
      "GROUP BY purchase.user HAVING count(*) > 2 " +
      "ORDER BY count(*) DESC, purchase.user LIMIT 5").show()

    println("== alias-qualified sugar + AND/OR")
    run("SELECT e.signup.user, signup FROM dom.events e " +
      "WHERE (signup >= 50.0 AND signup <= 200.0) OR signup.user = '7'").show(5)

    println("== executed JOIN (the reference parses this but never runs it)")
    run("SELECT a.click.user, count(*) FROM dom.events AS a " +
      "JOIN dom.events AS b ON a.click.user = b.view.user " +
      "GROUP BY a.click.user ORDER BY count(*) DESC LIMIT 5").show()

    println("== conditional aggregation over CASE + HAVING alias")
    run("SELECT purchase.user, " +
      "sum(CASE WHEN purchase > 200.0 THEN 1 ELSE 0 END) AS n_high " +
      "FROM dom.events GROUP BY purchase.user HAVING n_high > 0 " +
      "ORDER BY n_high DESC, purchase.user LIMIT 5").show()

    println("== correlated NOT EXISTS (semi/anti-join compilation)")
    run("SELECT purchase.event_id, purchase FROM dom.events AS a " +
      "WHERE NOT EXISTS (SELECT b.error FROM dom.events AS b " +
      "WHERE b.error.user = a.purchase.user AND b.error > 150.0) " +
      "ORDER BY purchase DESC LIMIT 5").show()

    println("== scalar subquery threshold + moving window frame")
    run("SELECT purchase.event_id, purchase, " +
      "avg(purchase) OVER (PARTITION BY purchase.user ORDER BY ts " +
      "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ma4 " +
      "FROM dom.events " +
      "WHERE purchase > (SELECT avg(purchase) FROM dom.events) " +
      "ORDER BY purchase DESC LIMIT 5").show()

    println("== set operations with compound paging")
    run("SELECT click.event_id, click FROM dom.events WHERE click > 240.0 " +
      "UNION ALL SELECT view.event_id, view FROM dom.events WHERE view > 240.0 " +
      "ORDER BY 2 DESC LIMIT 5").show()

    println("== time-series SQL front: bucket / delta / rate / locf")
    run("SELECT CAST(bucket(ts, '1 day') AS int) AS day, count(click) AS n, " +
      "min(click) AS lo, max(click) AS hi FROM dom.events " +
      "GROUP BY CAST(bucket(ts, '1 day') AS int) ORDER BY day LIMIT 5").show()
    run("SELECT click.event_id, click, delta(click) AS d, rate(click) AS r, " +
      "locf(CASE WHEN click > 100.0 THEN click END) AS filled " +
      "FROM dom.events ORDER BY click.event_id LIMIT 5").show()

    println("== smoothing / standardization / gap fill: ewma, zscore, interp")
    run("SELECT click.event_id, click, " +
      "ewma(click, 0.3) OVER (PARTITION BY click.user) AS smoothed, " +
      "zscore(click) OVER (PARTITION BY click.user) AS z, " +
      "interp(CASE WHEN click > 100.0 THEN click END) AS filled " +
      "FROM dom.events ORDER BY click.event_id LIMIT 5").show()

    println("== RANGE interval frame: trailing-2-day moving sum per user")
    run("SELECT purchase.event_id, purchase, " +
      "sum(purchase) OVER (PARTITION BY purchase.user ORDER BY ts " +
      "RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW) AS sum_2d " +
      "FROM dom.events ORDER BY purchase.event_id LIMIT 5").show()

    println("== correlated scalar subqueries (decorrelated to groupBy + left join)")
    run("SELECT a.purchase.event_id, a.purchase, " +
      "(SELECT count(b.click) FROM dom.events AS b " +
      "WHERE b.click.user = a.purchase.user) AS user_clicks " +
      "FROM dom.events AS a " +
      "WHERE a.purchase < (SELECT max(c.error) FROM dom.events AS c " +
      "WHERE c.error.user = a.purchase.user) " +
      "ORDER BY a.purchase DESC LIMIT 5").show()

    println("== backtick-quoted identifiers escape reserved words")
    run("SELECT `purchase`.`user` AS `current`, count(*) AS n " +
      "FROM dom.events GROUP BY `purchase`.`user` " +
      "ORDER BY n DESC LIMIT 5").show()

    println("== grouping sets: ROLLUP subtotals + grouping() super-row marker")
    run("SELECT purchase.user, purchase.k, grouping(purchase.k) AS gk, " +
      "count(*) AS n FROM dom.events WHERE purchase > 200.0 " +
      "GROUP BY ROLLUP(purchase.user, purchase.k) " +
      "ORDER BY purchase.user, purchase.k LIMIT 8").show()

    println("== filtered aggregation: agg(x) FILTER (WHERE c)")
    run("SELECT purchase.user, count(*) AS n, " +
      "count(*) FILTER (WHERE purchase > 200.0) AS n_high " +
      "FROM dom.events GROUP BY purchase.user " +
      "ORDER BY n_high DESC, purchase.user LIMIT 5").show()

    println("== derived table propagating the time axis: pre-filter, then bucket")
    run("SELECT CAST(bucket(ts, '1 day') AS int) AS day, count(*) AS n, " +
      "avg(v) AS mean FROM " +
      "(SELECT ts, click AS v FROM dom.events WHERE click < 200.0) AS t " +
      "GROUP BY CAST(bucket(ts, '1 day') AS int) ORDER BY day LIMIT 5").show()

    println("== sketch + order-statistic aggregates: approx_distinct / percentile")
    run("SELECT purchase.user, approx_distinct(purchase.event_id) AS uniq, " +
      "percentile(purchase, 0.25) AS p25, percentile(purchase, 0.75) AS p75 " +
      "FROM dom.events GROUP BY purchase.user " +
      "ORDER BY purchase.user LIMIT 5").show()

    println("== first/last on the time axis + co-moment statistics")
    run("SELECT purchase.user, first(purchase) AS opening, " +
      "last(purchase) AS closing, " +
      "corr(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS r " +
      "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user LIMIT 5").show()

    println("== FILL: dense daily buckets, gaps carried forward (LOCF)")
    run("SELECT bucket(ts, '1 day') AS d, count(*) AS n, avg(purchase) AS mean " +
      "FROM dom.events WHERE purchase.user = '3' " +
      "GROUP BY d FILL(previous) ORDER BY d LIMIT 8").show()

    println("== sliding windows: 1-day window every 12 hours (moving daily count)")
    run("SELECT CAST(t.d AS int) AS start_s, t.n AS n FROM " +
      "(SELECT bucket(ts, '1 day', '12 hours') AS d, count(click) AS n " +
      "FROM dom.events GROUP BY d) AS t ORDER BY start_s LIMIT 6").show()

    println("== fixed-bin histogram: per-user purchase distribution in cents")
    run("SELECT purchase.user, histogram(CAST(purchase * 100.0 AS int), " +
      "0, 25000, 5) AS hist FROM dom.events " +
      "GROUP BY purchase.user ORDER BY purchase.user LIMIT 5").show(5, truncate = false)

    println("== EXPLAIN: the compiled Spark plan through the dialect front door")
    run("EXPLAIN SIMPLE SELECT click.user, click FROM dom.events " +
      "WHERE click < 100.0").collect().foreach(r => println(r.getString(0)))

    println("== ASOF NEAREST: closer of the two directional matches, 5-day bound")
    run("SELECT a.purchase.event_id, a.purchase, b.click.event_id, b.click " +
      "FROM dom.events AS a ASOF NEAREST JOIN dom.events AS b " +
      "ON a.purchase.user = b.click.user WITHIN '5 days' " +
      "WHERE a.purchase > 100.0 ORDER BY a.purchase.event_id LIMIT 5").show()

    println("== comments + BROADCAST hint + deterministic sampling")
    run("SELECT /*+ BROADCAST(b) */ -- hint pins b as the build side\n" +
      "a.click.user, count(*) AS n /* same answer, broadcast plan */ " +
      "FROM dom.events AS a JOIN dom.events AS b " +
      "ON a.click.user = b.view.user " +
      "WHERE sample_hash(a.click.event_id) < 0.5 " +
      "GROUP BY a.click.user ORDER BY n DESC LIMIT 5").show()

    println("== QUALIFY: top-2 purchases per user, no derived table")
    run("SELECT purchase.user, purchase, " +
      "row_number() OVER (PARTITION BY purchase.user " +
      "ORDER BY purchase DESC, purchase.event_id) AS rk " +
      "FROM dom.events QUALIFY rk <= 2 " +
      "ORDER BY purchase.user, rk LIMIT 6").show()

    println("== DESCRIBE: the series catalog (count, extent, key inventories)")
    run("DESCRIBE dom.events").show(truncate = false)

    println("== two-level sketch rollup: per-day sketches unioned, no re-scan")
    run("SELECT approx_distinct_merge(sk) AS uniq_total FROM " +
      "(SELECT CAST(bucket(ts, '1 day') AS int) AS day, " +
      "approx_distinct_sketch(click.user) AS sk FROM dom.events " +
      "GROUP BY CAST(bucket(ts, '1 day') AS int)) AS t").show()

    println("== DISTINCT ON: each user's single highest purchase")
    run("SELECT DISTINCT ON (purchase.user) purchase.user, purchase " +
      "FROM dom.events ORDER BY purchase DESC LIMIT 5").show()

    println("== reset-aware counter math + robust dispersion, GROUP BY ALL")
    run("SELECT purchase.user, increase(CAST(purchase * 100.0 AS int)) AS inc, " +
      "resets(CAST(purchase * 100.0 AS int)) AS rst, " +
      "round(mad(purchase), 2) AS mad " +
      "FROM dom.events GROUP BY ALL ORDER BY inc DESC NULLS LAST LIMIT 5").show()

    println("== heavy hitters: top-5 property values per series (bounded state)")
    run("SELECT click.user, approx_top_k(click.k, 5) AS top " +
      "FROM dom.events GROUP BY click.user ORDER BY click.user LIMIT 5")
      .show(truncate = false)

    println("== diurnal profile: hour-of-day x ISO weekday, ANY/ALL threshold")
    run("SELECT dow(ts) AS dw, hour(ts) AS h, count(click) AS n " +
      "FROM dom.events " +
      "WHERE click > ALL (SELECT error FROM dom.events WHERE error.user = '3') " +
      "GROUP BY ALL ORDER BY n DESC LIMIT 5").show()

    println("== trend: OLS fit per user (is this metric drifting?)")
    run("SELECT purchase.user, " +
      "round(regr_slope(CAST(purchase * 100.0 AS int), " +
      "CAST(purchase.event_id AS int)), 3) AS slope, " +
      "round(regr_r2(CAST(purchase * 100.0 AS int), " +
      "CAST(purchase.event_id AS int)), 3) AS r2 " +
      "FROM dom.events GROUP BY purchase.user " +
      "HAVING count(purchase) > 2 ORDER BY slope DESC NULLS LAST LIMIT 5")
      .show()

    println("== forecast: Holt level+trend smoothing, one-step-ahead")
    run("SELECT click.event_id, click, " +
      "round(holt(click, 0.5, 0.25) OVER (PARTITION BY click.user), 2) AS level, " +
      "round(holt_forecast(click, 0.5, 0.25) OVER (PARTITION BY click.user), 2) AS next " +
      "FROM dom.events ORDER BY click.event_id LIMIT 5").show()

    println("== histogram rollup + percentile read: per-day partials merged, " +
      "p90 off the merged bins — no raw re-scan")
    run("WITH dd AS (SELECT bucket(ts, '1 day') AS dy, " +
      "histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8) AS dh " +
      "FROM dom.events GROUP BY dy) " +
      "SELECT histogram_merge(dh, 8) AS merged, " +
      "round(histogram_quantile(histogram_merge(dh, 8), 0.9, 0, 25000), 1) AS p90_cents " +
      "FROM dd").show(truncate = false)

    spark.stop()
  }
}

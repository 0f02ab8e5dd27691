package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.boostql.{BoostQL, Compiler}
import graft.sources.TimeSeriesTable
import graft.streaming.StreamingOps
import graft.tables.Tables

/** Queries exercised through the BoostQL dialect front end — the
  * reference's executed surface (SELECT sugar + WHERE,
  * executor_test.go:188) plus the tiers it declared but never built
  * (GROUP BY / HAVING / ORDER BY / LIMIT, expression.go:17-33).
  */
object BoostQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def run(s: SparkSession, d: String, q: String): DataFrame =
    BoostQL.onTestdata(s, d)(q)

  def queries: Map[String, Q] = Map(
    "boost_select_where" -> ((s, d) =>
      run(s, d, "SELECT click.user, click FROM dom.events WHERE click < 100.0")
        .orderBy("click_user", "click")),

    "boost_and_or" -> ((s, d) =>
      run(s, d, "SELECT signup.event_id, signup FROM dom.events " +
        "WHERE (signup >= 50.0 AND signup <= 200.0) OR signup.user = '7'")
        .orderBy("signup_event_id")),

    "boost_groupby_having" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, count(*), min(purchase), max(purchase) " +
        "FROM dom.events GROUP BY purchase.user HAVING count(*) > 2 " +
        "ORDER BY purchase.user")),

    "boost_orderby_limit" -> ((s, d) =>
      run(s, d, "SELECT error, error.event_id FROM dom.events " +
        "WHERE error > 150.0 ORDER BY error DESC, error.event_id LIMIT 20")),

    // J1: the reference parses JOIN..ON but AddJoinOp is an empty stub
    // (queryops.go:61-66); here it plans and executes
    "boost_join" -> ((s, d) =>
      run(s, d, "SELECT a.click.user, count(*) FROM dom.events AS a " +
        "JOIN dom.events AS b ON a.click.user = b.view.user " +
        "WHERE a.click < 100.0 GROUP BY a.click.user ORDER BY a.click.user")),

    // `/*+ BROADCAST(b) */` pins b as the build side — same answer as
    // boost_join's shape (hints never change semantics; the
    // BroadcastHashJoin plan pin lives in PlanShapeSpec, asserted with
    // the auto-broadcast threshold disabled so the hint is what forces
    // the plan, not the planner's size estimate)
    "boost_broadcast_join" -> ((s, d) =>
      run(s, d, "SELECT /*+ BROADCAST(b) */ a.click.user, count(*) " +
        "FROM dom.events AS a " +
        "JOIN dom.events AS b ON a.click.user = b.view.user " +
        "WHERE a.click < 100.0 GROUP BY a.click.user ORDER BY a.click.user")),

    // J2+J3: comma cross join with the join condition in WHERE — Catalyst
    // extracts it into an equi-join (SURVEY.md §2.3 J3)
    "boost_cross_where" -> ((s, d) =>
      run(s, d, "SELECT count(*) FROM dom.events AS a, dom.events AS b " +
        "WHERE a.purchase.user = b.signup.user")),

    // NOT — beyond the reference's AND/OR-only connective set
    // (whereparser.go:146-169)
    "boost_not" -> ((s, d) =>
      run(s, d, "SELECT signup.event_id, signup FROM dom.events " +
        "WHERE NOT (signup < 50.0 OR signup > 200.0) ORDER BY signup.event_id")),

    // series-level tags: `purchase.env` / `purchase.dc` miss the per-point
    // attribute map and fall back to the family's tags (dc/env — the
    // reference's series metadata, executor_test.go:127-131)
    "boost_tag_filter" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase.env, purchase.dc, purchase " +
        "FROM dom.events WHERE purchase.env = 'test' " +
        "AND NOT purchase.dc = 'dc0' AND purchase > 100.0 " +
        "ORDER BY purchase.event_id")),

    // the reference's [windowStart, windowEnd) executor window
    // (executor.go:239-252), expressed in query text via the reserved
    // time axis `ts`
    "boost_time_scope" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, click FROM dom.events " +
        "WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-12 00:00:00' " +
        "ORDER BY click.event_id")),

    // DATE/TIMESTAMP typed literals (contextual keywords, like
    // INTERVAL): the same [01-10, 01-12) window through the ANSI
    // spellings — the literals desugar to constant-folded casts, so
    // both bounds still push into the scan as plain ts filters
    "boost_date_literal" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, click FROM dom.events " +
        "WHERE ts >= DATE '2024-01-10' " +
        "AND ts < TIMESTAMP '2024-01-12 00:00:00' " +
        "ORDER BY click.event_id")),

    // INTERVAL arithmetic on the time axis: both bounds computed by
    // fixed-width shifts resolve to the same [01-10, 01-12) window as
    // boost_time_scope — and being literal-side arithmetic they
    // constant-fold, so the filter still pushes into the scan
    "boost_interval" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, click FROM dom.events " +
        "WHERE ts >= '2024-01-12 00:00:00' - INTERVAL '2 days' " +
        "AND ts < '2024-01-10 00:00:00' + INTERVAL '2 days' " +
        "ORDER BY click.event_id")),

    // LEFT OUTER JOIN — dialect extension beyond the reference's
    // inner/cross-only join grammar (joinparser.go:84-201): unmatched
    // purchases keep null error columns (Spark asc sorts nulls first;
    // the oracle spells NULLS FIRST)
    "boost_left_join" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.error.event_id, b.error " +
        "FROM dom.events AS a LEFT OUTER JOIN dom.events AS b " +
        "ON a.purchase.user = b.error.user AND b.error > 250.0 " +
        "WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id, b.error.event_id")),

    // RIGHT OUTER JOIN — the mirror of boost_left_join (also pinned
    // mirror-equivalent in BoostQLSpec): unmatched errors keep null
    // purchase columns, i.e. the null extension lands on the LEFT side
    "boost_right_join" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.error.event_id, b.error " +
        "FROM dom.events AS a RIGHT OUTER JOIN dom.events AS b " +
        "ON a.purchase.user = b.error.user AND a.purchase > 300.0 " +
        "WHERE b.error > 250.0 " +
        "ORDER BY a.purchase.event_id, b.error.event_id")),

    // FULL OUTER JOIN: both sides null-extend; non-equi ON predicates
    // keep rows of both inputs alive as null-extended rows
    "boost_full_join" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.error.event_id, b.error " +
        "FROM dom.events AS a FULL OUTER JOIN dom.events AS b " +
        "ON a.purchase.user = b.error.user AND b.error > 250.0 AND a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id, b.error.event_id")),

    // IS NULL over left-join null extension — the dialect face of the
    // engine's nil cells (unset ResultSet cells, executor.go:609-645):
    // purchases whose user never produced an error above 250
    "boost_null_attr" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase " +
        "FROM dom.events AS a LEFT OUTER JOIN dom.events AS b " +
        "ON a.purchase.user = b.error.user AND b.error > 250.0 " +
        "WHERE b.error IS NULL AND a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id")),

    // arithmetic operands (extension: the reference's whereparser
    // rejects anything beyond literal/field comparisons) + ORDER BY on
    // a select alias (sorts the aliased expression, not a phantom field)
    "boost_arith" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase * 2.0 - 100.0 AS adj " +
        "FROM dom.events WHERE purchase * 0.5 > 100.0 " +
        "ORDER BY adj DESC, purchase.event_id")),

    // GROUP BY a select alias groups by the aliased expression
    "boost_group_expr" -> ((s, d) =>
      run(s, d, "SELECT click * 0.5 AS half, count(*) FROM dom.events " +
        "GROUP BY half ORDER BY half LIMIT 20")),

    // DISTINCT dedups the projected rows, THEN orders and limits
    "boost_distinct" -> ((s, d) =>
      run(s, d, "SELECT DISTINCT purchase.user FROM dom.events " +
        "ORDER BY purchase.user LIMIT 50")),

    // IN / BETWEEN / [NOT] LIKE — the everyday predicate sugar (all
    // extensions: whereparser.go:146-169 accepts only the six
    // comparison ops). IN folds to OR-of-equalities, BETWEEN is
    // inclusive both ends, LIKE takes SQL % / _ wildcards.
    "boost_in_between_like" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, click.user, click FROM dom.events " +
        "WHERE click.user IN ('3', '7', '11') " +
        "AND click BETWEEN 50.0 AND 250.0 " +
        "AND click.user NOT LIKE '1%' " +
        "ORDER BY click.event_id")),

    // analytic/window tier: ranking, partition aggregates and lag over
    // OVER clauses (order-exact functions only in the oracle — windowed
    // SUM of doubles is association-order-dependent)
    // WINDOW clause — one named spec shared by several OVER calls
    // (ANSI; parse-time substitution, so the plan is IDENTICAL to
    // spelling the spec inline — Spark computes same-spec windows on
    // one sort/exchange)
    "boost_window_clause" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase, " +
        "rank() OVER w AS rk, row_number() OVER w AS rn, " +
        "lag(purchase, 1) OVER w AS prev, count(*) OVER u AS user_n " +
        "FROM dom.events WHERE purchase > 100.0 " +
        "WINDOW w AS (PARTITION BY purchase.user ORDER BY purchase DESC, purchase.event_id), " +
        "u AS (PARTITION BY purchase.user) " +
        "ORDER BY purchase.event_id")),

    "boost_window" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase, " +
        "rank() OVER (PARTITION BY purchase.user ORDER BY purchase DESC, purchase.event_id) AS rk, " +
        "row_number() OVER (PARTITION BY purchase.user ORDER BY purchase DESC, purchase.event_id) AS rn, " +
        "max(purchase) OVER (PARTITION BY purchase.user) AS user_max, " +
        "count(*) OVER (PARTITION BY purchase.user) AS user_n, " +
        "lag(purchase, 1) OVER (PARTITION BY purchase.user ORDER BY purchase DESC, purchase.event_id) AS prev " +
        "FROM dom.events WHERE purchase > 100.0 " +
        "ORDER BY purchase.event_id")),

    // ASOF JOIN — dialect face of the as-of operator (DuckDB/QuestDB
    // time-series join): for each purchase, the same user's latest
    // click at or before the purchase time; inner semantics
    "boost_asof_join" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user " +
        "WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id")),

    // ASOF tolerance: matches farther than WITHIN from the anchor's
    // time drop (2 of the 4 backward matches at sf0.01 sit beyond 2
    // days — the bound is discriminating, not decorative)
    "boost_asof_within" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '2 days' " +
        "WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id")),

    // ASOF direction: FORWARD matches the earliest click at or after
    // each purchase (backward-implicit is the reference's merge
    // iterator, boostseriesiterator.go:300-342), bounded to 1 day
    "boost_asof_forward" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF FORWARD JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '1 day' " +
        "WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id")),

    // ASOF direction: NEAREST takes whichever of the backward/forward
    // candidates sits closer to the anchor (ties prefer backward). At
    // 5 days the sf0.01 matches split 4 forward / 1 backward — the
    // output differs from BOTH single-direction variants, so the
    // chooser is exercised, not decorative
    "boost_asof_nearest" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF NEAREST JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '5 days' " +
        "WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id")),

    // LIMIT/OFFSET paging over a total order
    "boost_offset" -> ((s, d) =>
      run(s, d, "SELECT error.event_id, error FROM dom.events " +
        "WHERE error > 150.0 ORDER BY error DESC, error.event_id " +
        "LIMIT 15 OFFSET 10")),

    // increase()/resets() — reset-aware counter math (the Prometheus
    // contract): per consecutive pair the contribution is the forward
    // delta, or the new value after a reset; resets counts the
    // backward steps. One lead() pass + hash aggregate on the same
    // keys (exchange reused)
    "boost_ts_increase" -> ((s, d) =>
      run(s, d, "SELECT click.user, " +
        "increase(CAST(click * 100.0 AS int)) AS inc, " +
        "resets(CAST(click * 100.0 AS int)) AS rst " +
        "FROM dom.events GROUP BY click.user ORDER BY click.user")),

    // the combined pre-pass path: twa + increase (lead segments) and
    // mad (window median) in ONE grouped query must share the
    // materialized keys and the single exchange without interfering
    "boost_ts_combo" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "round(twa(CAST(purchase * 100.0 AS int)), 6) AS tw, " +
        "mad(CAST(purchase * 100.0 AS int)) AS m, " +
        "increase(CAST(purchase * 100.0 AS int)) AS inc " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 1 ORDER BY purchase.user")),

    // string predicates beyond LIKE: affix/substring tests + regex
    // (the shared Java/RE2 subset — classes, anchors, quantifiers)
    "boost_fn_str2" -> ((s, d) =>
      run(s, d, "SELECT click.event_id AS eid, " +
        "contains(click.user, '1') AS c, " +
        "starts_with(click.user, '1') AS sw, " +
        "ends_with(click.user, '3') AS ew, " +
        "regexp_like(click.k, '^[0-9]?[02468]$') AS even " +
        "FROM dom.events WHERE click < 150.0 ORDER BY eid")),

    // SHOW FAMILIES — the catalog-listing half of the discovery face
    // (DESCRIBE is the per-family half): rows from an enumerable
    // registry, here a two-family map over the same adapted frame
    "boost_show" -> ((s, d) => {
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      BoostQL.sql("SHOW FAMILIES",
          Map(("dom", "events") -> fam, ("ops", "metrics") -> fam))
        .orderBy("domain", "family")
    }),

    // SHOW PARTITIONS — the physical-layout third of the discovery
    // face: metadata-only partition inventory of a warehouse family
    // (parallel listing + parquet footers, no data scan). The oracle
    // recomputes each date partition's row total from the raw events —
    // matching it proves the footer totals agree with the data the
    // write path actually committed, partition by partition
    "boost_show_partitions" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_showp")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      BoostQL.sqlShowPartitions("SHOW PARTITIONS dom.events", s, root)
        .select("part", "n_rows").orderBy("part")
    }),

    // time-axis extraction: the diurnal/weekly profile — hour-of-day ×
    // ISO day-of-week rollup (GROUP BY ALL exercises the sugar over
    // the new functions)
    "boost_fn_time" -> ((s, d) =>
      run(s, d, "SELECT dow(ts) AS dw, hour(ts) AS h, count(click) AS n, " +
        "sum(CAST(click * 100.0 AS int)) AS cents, " +
        "min(epoch_us(ts)) AS first_us " +
        "FROM dom.events GROUP BY ALL ORDER BY ALL")),

    // approx_top_k — heavy hitters per group over the Misra-Gries
    // summary (bounded state, kilobyte shuffle); at this cardinality
    // (distinct k < capacity) the counts are exact, so the DuckDB
    // count+rank replay hash-matches
    "boost_top_k" -> ((s, d) =>
      run(s, d, "SELECT click.user, approx_top_k(click.k, 16) AS top " +
        "FROM dom.events GROUP BY click.user ORDER BY click.user")),

    // two-level heavy-hitter rollup: per-day summaries merged under the
    // mergeable-summaries law — below capacity the merge is exact
    // summation, so the rollup equals the direct global top-k
    "boost_top_k_merge" -> ((s, d) =>
      run(s, d, "SELECT approx_top_k_merge(t.sk, 16) AS top, " +
        "count(*) AS n_days FROM " +
        "(SELECT CAST(bucket(ts, '1 day') AS int) AS day, " +
        "approx_top_k_sketch(click.k, 16) AS sk " +
        "FROM dom.events GROUP BY CAST(bucket(ts, '1 day') AS int)) AS t")),

    // quantified comparisons: > ALL / < ANY against uncorrelated
    // subqueries — compiled as semi/anti joins against ONE aggregate
    // row (the decisive extreme + null/empty counts), never the raw
    // list
    "boost_any_all" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase FROM dom.events " +
        "WHERE purchase > ALL (SELECT click FROM dom.events " +
        "WHERE click.user = '7') " +
        "AND purchase < ANY (SELECT error FROM dom.events) " +
        "ORDER BY purchase.event_id")),

    // correlated ALL: each purchase against ITS user's click ceiling —
    // the aggregate reduction groups by the correlation key, so the
    // anti join is key-equi (hashable), with empty per-key lists
    // surviving per ANSI
    "boost_all_corr" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase FROM dom.events AS a " +
        "WHERE a.purchase > ALL (SELECT b.click FROM dom.events AS b " +
        "WHERE b.click.user = a.purchase.user) " +
        "ORDER BY a.purchase.event_id")),

    // DISTINCT ON — one row per key, the first per ORDER BY (the
    // Postgres/DuckDB idiom): here each user's HIGHEST click
    // observation, event_id breaking value ties deterministically
    "boost_distinct_on" -> ((s, d) =>
      run(s, d, "SELECT DISTINCT ON (click.user) click.user, " +
        "click.event_id, click FROM dom.events " +
        "ORDER BY click DESC, click.event_id")),

    // mad() — median absolute deviation, the robust dispersion
    // aggregate: window median over the group keys materializes the
    // deviation pre-agg, exact interpolated median of it per group
    // (one exchange for window + aggregate)
    "boost_mad" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "mad(CAST(purchase * 100.0 AS int)) AS m, " +
        "round(mad(purchase), 6) AS mv " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // arg_max/arg_min — "which user had the peak purchase": arg 1's
    // value on the row where arg 2 is maximal (minimal). One pass, no
    // join-back: the pair rides a (key, value) struct under max/min, so
    // ties on the key break deterministically toward the max (min)
    // value — unlike the unspecified tie of most engines' arg_max
    "boost_arg_max" -> ((s, d) =>
      run(s, d, "SELECT CAST(bucket(ts, '1 day') AS int) AS day, " +
        "arg_max(purchase.user, purchase) AS peak_user, " +
        "arg_min(purchase.user, purchase) AS low_user, " +
        "max(purchase) AS peak FROM dom.events " +
        "GROUP BY CAST(bucket(ts, '1 day') AS int) ORDER BY day")),

    // string_agg — group values rendered as strings, sorted ASCENDING BY
    // VALUE, joined with the literal separator: the value-sort (not
    // input order) is what makes the output deterministic and
    // partitioning-invariant
    "boost_string_agg" -> ((s, d) =>
      run(s, d, "SELECT CAST(bucket(ts, '1 day') AS int) AS day, " +
        "string_agg(signup.user, ',') AS users, count(*) AS n " +
        "FROM dom.events WHERE signup > 330.0 " +
        "GROUP BY CAST(bucket(ts, '1 day') AS int) ORDER BY day")),

    // bool_and / bool_or — conjunction/disjunction of a boolean
    // CONDITION over the group (the one aggregate whose argument is the
    // predicate tier): three-valued, UNKNOWN rows skipped per ANSI
    "boost_bool_agg" -> ((s, d) =>
      run(s, d, "SELECT click.user, bool_and(click < 400.0) AS all_small, " +
        "bool_or(click > 450.0) AS any_big, " +
        "count_if(click > 240.0) AS n_big, count(*) AS n " +
        "FROM dom.events GROUP BY click.user ORDER BY click.user")),

    // KMV sketch SET OPERATIONS: day-over-day audience overlap from
    // per-day approx_distinct_sketch columns — sketch_jaccard (k-min
    // Jaccard estimator) and sketch_intersect (Jaccard × union
    // estimate); exact below k, kilobyte sketches joined instead of
    // re-scanning raw values (the 100 TB overlap pattern)
    "boost_sketch_overlap" -> ((s, d) =>
      run(s, d, "WITH s AS (" +
        "SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
        "CAST(bucket(ts, '1 day') AS int) + 86400 AS dn, " +
        "approx_distinct_sketch(click.user) AS sk " +
        "FROM dom.events GROUP BY d, dn) " +
        "SELECT a.d AS d, round(sketch_jaccard(a.sk, b.sk), 6) AS j, " +
        "round(sketch_intersect(a.sk, b.sk), 3) AS ix, " +
        "round(sketch_diff(a.sk, b.sk), 3) AS dx " +
        "FROM s AS a JOIN s AS b ON a.dn = b.d ORDER BY d")),

    // GROUP BY ALL / ORDER BY ALL — the DuckDB convenience sugar,
    // desugared at parse time to the non-aggregate select items (keys)
    // / every select item (sort); the oracle runs the IDENTICAL sugar
    "boost_group_all" -> ((s, d) =>
      run(s, d, "SELECT click.user, CAST(bucket(ts, '6 hours') AS int) AS h, " +
        "count(*) AS n, sum(CAST(click * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY ALL ORDER BY ALL")),

    // explicit NULLS FIRST/LAST placement — the portable spelling:
    // Spark defaults ASC to NULLS FIRST where DuckDB/Postgres default
    // NULLS LAST, so a nullable sort key without the clause would
    // hash-mismatch ANY cross-engine oracle
    "boost_nulls_order" -> ((s, d) =>
      run(s, d, "SELECT CAST(click.event_id AS int) AS eid, " +
        "CASE WHEN click > 200.0 THEN CAST(click.k AS int) END AS bigk, " +
        "CAST(click * 100.0 AS int) AS cents " +
        "FROM dom.events WHERE click < 400.0 " +
        "ORDER BY bigk DESC NULLS LAST, cents ASC NULLS FIRST, eid")),

    // COUNT(DISTINCT x) — partial-agg'd distinct count per group
    "boost_count_distinct" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, count(DISTINCT purchase.event_id) AS n, " +
        "count(*) AS total FROM dom.events " +
        "GROUP BY purchase.user ORDER BY purchase.user")),

    // scalar function calls — the dialect face of Spark's codegen'd
    // built-ins (extension: the reference has no function surface at
    // all). String tier: case mapping, length, concat, substr, replace.
    "boost_fn_str" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, upper(click.user) AS u, " +
        "concat(click.user, '_', click.event_id) AS ck, " +
        "substr(click.event_id, 1, 2) AS pre, " +
        "replace(click.user, '1', 'X') AS rep, " +
        "length(click.user) AS ulen " +
        "FROM dom.events WHERE length(click.event_id) >= 3 " +
        "ORDER BY click.event_id LIMIT 200")),

    // math tier + CAST between the dialect's four scalar types.
    // QUALIFY — post-window filter (top-2 purchases per user without a
    // derived table); the predicate references the window by its select
    // alias, the DuckDB/Snowflake idiom
    "boost_qualify" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, purchase.event_id, purchase, " +
        "row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id) AS rk " +
        "FROM dom.events QUALIFY rk <= 2 " +
        "ORDER BY purchase.user, rk")),

    // composition: QUALIFY over a DERIVED table's flat columns — the
    // post-window filter binds to subquery outputs like any other field
    "boost_qualify_derived" -> ((s, d) =>
      run(s, d, "SELECT t.u, t.v, " +
        "row_number() OVER (PARTITION BY t.u ORDER BY t.v DESC, t.eid) AS rk " +
        "FROM (SELECT purchase.user AS u, purchase AS v, " +
        "purchase.event_id AS eid FROM dom.events " +
        "WHERE purchase > 200.0) AS t " +
        "QUALIFY rk = 1 ORDER BY t.u")),

    // INTERVAL arithmetic as a computed SELECT item (column side, not
    // constant-folded): per-row deadline columns
    "boost_interval_select" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, ts + INTERVAL '1 hour' AS t1, " +
        "ts - INTERVAL '30 minutes' AS t0 " +
        "FROM dom.events WHERE click > 290.0 ORDER BY click.event_id")),

    // CALENDAR interval arithmetic: month/year shifts are ANSI
    // year-month addition with day-of-month clamping (Jan 30 + 1 month
    // = Feb 29 in a leap year — t1 exercises the clamp on the
    // month-end rows this window keeps), never a fixed-width fold.
    // Literal-side bounds still constant-fold: the WHERE resolves to
    // [01-28, 01-31) and pushes into the scan.
    "boost_interval_month" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, ts + INTERVAL '1 month' AS t1, " +
        "ts - INTERVAL '1 year' AS t0 " +
        "FROM dom.events " +
        "WHERE ts >= '2024-02-28 00:00:00' - INTERVAL '1 month' " +
        "AND ts < '2023-01-31 00:00:00' + INTERVAL '1 year' " +
        "ORDER BY click.event_id")),

    // series-catalog discovery: one row per series with point count,
    // time extent, and the attribute/tag key inventories — the
    // dialect's metadata face (the reference holds this in namespace/
    // symtable metadata; here it is a metadata-sized aggregation)
    "boost_describe" -> ((s, d) =>
      run(s, d, "DESCRIBE dom.events")),

    // the MANIFEST-CACHED warehouse DESCRIBE, oracle-checked through
    // the cache: ingest the family once, DESCRIBE twice — the first
    // call writes the signed per-partition sidecar, the SECOND call
    // (the compared result) serves every partition from it; the merge
    // is exact, so the cache-served catalog hash-matches the same
    // oracle the frame-based DESCRIBE uses
    "boost_describe_cached" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_descc")
      val fam = TimeSeriesTable.fromEventsFanned(Tables.events(s, d))
      TimeSeriesTable.append(fam, root, "dom", "events")
      BoostQL.sqlDescribe("DESCRIBE dom.events", s, root).count()
      BoostQL.sqlDescribe("DESCRIBE dom.events", s, root)
    }),

    // deterministic md5-keyed sampling through the SQL front: a
    // reproducible ~25% subset of purchases by event_id — same subset
    // at any scale/partitioning/run, and the same predicate keyed on a
    // join key co-samples both sides (the 100 TB subsetting pattern)
    "boost_sample" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, count(*) AS n, " +
        "min(purchase) AS lo, max(purchase) AS hi " +
        "FROM dom.events " +
        "WHERE sample_hash(purchase.event_id) < 0.25 " +
        "GROUP BY purchase.user ORDER BY purchase.user")),

    // float→int CAST truncates toward zero (ANSI / Spark); the oracle
    // spells the same via trunc() before its (round-half-even) cast.
    "boost_fn_math" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, " +
        "CAST(purchase AS int) AS pi, " +
        "CAST(floor(purchase / 100.0) AS int) AS bucket, " +
        "abs(purchase - 250.0) AS dist, " +
        "sqrt(purchase) AS rt, " +
        "least(purchase, 300.0) AS lo, " +
        "greatest(mod(CAST(purchase AS int), 7), 2) AS g " +
        "FROM dom.events WHERE purchase > 50.0 " +
        "ORDER BY purchase.event_id LIMIT 200")),

    // IN (SELECT …) — subquery predicate compiled to a LEFT SEMI join
    // (extension: the reference has no subquery surface; its grammar
    // stops at literal/field comparisons, whereparser.go:146-169)
    "boost_in_subquery" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase.user, purchase " +
        "FROM dom.events WHERE purchase.user IN " +
        "(SELECT error.user FROM dom.events WHERE error > 150.0) " +
        "ORDER BY purchase.event_id")),

    // correlated NOT EXISTS — equality correlation pairs become LEFT
    // ANTI join keys; never a per-outer-row rescan
    "boost_not_exists" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase FROM dom.events AS a " +
        "WHERE NOT EXISTS (SELECT b.error FROM dom.events AS b " +
        "WHERE b.error.user = a.purchase.user AND b.error > 150.0) " +
        "ORDER BY purchase.event_id")),

    // searched CASE WHEN (no reference analogue — it has no conditional
    // expressions at all): tier bucketing with NULL fall-through spelled
    // as ELSE, plus CASE in a sort key via its select alias
    "boost_case" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase, " +
        "CASE WHEN purchase > 200.0 THEN 'high' WHEN purchase > 100.0 THEN 'mid' " +
        "ELSE 'low' END AS tier " +
        "FROM dom.events ORDER BY tier, purchase.event_id")),

    // moving aggregate over a ROWS frame (trailing 4-row sum per user in
    // event-time order); integer cents keep the frame sum exact under
    // any engine's summation tree
    "boost_window_frame" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, " +
        "sum(CAST(purchase * 100.0 AS int)) OVER " +
        "(PARTITION BY purchase.user ORDER BY ts, purchase.event_id " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cents4 " +
        "FROM dom.events ORDER BY purchase.event_id")),

    // rank-ratio analytics (percent_rank / cume_dist: integer ratios
    // evaluated once in doubles — engine-identical) + nth_value over an
    // explicit whole-partition frame; value-tie-broken by event_id so
    // the order is total in both engines
    "boost_window_rank_ratio" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "percent_rank() OVER (PARTITION BY click.user " +
        "ORDER BY click, click.event_id) AS pr, " +
        "cume_dist() OVER (PARTITION BY click.user " +
        "ORDER BY click, click.event_id) AS cd, " +
        "nth_value(click, 2) OVER (PARTITION BY click.user " +
        "ORDER BY click, click.event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv " +
        "FROM dom.events ORDER BY click.event_id")),

    // RANGE interval frame: the trailing-2-day moving aggregate per
    // user in event time — rangeBetween over epoch micros (peers by
    // time distance, not row count, so tie handling is value-exact on
    // any engine); integer cents keep the sum exact
    "boost_window_range" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, " +
        "sum(CAST(purchase * 100.0 AS int)) OVER " +
        "(PARTITION BY purchase.user ORDER BY ts " +
        "RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW) AS cents_2d, " +
        "count(purchase) OVER " +
        "(PARTITION BY purchase.user ORDER BY ts " +
        "RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW) AS n_2d " +
        "FROM dom.events ORDER BY purchase.event_id")),

    // scalar subquery threshold (above-average filter — the canonical
    // use): one broadcast row cross-joined, codegen'd comparison
    "boost_scalar_sub" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase FROM dom.events " +
        "WHERE purchase > (SELECT avg(purchase) FROM dom.events) " +
        "ORDER BY purchase.event_id")),

    // scalar subqueries as SELECT items: each distinct uncorrelated sub
    // is one broadcast row cross-joined onto the outer frame (max/count
    // are order-exact aggregates, safe for the cross-engine compare)
    "boost_scalar_select" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase, " +
        "(SELECT max(click) FROM dom.events) AS mxc, " +
        "(SELECT count(*) FROM dom.events WHERE error > 250.0) AS nerr " +
        "FROM dom.events WHERE purchase > 300.0 ORDER BY purchase.event_id")),

    // correlated scalar subqueries (equality correlation, the IN/EXISTS
    // machinery): decorrelate to groupBy-on-keys + LEFT join — the WHERE
    // one as a per-user threshold (NULL comparison drops matchless
    // rows), the SELECT one a per-user COUNT (empty groups coalesce to
    // 0, the ANSI empty-group count)
    "boost_scalar_corr" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, " +
        "(SELECT count(b.click) FROM dom.events AS b " +
        "WHERE b.click.user = a.purchase.user) AS nclicks " +
        "FROM dom.events AS a " +
        "WHERE a.purchase < (SELECT max(c.error) FROM dom.events AS c " +
        "WHERE c.error.user = a.purchase.user) " +
        "ORDER BY a.purchase.event_id")),

    // conditional aggregation: sum/max over CASE expressions plus an
    // exact integer-cents sum (CAST truncates toward zero, both engines)
    "boost_cond_agg" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "sum(CASE WHEN purchase > 200.0 THEN 1 ELSE 0 END) AS n_high, " +
        "max(CASE WHEN purchase > 200.0 THEN purchase ELSE 0.0 END) AS max_high, " +
        "sum(CAST(purchase * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // ANSI filtered aggregation — `agg(x) FILTER (WHERE c)` (desugars to
    // the CASE aggregate at parse time; exact integer sums keep the
    // double tier hash-comparable, and an all-filtered group yields NULL
    // sum on both engines)
    "boost_filter_agg" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "count(*) FILTER (WHERE purchase > 200.0) AS n_high, " +
        "sum(CAST(purchase * 100.0 AS int)) FILTER (WHERE purchase <= 200.0) AS low_cents, " +
        "count(*) " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // GROUP BY ROLLUP: the (user, k) subtotal hierarchy + grand total,
    // NULL marking the rolled-up key; exact integer-cents sum keeps the
    // double aggregation hash-comparable. ASC sort is NULLS FIRST here
    // (Spark default), spelled explicitly on the DuckDB side.
    "boost_rollup" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, purchase.k, count(*), " +
        "sum(CAST(purchase * 100.0 AS int)) AS cents " +
        "FROM dom.events WHERE purchase > 150.0 " +
        "GROUP BY ROLLUP(purchase.user, purchase.k) " +
        "ORDER BY purchase.user, purchase.k")),

    // grouping() markers distinguish rollup super-rows from genuine
    // NULL keys (the ANSI disambiguator; 1 = key rolled up in this row)
    "boost_grouping" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, purchase.k, " +
        "grouping(purchase.user) AS gu, grouping(purchase.k) AS gk, count(*) " +
        "FROM dom.events WHERE purchase > 150.0 " +
        "GROUP BY ROLLUP(purchase.user, purchase.k) " +
        "ORDER BY purchase.user, purchase.k")),

    // GROUP BY CUBE: every key subset, including the (NULL, k) slice
    // ROLLUP omits
    "boost_cube" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, purchase.k, count(*) " +
        "FROM dom.events WHERE purchase > 150.0 " +
        "GROUP BY CUBE(purchase.user, purchase.k) " +
        "ORDER BY purchase.user, purchase.k")),

    // UNION ALL compound with trailing ORDER BY/LIMIT paging the whole
    // compound (ordinal keys; output names come from the left branch)
    "boost_union" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, click FROM dom.events WHERE click > 240.0 " +
        "UNION ALL SELECT view.event_id, view FROM dom.events WHERE view > 240.0 " +
        "ORDER BY 2 DESC, 1 LIMIT 50")),

    // EXCEPT ALL — bag semantics: multiplicity subtraction, not dedup
    // (each >250 occurrence cancels exactly one >150 occurrence of the
    // same k)
    "boost_except_all" -> ((s, d) =>
      run(s, d, "SELECT purchase.k FROM dom.events WHERE purchase > 150.0 " +
        "EXCEPT ALL SELECT purchase.k FROM dom.events WHERE purchase > 250.0 " +
        "ORDER BY 1")),

    // INTERSECT (dedup semantics, ANSI) between two series' user sets
    "boost_intersect" -> ((s, d) =>
      run(s, d, "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "INTERSECT SELECT error.user FROM dom.events WHERE error > 150.0 " +
        "ORDER BY 1")),

    // time bucketing on the SQL front (the reference's stated north
    // star, README.md:8): bucket(ts, '1 hour') is an epoch-aligned
    // tumbling bucket, GROUP BY accepts the full expression (structural
    // match to the select item), and the bucket CASTs to epoch seconds
    // for the cross-engine compare. Exact integer-cents sum.
    "boost_ts_bucket" -> ((s, d) =>
      run(s, d, "SELECT CAST(bucket(ts, '1 hour') AS int) AS h, count(*) AS n, " +
        "sum(CAST(click * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY CAST(bucket(ts, '1 hour') AS int) ORDER BY h")),

    // FILL: dense-bucket gap filling after a bucketed aggregation (the
    // InfluxQL fill() / TimescaleDB gapfill idiom). previous = LOCF per
    // dimension group between its first and last observed bucket; the
    // derived-table wrapper casts the dense axis to epoch seconds for
    // the cross-engine compare
    "boost_ts_fill_prev" -> ((s, d) =>
      run(s, d, "SELECT CAST(t.d AS int) AS ds, t.u AS u, t.n AS n, t.mx AS mx " +
        "FROM (SELECT purchase.user AS u, bucket(ts, '1 day') AS d, " +
        "count(*) AS n, max(CAST(purchase * 100.0 AS int)) AS mx " +
        "FROM dom.events GROUP BY u, d FILL(previous)) AS t " +
        "ORDER BY u, ds")),

    // linear = interpolate between the bracketing observed buckets on
    // the epoch-micros axis (every filled column goes double); no
    // extrapolation past the ends
    "boost_ts_fill_linear" -> ((s, d) =>
      run(s, d, "SELECT CAST(t.d AS int) AS ds, t.n AS n, t.cents AS cents " +
        "FROM (SELECT bucket(ts, '1 day') AS d, count(*) AS n, " +
        "sum(CAST(signup * 100.0 AS int)) AS cents " +
        "FROM dom.events WHERE signup.user = '7' " +
        "GROUP BY d FILL(linear)) AS t ORDER BY ds")),

    // CALENDAR fill: the spine steps by the calendar interval (here
    // '1 week', the date_trunc bucket family) instead of a fixed
    // micros width — monthly/weekly report gap-filling
    "boost_ts_fill_week" -> ((s, d) =>
      run(s, d, "SELECT CAST(t.d AS int) AS ds, t.u AS u, t.n AS n " +
        "FROM (SELECT purchase.user AS u, bucket(ts, '1 week') AS d, " +
        "count(*) AS n FROM dom.events WHERE purchase < 50.0 " +
        "GROUP BY u, d FILL(previous)) AS t ORDER BY u, ds")),

    // constant fill: missing buckets take the literal (count 0 — the
    // "no events that hour" report shape)
    "boost_ts_fill_zero" -> ((s, d) =>
      run(s, d, "SELECT CAST(t.d AS int) AS ds, t.n AS n " +
        "FROM (SELECT bucket(ts, '6 hours') AS d, count(*) AS n " +
        "FROM dom.events WHERE error.user = '2' " +
        "GROUP BY d FILL(0)) AS t ORDER BY ds")),

    // SLIDING buckets: GROUP BY bucket(ts, width, slide) expands each
    // row map-side into width/slide overlapping windows (the batch twin
    // of the engine's streaming window(ts, w, s) Expand) and groups
    // normally — the moving-aggregate-over-buckets idiom
    "boost_ts_sliding" -> ((s, d) =>
      run(s, d, "SELECT CAST(t.d AS int) AS ds, t.n AS n, t.cents AS cents " +
        "FROM (SELECT bucket(ts, '1 day', '12 hours') AS d, count(*) AS n, " +
        "sum(CAST(view * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY d) AS t ORDER BY ds")),

    // CALENDAR buckets: '1 week'/'1 month' compile to date_trunc (ISO
    // Monday weeks — the corpus starts Monday 2024-01-01, so five week
    // rows), the monthly/weekly rollup right after daily buckets; both
    // keys grouped by alias
    "boost_ts_bucket_month" -> ((s, d) =>
      run(s, d, "SELECT CAST(bucket(ts, '1 week') AS int) AS w, " +
        "CAST(bucket(ts, '1 month') AS int) AS m, count(*) AS n, " +
        "sum(CAST(click * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY w, m ORDER BY w")),

    // delta(x): consecutive-point difference over the implicit series
    // time axis (ts is unique per datapoint — total order, no tie-break)
    "boost_ts_delta" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, click, delta(click) AS d " +
        "FROM dom.events ORDER BY click.event_id")),

    // rate(x): per-second rate of change between consecutive points —
    // dv / (dt_us / 1e6), null on the first point (identical IEEE ops
    // on both engines)
    "boost_ts_rate" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, rate(click) AS r " +
        "FROM dom.events ORDER BY click.event_id")),

    // partitioned time-series function: rate per user — OVER carries
    // PARTITION BY only, the time order stays implicit
    "boost_ts_rate_user" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "rate(click) OVER (PARTITION BY click.user) AS r " +
        "FROM dom.events ORDER BY click.event_id")),

    // locf(x): last-observation-carried-forward over the time axis; the
    // CASE synthesizes the nulls to fill (values <= 100 carry the last
    // larger observation forward)
    "boost_ts_locf" -> ((s, d) =>
      run(s, d, "SELECT view.event_id, " +
        "locf(CASE WHEN view > 100.0 THEN view END) AS filled " +
        "FROM dom.events ORDER BY view.event_id")),

    // stddev/variance aggregates: explicit S/Q/n sums over integer
    // cents, so both engines run the identical IEEE tail over exact
    // sums (the builtin streaming central moments are summation-order-
    // dependent and would not hash-match). HAVING n > 1 keeps the
    // n = 1 NaN edge out of the compare.
    "boost_stddev" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "stddev(CAST(purchase * 100.0 AS int)) AS sd, " +
        "variance(CAST(purchase * 100.0 AS int)) AS v " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 1 ORDER BY purchase.user")),

    // first/last on the implied time axis (the TSDB first/last
    // aggregate): value at the group's earliest / latest point, compiled
    // to one struct-extreme hash aggregate — min/max(struct(ts, x)).x —
    // constant per-group state, no sort. The (ts, value) composite
    // makes equal-ts ties deterministic, so DuckDB's ordered aggregate
    // first(x ORDER BY ts, x) replays it exactly.
    "boost_first_last" -> ((s, d) =>
      run(s, d, "SELECT click.user, first(click) AS f, last(click) AS l, " +
        "last(click.event_id) AS lid, count(*) AS n " +
        "FROM dom.events GROUP BY click.user ORDER BY click.user")),

    // two-argument statistics aggregates, desugared at parse time into
    // arithmetic over exact integer sums (the stddev trick extended to
    // co-moments): corr/covar over (integer-cents value, event ordinal)
    "boost_corr" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "corr(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS r, " +
        "covar_pop(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS cp, " +
        "covar_samp(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS cs " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 2 ORDER BY purchase.user")),

    // ordinary-least-squares per group: the regr_* family desugars to
    // the same exact-integer pair sums as corr/covar, so slope /
    // intercept / r² are a fixed IEEE tail over order-independent
    // sums — trend-per-series ("is this metric drifting?") on the SQL
    // front with a bit-exact cross-engine replay. regr_*(y, x): value
    // cents regressed ON the event ordinal
    "boost_regr" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "regr_slope(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS sl, " +
        "regr_intercept(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS ic, " +
        "regr_r2(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS r2, " +
        "regr_count(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS n, " +
        "regr_avgx(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS ax, " +
        "regr_avgy(CAST(purchase * 100.0 AS int), CAST(purchase.event_id AS int)) AS ay " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 2 ORDER BY purchase.user")),

    // lag-k CROSS-correlation over a derived daily rollup: does click
    // volume lead purchase volume by a day? The inner bucket rollup
    // propagates its axis (bucket(…) AS ts), so the outer xcorr pairs
    // consecutive days; integer cent sums keep the pair arithmetic
    // exact for the oracle replay
    "boost_ts_xcorr" -> ((s, d) =>
      run(s, d, "SELECT xcorr(t.c, t.p, 0) AS x0, " +
        "xcorr(t.c, t.p, 1) AS x1, count(*) AS n FROM " +
        "(SELECT a.ts AS ts, a.c AS c, b.p AS p FROM " +
        "(SELECT bucket(ts, '1 day') AS ts, " +
        "sum(CAST(click * 100.0 AS int)) AS c " +
        "FROM dom.events GROUP BY bucket(ts, '1 day')) AS a " +
        "JOIN (SELECT bucket(ts, '1 day') AS ts, " +
        "sum(CAST(purchase * 100.0 AS int)) AS p " +
        "FROM dom.events GROUP BY bucket(ts, '1 day')) AS b " +
        "ON a.ts = b.ts) AS t")),

    // CUSUM changepoint statistic (Page): running evidence of an
    // upward / downward mean shift beyond target ± slack, floored at
    // zero — the alarm is a threshold over the emitted statistic. One
    // running-frame kernel pass per side; integer cents with integral
    // parameters keep every update exact, so the oracle replays the
    // recurrence through its closed form (running deviation sum minus
    // its running minimum) bit-identically
    "boost_ts_cusum" -> ((s, d) =>
      run(s, d, "SELECT ts, " +
        "cusum(CAST(purchase * 100.0 AS int), 4800.0, 1000.0) AS hi, " +
        "cusum_low(CAST(purchase * 100.0 AS int), 4800.0, 1000.0) AS lo " +
        "FROM dom.events WHERE purchase IS NOT NULL ORDER BY ts")),

    // lag-k autocorrelation per series key: Pearson corr of consecutive
    // (xᵢ, xᵢ₊ₖ) observation pairs in time order — the seasonality probe
    // ("does this user's spend echo itself k purchases later?"). One
    // lead() pass + the hash aggregate on the same keys (one exchange);
    // integer cents keep the pair sums exact, so the oracle replays the
    // identical IEEE tail
    "boost_ts_acf" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "acf(CAST(purchase * 100.0 AS int), 1) AS r1, " +
        "acf(CAST(purchase * 100.0 AS int), 2) AS r2, " +
        "count(purchase) AS n " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 5 ORDER BY purchase.user")),

    // time-weighted average on the SQL front: trapezoid integral over
    // integer cents — one lead() pass on the group keys + the hash
    // aggregate on the same keys (exchange reused), exact segment sums,
    // single double division tail
    "boost_ts_twa" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "round(twa(CAST(purchase * 100.0 AS int)), 6) AS tw, " +
        "count(purchase) AS n " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 1 ORDER BY purchase.user")),

    // the HOT-KEY ESCAPE spelling of the same query — twa(x, '1 day')
    // routes the lead-segment pre-pass through the bucket-then-stitch
    // decomposition (in-bucket segments per (key, day) + a boundary-
    // segment stitch over bucket summaries). The segment MULTISET is
    // identical and the sums are the same exact longs, so the result
    // is bit-equal to the single-pass form: it SHARES boost_ts_twa's
    // oracle verbatim — that sharing IS the proof the escape changes
    // the topology, not the answer.
    "boost_ts_twa_escape" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "round(twa(CAST(purchase * 100.0 AS int), '1 day'), 6) AS tw, " +
        "count(purchase) AS n " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 1 ORDER BY purchase.user")),

    // fixed-bin histogram: 8 conditional sums over [0, 25000) cents,
    // assembled into one comma-joined count string — a per-group
    // distribution summary with constant aggregation state
    "boost_histogram" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8) AS hist, " +
        "count(purchase) AS n " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // histogram_quantile over the histogram counts: the mergeable-
    // histogram read path — estimate percentiles from the fixed-state
    // bin counts (Prometheus-style uniform-within-bucket interpolation)
    // instead of re-scanning raw points. Structural dedup computes the
    // histogram aggregate once for both quantiles.
    "boost_hist_quantile" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "histogram_quantile(histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8), " +
        "                   0.5, 0, 25000) AS p50, " +
        "histogram_quantile(histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8), " +
        "                   0.9, 0, 25000) AS p90 " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // two-level histogram rollup: per-(user, day) partial histograms in
    // a derived table, merged per user with histogram_merge, percentile
    // read off the merged bins — the distribution twin of
    // boost_sketch_merge's per-day distinct rollup. The oracle computes
    // the histogram DIRECTLY from raw points: elementwise sums of
    // day-partials must equal the one-pass counts exactly (integer
    // merge law), and the quantile then matches bit for bit.
    "boost_hist_merge" -> ((s, d) =>
      run(s, d, "WITH dd AS (SELECT purchase.user AS u, bucket(ts, '1 day') AS dy, " +
        "histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8) AS dh " +
        "FROM dom.events GROUP BY u, dy) " +
        "SELECT u, histogram_merge(dh, 8) AS h, " +
        "histogram_quantile(histogram_merge(dh, 8), 0.5, 0, 25000) AS p50 " +
        "FROM dd GROUP BY u ORDER BY u")),

    // exact median over integer cents: odd groups pick an element,
    // even groups take the midpoint — exact halves of integers, so both
    // engines produce identical doubles
    "boost_median" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "median(CAST(purchase * 100.0 AS int)) AS med, count(*) AS n " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // session(ts, gap): 0-based per-partition session ids — a break
    // wherever the gap to the previous point exceeds the threshold,
    // then a running count of breaks. Pure integer arithmetic.
    "boost_ts_session" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "session(ts, '6 hours') OVER (PARTITION BY click.user) AS sid " +
        "FROM dom.events ORDER BY click.event_id")),

    // interp(x): linear interpolation of nulls between neighboring
    // observations on the epoch-micros axis; edges stay null. The CASE
    // synthesizes the gaps to fill (values <= 100 become null). Both
    // engines evaluate the identical IEEE formula per row.
    "boost_ts_interp" -> ((s, d) =>
      run(s, d, "SELECT view.event_id, " +
        "interp(CASE WHEN view > 100.0 THEN view END) AS f " +
        "FROM dom.events ORDER BY view.event_id")),

    // ewma(x, a): exponential smoothing y_i = a*x_i + (1-a)*y_(i-1)
    // over the implicit time axis, seeded y_1 = x_1. A running-frame
    // native window aggregate — one declarative update per row, O(n)
    // per series. The oracle replays the identical IEEE recurrence with
    // a recursive CTE, so the hashes match bit for bit.
    "boost_ts_ewma" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "ewma(click, 0.5) OVER (PARTITION BY click.user) AS sm " +
        "FROM dom.events ORDER BY click.event_id")),

    // the HOT-KEY ESCAPE spelling — ewma(x, alpha, '<width>') opts into
    // the bucket-then-stitch decomposition (TimeSeriesOps.ewmaStitched:
    // in-bucket kernel per (user, day), per-bucket affine chaining, a
    // bucket-summary stitch join). An OPT-IN spelling because the
    // stitch reassociates (~1e-9 vs the single pass in general); with
    // alpha = 0.5 every power and scale is exact, so the oracle replays
    // the DECOMPOSITION itself bit for bit (the ts_ewma_bucketed
    // discipline), proving the stitch algebra cross-engine through the
    // SQL front.
    "boost_ts_ewma_escape" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "ewma(click, 0.5, '1 day') OVER (PARTITION BY click.user) AS sm " +
        "FROM dom.events ORDER BY click.event_id")),

    // holt(x, a, b) / holt_forecast(x, a, b): double-exponential
    // smoothing — level + linear trend, the "where is this metric
    // heading" tier ewma can't answer (it lags any trending series).
    // Same running-frame kernel shape, two-slot (level, trend) state;
    // the oracle replays the identical IEEE recurrence recursively.
    "boost_ts_holt" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "holt(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS lv, " +
        "holt_forecast(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS fc " +
        "FROM dom.events ORDER BY click.event_id")),

    // the HOT-KEY ESCAPE spelling of holt — holt(x, α, β, '<width>')
    // opts into the 2-STATE bucket-then-stitch decomposition
    // (TimeSeriesOps.holtStitched): Holt's recurrence is linear in the
    // (level, trend) vector, so per-(user, day) kernels compose through
    // 2×2 affine maps chained by Affine2Scan, with the HoltScan kernel
    // carrying the running matrix power that finishes each row. Opt-in
    // (matrix products reassociate ~1e-9); α = ½, β = ¼ make every
    // matrix entry dyadic, so the oracle replays the DECOMPOSITION
    // itself bit for bit — both the level and the forecast face.
    "boost_ts_holt_escape" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "holt(click, 0.5, 0.25, '1 day') " +
        "OVER (PARTITION BY click.user) AS lv, " +
        "holt_forecast(click, 0.5, 0.25, '1 day') " +
        "OVER (PARTITION BY click.user) AS fc " +
        "FROM dom.events ORDER BY click.event_id")),

    // holt_winters(x, a, b, g, p) / holt_winters_forecast(...): additive
    // triple-exponential smoothing — level + trend + a p-slot seasonal
    // cycle, the periodic tier holt can't model (a daily cycle reads as
    // oscillating trend to it). Buffer = (level, trend, counter,
    // p seasonal slots); dyadic smoothing constants so 1-a/1-b/1-g are
    // exact doubles both sides; the oracle replays the recurrence with
    // a recursive CTE carrying the slot list.
    "boost_ts_holt_winters" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "holt_winters(click, 0.5, 0.25, 0.25, 4) " +
        "OVER (PARTITION BY click.user) AS hw, " +
        "holt_winters_forecast(click, 0.5, 0.25, 0.25, 4) " +
        "OVER (PARTITION BY click.user) AS fc " +
        "FROM dom.events ORDER BY click.event_id")),

    // the HOT-KEY ESCAPE spelling of holt_winters — an extra '<width>'
    // argument opts into the (2+p)-STATE bucket-then-stitch
    // (TimeSeriesOps.holtWintersStitched): the seasonal recurrence is
    // linear in (level, trend, p seasonal slots), but each step's
    // matrix depends on which slot the GLOBAL observation count
    // selects, so every (user, day) kernel first learns its entry
    // phase from a bucket-summary prefix count, then runs the seeded
    // scan plus the running 6×6 matrix product (HwScan), chains
    // per-bucket affine maps (AffineArrScan), and finishes each row as
    // z + P·Δ₁. Opt-in (matrix products reassociate ~1e-9); α = ½,
    // β = ¼, γ = ¼ make every matrix coefficient dyadic, so the oracle
    // replays the DECOMPOSITION itself bit for bit — both faces.
    "boost_ts_hw_escape" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "holt_winters(click, 0.5, 0.25, 0.25, 4, '1 day') " +
        "OVER (PARTITION BY click.user) AS hw, " +
        "holt_winters_forecast(click, 0.5, 0.25, 0.25, 4, '1 day') " +
        "OVER (PARTITION BY click.user) AS fc " +
        "FROM dom.events ORDER BY click.event_id")),

    // zscore(x): whole-partition standardization spelled as explicit
    // S/Q/n sums — an integral input keeps the sums exact (order-
    // independent), so the remaining double ops are a fixed IEEE
    // sequence and the result is cross-engine stable (the builtin
    // stddev's streaming update is not).
    "boost_ts_zscore" -> ((s, d) =>
      run(s, d, "SELECT click.event_id, " +
        "zscore(CAST(click * 100.0 AS int)) OVER (PARTITION BY click.user) AS z " +
        "FROM dom.events ORDER BY click.event_id")),

    // S5 write path, oracle-checked end to end: append the events
    // family to a fresh warehouse root (date-partitioned, series-sorted
    // — TimeSeriesTable.append, the WriteTagged analogue), reopen it,
    // and query the REREAD copy through the dialect. Matching the
    // direct-events oracle proves the write→read cycle lossless.
    "boost_roundtrip" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_roundtrip")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      val reread = TimeSeriesTable.open(s, root, "dom", "events")
      BoostQL.sql("SELECT view.event_id, view FROM dom.events WHERE view >= 200.0",
          _ => reread)
        .orderBy("view_event_id")
    }),

    // maintenance ops, oracle-checked end to end: two interleaved
    // appends (odd/even event ids — many small files), then COMPACT
    // rewrites into few sorted files per date partition; the dialect
    // query over the compacted copy must still match the direct-events
    // oracle bit for bit (compaction moves bytes, never rows)
    "boost_compact_roundtrip" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_compact")
      val fam = TimeSeriesTable.fromEventsFanned(Tables.events(s, d))
      import org.apache.spark.sql.functions.{col, element_at, lit, pmod}
      val id = element_at(col("attributes"), "event_id").cast("long")
      TimeSeriesTable.append(fam.filter(pmod(id, lit(2)) === 0), root, "dom", "events")
      TimeSeriesTable.append(fam.filter(pmod(id, lit(2)) === 1), root, "dom", "events")
      TimeSeriesTable.compact(s, root, "dom", "events")
      val reread = TimeSeriesTable.open(s, root, "dom", "events")
      BoostQL.sql("SELECT error.event_id, error FROM dom.events WHERE error >= 150.0",
          _ => reread)
        .orderBy("error_event_id")
    }),

    // EXPIRE drops whole date partitions older than the cutoff
    // (metadata-only retention); the surviving rows are exactly the
    // oracle's CAST(ts AS DATE) >= cutoff slice
    "boost_expire_roundtrip" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_expire")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      TimeSeriesTable.expire(s, root, "dom", "events",
        java.sql.Date.valueOf("2024-01-15"))
      val reread = TimeSeriesTable.open(s, root, "dom", "events")
      BoostQL.sql("SELECT click.user, count(*) AS n, " +
        "sum(CAST(click * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY click.user ORDER BY click.user",
          _ => reread)
    }),

    // SQL retention, oracle-checked end to end: the DELETE face drops
    // whole date partitions as metadata (never a rewrite), then the
    // dialect queries the survivors — matching the oracle's date slice
    // proves the partition-granular cut exact
    "boost_delete_roundtrip" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_sqldel")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      val dropped = BoostQL.sqlDelete(
        "DELETE FROM dom.events WHERE ts < DATE '2024-01-20'", s, root)
      require(dropped.nonEmpty, "expected partitions to drop")
      val reread = TimeSeriesTable.open(s, root, "dom", "events")
      BoostQL.sql("SELECT purchase.user, count(*) AS n, " +
        "sum(CAST(purchase * 100.0 AS int)) AS cents " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user",
          _ => reread)
    }),

    // ROW-LEVEL DELETE (the takedown path), oracle-checked end to end:
    // a predicate spanning two series (a user purge on clicks + a value
    // takedown on purchases) compiles to a copy-on-write rewrite of
    // only the affected date partitions, then the dialect re-aggregates
    // ALL THREE series from the reread family — clicks and purchases
    // show the deletions, views prove untouched series survive intact
    // (byte-identity of untouched partitions is pinned in
    // TimeSeriesTableSpec)
    "boost_delete_rows" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_rowdel")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      val affected = BoostQL.sqlDelete(
        "DELETE FROM dom.events WHERE click.user IN ('3', '7', '11') " +
          "OR purchase > 450.0", s, root)
      require(affected.nonEmpty, "expected affected partitions")
      val reread = TimeSeriesTable.open(s, root, "dom", "events")
      BoostQL.sql(
        "SELECT click.user AS u, count(*) AS n, " +
          "sum(CAST(click * 100.0 AS int)) AS cents " +
          "FROM dom.events GROUP BY click.user " +
          "UNION ALL SELECT purchase.user AS u, count(*) AS n, " +
          "sum(CAST(purchase * 100.0 AS int)) AS cents " +
          "FROM dom.events GROUP BY purchase.user " +
          "UNION ALL SELECT view.user AS u, count(*) AS n, " +
          "sum(CAST(view * 100.0 AS int)) AS cents " +
          "FROM dom.events GROUP BY view.user " +
          "ORDER BY u, n, cents", _ => reread)
    }),

    // ROW-LEVEL UPDATE (the redaction path), oracle-checked end to end:
    // a PII mask (click.user collapses to 'REDACTED' with the value
    // zeroed — multi-assignment, attribute + value in one statement)
    // and a value correction on purchases (arithmetic RHS referencing
    // the target series' own pre-update value), each a copy-on-write
    // rewrite of only the affected date partitions; the dialect then
    // re-aggregates ALL THREE series from the reread family — clicks
    // and purchases show the rewrites, views prove untouched series
    // survive intact (byte-identity of untouched partitions is pinned
    // in TimeSeriesTableSpec)
    "boost_update_rows" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_rowupd")
      TimeSeriesTable.append(
        TimeSeriesTable.fromEventsFanned(Tables.events(s, d)), root, "dom", "events")
      val a1 = BoostQL.sqlUpdate(
        "UPDATE dom.events SET click.user = 'REDACTED', click = 0.0 " +
          "WHERE click.user IN ('3', '7', '11')", s, root)
      require(a1.nonEmpty, "expected affected partitions")
      val a2 = BoostQL.sqlUpdate(
        "UPDATE dom.events SET purchase = 250.0 + (purchase - 250.0) * 0.5 " +
          "WHERE purchase > 250.0", s, root)
      require(a2.nonEmpty, "expected affected partitions")
      val reread = TimeSeriesTable.open(s, root, "dom", "events")
      BoostQL.sql(
        "SELECT click.user AS u, count(*) AS n, " +
          "sum(CAST(click * 100.0 AS int)) AS cents " +
          "FROM dom.events GROUP BY click.user " +
          "UNION ALL SELECT purchase.user AS u, count(*) AS n, " +
          "sum(CAST(purchase * 100.0 AS int)) AS cents " +
          "FROM dom.events GROUP BY purchase.user " +
          "UNION ALL SELECT view.user AS u, count(*) AS n, " +
          "sum(CAST(view * 100.0 AS int)) AS cents " +
          "FROM dom.events GROUP BY view.user " +
          "ORDER BY u, n, cents", _ => reread)
    }),

    // SQL ingest, oracle-checked end to end: INSERT INTO writes a
    // derived two-series family (each select column a series, UNPIVOT
    // to the long layout, date-partitioned append), then the dialect
    // queries the REREAD copy with exact-ts multi-series alignment —
    // p and p2 came from the same source rows, so the align join
    // reconstructs them pairwise. Matching the direct-events oracle
    // proves SQL write → reopen → query lossless.
    "boost_insert_roundtrip" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_insert")
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      BoostQL.sqlInsert(
        "INSERT INTO dom.derived SELECT ts, purchase AS p, " +
          "purchase * 2.0 AS p2 FROM dom.events",
        _ => fam, root)
      val reread = TimeSeriesTable.open(s, root, "dom", "derived")
      BoostQL.sql("SELECT p, p2, ts FROM dom.derived WHERE p > 250.0",
          _ => reread)
        .orderBy("ts")
    }),

    // ROW-LEVEL UPSERT (the re-delivery/merge verb), oracle-checked end
    // to end: seed a derived family by INSERT (one p point per purchase
    // ts), then UPSERT a correction batch over the high tail — same
    // (series, ts) keys, so the rows REPLACE the seed points via a
    // copy-on-write rewrite of only the colliding date partitions — and
    // a q series shifted 45 days past the corpus — no collisions, so
    // those rows take the additive append path into brand-new
    // partitions. The dialect reads both series from the reread family;
    // the oracle replays the merge as seed LEFT JOIN corrections.
    "boost_upsert_rows" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_upsert")
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      BoostQL.sqlInsert(
        "INSERT INTO dom.derived SELECT ts, max(purchase) AS p " +
          "FROM dom.events GROUP BY ts", _ => fam, root)
      val (replaced, _) = BoostQL.sqlUpsert(
        "UPSERT INTO dom.derived SELECT ts, max(purchase * 2.0) AS p " +
          "FROM dom.events WHERE purchase > 300.0 GROUP BY ts",
        _ => fam, root)
      require(replaced > 0, "expected the correction batch to replace rows")
      val (r2, w2) = BoostQL.sqlUpsert(
        "UPSERT INTO dom.derived SELECT ts + INTERVAL '45 days' AS ts, " +
          "max(view) AS q FROM dom.events GROUP BY ts", _ => fam, root)
      require(r2 == 0L && w2 > 0L,
        "expected the shifted q batch to be pure inserts")
      val reread = TimeSeriesTable.open(s, root, "dom", "derived")
      BoostQL.sql("SELECT p, ts FROM dom.derived " +
        "UNION ALL SELECT q AS p, ts FROM dom.derived ORDER BY ts, p",
          _ => reread)
    }),

    // attribute UNNEST: ATTRIBUTES(dom.fam, series) is a table source of
    // flat (ts, akey, avalue) rows — aggregation over attribute keys you
    // do NOT know ahead of time, the dynamic-key complement of the
    // static series.attr decode (which needs the key in the query text)
    "boost_unnest_attrs" -> ((s, d) =>
      run(s, d, "SELECT akey, count(*) AS n, min(avalue) AS lo, " +
        "max(avalue) AS hi FROM ATTRIBUTES(dom.events, purchase) " +
        "GROUP BY akey ORDER BY akey")),

    // the SQL face of incremental rollup maintenance: REFRESH ROLLUP
    // materializes the 6-hour rollup, a later ingest refreshes ONLY the
    // appended dates (asserted), and the final family hash-matches the
    // from-scratch replay — recording rules as one idempotent statement
    "boost_refresh_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, to_date, unix_micros}
      val root = StreamingOps.tempRoot("graft_sqlrefresh")
      val fam = TimeSeriesTable.fromEventsFanned(Tables.events(s, d))
      val cut = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
      TimeSeriesTable.append(fam.filter(col("ts") < lit(cut)),
        root, "dom", "events")
      val stmt = "REFRESH ROLLUP dom.events BUCKET '6 hours' AS h6"
      val (r1, _) = BoostQL.sqlRefreshRollup(stmt, s, root)
      TimeSeriesTable.append(fam.filter(col("ts") >= lit(cut)),
        root, "dom", "events")
      // the semantic claim is EXACTNESS: the refreshed partitions are
      // precisely the appended dates — no stale date recomputes, no
      // appended date is missed (collect bounded at one string per
      // date; corpus-split-ratio assumptions would break on replicated
      // scale corpora)
      val appended = fam.filter(col("ts") >= lit(cut))
        .select(to_date(col("ts")).cast("string")).distinct()
        .collect().map("dt=" + _.getString(0)).toSet
      val (r2, rm2) = BoostQL.sqlRefreshRollup(stmt, s, root)
      require(r2.toSet == appended && rm2.isEmpty,
        s"refresh must touch exactly the appended dates " +
          s"(${r2.size} vs ${appended.size})")
      TimeSeriesTable.open(s, root, "dom", "events_h6")
        .select(col("series"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .orderBy("series", "ts_us")
    }),

    // the DDL face: CTAS materializes a query as a NEW family (plain
    // re-CREATE refuses — accidental re-runs must not double a corpus),
    // OR REPLACE stages first then swaps (a failed select never
    // destroys the previous family), DROP FAMILY is the operational
    // whole-family drop the row-level DELETE refuses by design, and
    // IF EXISTS makes it idempotent. The read proves the REPLACE won.
    "boost_create_family" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_ctas")
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      val n1 = BoostQL.sqlCreateFamily(
        "CREATE FAMILY dom.derived AS SELECT ts, max(view) AS v " +
          "FROM dom.events GROUP BY ts", _ => fam, root)
      require(n1 > 0, "CTAS wrote no rows")
      val refused =
        try { BoostQL.sqlCreateFamily("CREATE FAMILY dom.derived AS " +
          "SELECT ts, max(view) AS v FROM dom.events GROUP BY ts",
          _ => fam, root); false }
        catch { case _: Compiler.CompileException => true }
      require(refused, "plain CREATE over an existing family must refuse")
      val n2 = BoostQL.sqlCreateFamily(
        "CREATE OR REPLACE FAMILY dom.derived AS SELECT ts, " +
          "max(view) * 2.0 AS v FROM dom.events GROUP BY ts", _ => fam, root)
      require(n2 == n1, "the replacement rollup has the same ts keys")
      BoostQL.sqlCreateFamily("CREATE FAMILY dom.scratch AS SELECT ts, " +
        "max(click) AS c FROM dom.events GROUP BY ts", _ => fam, root)
      require(BoostQL.sqlDropFamily("DROP FAMILY dom.scratch", s, root))
      require(!BoostQL.sqlDropFamily(
        "DROP FAMILY IF EXISTS dom.scratch", s, root))
      val reread = TimeSeriesTable.open(s, root, "dom", "derived")
      BoostQL.sql("SELECT v, ts FROM dom.derived ORDER BY ts",
        _ => reread)
    }),

    // ANSI MERGE (the general mutate verb; UPSERT is its unconditional
    // special case), oracle-checked end to end: seed p = per-ts max
    // purchase, then one MERGE whose batch carries corrections for the
    // >300 tail plus a 45-day-shifted view rollup. First-true-wins
    // clause order: raise-only corrections (src.value < 300) UPDATE,
    // the un-raised high tail (p > 200) DELETEs, everything else keeps,
    // and the shifted rows INSERT as unmatched. The dialect reads the
    // reread family; the oracle replays clause order via LEFT JOIN +
    // CASE with the same guards.
    "boost_merge_rows" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_merge")
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      BoostQL.sqlInsert(
        "INSERT INTO dom.derived SELECT ts, max(purchase) AS p " +
          "FROM dom.events GROUP BY ts", _ => fam, root)
      val (upd, del, ins) = BoostQL.sqlMerge(
        "MERGE INTO dom.derived USING (" +
          "SELECT ts, max(purchase * 2.0) AS p FROM dom.events " +
          "WHERE purchase > 100.0 GROUP BY ts " +
          "UNION ALL SELECT ts + INTERVAL '45 days' AS ts, " +
          "max(view) AS p FROM dom.events GROUP BY ts) " +
          "WHEN MATCHED AND src.value < 300.0 THEN UPDATE " +
          "WHEN MATCHED AND p > 200.0 THEN DELETE " +
          "WHEN NOT MATCHED THEN INSERT", _ => fam, root)
      require(upd > 0 && del > 0 && ins > 0,
        s"expected all three MERGE outcomes, got ($upd, $del, $ins)")
      val reread = TimeSeriesTable.open(s, root, "dom", "derived")
      BoostQL.sql("SELECT p, ts FROM dom.derived ORDER BY ts, p",
        _ => reread)
    }),

    // MERGE with the MIRROR-SYNC clause (WHEN NOT MATCHED BY SOURCE),
    // oracle-checked end to end: seed p = per-ts max purchase, then one
    // MERGE whose batch is the doubled >100 tail plus a 45-day-shifted
    // view rollup. Matched raise-only corrections UPDATE, unmatched
    // batch rows INSERT, and seed rows ABSENT from the batch DELETE
    // when small (p < 30) — the takedown half of keeping a derived
    // family in lockstep with its source. The oracle replays the full
    // outer join with the same clause guards.
    "boost_merge_sync" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_msync")
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      BoostQL.sqlInsert(
        "INSERT INTO dom.derived SELECT ts, max(purchase) AS p " +
          "FROM dom.events GROUP BY ts", _ => fam, root)
      val (upd, del, ins) = BoostQL.sqlMerge(
        "MERGE INTO dom.derived USING (" +
          "SELECT ts, max(purchase * 2.0) AS p FROM dom.events " +
          "WHERE purchase > 100.0 GROUP BY ts " +
          "UNION ALL SELECT ts + INTERVAL '45 days' AS ts, " +
          "max(view) AS p FROM dom.events GROUP BY ts) " +
          "WHEN MATCHED AND src.value < 300.0 THEN UPDATE " +
          "WHEN NOT MATCHED THEN INSERT " +
          "WHEN NOT MATCHED BY SOURCE AND p < 30.0 THEN DELETE",
        _ => fam, root)
      require(upd > 0 && del > 0 && ins > 0,
        s"expected update + by-source delete + insert, got ($upd, $del, $ins)")
      val reread = TimeSeriesTable.open(s, root, "dom", "derived")
      BoostQL.sql("SELECT p, ts FROM dom.derived ORDER BY ts, p",
        _ => reread)
    }),

    // MERGE with the by-source UPDATE clause (WHEN NOT MATCHED BY
    // SOURCE … THEN UPDATE SET), oracle-checked end to end: same seed
    // and batch as boost_merge_sync, but absent-key rows are FLAGGED
    // instead of purged — small strays negate their value and gain a
    // stale='y' attribute (SET over target columns only), large strays
    // still DELETE (first-true-wins among the by-source clauses),
    // mid-range strays keep. The readback surfaces the attribute so the
    // oracle's full-outer replay checks both the CASE-rewritten values
    // and the flag column.
    "boost_merge_sync_update" -> ((s, d) => {
      val root = StreamingOps.tempRoot("graft_msyncu")
      val fam = TimeSeriesTable.fromEvents(Tables.events(s, d))
      BoostQL.sqlInsert(
        "INSERT INTO dom.derived SELECT ts, max(purchase) AS p " +
          "FROM dom.events GROUP BY ts", _ => fam, root)
      val (upd, del, ins) = BoostQL.sqlMerge(
        "MERGE INTO dom.derived USING (" +
          "SELECT ts, max(purchase * 2.0) AS p FROM dom.events " +
          "WHERE purchase > 100.0 GROUP BY ts " +
          "UNION ALL SELECT ts + INTERVAL '45 days' AS ts, " +
          "max(view) AS p FROM dom.events GROUP BY ts) " +
          "WHEN MATCHED AND src.value < 300.0 THEN UPDATE " +
          "WHEN NOT MATCHED THEN INSERT " +
          "WHEN NOT MATCHED BY SOURCE AND p < 30.0 " +
          "THEN UPDATE SET p = p * -1.0, p.stale = 'y' " +
          "WHEN NOT MATCHED BY SOURCE AND p > 60.0 THEN DELETE",
        _ => fam, root)
      require(upd > 0 && del > 0 && ins > 0,
        s"expected update + by-source delete + insert, got ($upd, $del, $ins)")
      val reread = TimeSeriesTable.open(s, root, "dom", "derived")
      BoostQL.sql("SELECT p, p.stale AS stale, ts FROM dom.derived " +
        "ORDER BY ts, p", _ => reread)
    }),

    // WITH common table expressions (substitution into derived tables;
    // each use optimizes independently — here the cnt > 2 filter pushes
    // into only the b copy, shrinking the broadcast side)
    "boost_with" -> ((s, d) =>
      run(s, d, "WITH pu AS (SELECT purchase.user AS u, count(*) AS cnt " +
        "FROM dom.events GROUP BY purchase.user) " +
        "SELECT a.u, a.cnt FROM pu AS a JOIN pu AS b ON a.u = b.u " +
        "WHERE b.cnt > 2 ORDER BY a.u")),

    // a set-op compound as the derived-table body: branches union inside
    // the FROM, the outer aggregates over the combined rows
    "boost_from_union" -> ((s, d) =>
      run(s, d, "SELECT t.u, count(*) AS n FROM " +
        "(SELECT click.user AS u FROM dom.events WHERE click > 200.0 " +
        "UNION ALL SELECT view.user AS u FROM dom.events WHERE view > 200.0) AS t " +
        "GROUP BY t.u ORDER BY t.u")),

    // a derived table inside an IN-subquery FROM position: membership
    // against a pre-aggregated-then-filtered key set
    "boost_in_derived" -> ((s, d) =>
      run(s, d, "SELECT purchase.event_id, purchase FROM dom.events " +
        "WHERE purchase.user IN (SELECT t.u FROM " +
        "(SELECT click.user AS u, count(*) AS c FROM dom.events " +
        "GROUP BY click.user) AS t WHERE t.c > 15) " +
        "ORDER BY purchase.event_id")),

    // correlated scalar sub in the SELECT of a GROUPED query: legal when
    // the correlation rides the grouping key; attaches as one aggregate
    // pass + keyed left join after the outer aggregation
    "boost_scalar_corr_grouped" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.user, count(*) AS n, " +
        "(SELECT max(b.click) FROM dom.events AS b " +
        "WHERE b.click.user = a.purchase.user) AS mx " +
        "FROM dom.events AS a GROUP BY a.purchase.user " +
        "ORDER BY a.purchase.user")),

    // explicit ANSI GROUPING SETS — the general form behind ROLLUP/CUBE
    // (one native Expand, one shuffle regardless of set count); gu/gk
    // disambiguate super-rows from genuine NULL keys and totally order
    // the output across sets
    "boost_grouping_sets" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, purchase.k, " +
        "grouping(purchase.user) AS gu, grouping(purchase.k) AS gk, count(*) " +
        "FROM dom.events WHERE purchase > 150.0 " +
        "GROUP BY GROUPING SETS ((purchase.user, purchase.k), (purchase.k), ()) " +
        "ORDER BY gu, gk, purchase.user, purchase.k")),

    // Derived tables (`FROM (SELECT …) AS t`, ANSI): the subquery
    // compiles to its own frame, and Catalyst flattens the nesting so
    // outer predicates still push into the inner scan where legal —
    // an extension beyond the reference's family-name-only FROM
    // (joinparser.go:84-201)
    "boost_from_subquery" -> ((s, d) =>
      run(s, d, "SELECT t.u, t.cnt FROM " +
        "(SELECT purchase.user AS u, count(*) AS cnt FROM dom.events " +
        "GROUP BY purchase.user) AS t WHERE t.cnt > 2 ORDER BY t.u")),

    // derived table as a JOIN operand: per-user aggregate joined back
    // to the row level (the "filter facts by a grouped dimension" shape)
    "boost_join_subquery" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, t.cnt " +
        "FROM dom.events AS a JOIN " +
        "(SELECT purchase.user AS u, count(*) AS cnt FROM dom.events " +
        "GROUP BY purchase.user) AS t ON a.purchase.user = t.u " +
        "WHERE t.cnt > 2 ORDER BY a.purchase.event_id")),

    // ts functions over a derived table whose subquery PROPAGATES the
    // reserved axis (a timestamp output column named ts): bucket() binds
    // to the surviving axis — pre-filter-then-bucket, the shape a v1
    // "no time axis" refusal hit immediately. The executor window is
    // source-agnostic in the reference too (executor.go:239-252).
    "boost_ts_derived" -> ((s, d) =>
      run(s, d, "SELECT CAST(bucket(ts, '1 hour') AS int) AS h, count(*) AS n, " +
        "sum(CAST(v * 100.0 AS int)) AS cents " +
        "FROM (SELECT ts, click AS v FROM dom.events WHERE click < 200.0) AS t " +
        "GROUP BY CAST(bucket(ts, '1 hour') AS int) ORDER BY h")),

    // implicit-window ts function (rate) over a derived table: the axis
    // is never spelled in the outer query — it rides along internally
    // because the subquery output carries it
    "boost_ts_derived_rate" -> ((s, d) =>
      run(s, d, "SELECT eid, rate(v) AS r FROM " +
        "(SELECT ts, click.event_id AS eid, click AS v FROM dom.events) AS t " +
        "ORDER BY eid")),

    // ASOF JOIN against a derived table: time matching stays implicit,
    // binding to the subquery's propagated ts axis on the right side
    "boost_asof_derived" -> ((s, d) =>
      run(s, d, "SELECT a.purchase.event_id, a.purchase, b.c " +
        "FROM dom.events AS a ASOF JOIN " +
        "(SELECT ts, click.user AS u, click AS c FROM dom.events) AS b " +
        "ON a.purchase.user = b.u WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id")),

    // approx_distinct(x): the portable KMV bottom-k sketch as a dialect
    // aggregate (k = 64, bounded per-group state — count(DISTINCT x)
    // shuffles every distinct value, the sketch shuffles 64 longs).
    // Grouping by event_type exercises BOTH branches: small groups hit
    // the exact below-k path, click/view-sized groups the estimator.
    // The DuckDB oracle replays the identical md5 bottom-64 arithmetic.
    "boost_approx_distinct" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, approx_distinct(purchase.k) AS adk, " +
        "count(DISTINCT purchase.k) AS exk, " +
        "approx_distinct(purchase.event_id) AS ade " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user")),

    // percentile(x, p): exact interpolated percentile over integer
    // cents — rank p*(n-1) + linear interpolation, exact in doubles for
    // binary-fraction p over integral inputs, so DuckDB's quantile_cont
    // replays it bit-for-bit (median is the p=0.5 case, already pinned)
    // two-level sketch rollup: per-day KMV sketches in the derived
    // table, merged to ONE global estimate in the outer query — the
    // 100 TB distinct-count pattern (per-day sketches union in
    // kilobytes, raw values scanned once). The KMV merge law makes the
    // result hash-equal to approx_distinct on the raw column, which is
    // exactly what the DuckDB oracle replays.
    "boost_sketch_merge" -> ((s, d) =>
      run(s, d, "SELECT approx_distinct_merge(t.sk) AS merged, " +
        "count(*) AS n_days FROM " +
        "(SELECT CAST(bucket(ts, '1 day') AS int) AS day, " +
        "approx_distinct_sketch(purchase.event_id) AS sk " +
        "FROM dom.events GROUP BY CAST(bucket(ts, '1 day') AS int)) AS t")),

    "boost_percentile" -> ((s, d) =>
      run(s, d, "SELECT purchase.user, " +
        "percentile(CAST(purchase * 100.0 AS int), 0.25) AS p25, " +
        "percentile(CAST(purchase * 100.0 AS int), 0.75) AS p75, " +
        "count(*) AS n FROM dom.events GROUP BY purchase.user " +
        "ORDER BY purchase.user")),

    // approx_percentile(x, p): the sampled quantile sketch
    // (KmvSampleAgg, k = 256) on the SQL front — per-day groups hold
    // ~10x k purchase rows, so every group exercises the k-capped
    // estimator path (never the exact below-k fallback), next to the
    // exact percentile for comparison. The sample keys on md5 of the
    // epoch-micros time axis (ts is unique per series by the datapoint
    // model), so the DuckDB oracle replays it exactly: rank by md5,
    // keep 256, interpolate.
    "boost_approx_percentile" -> ((s, d) =>
      run(s, d, "SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
        "approx_percentile(CAST(purchase * 100.0 AS int), 0.5) AS ap50, " +
        "percentile(CAST(purchase * 100.0 AS int), 0.5) AS p50, " +
        "count(*) AS n FROM dom.events GROUP BY d ORDER BY d")),

    // two-level quantile rollup: per-(user, week) sample sketches in the
    // inner query, merged per user in the outer one — by the bottom-k
    // merge law the merged sample IS the single-pass sample, so the
    // rollup answers quantiles from kilobyte sketches without
    // re-scanning values (the quantile twin of boost_sketch_merge)
    "boost_percentile_rollup" -> ((s, d) =>
      run(s, d, "SELECT t.u AS u, " +
        "approx_percentile_merge(t.sk, 0.5) AS p50, count(*) AS parts " +
        "FROM (SELECT click.user AS u, CAST(bucket(ts, '1 week') AS int) AS w, " +
        "approx_percentile_sketch(CAST(click * 100.0 AS int)) AS sk " +
        "FROM dom.events GROUP BY u, w) AS t " +
        "GROUP BY t.u ORDER BY u")),

    // product-analytics statements through the dialect front door:
    // ordered funnel (strictly-after step advancement), the bounded
    // variant, day-N retention cohorts, and MAD outliers — each
    // compiling to the TimeSeriesOps operator and replayed in DuckDB
    "boost_funnel" -> ((s, d) =>
      run(s, d, "FUNNEL signup -> click -> purchase BY user " +
        "FROM dom.events")),

    "boost_funnel_within" -> ((s, d) =>
      run(s, d, "FUNNEL signup -> click -> purchase BY user " +
        "WITHIN '7 days' FROM dom.events")),

    "boost_retention" -> ((s, d) =>
      run(s, d, "RETENTION BY user MAX 30 DAYS FROM dom.events")),

    "boost_mad_outliers" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      run(s, d, "OUTLIERS purchase K 3.0 FROM dom.events")
        .select(col("ts_us"), col("value"),
          round(col("dev"), 6).as("dev"), round(col("mad"), 6).as("mad"))
        .orderBy("ts_us", "value")
    }),

    // EXPLAIN through the dialect front door: compiles (never executes)
    // the statement and returns the formatted Spark plan as one row.
    // The plan TEXT is engine-specific, so the registered query emits
    // INVARIANT booleans computed from it (plan present, a Filter and a
    // Project node planned, the predicate literal visible in the
    // condition) — DuckDB predicts TRUE for each, so a lost filter or
    // an empty plan is a hash mismatch. The raw-text face stays
    // reachable via BoostQL.sql("EXPLAIN …"); the PushedFilters claim
    // is asserted in PlanShapeSpec against a graft-written store.
    "boost_explain" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      run(s, d, "EXPLAIN SELECT click.user, click FROM dom.events " +
        "WHERE click < 100.0")
        .select(
          (length(col("plan")) > 0).as("plan_nonempty"),
          col("plan").contains("Filter").as("has_filter"),
          col("plan").contains("Project").as("has_project"),
          col("plan").contains("100.0").as("has_predicate"))
    })
  )

  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    // the escaped twa is BIT-EQUAL to the single-pass form (identical
    // segment multiset, identical exact long sums) — sharing the oracle
    // verbatim is the proof the escape changes only the topology
    m + ("boost_ts_twa_escape" -> m("boost_ts_twa")) +
      ("boost_ts_hw_escape" -> hwEscapeOracleSql) +
      // the manifest-cache-served DESCRIBE must equal the frame form
      // exactly (exact per-partition merge) — sharing the oracle
      // verbatim is the proof
      ("boost_describe_cached" -> m("boost_describe"))
  }

  /** Decomposition-replay oracle for the stitched holt_winters escape
    * (p = 4, α = ½, β = ¼, γ = ¼ — every step-matrix coefficient
    * dyadic): replays the ESCAPE's own arithmetic — the per-bucket
    * entry phase from a bucket-summary prefix count, the seeded
    * in-bucket recursion carrying (l, b, s0..s3) AND the running 6×6
    * matrix product P (the boost_ts_holt_escape discipline in 6
    * dimensions), the per-bucket affine maps (A = P·M_φ,
    * d = z + P·u), the recursive per-user chain, and each row's
    * z + P·Δ₁ finish — with every expression association mirroring the
    * Spark kernels (HwScan / AffineArrScan /
    * TimeSeriesOps.holtWintersStitched), so the replay is bit-exact.
    * The 6×6 select lists are generated by loops to keep the 36-column
    * matrix recursion typo-proof.
    */
  private lazy val hwEscapeOracleSql: String = {
    val p = 4; val dim = 2 + p
    // step-matrix coefficients at α = .5, β = .25, γ = .25 (all dyadic):
    // row l = (a1, a1, a2·slot), row b = (b1, b2, b3·slot),
    // row s_j = (g1, g1, g2·slot)
    val (a1, a2) = ("0.5", "-0.5")
    val (b1, b2, b3) = ("-0.125", "0.875", "-0.125")
    val (g1, g2) = ("-0.125", "0.875")
    def st(r: Int) = if (r == 0) "l" else if (r == 1) "b" else s"s${r - 2}"
    def pn(r: Int, c: Int) = s"p${r}_$c"
    // slot dispatch on the step's global phase (the z recursion's rows)
    def caseJj(sel: Int => String) =
      s"(CASE ((p.phi + p.rn - 1) % $p) " +
        (0 until p).map(m => s"WHEN $m THEN ${sel(m)}").mkString(" ") +
        " END)"
    def casePhi(pre: String, sel: Int => String) =
      s"(CASE $pre.phi " +
        (0 until p).map(m => s"WHEN $m THEN ${sel(m)}").mkString(" ") +
        " END)"
    val seedP = (0 until dim).flatMap(r => (0 until dim).map(c =>
      s"CAST(${if (r == c) "1.0" else "0.0"} AS DOUBLE) AS ${pn(r, c)}"))
    val ln = s"0.5 * (p.x - ${caseJj(m => s"z.s$m")}) + 0.5 * (z.l + z.b)"
    val stepS = (0 until p).map(m =>
      s"CASE WHEN ((p.phi + p.rn - 1) % $p) = $m " +
        s"THEN 0.25 * (p.x - ($ln)) + 0.75 * z.s$m ELSE z.s$m END")
    val stepP = (0 until dim).flatMap { r =>
      (0 until dim).map { c =>
        r match {
          case 0 => s"$a1 * z.${pn(0, c)} + $a1 * z.${pn(1, c)} + " +
            s"$a2 * ${caseJj(m => s"z.${pn(2 + m, c)}")}"
          case 1 => s"$b1 * z.${pn(0, c)} + $b2 * z.${pn(1, c)} + " +
            s"$b3 * ${caseJj(m => s"z.${pn(2 + m, c)}")}"
          case _ =>
            val m = r - 2
            s"CASE WHEN ((p.phi + p.rn - 1) % $p) = $m " +
              s"THEN $g1 * z.${pn(0, c)} + $g1 * z.${pn(1, c)} + " +
              s"$g2 * z.${pn(r, c)} ELSE z.${pn(r, c)} END"
        }
      }
    }
    // per-bucket affine map A = P_n·M_φ (columns l/b mix rows l/b/s_φ
    // of M; a seasonal column moves only when it IS the φ slot),
    // d = z_n + P_n·u with u = ((α−1)x₁, αβx₁, γ(1−α)x₁ at slot φ)
    val aCols = (0 until dim).flatMap { r =>
      (0 until dim).map { c =>
        val e = c match {
          case 0 => s"z.${pn(r, 0)} * 0.5 + z.${pn(r, 1)} * -0.125 + " +
            s"${casePhi("z", m => s"z.${pn(r, 2 + m)}")} * -0.125"
          case 1 => s"z.${pn(r, 0)} * 0.5 + z.${pn(r, 1)} * 0.875 + " +
            s"${casePhi("z", m => s"z.${pn(r, 2 + m)}")} * -0.125"
          case _ =>
            val m = c - 2
            s"CASE WHEN z.phi = $m THEN z.${pn(r, 0)} * -0.5 + " +
              s"z.${pn(r, 1)} * -0.125 + z.${pn(r, 2 + m)} * 0.875 " +
              s"ELSE z.${pn(r, 2 + m)} END"
        }
        s"$e AS a${r}_$c"
      }
    }
    val dCols = (0 until dim).map(r =>
      s"z.${st(r)} + (z.${pn(r, 0)} * (-0.5 * z.x1) + " +
        s"z.${pn(r, 1)} * (0.125 * z.x1) + " +
        s"${casePhi("z", m => s"z.${pn(r, 2 + m)}")} * (0.125 * z.x1)) " +
        s"AS d$r")
    val sdCols = (0 until dim).map(r => s"z.${st(r)} AS sd$r")
    val chStep = (0 until dim).map(r =>
      (0 until dim).map(c => s"m.a${r}_$c * ch.y$c").mkString(" + ") +
        s" + m.d$r")
    // Δ₁ per bucket: M_φ·v_in + c_φ·x₁ − (x₁, 0, …)
    val ddCols = {
      val vPhi = casePhi("m", m => s"vin.v${2 + m}")
      Seq(
        s"0.5 * (vin.v0 + vin.v1) + -0.5 * $vPhi + -0.5 * m.x1 AS dd0",
        s"-0.125 * vin.v0 + 0.875 * vin.v1 + -0.125 * $vPhi + " +
          "0.125 * m.x1 AS dd1") ++
        (0 until p).map(m =>
          s"CASE WHEN m.phi = $m THEN -0.125 * vin.v0 + " +
            s"-0.125 * vin.v1 + 0.875 * vin.v${2 + m} + 0.125 * m.x1 " +
            s"ELSE vin.v${2 + m} END AS dd${2 + m}")
    }
    def corr(r: Int) =
      (0 until dim).map(c => s"z.${pn(r, c)} * dlt.dd$c").mkString(" + ")
    def caseFin(idx: String, sel: Int => String) =
      s"(CASE (($idx) % $p) " +
        (0 until p).map(m => s"WHEN $m THEN ${sel(m)}").mkString(" ") +
        " END)"
    val jjFit = "z.phi + z.rn - 1"
    val jjFc = "z.phi + z.rn"
    val hwOut =
      s"CASE WHEN dlt.v0 IS NULL THEN z.l + ${caseFin(jjFit, m => s"z.s$m")} " +
        s"ELSE (z.l + (${corr(0)})) + " +
        s"${caseFin(jjFit, m => s"(z.s$m + (${corr(2 + m)}))")} END"
    val fcOut =
      s"CASE WHEN dlt.v0 IS NULL THEN (z.l + z.b) + " +
        s"${caseFin(jjFc, m => s"z.s$m")} " +
        s"ELSE ((z.l + (${corr(0)})) + (z.b + (${corr(1)}))) + " +
        s"${caseFin(jjFc, m => s"(z.s$m + (${corr(2 + m)}))")} END"
    s"""WITH RECURSIVE base AS (
       |  SELECT event_id, user_id, value AS x, ts,
       |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bk
       |  FROM events WHERE event_type = 'click'
       |), bc AS (
       |  SELECT user_id, bk, count(*) AS c FROM base GROUP BY 1, 2
       |), phs AS (
       |  SELECT user_id, bk, CAST(coalesce(sum(c) OVER (
       |    PARTITION BY user_id ORDER BY bk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % $p
       |    AS BIGINT) AS phi
       |  FROM bc
       |), pts AS (
       |  SELECT b.event_id, b.user_id, b.x, b.bk, phs.phi,
       |    row_number() OVER (PARTITION BY b.user_id, b.bk
       |      ORDER BY b.ts) AS rn,
       |    count(*) OVER (PARTITION BY b.user_id, b.bk) AS nb,
       |    first_value(b.x) OVER (PARTITION BY b.user_id, b.bk
       |      ORDER BY b.ts) AS x1
       |  FROM base b JOIN phs ON b.user_id = phs.user_id AND b.bk = phs.bk
       |), z AS (
       |  SELECT event_id, user_id, bk, rn, nb, x1, phi, x AS l,
       |    CAST(0.0 AS DOUBLE) AS b,
       |    ${(0 until p).map(m => s"CAST(0.0 AS DOUBLE) AS s$m")
            .mkString(", ")},
       |    ${seedP.mkString(",\n       |    ")}
       |  FROM pts WHERE rn = 1
       |  UNION ALL
       |  SELECT p.event_id, p.user_id, p.bk, p.rn, p.nb, p.x1, p.phi,
       |    $ln,
       |    0.25 * (($ln) - z.l) + 0.75 * z.b,
       |    ${stepS.mkString(",\n       |    ")},
       |    ${stepP.mkString(",\n       |    ")}
       |  FROM pts p JOIN z
       |    ON p.user_id = z.user_id AND p.bk = z.bk AND p.rn = z.rn + 1
       |), sm AS (
       |  SELECT z.user_id, z.bk, z.phi, z.x1,
       |    ${aCols.mkString(",\n       |    ")},
       |    ${dCols.mkString(",\n       |    ")},
       |    ${sdCols.mkString(",\n       |    ")},
       |    row_number() OVER (PARTITION BY z.user_id ORDER BY z.bk) AS bi
       |  FROM z WHERE z.rn = z.nb
       |), ch AS (
       |  SELECT user_id, bk, bi, ${(0 until dim)
            .map(r => s"sd$r AS y$r").mkString(", ")}
       |  FROM sm WHERE bi = 1
       |  UNION ALL
       |  SELECT m.user_id, m.bk, m.bi,
       |    ${chStep.mkString(",\n       |    ")}
       |  FROM sm m JOIN ch ON m.user_id = ch.user_id AND m.bi = ch.bi + 1
       |), vin AS (
       |  SELECT user_id, bk, ${(0 until dim).map(r =>
            s"lag(y$r) OVER (PARTITION BY user_id ORDER BY bk) AS v$r")
            .mkString(",\n       |    ")}
       |  FROM ch
       |), dlt AS (
       |  SELECT vin.user_id, vin.bk, vin.v0, vin.v1,
       |    ${ddCols.mkString(",\n       |    ")}
       |  FROM vin JOIN sm m ON vin.user_id = m.user_id AND vin.bk = m.bk
       |)
       |SELECT CAST(z.event_id AS VARCHAR) AS click_event_id,
       |  $hwOut AS hw,
       |  $fcOut AS fc
       |FROM z JOIN dlt ON z.user_id = dlt.user_id AND z.bk = dlt.bk
       |ORDER BY click_event_id""".stripMargin
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "boost_select_where" ->
      """SELECT CAST(user_id AS VARCHAR) AS click_user, value AS click
        |FROM events WHERE event_type = 'click' AND value < 100.0
        |ORDER BY click_user, click""".stripMargin,

    "boost_and_or" ->
      """SELECT CAST(event_id AS VARCHAR) AS signup_event_id, value AS signup
        |FROM events WHERE event_type = 'signup'
        |  AND ((value >= 50.0 AND value <= 200.0) OR CAST(user_id AS VARCHAR) = '7')
        |ORDER BY signup_event_id""".stripMargin,

    // DuckDB has native QUALIFY with alias references — a direct replay
    "boost_qualify" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  CAST(event_id AS VARCHAR) AS purchase_event_id, value AS purchase,
        |  row_number() OVER (PARTITION BY CAST(user_id AS VARCHAR)
        |    ORDER BY value DESC, CAST(event_id AS VARCHAR)) AS rk
        |FROM events WHERE event_type = 'purchase'
        |QUALIFY rk <= 2
        |ORDER BY purchase_user, rk""".stripMargin,

    "boost_qualify_derived" ->
      """SELECT CAST(user_id AS VARCHAR) AS u, value AS v,
        |  row_number() OVER (PARTITION BY CAST(user_id AS VARCHAR)
        |    ORDER BY value DESC, CAST(event_id AS VARCHAR)) AS rk
        |FROM events WHERE event_type = 'purchase' AND value > 200.0
        |QUALIFY rk = 1 ORDER BY u""".stripMargin,

    "boost_interval_select" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  ts + INTERVAL 1 HOUR AS t1, ts - INTERVAL 30 MINUTE AS t0
        |FROM events WHERE event_type = 'click' AND value > 290.0
        |ORDER BY click_event_id""".stripMargin,

    // DuckDB's month/year INTERVAL arithmetic clamps day-of-month the
    // same way ANSI year-month addition does — t1 hash-matches the
    // Feb-29 clamp on the month-end rows
    "boost_interval_month" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  ts + INTERVAL 1 MONTH AS t1, ts - INTERVAL 1 YEAR AS t0
        |FROM events WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-02-28 00:00:00' - INTERVAL 1 MONTH
        |  AND ts < TIMESTAMP '2023-01-31 00:00:00' + INTERVAL 1 YEAR
        |ORDER BY click_event_id""".stripMargin,

    // catalog replay: attribute keys = props JSON keys plus the two
    // hoisted columns; tags are the adapter's constant dc/env pair
    "boost_describe" ->
      """WITH ak AS (
        |  SELECT event_type AS series,
        |    array_to_string(list_sort(list_distinct(
        |      list_concat(flatten(list(json_keys(props))),
        |                  ['event_id', 'user']))), ',') AS attr_keys
        |  FROM events GROUP BY 1)
        |SELECT e.event_type AS series, count(*) AS n_points,
        |  min(epoch_us(e.ts)) AS first_us, max(epoch_us(e.ts)) AS last_us,
        |  ak.attr_keys, 'dc,env' AS tag_keys
        |FROM events e JOIN ak ON ak.series = e.event_type
        |GROUP BY 1, ak.attr_keys ORDER BY series""".stripMargin,

    // the sampling predicate replays as the same md5 arithmetic
    // (n / 2^32 exact in both engines)
    "boost_sample" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user, COUNT(*) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM events WHERE event_type = 'purchase'
        |  AND ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT::DOUBLE
        |      / 4294967296.0 < 0.25
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    "boost_groupby_having" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user, COUNT(*) AS count_star,
        |  MIN(value) AS min_purchase, MAX(value) AS max_purchase
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 HAVING COUNT(*) > 2
        |ORDER BY purchase_user""".stripMargin,

    "boost_orderby_limit" ->
      """SELECT value AS error, CAST(event_id AS VARCHAR) AS error_event_id
        |FROM events WHERE event_type = 'error' AND value > 150.0
        |ORDER BY error DESC, error_event_id LIMIT 20""".stripMargin,

    "boost_join" ->
      """SELECT CAST(a.user_id AS VARCHAR) AS a_click_user, COUNT(*) AS count_star
        |FROM (SELECT * FROM events WHERE event_type = 'click' AND value < 100.0) a
        |JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |GROUP BY 1 ORDER BY a_click_user""".stripMargin,

    // hints don't change results: same oracle shape as boost_join
    "boost_broadcast_join" ->
      """SELECT CAST(a.user_id AS VARCHAR) AS a_click_user, COUNT(*) AS count_star
        |FROM (SELECT * FROM events WHERE event_type = 'click' AND value < 100.0) a
        |JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |GROUP BY 1 ORDER BY a_click_user""".stripMargin,

    "boost_cross_where" ->
      """SELECT COUNT(*) AS count_star
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a,
        |     (SELECT * FROM events WHERE event_type = 'signup') b
        |WHERE CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)""".stripMargin,

    "boost_not" ->
      """SELECT CAST(event_id AS VARCHAR) AS signup_event_id, value AS signup
        |FROM events WHERE event_type = 'signup'
        |  AND NOT (value < 50.0 OR value > 200.0)
        |ORDER BY signup_event_id""".stripMargin,

    // tags are deterministic per series (see TimeSeriesTable.fromEvents):
    // purchase → env=test, dc=dc2 (length 8 % 3), so the tag predicates
    // reduce to constants here and the tag columns to literals
    "boost_tag_filter" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  'test' AS purchase_env, 'dc2' AS purchase_dc, value AS purchase
        |FROM events WHERE event_type = 'purchase' AND value > 100.0
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_interval" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id, value AS click
        |FROM events WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-12 00:00:00' - INTERVAL 2 DAY
        |  AND ts < TIMESTAMP '2024-01-10 00:00:00' + INTERVAL 2 DAY
        |ORDER BY click_event_id""".stripMargin,

    "boost_time_scope" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id, value AS click
        |FROM events WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY click_event_id""".stripMargin,

    "boost_date_literal" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id, value AS click
        |FROM events WHERE event_type = 'click'
        |  AND ts >= DATE '2024-01-10'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY click_event_id""".stripMargin,

    "boost_in_subquery" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  CAST(user_id AS VARCHAR) AS purchase_user, value AS purchase
        |FROM events WHERE event_type = 'purchase'
        |  AND CAST(user_id AS VARCHAR) IN
        |    (SELECT CAST(user_id AS VARCHAR) FROM events
        |     WHERE event_type = 'error' AND value > 150.0)
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_not_exists" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS purchase_event_id,
        |  a.value AS purchase
        |FROM events a WHERE a.event_type = 'purchase'
        |  AND NOT EXISTS (SELECT 1 FROM events b
        |    WHERE b.event_type = 'error' AND b.user_id = a.user_id
        |      AND b.value > 150.0)
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_case" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  value AS purchase,
        |  CASE WHEN value > 200.0 THEN 'high' WHEN value > 100.0 THEN 'mid'
        |  ELSE 'low' END AS tier
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY tier, purchase_event_id""".stripMargin,

    "boost_window_frame" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) OVER
        |    (PARTITION BY user_id ORDER BY ts, CAST(event_id AS VARCHAR)
        |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents4
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_window_rank_ratio" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(value, 2) OVER (PARTITION BY user_id
        |    ORDER BY value, CAST(event_id AS VARCHAR)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv
        |FROM events WHERE event_type = 'click'
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY value, CAST(event_id AS VARCHAR))
        |ORDER BY click_event_id""".stripMargin,

    // the mean is engine-computed on both sides; a purchase exactly at
    // the (last-ulp-different) means would flip the filter, but the
    // corpus values are 2-decimal and never land within ulps of a mean
    "boost_scalar_sub" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  value AS purchase
        |FROM events WHERE event_type = 'purchase'
        |  AND value > (SELECT AVG(value) FROM events
        |               WHERE event_type = 'purchase')
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_scalar_select" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  value AS purchase,
        |  (SELECT MAX(value) FROM events WHERE event_type = 'click') AS mxc,
        |  (SELECT COUNT(*) FROM events
        |   WHERE event_type = 'error' AND value > 250.0) AS nerr
        |FROM events WHERE event_type = 'purchase' AND value > 300.0
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_scalar_corr" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS purchase_event_id,
        |  a.value AS purchase,
        |  (SELECT COUNT(b.value) FROM events b
        |   WHERE b.event_type = 'click'
        |     AND CAST(b.user_id AS VARCHAR) = CAST(a.user_id AS VARCHAR)) AS nclicks
        |FROM events a
        |WHERE a.event_type = 'purchase'
        |  AND a.value < (SELECT MAX(c.value) FROM events c
        |                 WHERE c.event_type = 'error'
        |                   AND CAST(c.user_id AS VARCHAR) = CAST(a.user_id AS VARCHAR))
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_cond_agg" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  CAST(SUM(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  MAX(CASE WHEN value > 200.0 THEN value ELSE 0.0 END) AS max_high,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    "boost_filter_agg" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  CAST(COUNT(*) FILTER (value > 200.0) AS BIGINT) AS n_high,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT))
        |       FILTER (value <= 200.0) AS BIGINT) AS low_cents,
        |  COUNT(*) AS count_star
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    "boost_rollup" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  props->>'k' AS purchase_k,
        |  COUNT(*) AS count_star,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase' AND value > 150.0
        |GROUP BY ROLLUP(CAST(user_id AS VARCHAR), props->>'k')
        |ORDER BY purchase_user NULLS FIRST, purchase_k NULLS FIRST""".stripMargin,

    "boost_grouping" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  props->>'k' AS purchase_k,
        |  CAST(GROUPING(CAST(user_id AS VARCHAR)) AS TINYINT) AS gu,
        |  CAST(GROUPING(props->>'k') AS TINYINT) AS gk,
        |  COUNT(*) AS count_star
        |FROM events WHERE event_type = 'purchase' AND value > 150.0
        |GROUP BY ROLLUP(CAST(user_id AS VARCHAR), props->>'k')
        |ORDER BY purchase_user NULLS FIRST, purchase_k NULLS FIRST""".stripMargin,

    "boost_cube" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  props->>'k' AS purchase_k,
        |  COUNT(*) AS count_star
        |FROM events WHERE event_type = 'purchase' AND value > 150.0
        |GROUP BY CUBE(CAST(user_id AS VARCHAR), props->>'k')
        |ORDER BY purchase_user NULLS FIRST, purchase_k NULLS FIRST""".stripMargin,

    "boost_union" ->
      """SELECT * FROM (
        |  SELECT CAST(event_id AS VARCHAR) AS click_event_id, value AS click
        |  FROM events WHERE event_type = 'click' AND value > 240.0
        |  UNION ALL
        |  SELECT CAST(event_id AS VARCHAR), value
        |  FROM events WHERE event_type = 'view' AND value > 240.0
        |) ORDER BY 2 DESC, 1 LIMIT 50""".stripMargin,

    "boost_except_all" ->
      """SELECT * FROM (
        |  SELECT props->>'k' AS purchase_k
        |  FROM events WHERE event_type = 'purchase' AND value > 150.0
        |  EXCEPT ALL
        |  SELECT props->>'k'
        |  FROM events WHERE event_type = 'purchase' AND value > 250.0
        |) ORDER BY purchase_k""".stripMargin,

    "boost_intersect" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user
        |FROM events WHERE event_type = 'purchase' AND value > 200.0
        |INTERSECT
        |SELECT CAST(user_id AS VARCHAR)
        |FROM events WHERE event_type = 'error' AND value > 150.0
        |ORDER BY 1""".stripMargin,

    "boost_left_join" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase,
        |  CAST(b.event_id AS VARCHAR) AS b_error_event_id, b.value AS b_error
        |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR) AND b.value > 250.0
        |ORDER BY a_purchase_event_id, b_error_event_id NULLS FIRST""".stripMargin,

    "boost_right_join" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase,
        |  CAST(b.event_id AS VARCHAR) AS b_error_event_id, b.value AS b_error
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |RIGHT JOIN (SELECT * FROM events WHERE event_type = 'error' AND value > 250.0) b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR) AND a.value > 300.0
        |ORDER BY a_purchase_event_id NULLS FIRST, b_error_event_id""".stripMargin,

    "boost_full_join" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase,
        |  CAST(b.event_id AS VARCHAR) AS b_error_event_id, b.value AS b_error
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'error') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |  AND b.value > 250.0 AND a.value > 300.0
        |ORDER BY a_purchase_event_id NULLS FIRST, b_error_event_id NULLS FIRST""".stripMargin,

    "boost_null_attr" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase
        |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error' AND value > 250.0) b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |WHERE b.value IS NULL
        |ORDER BY a_purchase_event_id""".stripMargin,

    "boost_arith" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  value * 2.0 - 100.0 AS adj
        |FROM events WHERE event_type = 'purchase' AND value * 0.5 > 100.0
        |ORDER BY adj DESC, purchase_event_id""".stripMargin,

    "boost_group_expr" ->
      """SELECT value * 0.5 AS half, count(*) AS count_star
        |FROM events WHERE event_type = 'click'
        |GROUP BY half ORDER BY half LIMIT 20""".stripMargin,

    "boost_distinct" ->
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS purchase_user
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY purchase_user LIMIT 50""".stripMargin,

    "boost_in_between_like" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  CAST(user_id AS VARCHAR) AS click_user, value AS click
        |FROM events WHERE event_type = 'click'
        |  AND CAST(user_id AS VARCHAR) IN ('3', '7', '11')
        |  AND value BETWEEN 50.0 AND 250.0
        |  AND CAST(user_id AS VARCHAR) NOT LIKE '1%'
        |ORDER BY click_event_id""".stripMargin,

    // DuckDB has the same ANSI WINDOW clause — the oracle is the
    // near-identical spelling
    "boost_window_clause" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id, value AS purchase,
        |  rank() OVER w AS rk, row_number() OVER w AS rn,
        |  lag(value, 1) OVER w AS prev, count(*) OVER u AS user_n
        |FROM events WHERE event_type = 'purchase' AND value > 100.0
        |WINDOW w AS (PARTITION BY user_id
        |    ORDER BY value DESC, CAST(event_id AS VARCHAR)),
        |  u AS (PARTITION BY user_id)
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_window" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id, value AS purchase,
        |  rank() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, CAST(event_id AS VARCHAR)) AS rk,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, CAST(event_id AS VARCHAR)) AS rn,
        |  max(value) OVER (PARTITION BY user_id) AS user_max,
        |  count(*) OVER (PARTITION BY user_id) AS user_n,
        |  lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY value DESC, CAST(event_id AS VARCHAR)) AS prev
        |FROM events WHERE event_type = 'purchase' AND value > 100.0
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_asof_join" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase,
        |  CAST(b.event_id AS VARCHAR) AS b_click_event_id, b.value AS b_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |  AND b.ts <= a.ts
        |ORDER BY a_purchase_event_id""".stripMargin,

    // tolerance replay: DuckDB's ASOF picks the same latest-at-or-
    // before row, then the WITHIN bound drops beyond-tolerance matches
    "boost_asof_within" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase,
        |  CAST(b.event_id AS VARCHAR) AS b_click_event_id, b.value AS b_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |  AND b.ts <= a.ts
        |WHERE a.ts - b.ts <= INTERVAL 2 DAY
        |ORDER BY a_purchase_event_id""".stripMargin,

    "boost_asof_forward" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase,
        |  CAST(b.event_id AS VARCHAR) AS b_click_event_id, b.value AS b_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |  AND b.ts >= a.ts
        |WHERE b.ts - a.ts <= INTERVAL 1 DAY
        |ORDER BY a_purchase_event_id""".stripMargin,

    // nearest replay: DuckDB's ASOF is single-direction, so rank ALL
    // in-tolerance pairs by absolute gap (ties -> earlier right ts =
    // the backward preference) and keep the closest per anchor
    "boost_asof_nearest" ->
      """SELECT a_purchase_event_id, a_purchase, b_click_event_id, b_click FROM (
        |  SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |    a.value AS a_purchase,
        |    CAST(b.event_id AS VARCHAR) AS b_click_event_id, b.value AS b_click,
        |    row_number() OVER (PARTITION BY a.event_id
        |      ORDER BY abs(epoch_us(a.ts) - epoch_us(b.ts)) ASC, b.ts ASC) AS rk
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |    ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |  WHERE abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 432000000000)
        |WHERE rk = 1 ORDER BY a_purchase_event_id""".stripMargin,

    "boost_offset" ->
      """SELECT CAST(event_id AS VARCHAR) AS error_event_id, value AS error
        |FROM events WHERE event_type = 'error' AND value > 150.0
        |ORDER BY error DESC, error_event_id LIMIT 15 OFFSET 10""".stripMargin,

    // one replay per member: lead-segment sums for twa/increase, the
    // two-level quantile_cont for mad, joined on the group key
    "boost_ts_combo" ->
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, ts,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'
        |), d AS (
        |  SELECT u, v, lead(v) OVER w AS nx,
        |    lead(epoch_us(ts)) OVER w AS nus, epoch_us(ts) AS us
        |  FROM s WINDOW w AS (PARTITION BY u ORDER BY ts)
        |), t AS (
        |  SELECT u,
        |    round(SUM((v + nx) * (nus - us)) / 2.0
        |      / (MAX(us) - MIN(us)), 6) AS tw,
        |    CAST(SUM(CASE WHEN v IS NULL OR nx IS NULL THEN NULL
        |                  WHEN nx >= v THEN nx - v ELSE nx END)
        |      AS BIGINT) AS inc
        |  FROM d GROUP BY u HAVING COUNT(*) > 1
        |), med AS (
        |  SELECT u, quantile_cont(v, 0.5) AS med FROM s GROUP BY u
        |), md AS (
        |  SELECT s.u, quantile_cont(abs(s.v - med.med), 0.5) AS m
        |  FROM s JOIN med USING (u) GROUP BY s.u)
        |SELECT t.u AS purchase_user, t.tw, md.m, t.inc
        |FROM t JOIN md USING (u) ORDER BY purchase_user""".stripMargin,

    "boost_fn_str2" ->
      """SELECT CAST(event_id AS VARCHAR) AS eid,
        |  contains(CAST(user_id AS VARCHAR), '1') AS c,
        |  starts_with(CAST(user_id AS VARCHAR), '1') AS sw,
        |  ends_with(CAST(user_id AS VARCHAR), '3') AS ew,
        |  regexp_matches(props->>'k', '^[0-9]?[02468]$') AS even
        |FROM events WHERE event_type = 'click' AND value < 150.0
        |ORDER BY eid""".stripMargin,

    "boost_show" ->
      """SELECT 'dom' AS domain, 'events' AS family
        |UNION ALL SELECT 'ops', 'metrics'
        |ORDER BY domain, family""".stripMargin,

    // each dt= partition's footer row total equals the raw events'
    // per-date count — the write path committed every row where the
    // partition layout says it did
    "boost_show_partitions" ->
      """SELECT 'dt=' || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS part,
        |  COUNT(*) AS n_rows
        |FROM events GROUP BY 1 ORDER BY part""".stripMargin,

    // isodow is the dialect's dow() contract (1 = Monday … 7 = Sunday)
    "boost_fn_time" ->
      """SELECT isodow(ts) AS dw, hour(ts) AS h, COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents,
        |  MIN(epoch_us(ts)) AS first_us
        |FROM events WHERE event_type = 'click'
        |GROUP BY ALL ORDER BY ALL""".stripMargin,

    // exact-regime replay: full counts, ranked (n DESC, item ASC),
    // top 16 rendered as the same "item:n,…" string
    "boost_top_k" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, props->>'k' AS item,
        |    COUNT(*) AS n
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), r AS (
        |  SELECT u, item, n,
        |    row_number() OVER (PARTITION BY u ORDER BY n DESC, item) AS rk
        |  FROM c)
        |SELECT u AS click_user,
        |  string_agg(item || ':' || n, ',' ORDER BY rk) AS top
        |FROM r WHERE rk <= 16 GROUP BY u ORDER BY u""".stripMargin,

    "boost_top_k_merge" ->
      """WITH c AS (
        |  SELECT props->>'k' AS item, COUNT(*) AS n
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |), r AS (
        |  SELECT item, n,
        |    row_number() OVER (ORDER BY n DESC, item) AS rk
        |  FROM c)
        |SELECT string_agg(item || ':' || n, ',' ORDER BY rk) AS top,
        |  (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events
        |   WHERE event_type = 'click') AS n_days
        |FROM r WHERE rk <= 16""".stripMargin,

    // DuckDB evaluates ANY/ALL natively with the same ANSI three-valued
    // semantics the semi/anti-join compilation implements
    "boost_any_all" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  value AS purchase
        |FROM events WHERE event_type = 'purchase'
        |  AND value > ALL (SELECT value FROM events
        |    WHERE event_type = 'click' AND CAST(user_id AS VARCHAR) = '7')
        |  AND value < ANY (SELECT value FROM events
        |    WHERE event_type = 'error')
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_all_corr" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS purchase_event_id,
        |  a.value AS purchase
        |FROM events a WHERE a.event_type = 'purchase'
        |  AND a.value > ALL (SELECT b.value FROM events b
        |    WHERE b.event_type = 'click' AND b.user_id = a.user_id)
        |ORDER BY purchase_event_id""".stripMargin,

    // the same DISTINCT ON in DuckDB — first row per user under the
    // identical (value DESC, event_id) total order
    "boost_distinct_on" ->
      """SELECT DISTINCT ON (click_user) CAST(user_id AS VARCHAR) AS click_user,
        |  CAST(event_id AS VARCHAR) AS click_event_id, value AS click
        |FROM events WHERE event_type = 'click'
        |ORDER BY click DESC, click_event_id""".stripMargin,

    // arg_max/arg_min replay as ordered-list heads — the ORDER BY spells
    // out the engine's deterministic tie contract (max value, then max
    // arg for arg_max; min, min for arg_min)
    "boost_arg_max" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS day,
        |  (list(CAST(user_id AS VARCHAR)
        |     ORDER BY value DESC, CAST(user_id AS VARCHAR) DESC))[1] AS peak_user,
        |  (list(CAST(user_id AS VARCHAR)
        |     ORDER BY value ASC, CAST(user_id AS VARCHAR) ASC))[1] AS low_user,
        |  max(value) AS peak
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY day""".stripMargin,

    // the engine's string_agg sorts by value — the ORDER BY x replays it
    "boost_string_agg" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS day,
        |  string_agg(CAST(user_id AS VARCHAR), ','
        |    ORDER BY CAST(user_id AS VARCHAR)) AS users,
        |  COUNT(*) AS n
        |FROM events WHERE event_type = 'signup' AND value > 330.0
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "boost_bool_agg" ->
      """SELECT CAST(user_id AS VARCHAR) AS click_user,
        |  bool_and(value < 400.0) AS all_small,
        |  bool_or(value > 450.0) AS any_big,
        |  CAST(count_if(value > 240.0) AS BIGINT) AS n_big, COUNT(*) AS n
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY click_user""".stripMargin,

    // ordered-funnel replay: t_i = first step-i event strictly after
    // t_{i-1}, per user; users per step = users with a t_i
    "boost_funnel" ->
      """WITH u0 AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, min(ts) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |u1 AS (
        |  SELECT u0.u, min(e.ts) AS t1
        |  FROM u0 JOIN events e ON CAST(e.user_id AS VARCHAR) = u0.u
        |  WHERE e.event_type = 'click' AND e.ts > u0.t0 GROUP BY 1),
        |u2 AS (
        |  SELECT u1.u, min(e.ts) AS t2
        |  FROM u1 JOIN events e ON CAST(e.user_id AS VARCHAR) = u1.u
        |  WHERE e.event_type = 'purchase' AND e.ts > u1.t1 GROUP BY 1)
        |SELECT * FROM (VALUES
        |  (CAST(0 AS INTEGER), 'signup', (SELECT COUNT(*) FROM u0)),
        |  (CAST(1 AS INTEGER), 'click', (SELECT COUNT(*) FROM u1)),
        |  (CAST(2 AS INTEGER), 'purchase', (SELECT COUNT(*) FROM u2)))
        |  AS t(step_index, step, users)
        |ORDER BY step_index""".stripMargin,

    // the WITHIN variant bounds every later step to 7 days from t0
    "boost_funnel_within" ->
      """WITH u0 AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, min(ts) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |u1 AS (
        |  SELECT u0.u, u0.t0, min(e.ts) AS t1
        |  FROM u0 JOIN events e ON CAST(e.user_id AS VARCHAR) = u0.u
        |  WHERE e.event_type = 'click' AND e.ts > u0.t0
        |    AND epoch_us(e.ts) <= epoch_us(u0.t0) + 604800000000
        |  GROUP BY 1, 2),
        |u2 AS (
        |  SELECT u1.u, min(e.ts) AS t2
        |  FROM u1 JOIN events e ON CAST(e.user_id AS VARCHAR) = u1.u
        |  WHERE e.event_type = 'purchase' AND e.ts > u1.t1
        |    AND epoch_us(e.ts) <= epoch_us(u1.t0) + 604800000000
        |  GROUP BY 1)
        |SELECT * FROM (VALUES
        |  (CAST(0 AS INTEGER), 'signup', (SELECT COUNT(*) FROM u0)),
        |  (CAST(1 AS INTEGER), 'click', (SELECT COUNT(*) FROM u1)),
        |  (CAST(2 AS INTEGER), 'purchase', (SELECT COUNT(*) FROM u2)))
        |  AS t(step_index, step, users)
        |ORDER BY step_index""".stripMargin,

    // retention triangle: first-seen-day cohorts, distinct returning
    // users per (cohort, offset); INTEGER offset matches Spark datediff
    "boost_retention" ->
      """WITH d AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, CAST(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT u, min(day) AS cohort_date FROM d GROUP BY 1)
        |SELECT c.cohort_date,
        |  CAST(d.day - c.cohort_date AS INTEGER) AS day_offset,
        |  COUNT(DISTINCT d.u) AS users
        |FROM d JOIN c USING (u)
        |WHERE d.day - c.cohort_date <= 30
        |GROUP BY 1, 2 ORDER BY cohort_date, day_offset""".stripMargin,

    // MAD outliers over the purchase series: same exact interpolated
    // medians (quantile_cont ≡ percentile), same k·MAD filter
    "boost_mad_outliers" ->
      """WITH s AS (
        |  SELECT epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT quantile_cont(value, 0.5) AS med FROM s),
        |d AS (SELECT s.ts_us, s.value, abs(s.value - m.med) AS dev
        |      FROM s, m),
        |md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
        |SELECT d.ts_us, d.value, round(d.dev, 6) AS dev,
        |  round(md.mad, 6) AS mad
        |FROM d, md WHERE d.dev > 3.0 * md.mad
        |ORDER BY ts_us, value""".stripMargin,

    // plan-shape invariants: DuckDB predicts TRUE per check — a lost
    // Filter/Project or an empty compiled plan is a hash mismatch
    "boost_explain" ->
      """SELECT TRUE AS plan_nonempty, TRUE AS has_filter,
        |  TRUE AS has_project, TRUE AS has_predicate""".stripMargin,

    // two-level median replay: group medians first, then the median of
    // each row's absolute deviation — quantile_cont is the same exact
    // interpolated percentile as the engine's percentile()
    "boost_mad" ->
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS v, value
        |  FROM events WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT u, quantile_cont(v, 0.5) AS medc,
        |    quantile_cont(value, 0.5) AS medv
        |  FROM s GROUP BY u)
        |SELECT s.u AS purchase_user,
        |  quantile_cont(abs(s.v - m.medc), 0.5) AS m,
        |  round(quantile_cont(abs(s.value - m.medv), 0.5), 6) AS mv
        |FROM s JOIN m USING (u) GROUP BY s.u ORDER BY purchase_user""".stripMargin,

    // lead() over the same (user, ts) order as the engine; the CASE
    // mirrors the reset contract exactly, NULL-breaking included
    "boost_ts_increase" ->
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, ts,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'click'
        |), d AS (
        |  SELECT u, v, lead(v) OVER (PARTITION BY u ORDER BY ts) AS nx
        |  FROM s)
        |SELECT u AS click_user,
        |  CAST(SUM(CASE WHEN v IS NULL OR nx IS NULL THEN NULL
        |                WHEN nx >= v THEN nx - v ELSE nx END) AS BIGINT) AS inc,
        |  CAST(SUM(CASE WHEN v IS NULL OR nx IS NULL THEN NULL
        |                WHEN nx < v THEN 1 ELSE 0 END) AS BIGINT) AS rst
        |FROM d GROUP BY u ORDER BY u""".stripMargin,

    "boost_group_all" ->
      """SELECT CAST(user_id AS VARCHAR) AS click_user,
        |  CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS h,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click'
        |GROUP BY ALL ORDER BY ALL""".stripMargin,

    "boost_nulls_order" ->
      """SELECT CAST(event_id AS INT) AS eid,
        |  CASE WHEN value > 200.0
        |    THEN CAST(props->>'k' AS INT) END AS bigk,
        |  CAST(TRUNC(value * 100.0) AS INT) AS cents
        |FROM events WHERE event_type = 'click' AND value < 400.0
        |ORDER BY bigk DESC NULLS LAST, cents ASC NULLS FIRST, eid""".stripMargin,

    "boost_count_distinct" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  count(DISTINCT CAST(event_id AS VARCHAR)) AS n,
        |  count(*) AS total
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    "boost_fn_str" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  upper(CAST(user_id AS VARCHAR)) AS u,
        |  CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) AS ck,
        |  substr(CAST(event_id AS VARCHAR), 1, 2) AS pre,
        |  replace(CAST(user_id AS VARCHAR), '1', 'X') AS rep,
        |  length(CAST(user_id AS VARCHAR)) AS ulen
        |FROM events WHERE event_type = 'click'
        |  AND length(CAST(event_id AS VARCHAR)) >= 3
        |ORDER BY click_event_id LIMIT 200""".stripMargin,

    // float→int is truncate-toward-zero in the dialect; DuckDB's cast
    // rounds, so the oracle trunc()s first (values here are positive)
    "boost_fn_math" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  CAST(trunc(value) AS BIGINT) AS pi,
        |  CAST(floor(value / 100.0) AS BIGINT) AS bucket,
        |  abs(value - 250.0) AS dist,
        |  sqrt(value) AS rt,
        |  least(value, 300.0) AS lo,
        |  greatest(CAST(trunc(value) AS BIGINT) % 7, 2) AS g
        |FROM events WHERE event_type = 'purchase' AND value > 50.0
        |ORDER BY purchase_event_id LIMIT 200""".stripMargin,

    "boost_roundtrip" ->
      """SELECT CAST(event_id AS VARCHAR) AS view_event_id, value AS view
        |FROM events WHERE event_type = 'view' AND value >= 200.0
        |ORDER BY view_event_id""".stripMargin,

    "boost_insert_roundtrip" ->
      """SELECT value AS p, value * 2.0 AS p2, ts
        |FROM events WHERE event_type = 'purchase' AND value > 250.0
        |ORDER BY ts""".stripMargin,

    // the merge verb: p = seed (per-ts max purchase) overridden by the
    // correction batch where one exists; q = the shifted view rollup,
    // pure inserts
    "boost_upsert_rows" ->
      """WITH seed AS (SELECT ts, MAX(value) AS p FROM events
        |    WHERE event_type = 'purchase' GROUP BY ts),
        |  repl AS (SELECT ts, MAX(value * 2.0) AS p FROM events
        |    WHERE event_type = 'purchase' AND value > 300.0 GROUP BY ts),
        |  qrows AS (SELECT ts + INTERVAL '45 days' AS ts, MAX(value) AS q
        |    FROM events WHERE event_type = 'view' GROUP BY ts)
        |SELECT p, ts FROM (
        |  SELECT COALESCE(r.p, s.p) AS p, s.ts FROM seed s
        |    LEFT JOIN repl r ON s.ts = r.ts
        |  UNION ALL SELECT q AS p, ts FROM qrows) t
        |ORDER BY ts, p""".stripMargin,

    // the unnest enumerates the three attribute keys every event row
    // carries (props' k plus the hoisted user/event_id)
    "boost_unnest_attrs" ->
      """WITH a AS (
        |  SELECT 'k' AS akey, json_extract_string(props, '$.k') AS avalue
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL SELECT 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL SELECT 'event_id', CAST(event_id AS VARCHAR)
        |  FROM events WHERE event_type = 'purchase')
        |SELECT akey, count(*) AS n, min(avalue) AS lo, max(avalue) AS hi
        |FROM a GROUP BY akey ORDER BY akey""".stripMargin,

    // incremental == from-scratch: the full-corpus 6-hour replay
    "boost_refresh_rollup" ->
      """WITH b AS (
        |  SELECT event_type AS series,
        |    epoch_us(ts) - epoch_us(ts) % 21600000000 AS bus,
        |    value
        |  FROM events),
        |g AS (
        |  SELECT series, bus,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
        |      / CAST(COUNT(value) AS DOUBLE) AS av,
        |    MIN(value) AS mn, MAX(value) AS mx,
        |    CAST(COUNT(value) AS DOUBLE) AS n
        |  FROM b GROUP BY series, bus)
        |SELECT series || ':avg_h6' AS series, bus AS ts_us, av AS value FROM g
        |UNION ALL
        |SELECT series || ':min_h6', bus, mn FROM g
        |UNION ALL
        |SELECT series || ':max_h6', bus, mx FROM g
        |UNION ALL
        |SELECT series || ':count_h6', bus, n FROM g
        |ORDER BY series, ts_us""".stripMargin,

    // the surviving family is the OR REPLACE variant (doubled rollup)
    "boost_create_family" ->
      """SELECT MAX(value) * 2.0 AS v, ts FROM events
        |WHERE event_type = 'view' GROUP BY ts ORDER BY ts""".stripMargin,

    // ANSI MERGE replay: matched seed rows take the first true clause
    // (update when the correction is < 300, else delete when the seed
    // value tops 200, else keep); unmatched batch rows insert
    "boost_merge_rows" ->
      """WITH seed AS (SELECT ts, MAX(value) AS p FROM events
        |    WHERE event_type = 'purchase' GROUP BY ts),
        |  batch AS (SELECT ts, MAX(value * 2.0) AS v FROM events
        |    WHERE event_type = 'purchase' AND value > 100.0 GROUP BY ts
        |    UNION ALL SELECT ts + INTERVAL '45 days' AS ts, MAX(value) AS v
        |    FROM events WHERE event_type = 'view' GROUP BY ts),
        |  kept AS (SELECT CASE WHEN b.v IS NOT NULL AND b.v < 300.0
        |      THEN b.v ELSE s.p END AS p, s.ts
        |    FROM seed s LEFT JOIN batch b ON s.ts = b.ts
        |    WHERE NOT (b.v IS NOT NULL AND NOT (b.v < 300.0)
        |      AND s.p > 200.0)),
        |  ins AS (SELECT b.v AS p, b.ts FROM batch b
        |    LEFT JOIN seed s ON b.ts = s.ts WHERE s.ts IS NULL)
        |SELECT p, ts FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins) t
        |ORDER BY ts, p""".stripMargin,

    // the full-outer replay with the same clause guards: matched rows
    // take the raise-only correction, batch-only rows insert, and
    // seed-only rows survive only when the by-source guard is false
    "boost_merge_sync" ->
      """WITH seed AS (SELECT ts, MAX(value) AS p FROM events
        |    WHERE event_type = 'purchase' GROUP BY ts),
        |  batch AS (SELECT ts, MAX(value * 2.0) AS v FROM events
        |    WHERE event_type = 'purchase' AND value > 100.0 GROUP BY ts
        |    UNION ALL SELECT ts + INTERVAL '45 days' AS ts, MAX(value) AS v
        |    FROM events WHERE event_type = 'view' GROUP BY ts),
        |  kept AS (SELECT CASE WHEN b.v IS NOT NULL AND b.v < 300.0
        |      THEN b.v ELSE s.p END AS p, s.ts
        |    FROM seed s LEFT JOIN batch b ON s.ts = b.ts
        |    WHERE NOT (b.v IS NULL AND s.p < 30.0)),
        |  ins AS (SELECT b.v AS p, b.ts FROM batch b
        |    LEFT JOIN seed s ON b.ts = s.ts WHERE s.ts IS NULL)
        |SELECT p, ts FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins) t
        |ORDER BY ts, p""".stripMargin,

    // the full-outer replay with the by-source UPDATE: matched rows
    // take the raise-only correction, batch-only rows insert with no
    // flag, and seed-only rows are CASE-rewritten (small strays negate
    // and flag stale='y'), deleted (large strays, only when the update
    // guard did not capture first), or kept
    "boost_merge_sync_update" ->
      """WITH seed AS (SELECT ts, MAX(value) AS p FROM events
        |    WHERE event_type = 'purchase' GROUP BY ts),
        |  batch AS (SELECT ts, MAX(value * 2.0) AS v FROM events
        |    WHERE event_type = 'purchase' AND value > 100.0 GROUP BY ts
        |    UNION ALL SELECT ts + INTERVAL '45 days' AS ts, MAX(value) AS v
        |    FROM events WHERE event_type = 'view' GROUP BY ts),
        |  kept AS (SELECT CASE WHEN b.v IS NOT NULL AND b.v < 300.0 THEN b.v
        |      WHEN b.v IS NULL AND s.p < 30.0 THEN s.p * -1.0
        |      ELSE s.p END AS p,
        |    CASE WHEN b.v IS NULL AND s.p < 30.0 THEN 'y' END AS stale,
        |    s.ts
        |    FROM seed s LEFT JOIN batch b ON s.ts = b.ts
        |    WHERE NOT (b.v IS NULL AND NOT (s.p < 30.0) AND s.p > 60.0)),
        |  ins AS (SELECT b.v AS p, CAST(NULL AS VARCHAR) AS stale, b.ts
        |    FROM batch b LEFT JOIN seed s ON b.ts = s.ts WHERE s.ts IS NULL)
        |SELECT p, stale, ts
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins) t
        |ORDER BY ts, p""".stripMargin,

    "boost_compact_roundtrip" ->
      """SELECT CAST(event_id AS VARCHAR) AS error_event_id, value AS error
        |FROM events WHERE event_type = 'error' AND value >= 150.0
        |ORDER BY error_event_id""".stripMargin,

    "boost_expire_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS click_user, COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click'
        |  AND CAST(ts AS DATE) >= DATE '2024-01-15'
        |GROUP BY 1 ORDER BY click_user""".stripMargin,

    // the takedown path: survivors = rows NOT matched by either the
    // click-user purge or the purchase-value takedown; views untouched
    "boost_delete_rows" ->
      """SELECT u, n, cents FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS u, COUNT(*) AS n,
        |    CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'click'
        |    AND CAST(user_id AS VARCHAR) NOT IN ('3', '7', '11')
        |  GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(user_id AS VARCHAR), COUNT(*),
        |    CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT)
        |  FROM events WHERE event_type = 'purchase' AND NOT (value > 450.0)
        |  GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(user_id AS VARCHAR), COUNT(*),
        |    CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT)
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY 1) t
        |ORDER BY u, n, cents""".stripMargin,

    // the redaction path: the oracle replays both UPDATE statements as
    // CASE rewrites over the raw events — masked click users collapse
    // into 'REDACTED' with zeroed cents, corrected purchases follow the
    // identical IEEE arithmetic, views pass through
    "boost_update_rows" ->
      """SELECT u, n, cents FROM (
        |  SELECT CASE WHEN CAST(user_id AS VARCHAR) IN ('3', '7', '11')
        |      THEN 'REDACTED' ELSE CAST(user_id AS VARCHAR) END AS u,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(TRUNC(
        |      (CASE WHEN CAST(user_id AS VARCHAR) IN ('3', '7', '11')
        |        THEN 0.0 ELSE value END) * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(user_id AS VARCHAR), COUNT(*),
        |    CAST(SUM(CAST(TRUNC(
        |      (CASE WHEN value > 250.0 THEN 250.0 + (value - 250.0) * 0.5
        |        ELSE value END) * 100.0) AS BIGINT)) AS BIGINT)
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(user_id AS VARCHAR), COUNT(*),
        |    CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT)
        |  FROM events WHERE event_type = 'view' GROUP BY 1) t
        |ORDER BY u, n, cents""".stripMargin,

    // the same date-slice contract through the SQL DELETE face
    "boost_delete_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user, COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase'
        |  AND CAST(ts AS DATE) >= DATE '2024-01-20'
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    "boost_with" ->
      """WITH pu AS (SELECT CAST(user_id AS VARCHAR) AS u, COUNT(*) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT a.u AS a_u, a.cnt AS a_cnt FROM pu a JOIN pu b ON a.u = b.u
        |WHERE b.cnt > 2 ORDER BY a_u""".stripMargin,

    "boost_from_union" ->
      """SELECT u, COUNT(*) AS n FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS u FROM events
        |    WHERE event_type = 'click' AND value > 200.0
        |  UNION ALL
        |  SELECT CAST(user_id AS VARCHAR) AS u FROM events
        |    WHERE event_type = 'view' AND value > 200.0) t
        |GROUP BY 1 ORDER BY u""".stripMargin,

    "boost_in_derived" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  value AS purchase
        |FROM events WHERE event_type = 'purchase'
        |  AND CAST(user_id AS VARCHAR) IN
        |    (SELECT u FROM (SELECT CAST(user_id AS VARCHAR) AS u,
        |       COUNT(*) AS c FROM events WHERE event_type = 'click'
        |       GROUP BY 1) t WHERE c > 15)
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_scalar_corr_grouped" ->
      """SELECT CAST(a.user_id AS VARCHAR) AS purchase_user,
        |  COUNT(*) AS n,
        |  (SELECT MAX(b.value) FROM events b
        |   WHERE b.event_type = 'click'
        |     AND CAST(b.user_id AS VARCHAR) = CAST(a.user_id AS VARCHAR)) AS mx
        |FROM events a WHERE a.event_type = 'purchase'
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    "boost_grouping_sets" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  props->>'k' AS purchase_k,
        |  CAST(GROUPING(CAST(user_id AS VARCHAR)) AS TINYINT) AS gu,
        |  CAST(GROUPING(props->>'k') AS TINYINT) AS gk,
        |  COUNT(*) AS count_star
        |FROM events WHERE event_type = 'purchase' AND value > 150.0
        |GROUP BY GROUPING SETS ((CAST(user_id AS VARCHAR), props->>'k'),
        |  (props->>'k'), ())
        |ORDER BY gu, gk, purchase_user NULLS FIRST,
        |  purchase_k NULLS FIRST""".stripMargin,

    "boost_from_subquery" ->
      """SELECT u, cnt FROM
        |  (SELECT CAST(user_id AS VARCHAR) AS u, COUNT(*) AS cnt
        |   FROM events WHERE event_type = 'purchase' GROUP BY 1) t
        |WHERE cnt > 2 ORDER BY u""".stripMargin,

    "boost_join_subquery" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase, t.cnt AS t_cnt
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |JOIN (SELECT CAST(user_id AS VARCHAR) AS u, COUNT(*) AS cnt
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1) t
        |  ON CAST(a.user_id AS VARCHAR) = t.u
        |WHERE t.cnt > 2 ORDER BY a_purchase_event_id""".stripMargin,

    // DuckDB time_bucket's origin (2000-01-03) is a whole multiple of
    // every fixed-width unit the dialect allows, so it coincides with
    // the dialect's epoch alignment for second/minute/hour/day buckets
    "boost_ts_bucket" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS h,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY h""".stripMargin,

    // every event is in exactly width/slide = 2 windows (ts ∈ [b, b+12h)
    // ⟹ starts b and b−12h both cover it) — the 2-row cross join IS the
    // engine's map-side Expand, replayed
    "boost_ts_sliding" ->
      """WITH j AS (
        |  SELECT value,
        |    epoch(time_bucket(INTERVAL '12 hours', ts))
        |      - x.o * 43200 AS ds
        |  FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS o) AS x
        |  WHERE event_type = 'view')
        |SELECT CAST(ds AS BIGINT) AS ds, COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM j GROUP BY 1 ORDER BY ds""".stripMargin,

    // dense spine per user via generate_series over epoch-seconds
    // buckets, LEFT JOIN back, LOCF via IGNORE NULLS running frames
    "boost_ts_fill_prev" ->
      """WITH a AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS ds,
        |    COUNT(*) AS n,
        |    MAX(CAST(TRUNC(value * 100.0) AS BIGINT)) AS mx,
        |    TRUE AS obs
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT u, MIN(ds) AS lo, MAX(ds) AS hi FROM a GROUP BY u
        |), spine AS (
        |  SELECT u, UNNEST(generate_series(lo, hi, 86400)) AS ds FROM g
        |), j AS (
        |  SELECT spine.ds AS ds, spine.u AS u, a.n, a.mx,
        |    COALESCE(a.obs, FALSE) AS obs
        |  FROM spine LEFT JOIN a USING (u, ds))
        |SELECT ds, u,
        |  CASE WHEN obs THEN n ELSE
        |    (last_value(CASE WHEN obs THEN {'v': n} END IGNORE NULLS)
        |       OVER w).v END AS n,
        |  CASE WHEN obs THEN mx ELSE
        |    (last_value(CASE WHEN obs THEN {'v': mx} END IGNORE NULLS)
        |       OVER w).v END AS mx
        |FROM j
        |WINDOW w AS (PARTITION BY u ORDER BY ds
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY u, ds""".stripMargin,

    // weekly spine: both engines' week buckets are Monday-aligned, so
    // in UTC the epoch-seconds spine steps exactly 604800
    "boost_ts_fill_week" ->
      """WITH a AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS ds,
        |    COUNT(*) AS n, TRUE AS obs
        |  FROM events WHERE event_type = 'purchase' AND value < 50.0
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT u, MIN(ds) AS lo, MAX(ds) AS hi FROM a GROUP BY u
        |), spine AS (
        |  SELECT u, UNNEST(generate_series(lo, hi, 604800)) AS ds FROM g
        |), j AS (
        |  SELECT spine.ds AS ds, spine.u AS u, a.n,
        |    COALESCE(a.obs, FALSE) AS obs
        |  FROM spine LEFT JOIN a USING (u, ds))
        |SELECT ds, u,
        |  CASE WHEN obs THEN n ELSE
        |    (last_value(CASE WHEN obs THEN {'v': n} END IGNORE NULLS)
        |       OVER w).v END AS n
        |FROM j
        |WINDOW w AS (PARTITION BY u ORDER BY ds
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY u, ds""".stripMargin,

    // spine in MICROS so the interpolation ratio runs over the same
    // doubles as the engine (units must match bit-for-bit, not just
    // cancel); observed rows double-cast, gaps take
    // pv + (nv - pv) * (t - pt) / (nt - pt)
    "boost_ts_fill_linear" ->
      """WITH a AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT)
        |      * 1000000 AS dus,
        |    COUNT(*) AS n,
        |    SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS cents
        |  FROM events WHERE event_type = 'signup'
        |    AND CAST(user_id AS VARCHAR) = '7'
        |  GROUP BY 1
        |), g AS (
        |  SELECT MIN(dus) AS lo, MAX(dus) AS hi FROM a
        |), spine AS (
        |  SELECT UNNEST(generate_series(lo, hi, 86400000000)) AS dus FROM g
        |), j AS (
        |  SELECT spine.dus, CAST(spine.dus AS DOUBLE) AS tu, a.n, a.cents,
        |    (a.n IS NOT NULL) AS obs
        |  FROM spine LEFT JOIN a USING (dus))
        |SELECT CAST(dus // 1000000 AS BIGINT) AS ds,
        |  CASE WHEN obs THEN CAST(n AS DOUBLE)
        |       ELSE last_value(CAST(n AS DOUBLE) IGNORE NULLS) OVER run
        |          + (first_value(CAST(n AS DOUBLE) IGNORE NULLS) OVER fut
        |             - last_value(CAST(n AS DOUBLE) IGNORE NULLS) OVER run)
        |          * (tu - last_value(CASE WHEN n IS NOT NULL THEN tu END
        |                             IGNORE NULLS) OVER run)
        |          / (first_value(CASE WHEN n IS NOT NULL THEN tu END
        |                         IGNORE NULLS) OVER fut
        |             - last_value(CASE WHEN n IS NOT NULL THEN tu END
        |                          IGNORE NULLS) OVER run) END AS n,
        |  CASE WHEN obs THEN CAST(cents AS DOUBLE)
        |       ELSE last_value(CAST(cents AS DOUBLE) IGNORE NULLS) OVER run
        |          + (first_value(CAST(cents AS DOUBLE) IGNORE NULLS) OVER fut
        |             - last_value(CAST(cents AS DOUBLE) IGNORE NULLS) OVER run)
        |          * (tu - last_value(CASE WHEN cents IS NOT NULL THEN tu END
        |                             IGNORE NULLS) OVER run)
        |          / (first_value(CASE WHEN cents IS NOT NULL THEN tu END
        |                         IGNORE NULLS) OVER fut
        |             - last_value(CASE WHEN cents IS NOT NULL THEN tu END
        |                          IGNORE NULLS) OVER run) END AS cents
        |FROM j
        |WINDOW run AS (ORDER BY dus
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  fut AS (ORDER BY dus
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |ORDER BY ds""".stripMargin,

    // constant fill: COALESCE over the dense spine (count → 0.0, the
    // BIGINT column goes DOUBLE under the double literal both engines)
    "boost_ts_fill_zero" ->
      """WITH a AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS ds,
        |    COUNT(*) AS n
        |  FROM events WHERE event_type = 'error'
        |    AND CAST(user_id AS VARCHAR) = '2'
        |  GROUP BY 1
        |), g AS (
        |  SELECT MIN(ds) AS lo, MAX(ds) AS hi FROM a
        |), spine AS (
        |  SELECT UNNEST(generate_series(lo, hi, 21600)) AS ds FROM g)
        |SELECT spine.ds AS ds,
        |  CASE WHEN a.n IS NOT NULL THEN CAST(a.n AS DOUBLE) ELSE 0.0 END AS n
        |FROM spine LEFT JOIN a USING (ds)
        |ORDER BY ds""".stripMargin,

    // both engines' date_trunc('week') is the ISO Monday week start and
    // date_trunc('month') the month start — the calendar-bucket twin
    "boost_ts_bucket_month" ->
      """SELECT CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS w,
        |  CAST(epoch(date_trunc('month', ts)) AS BIGINT) AS m,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 ORDER BY w""".stripMargin,

    "boost_ts_delta" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id, value AS click,
        |  value - LAG(value) OVER (ORDER BY ts) AS d
        |FROM events WHERE event_type = 'click'
        |ORDER BY click_event_id""".stripMargin,

    "boost_ts_rate" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  CASE WHEN dt_us > 0 THEN dv / (CAST(dt_us AS DOUBLE) / 1e6) END AS r
        |FROM (
        |  SELECT event_id,
        |    value - LAG(value) OVER w AS dv,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS dt_us
        |  FROM events WHERE event_type = 'click' WINDOW w AS (ORDER BY ts))
        |ORDER BY click_event_id""".stripMargin,

    "boost_ts_rate_user" ->
      """SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  CASE WHEN dt_us > 0 THEN dv / (CAST(dt_us AS DOUBLE) / 1e6) END AS r
        |FROM (
        |  SELECT event_id,
        |    value - LAG(value) OVER w AS dv,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS dt_us
        |  FROM events WHERE event_type = 'click'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |ORDER BY click_event_id""".stripMargin,

    "boost_window_range" ->
      """SELECT CAST(event_id AS VARCHAR) AS purchase_event_id,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS cents_2d,
        |  COUNT(value) OVER w AS n_2d
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW)
        |ORDER BY purchase_event_id""".stripMargin,

    "boost_ts_locf" ->
      """SELECT CAST(event_id AS VARCHAR) AS view_event_id,
        |  last_value(CASE WHEN value > 100.0 THEN value END IGNORE NULLS)
        |    OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled
        |FROM events WHERE event_type = 'view'
        |ORDER BY view_event_id""".stripMargin,

    "boost_median" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  CAST(median(CAST(TRUNC(value * 100.0) AS BIGINT)) AS DOUBLE) AS med,
        |  COUNT(*) AS n
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY purchase_user""".stripMargin,

    // ordered aggregates replay the struct-extreme: first/last of x by
    // (ts, x), nulls filtered for the value column, count unaffected
    "boost_first_last" ->
      """SELECT CAST(user_id AS VARCHAR) AS click_user,
        |  first(value ORDER BY ts, value) FILTER (value IS NOT NULL) AS f,
        |  last(value ORDER BY ts, value) FILTER (value IS NOT NULL) AS l,
        |  last(CAST(event_id AS VARCHAR)
        |       ORDER BY ts, CAST(event_id AS VARCHAR)) AS lid,
        |  COUNT(*) AS n
        |FROM events WHERE event_type = 'click'
        |GROUP BY user_id ORDER BY click_user""".stripMargin,

    // the identical desugared co-moment formula over exact BIGINT pair
    // sums, double-cast before the fixed IEEE tail; division by zero
    // nulls in both engines, so degenerate groups need no guard
    "boost_corr" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS x,
        |    CAST(event_id AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'
        |), g AS (
        |  SELECT u,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN 1 END) AS DOUBLE) AS n,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN x END) AS DOUBLE) AS sx,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN y END) AS DOUBLE) AS sy,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN x * x END) AS DOUBLE) AS sxx,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN y * y END) AS DOUBLE) AS syy,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN x * y END) AS DOUBLE) AS sxy
        |  FROM t GROUP BY u HAVING COUNT(x) > 2)
        |SELECT u AS purchase_user,
        |  ((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx))
        |    / sqrt(n * syy - sy * sy) AS r,
        |  (sxy - sx * sy / n) / n AS cp,
        |  (sxy - sx * sy / n) / (n - 1.0) AS cs
        |FROM g ORDER BY purchase_user""".stripMargin,

    // the identical OLS desugar arithmetic; x = event ordinal,
    // y = value cents (regr_* argument order is (y, x))
    "boost_regr" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(event_id AS BIGINT) AS x,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'
        |), g AS (
        |  SELECT u,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN 1 END) AS DOUBLE) AS nd,
        |    CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN 1 END), 0) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN x END) AS DOUBLE) AS sx,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN y END) AS DOUBLE) AS sy,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN x * x END) AS DOUBLE) AS sxx,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN y * y END) AS DOUBLE) AS syy,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |                  THEN x * y END) AS DOUBLE) AS sxy
        |  FROM t GROUP BY u HAVING COUNT(y) > 2)
        |SELECT u AS purchase_user,
        |  CASE WHEN nd * sxx - sx * sx > 0
        |    THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS sl,
        |  CASE WHEN nd * sxx - sx * sx > 0
        |    THEN (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx)
        |           / nd END AS ic,
        |  CASE WHEN nd * sxx - sx * sx > 0 AND nd * syy - sy * sy > 0
        |    THEN ((nd * sxy - sx * sy) / (nd * sxx - sx * sx))
        |       * ((nd * sxy - sx * sy) / (nd * syy - sy * sy))
        |    WHEN nd * sxx - sx * sx > 0 THEN 1e0 END AS r2,
        |  cnt AS n,
        |  sx / nd AS ax,
        |  sy / nd AS ay
        |FROM g ORDER BY purchase_user""".stripMargin,

    // daily cent sums, LEAD over the day axis, the same exact-sums corr
    // tail with pre-sqrt guards at both lags
    "boost_ts_xcorr" ->
      """WITH ca AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS bus,
        |    SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS c
        |  FROM events WHERE event_type = 'click' GROUP BY bus),
        |pa AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS bus,
        |    SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS p
        |  FROM events WHERE event_type = 'purchase' GROUP BY bus),
        |b AS (
        |  SELECT ca.bus, ca.c, pa.p FROM ca JOIN pa ON ca.bus = pa.bus),
        |l AS (
        |  SELECT c AS x, p AS y0, LEAD(p, 1) OVER (ORDER BY bus) AS y1
        |  FROM b),
        |g AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(COUNT(CASE WHEN x IS NOT NULL AND y0 IS NOT NULL THEN 1 END) AS DOUBLE) AS n0,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y0 IS NOT NULL THEN x END) AS DOUBLE) AS sx0,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y0 IS NOT NULL THEN y0 END) AS DOUBLE) AS sy0,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y0 IS NOT NULL THEN x * x END) AS DOUBLE) AS sxx0,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y0 IS NOT NULL THEN y0 * y0 END) AS DOUBLE) AS syy0,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y0 IS NOT NULL THEN x * y0 END) AS DOUBLE) AS sxy0,
        |    CAST(COUNT(CASE WHEN x IS NOT NULL AND y1 IS NOT NULL THEN 1 END) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y1 IS NOT NULL THEN x END) AS DOUBLE) AS sx1,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y1 IS NOT NULL THEN y1 END) AS DOUBLE) AS sy1,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y1 IS NOT NULL THEN x * x END) AS DOUBLE) AS sxx1,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y1 IS NOT NULL THEN y1 * y1 END) AS DOUBLE) AS syy1,
        |    CAST(SUM(CASE WHEN x IS NOT NULL AND y1 IS NOT NULL THEN x * y1 END) AS DOUBLE) AS sxy1
        |  FROM l)
        |SELECT
        |  CASE WHEN n0 * sxx0 - sx0 * sx0 > 0 AND n0 * syy0 - sy0 * sy0 > 0
        |    THEN (n0 * sxy0 - sx0 * sy0) / SQRT(n0 * sxx0 - sx0 * sx0)
        |           / SQRT(n0 * syy0 - sy0 * sy0) END AS x0,
        |  CASE WHEN n1 * sxx1 - sx1 * sx1 > 0 AND n1 * syy1 - sy1 * sy1 > 0
        |    THEN (n1 * sxy1 - sx1 * sy1) / SQRT(n1 * sxx1 - sx1 * sx1)
        |           / SQRT(n1 * syy1 - sy1 * sy1) END AS x1,
        |  n
        |FROM g""".stripMargin,

    // closed-form CUSUM replay: s_i = W_i − min(0, min_{j≤i} W_j) over
    // the running deviation sum W — equals the max(0, s+dev) recurrence
    // exactly over integral inputs
    "boost_ts_cusum" ->
      """WITH p AS (
        |  SELECT ts, CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT ts,
        |    SUM(x - 5800) OVER r AS wh,
        |    SUM(3800 - x) OVER r AS wl
        |  FROM p WINDOW r AS (ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT ts,
        |  CAST(wh - LEAST(MIN(wh) OVER r, 0) AS DOUBLE) AS hi,
        |  CAST(wl - LEAST(MIN(wl) OVER r, 0) AS DOUBLE) AS lo
        |FROM w WINDOW r AS (ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY ts""".stripMargin,

    // lag-pair replay: LEAD over (user, ts), exact BIGINT pair sums
    // double-cast, the identical corr tail with pre-sqrt guards
    "boost_ts_acf" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, ts,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (
        |  SELECT u, x,
        |    LEAD(x, 1) OVER w AS y1,
        |    LEAD(x, 2) OVER w AS y2
        |  FROM t WINDOW w AS (PARTITION BY u ORDER BY ts)),
        |g AS (
        |  SELECT u, COUNT(*) AS n,
        |    CAST(COUNT(CASE WHEN y1 IS NOT NULL THEN x END) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN y1 IS NOT NULL THEN x END) AS DOUBLE) AS sx1,
        |    CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y1 END) AS DOUBLE) AS sy1,
        |    CAST(SUM(CASE WHEN y1 IS NOT NULL THEN x * x END) AS DOUBLE) AS sxx1,
        |    CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y1 * y1 END) AS DOUBLE) AS syy1,
        |    CAST(SUM(CASE WHEN y1 IS NOT NULL THEN x * y1 END) AS DOUBLE) AS sxy1,
        |    CAST(COUNT(CASE WHEN y2 IS NOT NULL THEN x END) AS DOUBLE) AS n2,
        |    CAST(SUM(CASE WHEN y2 IS NOT NULL THEN x END) AS DOUBLE) AS sx2,
        |    CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y2 END) AS DOUBLE) AS sy2,
        |    CAST(SUM(CASE WHEN y2 IS NOT NULL THEN x * x END) AS DOUBLE) AS sxx2,
        |    CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y2 * y2 END) AS DOUBLE) AS syy2,
        |    CAST(SUM(CASE WHEN y2 IS NOT NULL THEN x * y2 END) AS DOUBLE) AS sxy2
        |  FROM l GROUP BY u HAVING COUNT(*) > 5)
        |SELECT u AS purchase_user,
        |  CASE WHEN n1 * sxx1 - sx1 * sx1 > 0 AND n1 * syy1 - sy1 * sy1 > 0
        |    THEN (n1 * sxy1 - sx1 * sy1) / SQRT(n1 * sxx1 - sx1 * sx1)
        |           / SQRT(n1 * syy1 - sy1 * sy1) END AS r1,
        |  CASE WHEN n2 * sxx2 - sx2 * sx2 > 0 AND n2 * syy2 - sy2 * sy2 > 0
        |    THEN (n2 * sxy2 - sx2 * sy2) / SQRT(n2 * sxx2 - sx2 * sx2)
        |           / SQRT(n2 * syy2 - sy2 * sy2) END AS r2,
        |  n
        |FROM g ORDER BY purchase_user""".stripMargin,

    // identical trapezoid arithmetic: exact BIGINT segment sums per
    // user, double-cast, one division sequence, rounded to 6
    "boost_ts_twa" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u, epoch_us(ts) AS us,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT u, us, c,
        |    (c + LEAD(c) OVER w) * (LEAD(us) OVER w - us) AS seg2
        |  FROM t WINDOW w AS (PARTITION BY u ORDER BY us)),
        |g AS (
        |  SELECT u,
        |    CAST(SUM(seg2) AS DOUBLE) AS num2,
        |    CAST(MAX(us) - MIN(us) AS DOUBLE) AS span,
        |    COUNT(c) AS n
        |  FROM s GROUP BY u HAVING COUNT(c) > 1)
        |SELECT u AS purchase_user, round(num2 / 2.0 / span, 6) AS tw, n
        |FROM g ORDER BY purchase_user""".stripMargin,

    // the identical bin expression (one IEEE formula, least-clamped),
    // eight explicit conditional sums concat-joined in bin order
    "boost_histogram" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'
        |), b AS (
        |  SELECT u, x,
        |    CASE WHEN x IS NOT NULL AND CAST(x AS DOUBLE) >= 0.0
        |              AND CAST(x AS DOUBLE) < 25000.0
        |         THEN least(CAST(floor((CAST(x AS DOUBLE) - 0.0)
        |                    / 25000.0 * 8.0) AS INT), 7) END AS bin
        |  FROM t)
        |SELECT u AS purchase_user,
        |  concat_ws(',',
        |    COALESCE(SUM(CASE WHEN bin = 0 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 1 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 2 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 3 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 4 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 5 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 6 THEN 1 END), 0),
        |    COALESCE(SUM(CASE WHEN bin = 7 THEN 1 END), 0)) AS hist,
        |  COUNT(x) AS n
        |FROM b GROUP BY u ORDER BY purchase_user""".stripMargin,

    // the merge law makes the oracle a DIRECT one-pass histogram: the
    // per-day partials sum elementwise to the raw counts, so the
    // merged string and its quantile must equal this exactly
    "boost_hist_merge" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'
        |), b AS (
        |  SELECT u, x,
        |    CASE WHEN x IS NOT NULL AND CAST(x AS DOUBLE) >= 0.0
        |              AND CAST(x AS DOUBLE) < 25000.0
        |         THEN least(CAST(floor((CAST(x AS DOUBLE) - 0.0)
        |                    / 25000.0 * 8.0) AS INT), 7) END AS bin
        |  FROM t
        |), g AS (
        |  SELECT u, [
        |    CAST(COALESCE(SUM(CASE WHEN bin = 0 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 1 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 2 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 3 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 4 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 5 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 6 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 7 THEN 1 END), 0) AS BIGINT)
        |  ] AS cs FROM b GROUP BY u
        |), r AS (
        |  SELECT g.u, t2.i, cs, cs[t2.i] AS c,
        |    CAST(COALESCE(list_sum(cs[1:t2.i]), 0) AS BIGINT) AS cum,
        |    CAST(COALESCE(list_sum(cs[1:t2.i - 1]), 0) AS BIGINT) AS bef,
        |    CAST(COALESCE(list_sum(cs), 0) AS BIGINT) AS total
        |  FROM g, (SELECT CAST(i AS INT) AS i FROM range(1, 9) s(i)) t2
        |), p AS (
        |  SELECT u, i, c, bef, total,
        |    row_number() OVER (PARTITION BY u ORDER BY i) AS rn
        |  FROM r
        |  WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE) AND c > 0
        |), v AS (
        |  SELECT u,
        |    0e0 + (25000e0 - 0e0) / 8e0 * (CAST(i - 1 AS DOUBLE) +
        |      (0.5 * CAST(total AS DOUBLE) - CAST(bef AS DOUBLE))
        |        / CAST(c AS DOUBLE)) AS val
        |  FROM p WHERE rn = 1)
        |SELECT g.u AS u, list_aggregate(cs, 'string_agg', ',') AS h,
        |  v.val AS p50
        |FROM g LEFT JOIN v ON v.u = g.u
        |ORDER BY u""".stripMargin,

    // the identical bin counts, then the same cumulative walk + uniform
    // interpolation per quantile (range-join over the 8 bins; empty
    // slice sums coalesce to 0 like the fold's seed)
    "boost_hist_quantile" ->
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'
        |), b AS (
        |  SELECT u, x,
        |    CASE WHEN x IS NOT NULL AND CAST(x AS DOUBLE) >= 0.0
        |              AND CAST(x AS DOUBLE) < 25000.0
        |         THEN least(CAST(floor((CAST(x AS DOUBLE) - 0.0)
        |                    / 25000.0 * 8.0) AS INT), 7) END AS bin
        |  FROM t
        |), g AS (
        |  SELECT u, [
        |    CAST(COALESCE(SUM(CASE WHEN bin = 0 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 1 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 2 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 3 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 4 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 5 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 6 THEN 1 END), 0) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN bin = 7 THEN 1 END), 0) AS BIGINT)
        |  ] AS cs FROM b GROUP BY u
        |), r AS (
        |  SELECT g.u, qq.q, t2.i, cs[t2.i] AS c,
        |    CAST(COALESCE(list_sum(cs[1:t2.i]), 0) AS BIGINT) AS cum,
        |    CAST(COALESCE(list_sum(cs[1:t2.i - 1]), 0) AS BIGINT) AS bef,
        |    CAST(COALESCE(list_sum(cs), 0) AS BIGINT) AS total
        |  FROM g, (SELECT CAST(i AS INT) AS i FROM range(1, 9) s(i)) t2,
        |       (VALUES (0.5), (0.9)) qq(q)
        |), p AS (
        |  SELECT u, q, i, c, bef, total,
        |    row_number() OVER (PARTITION BY u, q ORDER BY i) AS rn
        |  FROM r
        |  WHERE CAST(cum AS DOUBLE) >= q * CAST(total AS DOUBLE) AND c > 0
        |), v AS (
        |  SELECT u, q,
        |    0e0 + (25000e0 - 0e0) / 8e0 * (CAST(i - 1 AS DOUBLE) +
        |      (q * CAST(total AS DOUBLE) - CAST(bef AS DOUBLE))
        |        / CAST(c AS DOUBLE)) AS val
        |  FROM p WHERE rn = 1)
        |SELECT g.u AS purchase_user, v5.val AS p50, v9.val AS p90
        |FROM g
        |LEFT JOIN v v5 ON v5.u = g.u AND v5.q = 0.5
        |LEFT JOIN v v9 ON v9.u = g.u AND v9.q = 0.9
        |ORDER BY purchase_user""".stripMargin,

    // exact BIGINT S/Q/n per group, then the identical IEEE tail:
    // (Q - S*S/n) / (n - 1), sqrt for stddev
    "boost_stddev" ->
      """WITH t AS (
        |  SELECT user_id, CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase'
        |), g AS (
        |  SELECT user_id,
        |    CAST(COUNT(x) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS s,
        |    CAST(SUM(x * x) AS DOUBLE) AS q
        |  FROM t GROUP BY user_id HAVING COUNT(x) > 1)
        |SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  sqrt((q - s * s / n) / (n - 1.0)) AS sd,
        |  (q - s * s / n) / (n - 1.0) AS v
        |FROM g ORDER BY purchase_user""".stripMargin,

    // identical break-then-running-count formulation; LAG null at the
    // partition head compares false, matching the dialect's 0 seed
    "boost_ts_session" ->
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tu
        |  FROM events WHERE event_type = 'click'
        |), s AS (
        |  SELECT event_id, user_id, tu,
        |    CASE WHEN tu - LAG(tu) OVER (PARTITION BY user_id ORDER BY tu)
        |              > 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM t)
        |SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tu
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |FROM s ORDER BY click_event_id""".stripMargin,

    // the same four frame lookups and the same IEEE interpolation
    // formula, spelled identically: pv + (nv - pv) * (t - pt) / (nt - pt)
    "boost_ts_interp" ->
      """WITH t AS (
        |  SELECT event_id, epoch_us(ts) AS tu,
        |    CASE WHEN value > 100.0 THEN value END AS x
        |  FROM events WHERE event_type = 'view'
        |), w AS (
        |  SELECT event_id, tu, x,
        |    last_value(x IGNORE NULLS) OVER pre AS pv,
        |    last_value(CASE WHEN x IS NOT NULL THEN CAST(tu AS DOUBLE) END
        |      IGNORE NULLS) OVER pre AS pt,
        |    first_value(x IGNORE NULLS) OVER post AS nv,
        |    first_value(CASE WHEN x IS NOT NULL THEN CAST(tu AS DOUBLE) END
        |      IGNORE NULLS) OVER post AS nt
        |  FROM t WINDOW
        |    pre AS (ORDER BY tu ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    post AS (ORDER BY tu ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT CAST(event_id AS VARCHAR) AS view_event_id,
        |  CASE WHEN x IS NOT NULL THEN x
        |       ELSE pv + (nv - pv) * (CAST(tu AS DOUBLE) - pt) / (nt - pt)
        |  END AS f
        |FROM w ORDER BY view_event_id""".stripMargin,

    // the recursive CTE replays ewma's exact IEEE recurrence
    // (0.5*x + 0.5*y, seed y = first x in ts order) one row per
    // iteration per partition — bit-identical to the running-frame
    // window aggregate
    "boost_ts_ewma" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id, user_id, value AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events WHERE event_type = 'click'
        |), s AS (
        |  SELECT event_id, user_id, rn, x, x AS y FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.event_id, p.user_id, p.rn, p.x, 0.5 * p.x + 0.5 * s.y
        |  FROM pts p JOIN s ON p.user_id = s.user_id AND p.rn = s.rn + 1
        |)
        |SELECT CAST(event_id AS VARCHAR) AS click_event_id, y AS sm
        |FROM s ORDER BY click_event_id""".stripMargin,

    // the identical Holt recurrence, replayed recursively: the trend
    // row re-derives the new level with the same expression the kernel
    // inlines, so every step is the same fixed IEEE sequence
    "boost_ts_holt" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id, user_id, value AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events WHERE event_type = 'click'
        |), s AS (
        |  SELECT event_id, user_id, rn, x, x AS l, 0e0 AS b
        |  FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.event_id, p.user_id, p.rn, p.x,
        |    0.5 * p.x + 0.5 * (s.l + s.b),
        |    0.25 * ((0.5 * p.x + 0.5 * (s.l + s.b)) - s.l) + 0.75 * s.b
        |  FROM pts p JOIN s ON p.user_id = s.user_id AND p.rn = s.rn + 1
        |)
        |SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  l AS lv, l + b AS fc
        |FROM s ORDER BY click_event_id""".stripMargin,

    // the identical Holt-Winters recurrence, replayed recursively with
    // the 4-slot seasonal cycle carried as a list: the level row
    // re-derives l with the same expression the kernel inlines, the
    // slot update rewrites only index (n mod 4), and the fit/forecast
    // read slots (n-1) mod 4 / n mod 4 of the post-update state —
    // every step the same fixed IEEE sequence
    "boost_ts_holt_winters" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id, user_id, value AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events WHERE event_type = 'click'
        |), s AS (
        |  SELECT event_id, user_id, rn, x,
        |    x AS l, 0e0 AS b, [0e0, 0e0, 0e0, 0e0] AS sl, 1::BIGINT AS n
        |  FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.event_id, p.user_id, p.rn, p.x,
        |    0.5 * (p.x - s.sl[(s.n % 4) + 1]) + 0.5 * (s.l + s.b),
        |    0.25 * ((0.5 * (p.x - s.sl[(s.n % 4) + 1]) + 0.5 * (s.l + s.b)) - s.l)
        |      + 0.75 * s.b,
        |    list_transform(generate_series(1, 4), k ->
        |      CASE WHEN k = (s.n % 4) + 1
        |        THEN 0.25 * (p.x - (0.5 * (p.x - s.sl[(s.n % 4) + 1])
        |               + 0.5 * (s.l + s.b)))
        |             + 0.75 * s.sl[(s.n % 4) + 1]
        |        ELSE s.sl[k] END),
        |    s.n + 1
        |  FROM pts p JOIN s ON p.user_id = s.user_id AND p.rn = s.rn + 1
        |)
        |SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  l + sl[((n - 1) % 4) + 1] AS hw,
        |  l + b + sl[(n % 4) + 1] AS fc
        |FROM s ORDER BY click_event_id""".stripMargin,

    // exact integer S/Q/n per partition, then the same fixed IEEE
    // formula both sides: (x - S/n) / sqrt((Q - S*S/n) / (n - 1))
    "boost_ts_zscore" ->
      """WITH t AS (
        |  SELECT event_id, user_id, CAST(TRUNC(value * 100.0) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'click'
        |), w AS (
        |  SELECT event_id, x,
        |    CAST(COUNT(x) OVER win AS DOUBLE) AS n,
        |    CAST(SUM(x) OVER win AS DOUBLE) AS s,
        |    CAST(SUM(x * x) OVER win AS DOUBLE) AS q
        |  FROM t WINDOW win AS (PARTITION BY user_id)
        |)
        |SELECT CAST(event_id AS VARCHAR) AS click_event_id,
        |  (CAST(x AS DOUBLE) - s / n) / sqrt((q - s * s / n) / (n - 1.0)) AS z
        |FROM w ORDER BY click_event_id""".stripMargin,

    "boost_ts_derived" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS h,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(TRUNC(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click' AND value < 200.0
        |GROUP BY 1 ORDER BY h""".stripMargin,

    "boost_ts_derived_rate" ->
      """SELECT CAST(event_id AS VARCHAR) AS eid,
        |  CASE WHEN dt_us > 0 THEN dv / (CAST(dt_us AS DOUBLE) / 1e6) END AS r
        |FROM (
        |  SELECT event_id,
        |    value - LAG(value) OVER w AS dv,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS dt_us
        |  FROM events WHERE event_type = 'click' WINDOW w AS (ORDER BY ts))
        |ORDER BY eid""".stripMargin,

    "boost_asof_derived" ->
      """SELECT CAST(a.event_id AS VARCHAR) AS a_purchase_event_id,
        |  a.value AS a_purchase, b.value AS b_c
        |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value > 300.0) a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON CAST(a.user_id AS VARCHAR) = CAST(b.user_id AS VARCHAR)
        |  AND b.ts <= a.ts
        |ORDER BY a_purchase_event_id""".stripMargin,

    // the KMV bottom-64 estimator replayed in SQL: distinct md5-derived
    // 32-bit hashes per group, rank, keep 64, (k-1)*2^32/kth. NULL
    // attribute values are excluded (the sketch skips nulls, matching
    // count(DISTINCT)'s null semantics).
    "boost_approx_distinct" ->
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS u,
        |    props->>'k' AS kv, CAST(event_id AS VARCHAR) AS eid
        |  FROM events WHERE event_type = 'purchase'),
        |hk AS (SELECT DISTINCT u, ('0x' || substr(md5(kv), 1, 8))::UBIGINT AS h
        |  FROM p WHERE kv IS NOT NULL),
        |rk AS (SELECT u, h, row_number() OVER (PARTITION BY u ORDER BY h) AS rn FROM hk),
        |bk AS (SELECT u, count(*) AS ns, max(h) AS kth FROM rk WHERE rn <= 64 GROUP BY u),
        |he AS (SELECT DISTINCT u, ('0x' || substr(md5(eid), 1, 8))::UBIGINT AS h
        |  FROM p WHERE eid IS NOT NULL),
        |re AS (SELECT u, h, row_number() OVER (PARTITION BY u ORDER BY h) AS rn FROM he),
        |be AS (SELECT u, count(*) AS ns, max(h) AS kth FROM re WHERE rn <= 64 GROUP BY u),
        |ex AS (SELECT u, count(DISTINCT kv) AS exk FROM p GROUP BY u)
        |SELECT ex.u AS purchase_user,
        |  CASE WHEN bk.ns IS NULL THEN 0e0 WHEN bk.ns < 64 THEN bk.ns::DOUBLE
        |       ELSE 63e0 * 4294967296e0 / bk.kth::DOUBLE END AS adk,
        |  ex.exk AS exk,
        |  CASE WHEN be.ns IS NULL THEN 0e0 WHEN be.ns < 64 THEN be.ns::DOUBLE
        |       ELSE 63e0 * 4294967296e0 / be.kth::DOUBLE END AS ade
        |FROM ex LEFT JOIN bk ON ex.u = bk.u LEFT JOIN be ON ex.u = be.u
        |ORDER BY purchase_user""".stripMargin,

    // merge-law replay: bottom-64 of the union of per-day bottom-64s
    // IS the global bottom-64, so the oracle sketches the whole column
    // once; n_days counts the day buckets the inner query grouped by
    "boost_sketch_merge" ->
      """WITH p AS (SELECT CAST(event_id AS VARCHAR) AS eid, ts
        |  FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT DISTINCT ('0x' || substr(md5(eid), 1, 8))::UBIGINT AS h
        |  FROM p WHERE eid IS NOT NULL),
        |rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
        |bk AS (SELECT count(*) AS ns, max(h) AS kth FROM rk WHERE rn <= 64),
        |d AS (SELECT count(DISTINCT time_bucket(INTERVAL '1 day', ts)) AS n_days FROM p)
        |SELECT CASE WHEN bk.ns < 64 THEN bk.ns::DOUBLE
        |            ELSE 63e0 * 4294967296e0 / bk.kth::DOUBLE END AS merged,
        |  d.n_days AS n_days
        |FROM bk, d""".stripMargin,

    // replay: per-day bottom-64 hash sets, union bottom-64, shared
    // count — the identical k-min arithmetic (exact below k)
    "boost_sketch_overlap" ->
      """WITH pts AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS d,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS h
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |dh AS (SELECT DISTINCT d, h FROM pts),
        |sk AS (SELECT d, (list(h ORDER BY h))[1:64] AS sk FROM dh GROUP BY d),
        |pr AS (SELECT a.d AS d, a.sk AS ska, b.sk AS skb
        |  FROM sk a JOIN sk b ON a.d + 86400 = b.d),
        |u AS (SELECT d, ska, skb,
        |    (list_sort(list_distinct(ska || skb)))[1:64] AS un FROM pr),
        |m AS (SELECT d, len(un) AS nu, un[-1] AS kth,
        |    len(skb) AS nb, skb[-1] AS kthb,
        |    len(list_filter(un, x -> list_contains(ska, x)
        |      AND list_contains(skb, x))) AS ns
        |  FROM u),
        |e AS (SELECT d, ns, nu,
        |    CASE WHEN nu < 64 THEN nu::DOUBLE
        |         ELSE 63e0 * 4294967296e0 / kth::DOUBLE END AS du,
        |    CASE WHEN nb < 64 THEN nb::DOUBLE
        |         ELSE 63e0 * 4294967296e0 / kthb::DOUBLE END AS db
        |  FROM m)
        |SELECT d, round(ns::DOUBLE / nu::DOUBLE, 6) AS j,
        |  round(ns::DOUBLE / nu::DOUBLE * du, 3) AS ix,
        |  round(greatest(du - db, 0e0), 3) AS dx
        |FROM e ORDER BY d""".stripMargin,

    "boost_percentile" ->
      """SELECT CAST(user_id AS VARCHAR) AS purchase_user,
        |  quantile_cont(CAST(TRUNC(value * 100.0) AS BIGINT), 0.25) AS p25,
        |  quantile_cont(CAST(TRUNC(value * 100.0) AS BIGINT), 0.75) AS p75,
        |  count(*) AS n
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY purchase_user""".stripMargin,

    // the KmvSampleAgg replay: bottom-256 rows per day by md5 of the
    // epoch-micros ts, exact interpolated percentile of the sampled
    // cents — identical arithmetic to the engine
    // the merge law makes the two-level rollup equal the single-pass
    // sample: rank ALL of a user's rows by the md5 hash, keep 256,
    // interpolate — plus the partition count the outer count(*) sees
    "boost_percentile_rollup" ->
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS cents,
        |    epoch_us(ts) AS eus,
        |    CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS w
        |  FROM events WHERE event_type = 'click'),
        |ranked AS (SELECT u, cents, row_number() OVER (PARTITION BY u
        |    ORDER BY ('0x' || substr(md5(CAST(eus AS VARCHAR)), 1, 15))::UBIGINT
        |      ASC) AS rk
        |  FROM p),
        |arr AS (SELECT u, list_sort(list(cents)) AS vals, count(*) AS ns
        |  FROM ranked WHERE rk <= 256 GROUP BY 1),
        |wk AS (SELECT u, count(DISTINCT w) AS parts FROM p GROUP BY 1)
        |SELECT arr.u AS u,
        |  round(arr.vals[CAST(floor(0.5 * (arr.ns - 1)) AS BIGINT) + 1] +
        |    (arr.vals[least(CAST(floor(0.5 * (arr.ns - 1)) AS BIGINT) + 2, arr.ns)] -
        |     arr.vals[CAST(floor(0.5 * (arr.ns - 1)) AS BIGINT) + 1]) *
        |    (0.5 * (arr.ns - 1) - floor(0.5 * (arr.ns - 1))), 6) AS p50,
        |  wk.parts AS parts
        |FROM arr JOIN wk USING (u) ORDER BY u""".stripMargin,

    "boost_approx_percentile" ->
      """WITH p AS (SELECT
        |    CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS d,
        |    CAST(TRUNC(value * 100.0) AS BIGINT) AS cents,
        |    epoch_us(ts) AS eus
        |  FROM events WHERE event_type = 'purchase'),
        |ranked AS (SELECT d, cents, row_number() OVER (PARTITION BY d
        |    ORDER BY ('0x' || substr(md5(CAST(eus AS VARCHAR)), 1, 15))::UBIGINT
        |      ASC) AS rk
        |  FROM p),
        |arr AS (SELECT d, list_sort(list(cents)) AS vals, count(*) AS ns
        |  FROM ranked WHERE rk <= 256 GROUP BY 1),
        |ex AS (SELECT d, quantile_cont(cents, 0.5) AS p50, count(*) AS n
        |  FROM p GROUP BY 1)
        |SELECT ex.d AS d,
        |  round(arr.vals[CAST(floor(0.5 * (arr.ns - 1)) AS BIGINT) + 1] +
        |    (arr.vals[least(CAST(floor(0.5 * (arr.ns - 1)) AS BIGINT) + 2, arr.ns)] -
        |     arr.vals[CAST(floor(0.5 * (arr.ns - 1)) AS BIGINT) + 1]) *
        |    (0.5 * (arr.ns - 1) - floor(0.5 * (arr.ns - 1))), 6) AS ap50,
        |  ex.p50 AS p50, ex.n AS n
        |FROM ex JOIN arr ON ex.d = arr.d ORDER BY d""".stripMargin,

    // the escaped holt replays its 2-STATE decomposition: a six-column
    // recursion per (user, day) carries (l, b) and the running matrix
    // power P = M^(k-1) (M entries dyadic at α = ½, β = ¼), the
    // per-bucket affine maps (A = P·M, d = z + P·u) chain recursively
    // per user, and each row finishes as z + P·Δ₁ — every expression
    // spelled with the same operand order as the Spark kernels, so the
    // replay is bit-exact
    "boost_ts_holt_escape" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id, user_id, value AS x,
        |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bk,
        |    row_number() OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000
        |      ORDER BY ts) AS rn,
        |    count(*) OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000) AS nb,
        |    first_value(value) OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000
        |      ORDER BY ts) AS x1
        |  FROM events WHERE event_type = 'click'
        |), z AS (
        |  SELECT event_id, user_id, bk, rn, nb, x1, x AS l,
        |    CAST(0.0 AS DOUBLE) AS b,
        |    CAST(1.0 AS DOUBLE) AS p11, CAST(0.0 AS DOUBLE) AS p12,
        |    CAST(0.0 AS DOUBLE) AS p21, CAST(1.0 AS DOUBLE) AS p22
        |  FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.event_id, p.user_id, p.bk, p.rn, p.nb, p.x1,
        |    0.5 * p.x + 0.5 * (z.l + z.b),
        |    0.25 * ((0.5 * p.x + 0.5 * (z.l + z.b)) - z.l) + 0.75 * z.b,
        |    z.p11 * 0.5 + z.p12 * -0.125,
        |    z.p11 * 0.5 + z.p12 * 0.875,
        |    z.p21 * 0.5 + z.p22 * -0.125,
        |    z.p21 * 0.5 + z.p22 * 0.875
        |  FROM pts p JOIN z
        |    ON p.user_id = z.user_id AND p.bk = z.bk AND p.rn = z.rn + 1
        |), sm AS (
        |  SELECT user_id, bk,
        |    p11 * 0.5 + p12 * -0.125 AS a11,
        |    p11 * 0.5 + p12 * 0.875 AS a12,
        |    p21 * 0.5 + p22 * -0.125 AS a21,
        |    p21 * 0.5 + p22 * 0.875 AS a22,
        |    l + (p11 * (-0.5 * x1) + p12 * (0.125 * x1)) AS d1,
        |    b + (p21 * (-0.5 * x1) + p22 * (0.125 * x1)) AS d2,
        |    l AS s1, b AS s2,
        |    row_number() OVER (PARTITION BY user_id ORDER BY bk) AS bi
        |  FROM z WHERE rn = nb
        |), ch AS (
        |  SELECT user_id, bk, bi, s1 AS y1, s2 AS y2 FROM sm WHERE bi = 1
        |  UNION ALL
        |  SELECT m.user_id, m.bk, m.bi,
        |    m.a11 * ch.y1 + m.a12 * ch.y2 + m.d1,
        |    m.a21 * ch.y1 + m.a22 * ch.y2 + m.d2
        |  FROM sm m JOIN ch
        |    ON m.user_id = ch.user_id AND m.bi = ch.bi + 1
        |), y0 AS (
        |  SELECT user_id, bk,
        |    lag(y1) OVER (PARTITION BY user_id ORDER BY bk) AS y0l,
        |    lag(y2) OVER (PARTITION BY user_id ORDER BY bk) AS y0b
        |  FROM ch)
        |SELECT CAST(z.event_id AS VARCHAR) AS click_event_id,
        |  CASE WHEN y0.y0l IS NULL THEN z.l
        |    ELSE z.l + (z.p11 * (0.5 * (y0.y0l + y0.y0b) + -0.5 * z.x1)
        |      + z.p12 * (-0.125 * y0.y0l + 0.875 * y0.y0b
        |        + 0.125 * z.x1)) END AS lv,
        |  CASE WHEN y0.y0l IS NULL THEN z.l + z.b
        |    ELSE (z.l + (z.p11 * (0.5 * (y0.y0l + y0.y0b) + -0.5 * z.x1)
        |      + z.p12 * (-0.125 * y0.y0l + 0.875 * y0.y0b
        |        + 0.125 * z.x1)))
        |    + (z.b + (z.p21 * (0.5 * (y0.y0l + y0.y0b) + -0.5 * z.x1)
        |      + z.p22 * (-0.125 * y0.y0l + 0.875 * y0.y0b
        |        + 0.125 * z.x1))) END AS fc
        |FROM z JOIN y0 ON z.user_id = y0.user_id AND z.bk = y0.bk
        |ORDER BY click_event_id""".stripMargin,

    // the escaped ewma replays its DECOMPOSITION (in-bucket recursion
    // per (user, day), affine chain per user, per-row finish) — alpha
    // = 0.5 keeps every power/scale exact, the ts_ewma_bucketed
    // discipline brought to the SQL front
    "boost_ts_ewma_escape" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_id, user_id, value AS x,
        |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS bk,
        |    row_number() OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000
        |      ORDER BY ts) AS rn,
        |    count(*) OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000) AS nb,
        |    first_value(value) OVER (PARTITION BY user_id,
        |      epoch_us(ts) - epoch_us(ts) % 86400000000
        |      ORDER BY ts) AS x1
        |  FROM events WHERE event_type = 'click'
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
        |SELECT CAST(z.event_id AS VARCHAR) AS click_event_id,
        |  CASE WHEN y0.y0 IS NULL THEN z.z
        |    ELSE z.z + power(0.5, z.rn) * (y0.y0 - z.x1) END AS sm
        |FROM z JOIN y0 ON z.user_id = y0.user_id AND z.bk = y0.bk
        |ORDER BY click_event_id""".stripMargin
  )
}

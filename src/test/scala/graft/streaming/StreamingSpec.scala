package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** Streaming/batch parity: the AvailableNow replay of the events table
  * through Structured Streaming must equal the equivalent batch query.
  */
class StreamingSpec extends SparkSpec {

  test("streamed windowed agg equals batch groupBy") {
    val streamed = StreamingOps.windowedAggReplay(spark, sfDir).collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start_us", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("readStream → transform → writeStream lands a readable family") {
    withTempRoot("graft-stream-sink") { root =>
      StreamingOps.streamIntoFamily(spark, sfDir, root, "dom", "events")
      val back = graft.sources.TimeSeriesTable.open(spark, root, "dom", "events")
      val batch = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      assert(back.count() == batch.count())
      val a = back.groupBy("series").count().orderBy("series").collect().toSeq
      val b = batch.groupBy("series").count().orderBy("series").collect().toSeq
      assert(a == b)
    }
  }

  test("streamed sliding windows: every event lands in exactly w/slide windows") {
    val out = graft.streaming.StreamingOps.slidingWindowReplay(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // 1-day window / 12-hour slide: summed window counts = 2x the rows
    val total = rows.map(_.getAs[Long]("n")).sum
    val base = Tables.events(spark, sfDir).count()
    assert(total == 2 * base, s"expected 2x$base, got $total")
    // window starts align to the slide, not the window width
    assert(rows.forall(_.getAs[Long]("w_start_us") % (12L * 3600 * 1000000) == 0))
  }

  test("sqlStream sliding bucket equals the batch expansion") {
    import org.apache.spark.sql.streaming.Trigger
    withTempRoot("graft-slide-spec") { root =>
      val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
      def stream = graft.sources.TimeSeriesTable.openStream(spark, root, "dom", "events")
      val q = "SELECT CAST(bucket(ts, '1 day', '12 hours') AS int) AS d, " +
        "count(click) AS n FROM dom.events GROUP BY d"
      val out = graft.boostql.BoostQL.sqlStream(q, _ => stream, "1 day")
      assert(out.isStreaming)
      withSinks("graft_slide_spec_") { case Seq(sink) =>
        val sq = out.writeStream.format("memory").queryName(sink)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
        val streamed = spark.table(sink).orderBy("d").collect().toSeq
        // batch twin: the dialect's own sliding expansion over the same data
        val batch = graft.boostql.BoostQL.sql(
          "SELECT CAST(t.d AS int) AS d, t.n AS n FROM " +
            "(SELECT bucket(ts, '1 day', '12 hours') AS d, count(click) AS n " +
            "FROM dom.events GROUP BY d) AS t ORDER BY d",
          _ => graft.sources.TimeSeriesTable.open(spark, root, "dom", "events"))
          .collect().toSeq
        assert(streamed == batch && streamed.nonEmpty)
        // slide contract refusals carry to the streaming front
        def refuses(sql: String): Unit =
          intercept[graft.boostql.Compiler.CompileException](
            graft.boostql.BoostQL.sqlStream(sql, _ => stream, "1 day"))
        refuses("SELECT CAST(bucket(ts, '1 hour', '2 hours') AS int) AS d, " +
          "count(click) AS n FROM dom.events GROUP BY d")
        refuses("SELECT CAST(bucket(ts, '1 day', '7 hours') AS int) AS d, " +
          "count(click) AS n FROM dom.events GROUP BY d")
      }
    }
  }

  test("sqlStreamInsert: stateless pipe parity and continuous downsampling") {
    import org.apache.spark.sql.streaming.Trigger
    withTempRoot("graft-insstream") { root =>
      val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
      def stream = graft.sources.TimeSeriesTable.openStream(spark, root, "dom", "events")
      def openFam(f: String) =
        graft.sources.TimeSeriesTable.open(spark, root, "dom", f)
      // stateless pipe: streamed INSERT equals the batch INSERT of the
      // same statement
      val ins = "INSERT INTO dom.%s SELECT ts, view AS v, view * 0.5 AS half " +
        "FROM dom.events WHERE view > 100.0"
      graft.boostql.BoostQL.sqlStreamInsert(ins.format("scopy"), _ => stream, root)
      graft.boostql.BoostQL.sqlInsert(ins.format("bcopy"),
        _ => openFam("events"), root)
      def rows(f: String) = openFam(f)
        .select("series", "ts", "value").orderBy("series", "ts")
        .collect().toSeq
      assert(rows("scopy") == rows("bcopy") && rows("scopy").nonEmpty)
      // continuous downsampling: watermarked daily rollup into a derived
      // family — finalized windows only, each matching the batch rollup
      graft.boostql.BoostQL.sqlStreamInsert(
        "INSERT INTO dom.daily SELECT bucket(ts, '1 day') AS ts, " +
          "sum(CAST(click * 100.0 AS int)) AS clicks FROM dom.events " +
          "GROUP BY ts",
        _ => stream, root, Some("1 day"))
      val daily = openFam("daily").filter(col("series") === "clicks")
        .select(col("ts"), col("value")).collect()
        .map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
      val batchDaily = openFam("events").filter(col("series") === "click")
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(sum(expr("CAST(value * 100.0 AS long)")).cast("double").as("v"))
        .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
      assert(daily.nonEmpty && daily.size >= batchDaily.size - 2)
      daily.foreach { case (d, v) =>
        assert(batchDaily.get(d).contains(v), s"day $d: $v vs ${batchDaily.get(d)}")
      }
      // shape refusals carry to the streaming front, BEFORE stream start
      def refuses(stmt: String, wm: Option[String]): Unit =
        intercept[graft.boostql.Compiler.CompileException](
          graft.boostql.BoostQL.sqlStreamInsert(stmt, _ => stream, root, wm))
      // watermarked INSERT needs the bucket key to stay the ts axis
      refuses("INSERT INTO dom.x SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
        "count(click) AS n FROM dom.events GROUP BY d", Some("1 day"))
      // a stateless INSERT of an aggregate refuses via the whitelist
      refuses("INSERT INTO dom.x SELECT ts, count(click) AS n " +
        "FROM dom.events GROUP BY ts", None)
      // non-numeric series column refuses
      refuses("INSERT INTO dom.x SELECT ts, click.user AS u FROM dom.events",
        None)
    }
  }

  test("openStream tails a written family: streamed replay equals batch read") {
    import org.apache.spark.sql.streaming.Trigger
    withTempRoot("graft-stream-src") { root =>
      val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
      val counts = graft.sources.TimeSeriesTable
        .openStream(spark, root, "dom", "events")
        .groupBy("series").agg(count(lit(1)).as("n"))
      withSinks("graft_openstream_") { case Seq(sink) =>
        val q = counts.writeStream.format("memory").queryName(sink)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val streamed = spark.table(sink).orderBy("series").collect().toSeq
        val batch = graft.sources.TimeSeriesTable.open(spark, root, "dom", "events")
          .groupBy("series").agg(count(lit(1)).as("n"))
          .orderBy("series").collect().toSeq
        assert(streamed == batch && streamed.nonEmpty)
        // the partition column streams too (pruning-relevant at scale)
        assert(graft.sources.TimeSeriesTable.openStream(spark, root, "dom", "events")
          .schema.fieldNames.contains("dt"))
      }
    }
  }

  test("sqlStream runs the stateless dialect subset; stateful shapes refuse") {
    import org.apache.spark.sql.streaming.Trigger
    withTempRoot("graft-sqlstream-spec") { root =>
      val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
      val stream = graft.sources.TimeSeriesTable.openStream(spark, root, "dom", "events")
      // projection + WHERE streams and equals the batch run of the SAME query
      val q = "SELECT click.event_id, click FROM dom.events WHERE click > 100.0"
      val out = graft.boostql.BoostQL.sqlStream(q, _ => stream)
      assert(out.isStreaming)
      withSinks("graft_sqlstream_spec_") { case Seq(sink) =>
        val sq = out.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
        val streamed = spark.table(sink).orderBy("click_event_id").collect().toSeq
        val batch = graft.boostql.BoostQL.sql(q,
            _ => graft.sources.TimeSeriesTable.open(spark, root, "dom", "events"))
          .orderBy("click_event_id").collect().toSeq
        assert(streamed == batch && streamed.nonEmpty)
        // every stateful shape refuses at COMPILE time, before stream start
        def refuses(sql: String): Unit =
          intercept[graft.boostql.Compiler.CompileException](
            graft.boostql.BoostQL.sqlStream(sql, _ => stream))
        refuses("SELECT click.user, count(*) FROM dom.events GROUP BY click.user")
        refuses("SELECT bucket(ts, '1 day') AS d, count(*) AS n " +
          "FROM dom.events GROUP BY d FILL(null)")
        refuses("SELECT click FROM dom.events ORDER BY click")
        refuses("SELECT click FROM dom.events LIMIT 5")
        refuses("SELECT DISTINCT click FROM dom.events")
        // multi-series alignment is a stream-stream join — caught by the
        // logical-plan sweep, not the clause checks
        refuses("SELECT click, view FROM dom.events")
        refuses("SELECT a.click FROM dom.events AS a JOIN dom.events AS b " +
          "ON a.click.user = b.view.user")
        refuses("SELECT click, row_number() OVER (PARTITION BY click.user " +
          "ORDER BY click) AS rk FROM dom.events")
        // stateful shapes INSIDE derived tables are caught by the plan
        // whitelist (a blacklist would miss Deduplicate/GlobalLimit nodes)
        refuses("SELECT x FROM (SELECT DISTINCT click AS x FROM dom.events) AS t")
        refuses("SELECT x FROM (SELECT click AS x FROM dom.events LIMIT 5) AS t")
      }
    }
  }

  test("watermarked sqlStream: bucket-keyed aggregate equals batch; refusal matrix") {
    import org.apache.spark.sql.streaming.Trigger
    withTempRoot("graft-sqlwin-spec") { root =>
      val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
      def stream = graft.sources.TimeSeriesTable.openStream(spark, root, "dom", "events")
      val q = "SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
        "count(*) AS n, sum(CAST(click * 100.0 AS int)) AS cents " +
        "FROM dom.events WHERE click > 50.0 GROUP BY d"
      // complete-mode replay equals the BATCH dialect run of the same
      // query text: streamed window().start must land exactly on batch
      // bucket()'s epoch alignment
      val out = graft.boostql.BoostQL.sqlStream(q, _ => stream, "1 day")
      assert(out.isStreaming)
      withSinks("graft_sqlwin_spec_", "graft_sqlwin_app_", "graft_sqlwin_hav_",
          "graft_sqlwin_round_", "graft_sqlwin_ba_") {
          case Seq(sink, sink2, sink3, sink4, sinkB) =>
        val sq = out.writeStream.format("memory").queryName(sink)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
        val streamed = spark.table(sink).orderBy("d").collect().toSeq
        val batch = graft.boostql.BoostQL.sql(q,
            _ => graft.sources.TimeSeriesTable.open(spark, root, "dom", "events"))
          .orderBy("d").collect().toSeq
        assert(streamed == batch && streamed.nonEmpty)
        // APPEND mode must START: the group key is an engine-recognized
        // event-time window over the watermarked axis (emit-on-finalize +
        // state eviction), not opaque timestamp arithmetic — an
        // unrecognized key would throw at start. Finalized windows are a
        // subset of the batch rows (the watermark withholds the tail).
        val sq2 = graft.boostql.BoostQL.sqlStream(q, _ => stream, "1 day")
          .writeStream.format("memory").queryName(sink2)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sq2.awaitTermination()
        val appended = spark.table(sink2).collect().toSeq
        assert(appended.toSet.subsetOf(batch.toSet),
          "append-mode windows must agree with batch where finalized")
        // HAVING: a stateless filter on the finalized aggregate rows —
        // complete-mode replay equals the BATCH run of the same text,
        // including a HIDDEN aggregate (min(click) named only in HAVING:
        // computed, filtered on, dropped from the output schema)
        val qh = q + " HAVING count(*) > 3 AND min(click) > 50.0"
        val sq3 = graft.boostql.BoostQL.sqlStream(qh, _ => stream, "1 day")
          .writeStream.format("memory").queryName(sink3)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        sq3.awaitTermination()
        val streamedH = spark.table(sink3).orderBy("d").collect().toSeq
        val batchH = graft.boostql.BoostQL.sql(qh,
            _ => graft.sources.TimeSeriesTable.open(spark, root, "dom", "events"))
          .orderBy("d").collect().toSeq
        assert(streamedH == batchH && streamedH.nonEmpty)
        assert(spark.table(sink3).columns.toSeq == Seq("d", "n", "cents"),
          "hidden HAVING aggregates must not leak into the output schema")
        // round(x, d) and LIKE in a streaming HAVING compile through the
        // batch compiler's evaluator and finalize the rows batch returns
        val qr = q + " HAVING round(sum(click), 1) > 300.0 AND " +
          "CAST(n AS string) NOT LIKE '1'"
        graft.boostql.BoostQL.sqlStream(qr, _ => stream, "1 day")
          .writeStream.format("memory").queryName(sink4)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        val batchR = graft.boostql.BoostQL.sql(qr,
            _ => graft.sources.TimeSeriesTable.open(spark, root, "dom", "events"))
          .orderBy("d").collect().toSeq
        assert(spark.table(sink4).orderBy("d").collect().toSeq == batchR &&
          batchR.nonEmpty && batchR.length < batch.length)

        // refusal matrix: every clause and every non-streaming-safe shape
        // refuses at COMPILE time with the 3-arg overload too
        def refuses(sql: String): Unit =
          intercept[graft.boostql.Compiler.CompileException](
            graft.boostql.BoostQL.sqlStream(sql, _ => stream, "1 day"))
        val G = " FROM dom.events GROUP BY d"
        val B = "SELECT CAST(bucket(ts, '1 day') AS int) AS d, count(*) AS n"
        refuses(B + G + " FILL(previous)")                            // FILL
        refuses(B + G + " ORDER BY d")                                // ORDER BY
        refuses(B + G + " LIMIT 5")                                   // LIMIT
        refuses("SELECT DISTINCT CAST(bucket(ts, '1 day') AS int) AS d, " +
          "count(*) AS n" + G)                                        // DISTINCT
        refuses(B + ", rank() OVER (ORDER BY n) AS rk" + G)           // window fn
        refuses(B + " FROM dom.events GROUP BY ROLLUP (d)")           // rollup
        refuses("SELECT a.d, count(*) AS n FROM dom.events AS a " +
          "JOIN dom.events AS b ON a.click.user = b.view.user " +
          "GROUP BY a.d")                                             // JOIN
        refuses(B + G + " UNION ALL " + B + G)                        // set op
        refuses("SELECT click FROM dom.events")                       // no GROUP BY
        refuses("SELECT click.user AS u, count(*) AS n " +
          "FROM dom.events GROUP BY u")                               // no bucket key
        refuses("SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
          "CAST(bucket(ts, '1 hour') AS int) AS h, count(*) AS n " +
          "FROM dom.events GROUP BY d, h")                            // two buckets
        refuses("SELECT bucket(ts, '1 month') AS d, count(*) AS n" + G) // calendar width
        refuses("SELECT ts, count(*) AS n FROM dom.events GROUP BY ts") // raw ts key
        refuses(B + ", count(DISTINCT click.user) AS cd" + G)         // distinct agg
        refuses(B + ", median(click) AS md" + G)                      // sort-based agg
        refuses(B + ", percentile(click, 0.5) AS p" + G)              // percentile
        refuses(B + ", approx_percentile(click, 0.5) AS p" + G)       // sketch agg
        refuses(B + ", approx_distinct(click.user) AS ad" + G)        // sketch agg
        // session(ts, gap) is a valid time key (compiles to session_window)
        // when a plain grouping key rides along…
        graft.boostql.BoostQL.sqlStream(
          "SELECT session(ts, '6 hours') AS w, click.user AS u, " +
            "count(*) AS n FROM dom.events GROUP BY w, u",
          _ => stream, "1 day")
        // …but a GLOBAL session merge refuses (engine limitation, caught at
        // compile instead of stream start), as do session+bucket together,
        // calendar gaps, and non-positive gaps
        assert(intercept[graft.boostql.Compiler.CompileException](
          graft.boostql.BoostQL.sqlStream(
            "SELECT session(ts, '6 hours') AS w, count(*) AS n " +
              "FROM dom.events GROUP BY w", _ => stream, "1 day"))
          .getMessage.contains("grouping key"))
        refuses("SELECT session(ts, '6 hours') AS w, " +
          "CAST(bucket(ts, '1 day') AS int) AS d, count(*) AS n " +
          "FROM dom.events GROUP BY w, d")                  // two time keys
        refuses("SELECT session(ts, '1 month') AS w, click.user AS u, " +
          "count(*) AS n FROM dom.events GROUP BY w, u")    // calendar gap
        refuses("SELECT session(ts, '0 seconds') AS w, click.user AS u, " +
          "count(*) AS n FROM dom.events GROUP BY w, u")    // zero gap
        // approx_top_k IS streaming-safe (capacity-bounded MG state) — it
        // must compile through the watermarked form…
        graft.boostql.BoostQL.sqlStream(
          B + ", approx_top_k(click.k, 8) AS top" + G, _ => stream, "1 day")
        // …and keep refusing in the STATELESS overload (it aggregates)
        intercept[graft.boostql.Compiler.CompileException](
          graft.boostql.BoostQL.sqlStream(
            "SELECT approx_top_k(click.k, 8) AS top FROM dom.events",
            _ => stream))
        // histogram IS streaming-safe too (nbins plain sums — constant
        // state per window entry); same stateless-overload refusal
        graft.boostql.BoostQL.sqlStream(
          B + ", histogram(click, 0, 500, 4) AS h" + G, _ => stream, "1 day")
        intercept[graft.boostql.Compiler.CompileException](
          graft.boostql.BoostQL.sqlStream(
            "SELECT histogram(click, 0, 500, 4) AS h FROM dom.events",
            _ => stream))
        // …but histogram in HAVING refuses (a count string is not a
        // comparable aggregate)
        refuses(B + G + " HAVING histogram(click, 0, 500, 4) != ''")
        // aggregate EXPRESSIONS (the corr/regr desugar shape) compile —
        // hidden pair sums + a stateless tail on finalized windows…
        graft.boostql.BoostQL.sqlStream(
          B + ", corr(click, CAST(click.k AS float)) AS r" + G,
          _ => stream, "1 day")
        graft.boostql.BoostQL.sqlStream(
          B + ", regr_slope(click, CAST(click.k AS float)) AS sl" + G,
          _ => stream, "1 day")
        graft.boostql.BoostQL.sqlStream(
          B + ", sum(click) / count(click) AS ratio" + G, _ => stream, "1 day")
        // …and an aggregate expression referencing the BUCKET ALIAS
        // resolves to the post-rename (post-CAST) bucket value instead of
        // failing against the pre-rename frame where only `window` exists
        val qb = "SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
          "count(click) AS n, count(click) + d / 86400 AS nd" + G
        val sqB = graft.boostql.BoostQL.sqlStream(qb, _ => stream, "1 day")
          .writeStream.format("memory").queryName(sinkB)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        sqB.awaitTermination()
        val gotB = spark.table(sinkB).orderBy("d").collect().toSeq
        assert(gotB.nonEmpty && gotB.forall(r =>
          r.getLong(1) + r.getLong(0) / 86400.0 == r.getDouble(2)))
        // a cyclic expression-alias reference refuses instead of looping
        refuses(B + ", sum(click) + x AS x" + G)
        refuses(B + ", sum(click) + y AS x, sum(click) + x AS y" + G)
        // …while expressions containing non-streaming-safe aggregates, and
        // expressions over raw (non-output) fields, keep refusing
        refuses(B + ", median(click) + 1.0 AS m" + G)
        refuses(B + ", percentile(click, 0.5) * 2.0 AS p" + G)
        refuses(B + ", sum(click) + click AS broken" + G)
        refuses(B + ", count(click)" + G)                             // unaliased agg
        refuses(B + ", upper(click.user) AS uu" + G)                  // bare scalar item
        refuses("SELECT CAST(bucket(ts, '1 day') AS int) AS d, count(*) AS n " +
          "FROM (SELECT DISTINCT click AS x, ts FROM dom.events) AS t " +
          "GROUP BY d")                          // stateful derived table (sweep)
        // HAVING refusal edges: window fns, unknown names, and
        // non-streaming-safe aggregates inside the condition
        refuses(B + G + " HAVING rank() OVER (ORDER BY ts) > 1")
        refuses(B + G + " HAVING nope > 1")
        refuses(B + G + " HAVING median(click) > 1.0")
      }
    }
  }

  test("SQL-front stream-stream join: batch parity, bounded state, refusals") {
    import org.apache.spark.sql.streaming.Trigger
    val text = "SELECT a.click.event_id AS click_id, a.click.user AS u, " +
      "b.purchase.event_id AS purchase_id " +
      "FROM dom.events AS a JOIN dom.events AS b " +
      "ON a.click.user = b.purchase.user " +
      "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'"
    // append-mode replay equals the SAME dialect text run batch
    val got = StreamingOps.streamSqlJoinReplay(spark, sfDir)
      .collect().toSeq
    val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
    val batch = graft.boostql.BoostQL.sql(text, _ => fam)
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(got == batch && got.nonEmpty)
    // bounded state: multiple micro-batches + a tight watermark must
    // EVICT join state — the final batch's state rows sit well below
    // the total click+purchase rows streamed (date-ordered family files
    // advance the watermark between batches)
    withTempRoot("graft-sjn-spec") { root =>
      StreamingOps.streamIntoFamily(spark, sfDir, root, "dom", "events")
      def tail = graft.sources.TimeSeriesTable
        .openStream(spark, root, "dom", "events", maxFilesPerTrigger = 2)
      val out = graft.boostql.BoostQL.sqlStream(text, _ => tail, "1 hour")
      val sink = "graft_sjn_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // only the progress is read; the rows stay out of the driver
      spark.sql(s"DROP VIEW IF EXISTS $sink")
      val progress = q.recentProgress.toSeq
      val stateRows = progress.flatMap(_.stateOperators).map(_.numRowsTotal)
      val sides = Tables.events(spark, sfDir)
        .filter(col("event_type").isin("click", "purchase")).count()
      assert(stateRows.nonEmpty)
      assert(stateRows.last < sides / 2,
        s"join state must evict behind the watermark: ${stateRows.last} of $sides")
      // refusal matrix (compile-time, batch frames suffice)
      def refuses(q2: String): String =
        intercept[graft.boostql.Compiler.CompileException](
          graft.boostql.BoostQL.sqlStream(q2, _ => fam, "1 day")).getMessage
      val S = "SELECT a.click.event_id AS i, b.purchase.event_id AS p " +
        "FROM dom.events AS a JOIN dom.events AS b ON "
      val K = "a.click.user = b.purchase.user"
      val B = " AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'"
      assert(refuses(S + K).contains("bound"))            // no time bound
      assert(refuses(S + K + " AND b.ts >= a.ts")
        .contains("BOTH"))                                // half-bounded
      // two SAME-DIRECTION inequalities pass a naive >=2 count but make
      // only b's state evictable (b.ts >= a.ts: a stored b row at s is
      // unmatchable once a's watermark passes s) — a's state would
      // accrete forever; the direction-tracked analysis refuses (and
      // names the one side that IS evictable)
      assert(refuses(S + K +
        " AND b.ts >= a.ts AND b.ts > a.ts - INTERVAL '1 minute'")
        .contains("only b is bounded"))
      assert(refuses(("SELECT click.event_id AS i FROM dom.events " +
        "JOIN dom.events AS b ON click.user = b.purchase.user" + B))
        .contains("aliased"))                             // unaliased side
      // outer joins are ACCEPTED (null-extension at watermark) as long
      // as the two-sided bound holds — but still need the bound
      graft.boostql.BoostQL.sqlStream(
        S.replace("JOIN", "LEFT JOIN") + K + B, _ => fam, "1 day")
      graft.boostql.BoostQL.sqlStream(
        S.replace("JOIN", "FULL JOIN") + K + B, _ => fam, "1 day")
      graft.boostql.BoostQL.sqlStream(
        S.replace("JOIN", "RIGHT JOIN") + K + B, _ => fam, "1 day")
      assert(refuses(S.replace("JOIN", "LEFT JOIN") + K)
        .contains("bound"))                               // outer, unbounded
      assert(refuses(S.replace("JOIN", "ASOF JOIN") + K)
        .contains("ASOF"))                                // asof
      assert(refuses("SELECT a.click, b.view FROM dom.events AS a, " +
        "dom.events AS b").contains("ON"))                // cross join
      // GROUP BY over the joined stream routes to the join-agg tier,
      // which requires a bucket key + aliased aggregates
      assert(refuses(S + K + B + " GROUP BY i")
        .contains("bucket"))                              // no bucket key
      val JA = "SELECT CAST(bucket(a.ts, '1 day') AS int) AS d, " +
        "count(*) AS n FROM dom.events AS a JOIN dom.events AS b ON " + K
      assert(refuses(JA.replace("JOIN", "LEFT JOIN") + B + " GROUP BY d")
        .contains("OUTER"))                               // agg over outer
      assert(refuses(JA + B + " GROUP BY d HAVING count(*) > 2")
        .contains("HAVING"))                              // having over join agg
      assert(refuses(JA.replace("'1 day'", "'1 day', '12 hours'") +
        B + " GROUP BY d").contains("sliding"))           // slide over join
      assert(refuses((JA + B + " GROUP BY d")
        .replace("count(*) AS n", "median(b.purchase) AS m"))
        .contains("median"))                              // non-mergeable agg
      // the accepted join-agg shape compiles (chained stateful operators)
      graft.boostql.BoostQL.sqlStream(JA + B + " GROUP BY d", _ => fam, "1 day")
      // a BETWEEN bound and exact-ts equality both count as two-sided
      graft.boostql.BoostQL.sqlStream(
        S + K + " AND b.ts BETWEEN a.ts AND a.ts + INTERVAL '1 hour'",
        _ => fam, "1 day")
      graft.boostql.BoostQL.sqlStream(
        S + K + " AND a.ts = b.ts", _ => fam, "1 day")
    }
  }

  test("SQL-front streaming LEFT OUTER join: batch parity incl. null-extended rows") {
    val text = "SELECT a.click.event_id AS click_id, a.click.user AS u, " +
      "b.purchase.event_id AS purchase_id " +
      "FROM dom.events AS a LEFT JOIN dom.events AS b " +
      "ON a.click.user = b.purchase.user " +
      "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'"
    val got = StreamingOps.streamSqlLeftJoinReplay(spark, sfDir)
      .collect().toSeq
    val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
    val batch = graft.boostql.BoostQL.sql(text, _ => fam)
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(got == batch && got.nonEmpty)
    // the outer semantics actually engaged: unmatched clicks emitted
    // null-extended — including LATE-window ones near the end of the
    // stream (the flush rows are what let the watermark pass them)
    assert(got.exists(_.isNullAt(2)), "expected null-extended rows")
    assert(got.count(!_.isNullAt(2)) > 0, "expected matched rows too")
    // no flush marker leaks into the result
    assert(got.forall(r => !r.getString(1).startsWith("__flush_")))
  }

  test("SQL-front joined-stream aggregation: batch parity + chained stateful operators") {
    import org.apache.spark.sql.streaming.Trigger
    val text = "SELECT CAST(bucket(a.ts, '1 day') AS int) AS d, " +
      "a.click.user AS u, count(*) AS n, " +
      "sum(CAST(b.purchase * 100.0 AS int)) AS cents " +
      "FROM dom.events AS a JOIN dom.events AS b " +
      "ON a.click.user = b.purchase.user " +
      "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour' GROUP BY d, u"
    val got = StreamingOps.streamSqlJoinAggReplay(spark, sfDir)
      .collect().toSeq
    // the SAME dialect text over a batch frame is the semantic twin
    // (withWatermark is a no-op on batch; window(ts, 1d) == bucket)
    val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
    val batch = graft.boostql.BoostQL.sqlStream(text, _ => fam, "2 days")
      .orderBy("d", "u").collect().toSeq
    assert(got == batch && got.nonEmpty)
    // chained stateful operators: a multi-batch tail must show BOTH the
    // join and the window-agg state operators, and the join's state
    // must evict behind the watermark instead of holding both streams
    withTempRoot("graft-jagg-spec") { root =>
      graft.sources.TimeSeriesTable.append(fam, root, "dom", "events")
      def tail = graft.sources.TimeSeriesTable
        .openStream(spark, root, "dom", "events", maxFilesPerTrigger = 2)
      val out = graft.boostql.BoostQL.sqlStream(text, _ => tail, "1 hour")
      val sink = "graft_jagg_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // only the progress is read; the rows stay out of the driver
      spark.sql(s"DROP VIEW IF EXISTS $sink")
      val progress = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      assert(progress.nonEmpty)
      assert(progress.exists(_.stateOperators.length == 2),
        s"expected join + window agg state operators, got " +
          progress.map(_.stateOperators.map(_.operatorName).mkString("+")).distinct)
      val joinState = progress.last.stateOperators
        .filter(_.operatorName.toLowerCase.contains("join")).map(_.numRowsTotal)
      val sides = Tables.events(spark, sfDir)
        .filter(col("event_type").isin("click", "purchase")).count()
      assert(joinState.nonEmpty && joinState.sum < sides / 2,
        s"join state must evict behind the watermark: ${joinState.sum} of $sides")
    }
  }

  test("joined-stream aggregate auto-compiles to the bucketed hot-key topology; undecomposable shapes fall back") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val fam = graft.sources.TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
    def hasBucketExplode(df: org.apache.spark.sql.DataFrame): Boolean = {
      var gen = false
      df.queryExecution.analyzed.foreach {
        case g: Generate => gen = true
        case _ => ()
      }
      gen && df.queryExecution.analyzed.toString.contains("__gbkt")
    }
    // the canonical enrich-then-rollup shape decomposes: per-side
    // stateless compiles + bucketedIntervalJoin (Generate = the ≤2-
    // bucket explode; __gbkt = the derived time-bucket equi key)
    val canonical = graft.boostql.BoostQL.sqlStream(
      "SELECT CAST(bucket(a.ts, '1 day') AS int) AS d, " +
        "a.click.user AS u, count(*) AS n, " +
        "sum(CAST(b.purchase * 100.0 AS int)) AS cents " +
        "FROM dom.events AS a JOIN dom.events AS b " +
        "ON a.click.user = b.purchase.user " +
        "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour' " +
        "GROUP BY d, u", _ => fam, "2 days")
    assert(hasBucketExplode(canonical),
      "expected the bucketed-interval decomposition to engage")
    // BETWEEN spells the same bound; single-side ON/WHERE conjuncts
    // push into their side and keep the decomposition
    val between = graft.boostql.BoostQL.sqlStream(
      "SELECT bucket(a.ts, '1 day') AS d, count(*) AS n " +
        "FROM dom.events AS a JOIN dom.events AS b " +
        "ON a.click.user = b.purchase.user " +
        "AND b.ts BETWEEN a.ts AND a.ts + INTERVAL '1 hour' " +
        "AND b.purchase > 10.0 WHERE a.click < 90.0 GROUP BY d",
      _ => fam, "2 days")
    assert(hasBucketExplode(between))
    // a MIXED-SIDE aggregate argument is side-unsplittable — the
    // symmetric-hash fallback compiles it (no explode), same semantics
    val mixed = graft.boostql.BoostQL.sqlStream(
      "SELECT bucket(a.ts, '1 day') AS d, " +
        "sum(a.click + b.purchase) AS s " +
        "FROM dom.events AS a JOIN dom.events AS b " +
        "ON a.click.user = b.purchase.user " +
        "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour' " +
        "GROUP BY d", _ => fam, "2 days")
    assert(!hasBucketExplode(mixed), "mixed-side args must fall back")
    assert(mixed.collect().nonEmpty)
    // the SQL front agrees with the hand-built bucketed replay (the
    // DuckDB oracle pins the same equality at the harness tier)
    val viaBucketed = canonical.orderBy("d", "u").collect().toSeq
    assert(viaBucketed.nonEmpty)
    val direct = StreamingOps.streamJoinAggBucketedReplay(spark, sfDir)
      .collect().toSeq
    assert(viaBucketed.map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))) ==
      direct.map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
  }

  test("family roundtrip: ingest + openStream tail equals batch; maxFilesPerTrigger bounds batches") {
    // end-to-end topology: streamIntoFamily write half -> openStream
    // read half -> watermarked daily agg. Result must equal the plain
    // batch aggregate over the same events
    val (df, progress) = StreamingOps.familyRoundtripWithProgress(
      spark, sfDir, maxFilesPerTrigger = 2)
    val got = df.collect().toSeq
    val want = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type").as("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("series"), col("n"), col("sum_value"))
      .orderBy("w_start_us", "series").collect().toSeq
    assert(got == want && got.nonEmpty)
    // maxFilesPerTrigger = 2 must split the tail into ceil(F/2) data
    // batches, F = part files the ingest landed — one batch swallowing
    // the whole backlog is exactly what the option exists to prevent
    // the tail's source description names the family path:
    // FileStreamSource[file:/tmp/graft-famstreamXXX/dom/events]
    val famPath = progress.head.sources.head.description match {
      case d if d.contains("[file:") =>
        d.substring(d.indexOf("[file:") + 6, d.lastIndexOf("]"))
      case d => fail(s"unexpected source description: $d")
    }
    val files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(famPath))
        .iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
    }
    val dataBatches = progress.count(_.numInputRows > 0)
    assert(files > 2, s"expected a multi-file family, got $files files")
    assert(dataBatches == (files + 1) / 2,
      s"maxFilesPerTrigger=2 over $files files should take ${(files + 1) / 2} " +
        s"data batches, took $dataBatches")
    // the stateful tier pins the ROCKSDB state store (heap-free state —
    // the 100x session-state ceiling was JVM objects in the default
    // provider); the progress trail proves the provider engaged
    val stateOps = progress.flatMap(_.stateOperators)
    assert(stateOps.nonEmpty)
    assert(stateOps.exists(so => {
      import scala.jdk.CollectionConverters._
      so.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))
    }), "state operators must report rocksdb metrics")
  }

  test("streaming dedup count equals batch distinct count") {
    val streamed = StreamingOps.streamingDedupCounts(spark, sfDir).collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct("event_id").as("n"))
      .orderBy("event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streamed session windows equal batch session_window") {
    val streamed = StreamingOps.sessionWindowReplay(spark, sfDir).collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("w_start_us"),
        unix_micros(col("session_window.end")).as("w_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "w_start_us").collect()
    assert(streamed.toSeq == batch.toSeq)
    // session invariants: per user, sessions are disjoint and separated
    // by more than the gap (else they'd have merged)
    streamed.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(1) > a.getLong(2),
          "consecutive sessions must be separated by more than the gap")
        case _ => ()
      }
    }
  }

  test("stream-stream interval join equals batch interval join") {
    val streamed = StreamingOps.streamIntervalJoinReplay(spark, sfDir).collect()
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    val batch = c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("delay_us"))
      .orderBy("click_id", "purchase_id").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 3600000000L))
  }

  test("stream-static enrichment join equals the batch join+rollup") {
    // (the broadcast itself is pinned by the explicit broadcast() hint
    // in streamStaticJoinReplay; the returned frame reads the memory
    // sink, so the streaming join plan is not visible here)
    val got = StreamingOps.streamStaticJoinReplay(spark, sfDir).collect()
    // every event's user_id resolves in the dimension — the inner join
    // must lose nothing
    assert(got.map(_.getLong(2)).sum ==
      Tables.events(spark, sfDir).count())
    val batch = Tables.events(spark, sfDir)
      .join(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("c_mktsegment", "event_type").collect()
    assert(got.toSeq == batch.toSeq && got.nonEmpty)
  }

  test("streaming curation ledger equals the batch ledger (stateless map tier)") {
    val w = Array.tabulate(256)(i => (i - 100) / 200.0)
    val streamed = StreamingOps.streamingCurationReplay(spark, sfDir, w, 0.02)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
    val batch = graft.operators.TextAnalysisOps
      .classifierScore(Tables.documents(spark, sfDir), "doc_id", "text", w, 0.02)
      .groupBy(col("lang"), col("keep"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("lang", "keep")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSeq == batch.toSeq && streamed.nonEmpty)
    // both keep and drop must actually occur for the parity to mean much
    assert(streamed.map(_._2).distinct.length == 2)
  }

  test("streaming shingle candidates equal the batch rollup") {
    val streamed = StreamingOps.streamingShingleCandidates(spark, sfDir)
      .collect().head
    // batch twin with the same shingle expressions
    val words = split(col("text"), " ")
    val n = greatest(size(words) - lit(2), lit(1))
    val shingles = array_distinct(transform(sequence(lit(1), n),
      i => concat_ws(" ", slice(words, i, lit(3)))))
    val batch = Tables.documents(spark, sfDir)
      .select(explode(shingles).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("cand_shingles"),
        sum((col("n") * (col("n") - lit(1)) / lit(2)).cast("long"))
          .as("cand_pairs"))
      .collect().head
    assert(streamed == batch)
    assert(streamed.getLong(0) > 0 && streamed.getLong(2) >= streamed.getLong(1))
  }

  test("stream_neardup is continuous: one rollup row per micro-batch, " +
      "monotone, final equals batch truth") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // stage as 4 files so maxFilesPerTrigger=1 yields 4 micro-batches
    withTempRoot("graft-neardup-multi") { staged =>
      docs.repartition(4).write.mode("overwrite").parquet(staged)
      val rollups = StreamingOps.streamingShingleRollups(spark, staged,
        maxFilesPerTrigger = 1)
      assert(rollups.size >= 2,
        s"expected a multi-batch trajectory, got ${rollups.size} batch(es)")
      // the candidate counts are LIVE after every micro-batch and only
      // grow as documents arrive (complete-mode state re-emission)
      rollups.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4,
            s"rollups must be monotone non-decreasing: $a then $b")
        case _ =>
      }
      // the final rollup equals the batch computation over all documents
      // — and its n_shingles IS the level-1 state row count (one state
      // entry per distinct shingle, not per document seen): bounded state
      val words = split(col("text"), " ")
      val n = greatest(size(words) - lit(2), lit(1))
      val shingles = array_distinct(transform(sequence(lit(1), n),
        i => concat_ws(" ", slice(words, i, lit(3)))))
      val batch = docs.select(explode(shingles).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), sum(when(col("n") >= 2, 1L).otherwise(0L)),
          sum((col("n") * (col("n") - lit(1)) / lit(2)).cast("long")))
        .head()
      val last = rollups.last
      assert((last._2, last._3, last._4) ==
        (batch.getLong(0), batch.getLong(1), batch.getLong(2)))
    }
  }

  test("bucketedIntervalJoin is pair-exact vs the naive interval join, " +
      "incl. bucket-boundary ties") {
    import spark.implicits._
    // a dense grid that straddles every bucket boundary: bound
    // [0, 10 s] → bucket width 10 s; left rows every 1 s, right rows
    // every 700 ms, two keys — ties land exactly ON bucket edges
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val lrows = for (k <- Seq("a", "b"); i <- 0 until 40)
      yield (k, new java.sql.Timestamp(base + i * 1000L))
    val rrows = for (k <- Seq("a", "b"); j <- 0 until 60)
      yield (k, new java.sql.Timestamp(base + j * 700L), j.toDouble)
    val left = lrows.toDF("lk", "lts")
    val right = rrows.toDF("rk", "rts", "v")
    val loUs = 0L; val hiUs = 10L * 1000000L
    val naive = left.join(right,
      col("lk") === col("rk") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 10 SECONDS"), "inner")
      .select("lk", "lts", "rts", "v")
    val bucketed = StreamingOps.bucketedIntervalJoin(left, right,
      Seq("lk" -> "rk"), loUs, hiUs, "lts", "rts")
      .select("lk", "lts", "rts", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getDouble(3))).sorted.toSeq
    val (n, b) = (canon(naive), canon(bucketed))
    assert(n.nonEmpty && n == b,
      s"bucketed join must be pair-identical (naive ${n.size}, bucketed ${b.size})")
    // a negative lower bound exercises the two-bucket explode both ways
    val naive2 = left.join(right,
      col("lk") === col("rk") &&
        col("rts") >= col("lts") - expr("INTERVAL 5 SECONDS") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 SECONDS"), "inner")
      .select("lk", "lts", "rts", "v")
    val bucketed2 = StreamingOps.bucketedIntervalJoin(left, right,
      Seq("lk" -> "rk"), -5L * 1000000L, 5L * 1000000L, "lts", "rts")
      .select("lk", "lts", "rts", "v")
    assert(canon(naive2) == canon(bucketed2))
    intercept[IllegalArgumentException](StreamingOps.bucketedIntervalJoin(
      left, right, Seq.empty, 0L, 1L, "lts", "rts"))
    intercept[IllegalArgumentException](StreamingOps.bucketedIntervalJoin(
      left, right, Seq("lk" -> "rk"), 5L, 1L, "lts", "rts"))
  }

  test("replays leave no memory-sink temp view behind; returned frames still collect") {
    def tempViews: Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    // stateful (complete-mode aggregate) and stateless (append-mode
    // dialect filter) replays, each against its batch answer
    val before = tempViews
    val agg = StreamingOps.windowedAggReplay(spark, sfDir)
    assert(tempViews == before, "windowedAggReplay left a temp view")
    val wantAgg = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start_us", "event_type").collect().toSeq
    assert(wantAgg.nonEmpty && agg.collect().toSeq == wantAgg)
    val filtered = StreamingOps.streamSqlFilterReplay(spark, sfDir)
    assert(tempViews == before, "streamSqlFilterReplay left a temp view")
    val wantFiltered = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value") > 250.0)
      .select(col("event_id").cast("string"), col("user_id").cast("string"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val gotFiltered = filtered.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(wantFiltered.nonEmpty && gotFiltered == wantFiltered)
  }

  test("repeated streaming calls stage exactly one temp dir per sfDir") {
    def stagedDirs: Int = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("graft-stream") &&
        !f.getName.startsWith("graft-stream-sink"))
    StreamingOps.streamingDedupCounts(spark, sfDir).count()
    val after1 = stagedDirs
    StreamingOps.streamingDedupCounts(spark, sfDir).count()
    StreamingOps.windowedAggReplay(spark, sfDir).count()
    assert(stagedDirs == after1, "repeat calls must reuse the cached staged dir")
  }
}

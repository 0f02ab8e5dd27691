package graft.sources

import java.nio.file.{Files, Paths => JPaths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** Write-path round trip for the series-family table (S5) plus the
  * pruning claims the layout makes: date partition pruning and series
  * predicate pushdown.
  */
class TimeSeriesTableSpec extends SparkSpec {

  test("append → open round-trips the family, date-partitioned") {
    withTempRoot("graft-tst") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val back = TimeSeriesTable.open(spark, root, "dom", "events")
      assert(back.count() == fam.count())
      // same content: per-series counts and value checksums agree
      def sig(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("series").agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("s"))
          .orderBy("series").collect().toSeq
      assert(sig(back) == sig(fam))
      // partition layout: dt=... subdirectories exist
      val dirs = new java.io.File(s"$root/dom/events").listFiles()
      assert(dirs != null && dirs.exists(_.getName.startsWith("dt=")))
    }
  }

  test("orc and json formats round-trip the family") {
    val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
    for (fmt <- Seq("orc", "json")) {
      withTempRoot(s"graft-$fmt") { root =>
        TimeSeriesTable.append(fam, root, "dom", "events", fmt)
        val back = TimeSeriesTable.open(spark, root, "dom", "events", fmt)
        assert(back.count() == fam.count(), fmt)
        val a = back.groupBy("series").agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("s")).orderBy("series").collect().toSeq
        val b = fam.groupBy("series").agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("s")).orderBy("series").collect().toSeq
        assert(a == b, fmt)
      }
    }
  }

  test("time-range scan prunes date partitions; series filter is pushed") {
    withTempRoot("graft-tst2") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val back = TimeSeriesTable.open(spark, root, "dom", "events")
      val scanned = TimeSeriesTable.fetchSeries(back, "click",
        Timestamp.valueOf("2024-01-10 00:00:00"),
        Timestamp.valueOf("2024-01-12 00:00:00"))
      val plan = scanned.queryExecution.executedPlan.toString
      assert(plan.contains("EqualTo(series,click)"),
        s"series predicate should reach parquet:\n$plan")
      assert(plan.contains("PartitionFilters: [isnotnull(dt"),
        s"dt partition pruning should be in effect:\n$plan")
      // correctness of the pruned scan
      val expected = fam.filter(col("series") === "click" &&
        col("ts") >= "2024-01-10" && col("ts") < "2024-01-12").count()
      assert(scanned.count() == expected)
    }
  }

  test("compact merges small files; expire drops whole date partitions") {
    import graft.tables.Tables
    withTempRoot("graft-maint") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      // three interleaved appends -> many small files per date partition
      val id = element_at(col("attributes"), "event_id").cast("long")
      (0 until 3).foreach(k =>
        TimeSeriesTable.append(fam.filter(pmod(id, lit(3)) === k), root, "dom", "m"))
      val before = TimeSeriesTable.open(spark, root, "dom", "m")
        .orderBy("series", "ts").collect().toSeq
      val (nBefore, nAfter) = TimeSeriesTable.compact(spark, root, "dom", "m")
      assert(nAfter < nBefore, s"$nBefore -> $nAfter")
      val after = TimeSeriesTable.open(spark, root, "dom", "m")
        .orderBy("series", "ts").collect().toSeq
      assert(after == before && after.nonEmpty)
      assertNoScratch(root, "m")
      // retention: drop partitions before the cutoff, keep the rest
      val cutoff = java.sql.Date.valueOf("2024-01-10")
      val dropped = TimeSeriesTable.expire(spark, root, "dom", "m", cutoff)
      assert(dropped.nonEmpty && dropped.forall(_.startsWith("dt=")))
      assert(dropped.forall(n =>
        java.sql.Date.valueOf(n.stripPrefix("dt=")).before(cutoff)))
      val kept = TimeSeriesTable.open(spark, root, "dom", "m")
      assert(kept.filter(to_date(col("ts")) < lit(cutoff)).count() == 0)
      assert(kept.count() ==
        before.count(_.getAs[java.sql.Timestamp]("ts").getTime >=
          cutoff.getTime))
      // idempotent: nothing left to drop at the same cutoff
      assert(TimeSeriesTable.expire(spark, root, "dom", "m", cutoff).isEmpty)
    }
  }

  test("compact preserves batch files landed in a streaming-sink directory") {
    // a family first written by the STREAMING sink (so the directory
    // carries a _spark_metadata log), then appended to by the BATCH
    // path: a directory read honors only sink-committed files, so the
    // batch rows are invisible to it — compact must read by explicit
    // file list, keep every row, and verify counts before swapping
    withTempRoot("graft-mixed") { root =>
      graft.streaming.StreamingOps.streamIntoFamily(spark, sfDir, root, "dom", "mx")
      val dir = s"$root/dom/mx"
      assert(new java.io.File(s"$dir/_spark_metadata").exists())
      val streamed = TimeSeriesTable.open(spark, root, "dom", "mx").count()
      assert(streamed > 0)
      // batch-append a disjoint slice (future dates: no file collision)
      val extra = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
        .withColumn("ts", col("ts") + expr("INTERVAL 10 YEARS"))
      TimeSeriesTable.append(extra, root, "dom", "mx")
      val nExtra = extra.count()
      // the sink log HIDES the batch files from a directory read — the
      // exact hazard compact used to destroy data through
      assert(TimeSeriesTable.open(spark, root, "dom", "mx").count() == streamed)
      val (nBefore, nAfter) = TimeSeriesTable.compact(spark, root, "dom", "mx")
      assert(nBefore > 0 && nAfter <= nBefore)
      // compacted directory is batch-owned (sink log retired) and holds
      // EVERY row from both provenances
      assert(!new java.io.File(s"$dir/_spark_metadata").exists())
      val back = TimeSeriesTable.open(spark, root, "dom", "mx")
      assert(back.count() == streamed + nExtra)
      // no stray swap debris
      assert(!new java.io.File(s"$root/dom/.mx__old").exists())
      assert(!new java.io.File(s"$root/dom/.mx__compacting").exists())
      // compacting an empty/missing family is a no-op
      assert(TimeSeriesTable.compact(spark, root, "dom", "nothere") == ((0, 0)))
    }
  }

  test("downsample materializes a queryable rollup family") {
    import spark.implicits._
    withTempRoot("graft-ds") { root =>
      val fam = Seq(
        ("cpu", Timestamp.valueOf("2024-01-01 01:00:00"), 10.0),
        ("cpu", Timestamp.valueOf("2024-01-01 23:00:00"), 20.0),
        ("cpu", Timestamp.valueOf("2024-01-02 01:00:00"), 5.0),
        ("mem", Timestamp.valueOf("2024-01-01 12:00:00"), 7.5)
      ).toDF("series", "ts", "value")
        .withColumn("tags", map(lit("dc"), col("series")))
        .withColumn("attributes",
          map().cast("map<string,string>"))
      TimeSeriesTable.append(fam, root, "dom", "m")
      val out = TimeSeriesTable.downsample(spark, root, "dom", "m",
        bucketMicros = 86400L * 1000000L, label = "1d")
      assert(out == "m_1d")
      val back = TimeSeriesTable.open(spark, root, "dom", "m_1d")
      val got = back.select("series", "ts", "value").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2)))
        .toSet
      assert(got == Set(
        ("cpu:avg_1d",   "2024-01-01 00:00:00.0", 15.0),
        ("cpu:min_1d",   "2024-01-01 00:00:00.0", 10.0),
        ("cpu:max_1d",   "2024-01-01 00:00:00.0", 20.0),
        ("cpu:count_1d", "2024-01-01 00:00:00.0", 2.0),
        ("cpu:avg_1d",   "2024-01-02 00:00:00.0", 5.0),
        ("cpu:min_1d",   "2024-01-02 00:00:00.0", 5.0),
        ("cpu:max_1d",   "2024-01-02 00:00:00.0", 5.0),
        ("cpu:count_1d", "2024-01-02 00:00:00.0", 2.0 - 1.0),
        ("mem:avg_1d",   "2024-01-01 00:00:00.0", 7.5),
        ("mem:min_1d",   "2024-01-01 00:00:00.0", 7.5),
        ("mem:max_1d",   "2024-01-01 00:00:00.0", 7.5),
        ("mem:count_1d", "2024-01-01 00:00:00.0", 1.0)), got)
      // series-level tags carry through; attributes are dropped (empty)
      val tagRow = back.filter(col("series") === "cpu:avg_1d")
        .select(element_at(col("tags"), "dc"), size(col("attributes")))
        .collect()(0)
      assert(tagRow.getString(0) == "cpu" && tagRow.getInt(1) == 0)
      // the rollup family reads through the dialect too
      val viaSql = graft.boostql.BoostQL.sql(
        "SELECT series_value FROM dom.rollup WHERE series_value > 10.0",
        _ => TimeSeriesTable.open(spark, root, "dom", "m_1d")
          .withColumn("series", lit("series_value")))
      assert(viaSql.count() == 2) // avg 15 and max 20 pass; all else ≤ 10
      intercept[IllegalArgumentException] {
        TimeSeriesTable.downsample(spark, root, "dom", "m", 0L, "x")
      }
      intercept[IllegalArgumentException] {
        TimeSeriesTable.downsample(spark, root, "dom", "m", 10L, "bad label")
      }
    }
  }

  test("downsample picks tags deterministically for a mixed-tags series") {
    import spark.implicits._
    // tags are series-constant by the data model; a malformed writer
    // that mixed maps must still downsample REPRODUCIBLY: the pick is
    // the lexicographically least canonical (sorted k=v) rendering,
    // under any partitioning
    withTempRoot("graft-ds-tags") { root =>
      val rows = Seq(
        ("cpu", Timestamp.valueOf("2024-01-01 01:00:00"), 1.0, "zz"),
        ("cpu", Timestamp.valueOf("2024-01-01 02:00:00"), 2.0, "aa"),
        ("cpu", Timestamp.valueOf("2024-01-01 03:00:00"), 3.0, "mm")
      ).toDF("series", "ts", "value", "t")
        .withColumn("tags", map(lit("dc"), col("t"))).drop("t")
        .withColumn("attributes", map().cast("map<string,string>"))
      (1 to 3).foreach { i =>
        val r = s"$root/$i"
        TimeSeriesTable.append(rows.repartition(i), r, "dom", "m")
        val out = TimeSeriesTable.downsample(spark, r, "dom", "m",
          bucketMicros = 86400L * 1000000L, label = "1d")
        val tags = TimeSeriesTable.open(spark, r, "dom", out)
          .select(element_at(col("tags"), "dc")).distinct().collect()
          .map(_.getString(0)).toSeq
        assert(tags == Seq("aa"), s"partitioning $i picked $tags")
      }
    }
  }

  /** MD5 of every data file in a partition dir, path → digest. */
  private def partitionDigests(dir: String): Map[String, String] = {
    val d = new java.io.File(dir)
    assert(d.isDirectory, s"$dir should exist")
    d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      f.getName -> md.digest(bytes).map("%02x".format(_)).mkString
    }.toMap
  }

  /** No `.{family}__*` scratch name — an aside, a rewrite temp or a
    * staged batch — is left beside the family under the domain. */
  private def assertNoScratch(root: String, family: String): Unit = {
    val left = Option(new java.io.File(s"$root/dom").list()).toSeq.flatten
      .filter(_.startsWith(s".${family}__"))
    assert(left.isEmpty, s"scratch left behind: $left")
  }

  test("partitions inventory: manifest cache serves repeat calls, " +
      "any writer invalidates via the file-set signature") {
    withTempRoot("graft-parts") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),
        ("cpu", "2024-01-01 02:00:00", 2.0),
        ("cpu", "2024-01-02 01:00:00", 3.0))), root, "dom", "m")
      def inv() = TimeSeriesTable.partitions(spark, root, "dom", "m")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val first = inv()
      assert(first.map(t => (t._1, t._4)) ==
        Seq(("dt=2024-01-01", 2L), ("dt=2024-01-02", 1L)))
      val manifest = new java.io.File(
        s"$root/dom/m/.graft_partitions_manifest")
      assert(manifest.isFile, "first call must write the manifest")
      // repeat call: identical rows, manifest byte-identical (no rewrite)
      val mBytes = java.nio.file.Files.readAllBytes(manifest.toPath).toSeq
      assert(inv() == first)
      assert(java.nio.file.Files.readAllBytes(manifest.toPath).toSeq ==
        mBytes, "an unchanged family must not rewrite the manifest")
      // an append moves one partition's signature → only that row changes
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-02 02:00:00", 4.0))), root, "dom", "m")
      val second = inv()
      assert(second.head == first.head, "untouched partition row reused")
      assert(second(1)._4 == 2L, "appended partition re-counted")
      // a mutate swap (delete the whole first date) drops its row
      TimeSeriesTable.expire(spark, root, "dom", "m",
        java.sql.Date.valueOf("2024-01-02"))
      assert(inv().map(_._1) == Seq("dt=2024-01-02"))
    }
  }

  test("describeCached: equals the frame DESCRIBE exactly, repeat " +
      "calls serve from the manifest, any writer invalidates via the " +
      "file-set signature") {
    import graft.boostql.BoostQL
    withTempRoot("graft-desc") { root =>
      // two series over three dates, with attribute/tag keys on some rows
      val rows = mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),
        ("cpu", "2024-01-01 02:00:00", 2.0),
        ("cpu", "2024-01-02 01:00:00", 3.0),
        ("mem", "2024-01-02 02:00:00", 4.0),
        ("cpu", "2024-01-03 01:00:00", 5.0)))
        .withColumn("attributes",
          when(col("value") > 2.0, map(lit("host"), lit("a")))
            .otherwise(map(lit("dc"), lit("x"), lit("rack"), lit("r1"))))
        .withColumn("tags",
          when(col("series") === "mem", map(lit("team"), lit("infra")))
            .otherwise(map().cast("map<string,string>")))
      TimeSeriesTable.append(rows, root, "dom", "m")
      def cached() = TimeSeriesTable
        .describeCached(spark, root, "dom", "m").collect().map(_.toSeq).toSeq
      def frame() = BoostQL.sql("DESCRIBE dom.m",
        _ => TimeSeriesTable.open(spark, root, "dom", "m"))
        .collect().map(_.toSeq).toSeq
      val first = cached()
      assert(first == frame(),
        "cached DESCRIBE must equal the frame aggregation exactly")
      val manifest = new java.io.File(
        s"$root/dom/m/.graft_describe_manifest")
      assert(manifest.isFile, "first call must write the sidecar")
      // repeat call: identical rows, manifest byte-identical (no rewrite)
      val mBytes = java.nio.file.Files.readAllBytes(manifest.toPath).toSeq
      assert(cached() == first)
      assert(java.nio.file.Files.readAllBytes(manifest.toPath).toSeq ==
        mBytes, "an unchanged family must not rewrite the sidecar")
      // an append moves one partition's signature → merged stats update
      // and still equal the from-scratch frame aggregation
      TimeSeriesTable.append(mkRows(Seq(
        ("io", "2024-01-02 03:00:00", 9.0),
        ("cpu", "2024-01-02 04:00:00", 6.0))), root, "dom", "m")
      val second = cached()
      assert(second == frame(),
        "after an append the merged stats must equal the frame " +
          "aggregation (one partition re-scanned)")
      assert(second.exists(r => r.head == "io"),
        "the appended series appears")
      // the warehouse-aware dialect route serves the same rows
      assert(BoostQL.sqlDescribe("DESCRIBE dom.m", spark, root)
        .collect().map(_.toSeq).toSeq == second)
      // a mutate swap (expire the first date) invalidates those rows
      TimeSeriesTable.expire(spark, root, "dom", "m",
        java.sql.Date.valueOf("2024-01-02"))
      assert(cached() == frame(), "after expire the catalog re-merges")
    }
  }

  test("deleteRows rewrites only matching partitions; untouched " +
      "partitions stay byte-identical") {
    withTempRoot("graft-rowdel") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val before = TimeSeriesTable.open(spark, root, "dom", "events")
      val dts = before.select(to_date(col("ts")).as("d")).distinct()
        .orderBy("d").collect().map(_.getDate(0).toString).toSeq
      assert(dts.size >= 2, "need at least two date partitions")
      // bound the delete to the FIRST date so every other partition is
      // untouched — and snapshot those partitions' bytes before
      val target = dts.head
      val untouched = dts.tail
      val digestsBefore = untouched.map(d =>
        d -> partitionDigests(s"$root/dom/events/dt=$d")).toMap
      val pred = col("series") === "purchase" &&
        to_date(col("ts")) === lit(target)
      val matchCnt = before.filter(pred).count()
      assert(matchCnt > 0, s"no purchases on $target — pick another date")
      val total = before.count()
      def sig(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("series").agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("s"))
          .orderBy("series").collect().toSeq
      // survivors' expected signature, materialized BEFORE the swap (the
      // `before` frame is pinned to the pre-delete file listing)
      val expectSig = sig(before.filter(!coalesce(pred, lit(false))))
      val (deleted, affected) =
        TimeSeriesTable.deleteRows(spark, root, "dom", "events", pred)
      assert(deleted == matchCnt)
      assert(affected == Seq(s"dt=$target"))
      // untouched partitions: same files, same bytes
      untouched.foreach { d =>
        assert(partitionDigests(s"$root/dom/events/dt=$d") ==
          digestsBefore(d), s"dt=$d should be byte-identical")
      }
      val after = TimeSeriesTable.open(spark, root, "dom", "events")
      assert(after.count() == total - matchCnt)
      assert(after.filter(pred).count() == 0, "matching rows must be gone")
      // survivors intact: per-series signature of the reread family
      // equals the source minus the matches
      assert(sig(after) == expectSig)
      assertNoScratch(root, "events")
    }
  }

  test("deleteRows drops a partition whose every row matches, and " +
      "no-ops cleanly on zero matches") {
    withTempRoot("graft-rowdel2") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val before = TimeSeriesTable.open(spark, root, "dom", "events")
      val target = before.select(to_date(col("ts")).as("d")).distinct()
        .orderBy("d").collect().map(_.getDate(0).toString).head
      // zero matches: nothing moves, nothing is written
      val (zero, none) = TimeSeriesTable.deleteRows(spark, root, "dom",
        "events", col("series") === "no_such_series")
      assert(zero == 0L && none.isEmpty)
      // whole-partition match: the dt dir disappears
      val wholeDay = to_date(col("ts")) === lit(target)
      val dayCnt = before.filter(wholeDay).count()
      val (deleted, affected) =
        TimeSeriesTable.deleteRows(spark, root, "dom", "events", wholeDay)
      assert(deleted == dayCnt)
      assert(affected == Seq(s"dt=$target"))
      assert(!new java.io.File(s"$root/dom/events/dt=$target").exists(),
        "fully-deleted partition should disappear")
      val after = TimeSeriesTable.open(spark, root, "dom", "events")
      assert(after.filter(to_date(col("ts")) === lit(target)).count() == 0)
    }
  }

  test("deleteRows keeps rows where the predicate is NULL (ANSI DELETE)") {
    import spark.implicits._
    withTempRoot("graft-rowdel3") { root =>
      val rows = Seq(
        ("cpu", Timestamp.valueOf("2024-01-01 01:00:00"), 10.0, Some("a")),
        ("cpu", Timestamp.valueOf("2024-01-01 02:00:00"), 20.0, None),
        ("cpu", Timestamp.valueOf("2024-01-01 03:00:00"), 30.0, Some("b"))
      ).toDF("series", "ts", "value", "k")
        .withColumn("tags", map().cast("map<string,string>"))
        .withColumn("attributes",
          when(col("k").isNotNull, map(lit("key"), col("k"))))
        .drop("k")
      TimeSeriesTable.append(rows, root, "dom", "m")
      // attributes['key'] = 'a' is NULL on the attribute-less row — that
      // row must SURVIVE (DELETE removes only predicate-TRUE rows)
      val (deleted, _) = TimeSeriesTable.deleteRows(spark, root, "dom", "m",
        element_at(col("attributes"), "key") === "a")
      assert(deleted == 1L)
      val vals = TimeSeriesTable.open(spark, root, "dom", "m")
        .select("value").collect().map(_.getDouble(0)).toSeq.sorted
      assert(vals == Seq(20.0, 30.0))
    }
  }

  test("updateRows rewrites values and attributes in place; untouched " +
      "partitions stay byte-identical; row counts preserved") {
    withTempRoot("graft-rowupd") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val before = TimeSeriesTable.open(spark, root, "dom", "events")
      val dts = before.select(to_date(col("ts")).as("d")).distinct()
        .orderBy("d").collect().map(_.getDate(0).toString).toSeq
      assert(dts.size >= 2, "need at least two date partitions")
      val target = dts.head
      val untouched = dts.tail
      val digestsBefore = untouched.map(d =>
        d -> partitionDigests(s"$root/dom/events/dt=$d")).toMap
      val pred = col("series") === "purchase" &&
        to_date(col("ts")) === lit(target)
      val matchCnt = before.filter(pred).count()
      assert(matchCnt > 0, s"no purchases on $target — pick another date")
      val total = before.count()
      // three assignments in one statement: value rewrite, attribute
      // mask, attribute REMOVAL (NULL rhs)
      val (updated, affected) = TimeSeriesTable.updateRows(spark, root,
        "dom", "events", pred, Seq(
          ("purchase", None, lit(-1.0)),
          ("purchase", Some("user"), lit("REDACTED")),
          ("purchase", Some("event_id"), lit(null))))
      assert(updated == matchCnt)
      assert(affected == Seq(s"dt=$target"))
      // untouched partitions: same files, same bytes
      untouched.foreach { d =>
        assert(partitionDigests(s"$root/dom/events/dt=$d") ==
          digestsBefore(d), s"dt=$d should be byte-identical")
      }
      val after = TimeSeriesTable.open(spark, root, "dom", "events")
      // UPDATE preserves row counts — globally and on the touched slice
      assert(after.count() == total)
      val touched = after.filter(col("series") === "purchase" &&
        to_date(col("ts")) === lit(target))
      assert(touched.count() == matchCnt)
      assert(touched.filter(col("value") =!= -1.0).count() == 0)
      assert(touched.filter(
        element_at(col("attributes"), "user") =!= "REDACTED").count() == 0)
      assert(touched.filter(
        element_at(col("attributes"), "event_id").isNotNull).count() == 0)
      // non-matching rows inside the REWRITTEN partition pass through:
      // same per-series signature as the source's
      def sig(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("series").agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("s"))
          .orderBy("series").collect().toSeq
      assert(sig(after.filter(to_date(col("ts")) === lit(target) &&
          col("series") =!= "purchase")) ==
        sig(fam.filter(to_date(col("ts")) === lit(target) &&
          col("series") =!= "purchase")))
      assertNoScratch(root, "events")
      // zero matches: nothing moves, nothing is written
      val (zero, none) = TimeSeriesTable.updateRows(spark, root, "dom",
        "events", col("series") === "no_such_series",
        Seq(("no_such_series", None, lit(0.0))))
      assert(zero == 0L && none.isEmpty)
    }
  }

  test("recover restores crash states: compact mid-swap, mutate " +
      "mid-swap, stale asides and in-flight temps") {
    import java.nio.file.{Files => JF, Paths => JP}
    withTempRoot("graft-recover") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val total = TimeSeriesTable.open(spark, root, "dom", "events").count()
      // clean family: nothing to do
      assert(TimeSeriesTable.recover(spark, root, "dom", "events").isEmpty)
      // compact crash between the two renames: live dir moved aside,
      // rewrite temp still present
      JF.move(JP.get(s"$root/dom/events"), JP.get(s"$root/dom/.events__old"))
      JF.createDirectories(JP.get(s"$root/dom/.events__compacting"))
      val a1 = TimeSeriesTable.recover(spark, root, "dom", "events")
      assert(a1.exists(_.contains("restored events from the compact aside")), a1)
      assert(a1.exists(_.contains("compacting temp")), a1)
      assert(TimeSeriesTable.open(spark, root, "dom", "events").count() == total)
      // delete mid-swap: one live partition sits under the aside root
      val dts = new java.io.File(s"$root/dom/events").listFiles()
        .map(_.getName).filter(_.startsWith("dt=")).sorted
      val victim = dts.head
      JF.createDirectories(JP.get(s"$root/dom/.events__delete_old"))
      JF.move(JP.get(s"$root/dom/events/$victim"),
        JP.get(s"$root/dom/.events__delete_old/$victim"))
      val a2 = TimeSeriesTable.recover(spark, root, "dom", "events")
      assert(a2.exists(_.contains(s"restored $victim from the delete aside")), a2)
      assert(TimeSeriesTable.open(spark, root, "dom", "events").count() == total)
      // update swapped-but-uncleaned: aside copy exists WHILE the live
      // partition does too — the aside is stale and must drop, the live
      // partition must stay byte-identical
      val digestBefore = partitionDigests(s"$root/dom/events/$victim")
      JF.createDirectories(JP.get(s"$root/dom/.events__update_old/$victim"))
      JF.write(JP.get(s"$root/dom/.events__update_old/$victim/stale.parquet"),
        Array[Byte](1, 2, 3))
      val a3 = TimeSeriesTable.recover(spark, root, "dom", "events")
      assert(a3.exists(_.contains(s"dropped swapped update aside $victim")), a3)
      assert(!new java.io.File(s"$root/dom/.events__update_old").exists())
      assert(partitionDigests(s"$root/dom/events/$victim") == digestBefore)
      // upsert mid-swap, plus a refresh aside whose swap had completed
      val other = dts(1)
      JF.createDirectories(JP.get(s"$root/dom/.events__upsert_old"))
      JF.move(JP.get(s"$root/dom/events/$victim"),
        JP.get(s"$root/dom/.events__upsert_old/$victim"))
      JF.createDirectories(JP.get(s"$root/dom/.events__refresh_old/$other"))
      JF.write(JP.get(s"$root/dom/.events__refresh_old/$other/stale.parquet"),
        Array[Byte](1, 2, 3))
      val a4 = TimeSeriesTable.recover(spark, root, "dom", "events")
      assert(a4.exists(_.contains(s"restored $victim from the upsert aside")), a4)
      assert(a4.exists(_.contains(s"dropped swapped refresh aside $other")), a4)
      assert(TimeSeriesTable.open(spark, root, "dom", "events").count() == total)
      assert(partitionDigests(s"$root/dom/events/$victim") == digestBefore)
      assertNoScratch(root, "events")
      // idempotent: a second recover finds nothing
      assert(TimeSeriesTable.recover(spark, root, "dom", "events").isEmpty)
    }
  }

  test("updateRows RHS sees pre-update state (ANSI): an attribute " +
      "snapshot of the value survives the value's own rewrite") {
    withTempRoot("graft-rowupd2") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val (updated, _) = TimeSeriesTable.updateRows(spark, root, "dom",
        "events", col("series") === "view" && col("value") > 0.0, Seq(
          ("view", Some("prev"), col("value").cast("string")),
          ("view", None, col("value") * 2.0)))
      assert(updated > 0)
      val after = TimeSeriesTable.open(spark, root, "dom", "events")
        .filter(col("series") === "view" &&
          element_at(col("attributes"), "prev").isNotNull)
      assert(after.count() == updated)
      // prev * 2 == value on every updated row — the snapshot saw the
      // OLD value even though the value assignment rode the same statement
      assert(after.filter(
        element_at(col("attributes"), "prev").cast("double") * 2.0 =!=
          col("value")).count() == 0)
    }
  }

  private def mkRows(xs: Seq[(String, String, Double)]) = {
    import spark.implicits._
    xs.map { case (s, t, v) => (s, Timestamp.valueOf(t), v) }
      .toDF("series", "ts", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .withColumn("attributes", map().cast("map<string,string>"))
  }

  test("upsertRows replaces colliding keys (all existing duplicates " +
      "collapse), appends fresh keys additively, leaves untouched " +
      "partitions byte-identical") {
    withTempRoot("graft-upsert") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),
        ("cpu", "2024-01-01 02:00:00", 2.0),
        ("cpu", "2024-01-02 01:00:00", 3.0),
        ("mem", "2024-01-02 02:00:00", 4.0),
        ("cpu", "2024-01-03 01:00:00", 5.0))), root, "dom", "m")
      // a second append duplicates the first key — the family now holds
      // TWO rows at (cpu, 01-01 01:00); MERGE semantics collapse both
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.25))), root, "dom", "m")
      val d3Before = partitionDigests(s"$root/dom/m/dt=2024-01-03")
      val d2Before = partitionDigests(s"$root/dom/m/dt=2024-01-02")
      val (replaced, written, affected) = TimeSeriesTable.upsertRows(
        spark, root, "dom", "m", mkRows(Seq(
          ("cpu", "2024-01-01 01:00:00", 10.0), // replaces BOTH dup rows
          ("mem", "2024-01-02 03:00:00", 40.0), // fresh key, existing dt
          ("cpu", "2024-01-05 01:00:00", 50.0)))) // brand-new dt
      assert(replaced == 2L && written == 3L)
      assert(affected == Seq("dt=2024-01-01"))
      // no-incoming partition: byte-identical
      assert(partitionDigests(s"$root/dom/m/dt=2024-01-03") == d3Before)
      // fresh-key date took the APPEND path: original files byte-identical,
      // plus at least one new file — never a rewrite without a collision
      val d2After = partitionDigests(s"$root/dom/m/dt=2024-01-02")
      assert(d2Before.forall { case (f, h) => d2After.get(f).contains(h) })
      assert(d2After.size > d2Before.size)
      assert(new java.io.File(s"$root/dom/m/dt=2024-01-05").isDirectory,
        "brand-new date should materialize as a partition")
      val after = TimeSeriesTable.open(spark, root, "dom", "m")
      assert(after.count() == 6 - 2 + 3)
      val winner = after.filter(col("series") === "cpu" &&
          col("ts") === lit(Timestamp.valueOf("2024-01-01 01:00:00")))
        .select("value").collect().map(_.getDouble(0)).toSeq
      assert(winner == Seq(10.0), "both duplicate rows fall to the one " +
        "incoming row")
      assert(after.filter(col("value") === 2.0).count() == 1,
        "non-colliding row inside the rewritten partition survives")
      // staging and temps are gone
      assert(!new java.io.File(s"$root/dom/.m__upsert_in").exists())
      assert(!new java.io.File(s"$root/dom/.m__upserting").exists())
      assert(!new java.io.File(s"$root/dom/.m__upsert_old").exists())
      assertNoScratch(root, "m")
    }
  }

  test("mergeRows: first-true-clause-wins, keep-only dates stay " +
      "byte-identical, inserts append, dup target keys keep multiplicity") {
    withTempRoot("graft-merge") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),  // matched, update (src 10 < 50)
        ("cpu", "2024-01-01 02:00:00", 80.0), // matched, delete (>= 50, tgt > 70)
        ("cpu", "2024-01-02 01:00:00", 60.0), // matched, KEEP (src 55 >= 50, tgt <= 70)
        ("mem", "2024-01-02 02:00:00", 4.0),  // unmatched target — keep
        ("cpu", "2024-01-03 01:00:00", 5.0))), root, "dom", "m")
      // duplicate target key: BOTH rows take the merge outcome
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.5))), root, "dom", "m")
      val d2Before = partitionDigests(s"$root/dom/m/dt=2024-01-02")
      val d3Before = partitionDigests(s"$root/dom/m/dt=2024-01-03")
      val clauses = Seq(
        (Some(col("src_value") < 50.0), "update"),
        (Some(col("value") > 70.0), "delete"))
      val (upd, del, ins, parts) = TimeSeriesTable.mergeRows(
        spark, root, "dom", "m", mkRows(Seq(
          ("cpu", "2024-01-01 01:00:00", 10.0),  // update (both dup rows)
          ("cpu", "2024-01-01 02:00:00", 55.0),  // delete via clause 2
          ("cpu", "2024-01-02 01:00:00", 55.0),  // keep (no clause true)
          ("cpu", "2024-01-05 01:00:00", 50.0))), // unmatched → insert
        clauses, insertUnmatched = true)
      assert(upd == 2L, s"both duplicate rows update, got $upd")
      assert(del == 1L && ins == 1L)
      assert(parts == Seq("dt=2024-01-01"),
        "only the date with a non-keep outcome rewrites")
      // matched-keep-only date and untouched date: byte-identical
      assert(partitionDigests(s"$root/dom/m/dt=2024-01-02") == d2Before)
      assert(partitionDigests(s"$root/dom/m/dt=2024-01-03") == d3Before)
      val after = TimeSeriesTable.open(spark, root, "dom", "m")
      assert(after.count() == 6 - 1 + 1) // two dups collapsed to... no:
      // 6 rows − 1 delete + 1 insert; the dup key's TWO rows both updated
      val at0101 = after.filter(col("ts") ===
          lit(Timestamp.valueOf("2024-01-01 01:00:00")))
        .select("value").collect().map(_.getDouble(0)).toSeq
      assert(at0101 == Seq(10.0, 10.0),
        s"dup rows each take the update, got $at0101")
      assert(after.filter(col("ts") ===
        lit(Timestamp.valueOf("2024-01-01 02:00:00"))).count() == 0)
      assert(after.filter(col("series") === "cpu" &&
        col("value") === 60.0).count() == 1, "kept row unchanged")
      assert(new java.io.File(s"$root/dom/m/dt=2024-01-05").isDirectory)
      // temps gone
      for (sfx <- Seq("merge_in", "merging", "merge_old", "merge_ins"))
        assert(!new java.io.File(s"$root/dom/.m__$sfx").exists(), sfx)
      assertNoScratch(root, "m")
      // delete-only MERGE with no insert clause: unmatched incoming rows
      // are NOT written
      val (u2, d2, i2, _) = TimeSeriesTable.mergeRows(
        spark, root, "dom", "m", mkRows(Seq(
          ("mem", "2024-01-02 02:00:00", 0.0),
          ("mem", "2024-01-09 09:00:00", 0.0))),
        Seq((None, "delete")), insertUnmatched = false)
      assert(u2 == 0L && d2 == 1L && i2 == 0L)
      // re-open: the swap invalidated the earlier read's file index
      assert(TimeSeriesTable.open(spark, root, "dom", "m").count() == 5,
        "delete applied, unmatched row dropped")
    }
  }

  test("mergeRows NOT MATCHED BY SOURCE: mirror-sync deletes absent " +
      "keys, conditions gate per row, keep-only dates stay " +
      "byte-identical, unconditional sync mirrors the batch") {
    withTempRoot("graft-msync") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),   // matched → update
        ("cpu", "2024-01-01 02:00:00", 5.0),   // absent, value < 10 → delete
        ("cpu", "2024-01-02 01:00:00", 50.0),  // absent, value >= 10 → keep
        ("mem", "2024-01-03 01:00:00", 3.0))), // absent, value < 10 → delete
        root, "dom", "m")
      val d2Before = partitionDigests(s"$root/dom/m/dt=2024-01-02")
      val (upd, del, ins, parts) = TimeSeriesTable.mergeRows(
        spark, root, "dom", "m", mkRows(Seq(
          ("cpu", "2024-01-01 01:00:00", 9.0),
          ("cpu", "2024-01-09 01:00:00", 7.0))), // unmatched, no insert clause
        Seq((None, "update")), insertUnmatched = false,
        bySource = Seq(TimeSeriesTable.BySourceClause(Some(col("value") < 10.0), "delete")))
      assert(upd == 1L && del == 2L && ins == 0L, s"got ($upd, $del, $ins)")
      assert(parts == Seq("dt=2024-01-01", "dt=2024-01-03"),
        s"only dates with a non-keep outcome rewrite, got $parts")
      // the absent-but-kept date was classified but never rewritten
      assert(partitionDigests(s"$root/dom/m/dt=2024-01-02") == d2Before)
      val after = TimeSeriesTable.open(spark, root, "dom", "m")
      assert(after.count() == 2)
      assert(after.filter(col("value") === 9.0).count() == 1, "update applied")
      assert(after.filter(col("value") === 50.0).count() == 1, "gated keep")
      assert(after.filter(col("series") === "mem").count() == 0)
      // unconditional by-source + insert: the family MIRRORS the batch
      val batch2 = mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 9.0),
        ("io", "2024-02-01 01:00:00", 2.0)))
      val (u2, d2, i2, _) = TimeSeriesTable.mergeRows(
        spark, root, "dom", "m", batch2,
        Seq((None, "update")), insertUnmatched = true,
        bySource = Seq(TimeSeriesTable.BySourceClause(None, "delete")))
      assert(u2 == 1L && d2 == 1L && i2 == 1L, s"got ($u2, $d2, $i2)")
      val mirrored = TimeSeriesTable.open(spark, root, "dom", "m")
        .select("series", "ts", "value").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(mirrored == Set(
        ("cpu", Timestamp.valueOf("2024-01-01 01:00:00"), 9.0),
        ("io", Timestamp.valueOf("2024-02-01 01:00:00"), 2.0)),
        s"family must mirror the batch exactly, got $mirrored")
      // a by-source UPDATE clause must carry SET assignments
      intercept[IllegalArgumentException](TimeSeriesTable.mergeRows(
        spark, root, "dom", "m", batch2, Seq.empty,
        insertUnmatched = false, bySource = Seq(TimeSeriesTable.BySourceClause(None, "update"))))
    }
  }

  test("mergeRows NOT MATCHED BY SOURCE UPDATE: SET rewrites absent " +
      "keys in place, no-op series spare their dates, first-true-wins " +
      "against a later delete") {
    withTempRoot("graft-msyncu") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),   // matched → keep (no clause)
        ("cpu", "2024-01-01 02:00:00", 5.0),   // absent, < 10 → UPDATE SET
        ("cpu", "2024-01-02 01:00:00", 50.0),  // absent, >= 10, > 40 → delete
        ("cpu", "2024-01-03 01:00:00", 20.0),  // absent, mid → keep
        ("mem", "2024-01-04 01:00:00", 3.0))), // absent, < 10 BUT mem has no
        root, "dom", "m")                      // assignment → no-op keep
      val d3Before = partitionDigests(s"$root/dom/m/dt=2024-01-03")
      val d4Before = partitionDigests(s"$root/dom/m/dt=2024-01-04")
      val (upd, del, ins, parts) = TimeSeriesTable.mergeRows(
        spark, root, "dom", "m", mkRows(Seq(
          ("cpu", "2024-01-01 01:00:00", 1.0))),
        Seq.empty, insertUnmatched = false,
        bySource = Seq(
          TimeSeriesTable.BySourceClause(Some(col("value") < 10.0),
            "update", Seq(
              ("cpu", None, col("value") * lit(-1.0)),
              ("cpu", Some("stale"), lit("y")))),
          // the delete guard ALSO covers < 10 — a fall-through bug would
          // delete the no-op mem row the update clause already consumed
          TimeSeriesTable.BySourceClause(
            Some(col("value") < 10.0 || col("value") > 40.0), "delete")))
      assert(upd == 1L && del == 1L && ins == 0L, s"got ($upd, $del, $ins)")
      assert(parts == Seq("dt=2024-01-01", "dt=2024-01-02"),
        s"only dates with an effective non-keep outcome rewrite, got $parts")
      // the absent-but-kept date AND the no-op (mem) date: byte-identical
      assert(partitionDigests(s"$root/dom/m/dt=2024-01-03") == d3Before)
      assert(partitionDigests(s"$root/dom/m/dt=2024-01-04") == d4Before,
        "a by-source UPDATE whose series has no assignment must not " +
          "rewrite that date")
      val after = TimeSeriesTable.open(spark, root, "dom", "m")
      assert(after.count() == 4)
      val flagged = after.filter(col("ts") ===
        lit(Timestamp.valueOf("2024-01-01 02:00:00"))).collect()
      assert(flagged.length == 1)
      val fr = flagged.head
      assert(fr.getDouble(fr.fieldIndex("value")) == -5.0,
        "SET value applied to pre-update state")
      assert(fr.getMap[String, String](fr.fieldIndex("attributes"))
        .get("stale").contains("y"), "SET attribute applied")
      // mem row captured by the update clause (value < 10) did NOT fall
      // through to the delete clause — ANSI consumed the clause
      assert(after.filter(col("series") === "mem").count() == 1)
      // matched row untouched (keep), deleted row gone
      assert(after.filter(col("value") === 1.0).count() == 1)
      assert(after.filter(col("value") === 50.0).count() == 0)
    }
  }

  test("refreshDownsample: appends refresh only their dates, expire " +
      "drops derived partitions, untouched derived files byte-identical") {
    withTempRoot("graft-refresh") { root =>
      val day = 86400L * 1000000L
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),
        ("cpu", "2024-01-01 02:00:00", 3.0),
        ("cpu", "2024-01-02 01:00:00", 5.0),
        ("mem", "2024-01-03 01:00:00", 7.0))), root, "dom", "m")
      val (r1, rm1) = TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", day, "1d")
      assert(r1 == Seq("dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"))
      assert(rm1.isEmpty)
      assertNoScratch(root, "m_1d")
      val d2Before = partitionDigests(s"$root/dom/m_1d/dt=2024-01-02")
      // append onto an existing date + a brand-new date
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 03:00:00", 5.0),
        ("cpu", "2024-01-04 01:00:00", 9.0))), root, "dom", "m")
      val (r2, rm2) = TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", day, "1d")
      assert(r2 == Seq("dt=2024-01-01", "dt=2024-01-04") && rm2.isEmpty)
      // untouched derived date: byte-identical
      assert(partitionDigests(s"$root/dom/m_1d/dt=2024-01-02") == d2Before)
      val derived = TimeSeriesTable.open(spark, root, "dom", "m_1d")
      val avg0101 = derived.filter(col("series") === "cpu:avg_1d" &&
          to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-01")))
        .select("value").collect().map(_.getDouble(0)).toSeq
      assert(avg0101 == Seq(3.0), s"avg over 1,3,5 — got $avg0101")
      // expire drops the source date; refresh drops the derived one
      TimeSeriesTable.expire(spark, root, "dom", "m",
        java.sql.Date.valueOf("2024-01-02"))
      val (r3, rm3) = TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", day, "1d")
      assert(r3.isEmpty && rm3 == Seq("dt=2024-01-01"))
      assert(!new java.io.File(s"$root/dom/m_1d/dt=2024-01-01").exists())
      assertNoScratch(root, "m_1d")
      // no-op on a second run; week-wide buckets refuse
      assert(TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", day, "1d") == ((Seq.empty, Seq.empty)))
      intercept[IllegalArgumentException](TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", 7 * day, "1w"))
    }
  }

  test("mergeRows crash mid-swap recovers via the merge aside") {
    withTempRoot("graft-merge-rec") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),
        ("cpu", "2024-01-02 01:00:00", 2.0))), root, "dom", "m")
      val before = TimeSeriesTable.open(spark, root, "dom", "m")
        .select("series", "ts", "value").collect().toSeq.sortBy(_.toString)
      // simulate a crash between the two renames: live dt moved to the
      // merge aside, rewrite never landed
      val fam = new java.io.File(s"$root/dom/m/dt=2024-01-01")
      val aside = new java.io.File(s"$root/dom/.m__merge_old/dt=2024-01-01")
      aside.getParentFile.mkdirs()
      assert(fam.renameTo(aside))
      val actions = TimeSeriesTable.recover(spark, root, "dom", "m")
      assert(actions.exists(_.contains("merge aside")), actions.toString)
      val after = TimeSeriesTable.open(spark, root, "dom", "m")
        .select("series", "ts", "value").collect().toSeq.sortBy(_.toString)
      assert(after == before)
    }
  }

  test("upsertRows refuses duplicate and NULL incoming keys; " +
      "re-delivering the same batch is a no-op on content") {
    import spark.implicits._
    withTempRoot("graft-upsert2") { root =>
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0))), root, "dom", "m")
      val dup = mkRows(Seq(
        ("cpu", "2024-01-02 01:00:00", 1.0),
        ("cpu", "2024-01-02 01:00:00", 2.0)))
      val e1 = intercept[java.io.IOException] {
        TimeSeriesTable.upsertRows(spark, root, "dom", "m", dup)
      }
      assert(e1.getMessage.contains("duplicate"))
      assertNoScratch(root, "m")
      val withNull = Seq(("cpu", None: Option[Timestamp], 1.0))
        .toDF("series", "ts", "value")
        .withColumn("tags", map().cast("map<string,string>"))
        .withColumn("attributes", map().cast("map<string,string>"))
      val e2 = intercept[java.io.IOException] {
        TimeSeriesTable.upsertRows(spark, root, "dom", "m", withNull)
      }
      assert(e2.getMessage.contains("NULL"))
      // failed upserts leave the family intact and no litter behind
      assert(TimeSeriesTable.open(spark, root, "dom", "m").count() == 1)
      assert(!new java.io.File(s"$root/dom/.m__upsert_in").exists())
      // re-delivery: the same batch twice — second run replaces exactly
      // what the first wrote and the content is unchanged
      val batch = mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 7.0),
        ("mem", "2024-01-01 02:00:00", 8.0)))
      val (r1, w1, _) = TimeSeriesTable.upsertRows(spark, root, "dom", "m", batch)
      assert(r1 == 1L && w1 == 2L)
      def snapshot() = TimeSeriesTable.open(spark, root, "dom", "m")
        .select("series", "ts", "value").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
        .toSeq.sorted
      val firstRun = snapshot()
      val (r2, w2, _) = TimeSeriesTable.upsertRows(spark, root, "dom", "m", batch)
      assert(r2 == 2L && w2 == 2L, "second delivery replaces its own rows")
      assert(snapshot() == firstRun, "re-delivery must not change content")
    }
  }

  test("a leftover mutate aside makes the next swap refuse instead of " +
      "discarding it; recover then restores the partition") {
    import java.nio.file.{Files => JF, Paths => JP}
    withTempRoot("graft-leftover") { root =>
      val fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
      TimeSeriesTable.append(fam, root, "dom", "events")
      val total = TimeSeriesTable.open(spark, root, "dom", "events").count()
      val dts = new java.io.File(s"$root/dom/events").listFiles()
        .map(_.getName).filter(_.startsWith("dt=")).sorted
      // a DELETE crashed mid-swap: dt=A's only copy sits under the aside
      val victim = dts.head
      JF.createDirectories(JP.get(s"$root/dom/.events__delete_old"))
      JF.move(JP.get(s"$root/dom/events/$victim"),
        JP.get(s"$root/dom/.events__delete_old/$victim"))
      // the next DELETE matches rows on another date only
      val other = dts(1).stripPrefix("dt=")
      val e = intercept[java.io.IOException] {
        TimeSeriesTable.deleteRows(spark, root, "dom", "events",
          to_date(col("ts")) === lit(other))
      }
      assert(e.getMessage.contains("TimeSeriesTable.recover"), e.getMessage)
      // nothing moved: the aside still holds dt=A, the other date is
      // live, and the refused run dropped its own temp
      assert(new java.io.File(s"$root/dom/.events__delete_old/$victim")
        .isDirectory)
      assert(new java.io.File(s"$root/dom/events/dt=$other").isDirectory)
      assert(!new java.io.File(s"$root/dom/.events__deleting").exists())
      val acts = TimeSeriesTable.recover(spark, root, "dom", "events")
      assert(acts.exists(_.contains(s"restored $victim from the delete aside")),
        acts)
      assert(TimeSeriesTable.open(spark, root, "dom", "events").count() == total)
      assertNoScratch(root, "events")
    }
  }

  test("refreshDownsample skips a torn manifest line: that date " +
      "rebuilds and the rollup equals a from-scratch one") {
    import scala.jdk.CollectionConverters._
    withTempRoot("graft-refresh-torn") { root =>
      val day = 86400L * 1000000L
      TimeSeriesTable.append(mkRows(Seq(
        ("cpu", "2024-01-01 01:00:00", 1.0),
        ("cpu", "2024-01-02 01:00:00", 5.0),
        ("mem", "2024-01-03 01:00:00", 7.0))), root, "dom", "m")
      TimeSeriesTable.refreshDownsample(spark, root, "dom", "m", day, "1d")
      // a torn write: the last line lost its tab and signature. Planted
      // through the Hadoop filesystem so its checksum sidecar matches.
      val manifest = JPaths.get(s"$root/dom/m_1d/.graft_refresh_manifest")
      val lines = Files.readAllLines(manifest).asScala.toSeq
      assert(lines.length == 3)
      val hPath = new org.apache.hadoop.fs.Path(manifest.toUri)
      val out = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(hPath, true)
      try out.write((lines.init :+ lines.last.take(7)).mkString("\n")
        .getBytes("UTF-8"))
      finally out.close()
      val (rebuilt, dropped) = TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", day, "1d")
      assert(rebuilt == Seq("dt=2024-01-03") && dropped.isEmpty,
        s"got ($rebuilt, $dropped)")
      TimeSeriesTable.downsample(spark, root, "dom", "m", day, "1d",
        Some("fresh"))
      def rollup(f: String) = TimeSeriesTable.open(spark, root, "dom", f)
        .select("series", "ts", "value").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
        .toSeq.sortBy(_.toString)
      assert(rollup("m_1d") == rollup("fresh"))
      // the manifest was rewritten whole: every line parses again
      assert(Files.readAllLines(manifest).asScala.map(_.split('\t').length)
        == Seq(2, 2, 2))
      assertNoScratch(root, "m_1d")
    }
  }

  private val smallFamily = Seq(
    ("cpu", "2024-01-01 01:00:00", 1.0),
    ("cpu", "2024-01-01 02:00:00", 5.0),
    ("mem", "2024-01-01 03:00:00", 2.0),
    ("cpu", "2024-01-02 01:00:00", 8.0),
    ("mem", "2024-01-03 01:00:00", 9.0))

  /** Every row of a family, sorted: (series, ts, value, attributes). */
  private def familyRows(root: String, family: String) =
    TimeSeriesTable.open(spark, root, "dom", family)
      .select("series", "ts", "value", "attributes").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        r.getMap[String, String](3).toMap))
      .toSeq.sortBy(_.toString)

  test("mergeRows with an empty batch: BY SOURCE clauses reach every " +
      "row, as deleteRows and updateRows do; without them nothing moves") {
    withTempRoot("graft-merge-empty") { root =>
      for (f <- Seq("a", "b")) TimeSeriesTable.append(mkRows(smallFamily),
        root, "dom", f)
      val empty = mkRows(Seq.empty)
      val p = col("value") < 6.0 && col("series") === "cpu"
      val (del, delParts) = TimeSeriesTable.deleteRows(spark, root, "dom", "a", p)
      val (u0, d0, i0, mParts) = TimeSeriesTable.mergeRows(spark, root, "dom",
        "b", empty, Seq((None, "delete")), insertUnmatched = true,
        bySource = Seq(TimeSeriesTable.BySourceClause(Some(p), "delete")))
      assert(del == 2L && delParts == Seq("dt=2024-01-01"))
      assert((u0, d0, i0, mParts) == ((0L, del, 0L, delParts)))
      assert(familyRows(root, "a") == familyRows(root, "b"))
      val assigns = Seq(("mem", None, col("value") * 10.0),
        ("mem", Some("stale"), lit("y")))
      val q = col("value") > 1.0
      val (upd, updParts) = TimeSeriesTable.updateRows(spark, root, "dom", "a",
        q, assigns)
      val (u1, d1, i1, m1Parts) = TimeSeriesTable.mergeRows(spark, root, "dom",
        "b", empty, Nil, insertUnmatched = false,
        bySource = Seq(TimeSeriesTable.BySourceClause(Some(q), "update", assigns)))
      assert(upd == 2L && updParts == Seq("dt=2024-01-01", "dt=2024-01-03"))
      assert((u1, d1, i1, m1Parts) == ((upd, 0L, 0L, updParts)))
      assert(familyRows(root, "a") == familyRows(root, "b"))
      // no BY SOURCE clause: an empty batch writes nothing at all
      val dirs = new java.io.File(s"$root/dom/b").listFiles()
        .filter(_.getName.startsWith("dt=")).map(_.getPath).toSeq
      val digests = dirs.map(d => d -> partitionDigests(d)).toMap
      assert(TimeSeriesTable.mergeRows(spark, root, "dom", "b", empty,
        Seq((None, "delete")), insertUnmatched = true) == ((0L, 0L, 0L, Nil)))
      assert(dirs.map(d => d -> partitionDigests(d)).toMap == digests)
      for (f <- Seq("a", "b")) assertNoScratch(root, f)
    }
  }

  test("every mutate verb refuses a family with files outside the dt= " +
      "layout, untouched; compact folds them into their dates") {
    withTempRoot("graft-layout") { root =>
      val dir = s"$root/dom/m"
      TimeSeriesTable.append(mkRows(smallFamily), root, "dom", "m")
      // one parquet file at the family root, outside every dt= directory
      val loose = s"$root/loose"
      mkRows(Seq(("cpu", "2024-01-02 05:00:00", 3.0),
        ("io", "2024-01-04 01:00:00", 4.0))).coalesce(1).write.parquet(loose)
      val part = new java.io.File(loose).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, JPaths.get(dir, "loose.parquet"))
      val dirs = dir +: new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).map(_.getPath).toSeq
      val digests = dirs.map(d => d -> partitionDigests(d)).toMap
      val batch = mkRows(Seq(("disk", "2024-01-09 01:00:00", 1.0)))
      val verbs: Seq[(String, () => Any)] = Seq(
        "row-level DELETE" -> (() => TimeSeriesTable.deleteRows(spark, root,
          "dom", "m", col("series") === "cpu")),
        "row-level UPDATE" -> (() => TimeSeriesTable.updateRows(spark, root,
          "dom", "m", lit(true), Seq(("cpu", None, lit(0.0))))),
        "UPSERT" -> (() => TimeSeriesTable.upsertRows(spark, root, "dom", "m",
          batch)),
        "MERGE" -> (() => TimeSeriesTable.mergeRows(spark, root, "dom", "m",
          batch, Nil, insertUnmatched = true)))
      verbs.foreach { case (label, run) =>
        val e = intercept[java.io.IOException](run())
        assert(e.getMessage.startsWith(s"$label on $dir") &&
          e.getMessage.contains("OUTSIDE the dt= partition layout") &&
          e.getMessage.contains("compact() the family first"), e.getMessage)
        assert(dirs.map(d => d -> partitionDigests(d)).toMap == digests, label)
        assertNoScratch(root, "m")
      }
      TimeSeriesTable.compact(spark, root, "dom", "m")
      assert(new java.io.File(dir).listFiles()
        .forall(f => !f.getName.endsWith(".parquet")))
      assert(TimeSeriesTable.open(spark, root, "dom", "m").count() == 7)
      val (deleted, parts) = TimeSeriesTable.deleteRows(spark, root, "dom",
        "m", col("series") === "io")
      assert(deleted == 1L && parts == Seq("dt=2024-01-04"))
      assert(TimeSeriesTable.open(spark, root, "dom", "m").count() == 6)
      assertNoScratch(root, "m")
    }
  }

  test("deleteRows and updateRows push a series predicate into the " +
      "parquet scan") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    withTempRoot("graft-mutate-push") { root =>
      TimeSeriesTable.append(mkRows(smallFamily), root, "dom", "m")
      // the PushedFilters list of every scan in the queries `call` ran
      def pushed(call: => Any): Seq[String] = {
        val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener = new QueryExecutionListener {
          def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
            plans.add(qe.executedPlan.toString)
          def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          call
          org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
        } finally spark.listenerManager.unregister(listener)
        import scala.jdk.CollectionConverters._
        plans.asScala.toSeq.flatMap(
          "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(_).map(_.group(1)))
      }
      val del = pushed(TimeSeriesTable.deleteRows(spark, root, "dom", "m",
        col("series") === "cpu" && col("value") > 4.0))
      assert(del.exists(_.contains("EqualTo(series,cpu)")), del)
      val upd = pushed(TimeSeriesTable.updateRows(spark, root, "dom", "m",
        col("series") === "mem" && col("value") > 4.0,
        Seq(("mem", None, lit(0.0)))))
      assert(upd.exists(_.contains("EqualTo(series,mem)")), upd)
      // the statement forms: the mutate verbs' long-row scope compiles
      // `cpu > …` to the same series-scoped Column, so the same filter
      // reaches the scan
      val sqlDel = pushed(graft.boostql.BoostQL.sqlDelete(
        "DELETE FROM dom.m WHERE cpu > 0.5", spark, root))
      assert(sqlDel.exists(_.contains("EqualTo(series,cpu)")), sqlDel)
      val sqlUpd = pushed(graft.boostql.BoostQL.sqlUpdate(
        "UPDATE dom.m SET mem = 1.0 WHERE mem > 1.5", spark, root))
      assert(sqlUpd.exists(_.contains("EqualTo(series,mem)")), sqlUpd)
    }
  }

  /** The Spark jobs `body` runs (through [[graft.Probe.capture]]), each
    * as (call site, job description, tasks of its stages that wrote
    * output rows — 0 for a job that writes none). */
  private def jobsOf(body: => Any): Seq[(String, String, Int)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Seq[Int])]()
    val writers = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.stageIds))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val st = e.stageInfo
        if (st.taskMetrics != null && st.taskMetrics.outputMetrics.recordsWritten > 0)
          writers.put(st.stageId, st.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val c = graft.Probe.capture(spark, s"tst-jobs-${java.util.UUID.randomUUID}")(body)
      c.jobs.map { j =>
        val (desc, stages) = jobs.get(j.id)
        (j.callSite, desc, stages.map(writers.getOrDefault(_, 0)).sum)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Spark's distributed file listing, which a read of more than 32
    * paths runs unless its file index is handed the listing. */
  private def isListing(job: (String, String, Int)): Boolean =
    job._2.startsWith("Listing leaf files")

  /** `days` dates from 2024-01-01, two series, two rows per series a day. */
  private def manyDates(days: Int) = mkRows(for {
    d <- 0 until days
    s <- Seq("cpu", "mem")
    h <- Seq(1, 13)
  } yield (s, java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong) +
    f" $h%02d:00:00", d * 10.0 + h + (if (s == "cpu") 0.5 else 0.0)))

  test("a 40-date append writes one file per date from the session's " +
      "shuffle tasks; open runs no Spark job, and compact and a row " +
      "DELETE run no listing job") {
    withTempRoot("graft-manydates") { root =>
      val rows = manyDates(40)
      val appendJobs = jobsOf(TimeSeriesTable.append(rows, root, "dom", "m"))
      val dirs = new java.io.File(s"$root/dom/m").listFiles()
        .filter(_.getName.startsWith("dt="))
      assert(dirs.length == 40)
      dirs.foreach(d => assert(
        d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d.getName))
      val shuffleTasks = spark.sessionState.conf.numShufflePartitions
      // one write, one task per shuffle partition
      assert(appendJobs.map(_._3).filter(_ > 0) == Seq(shuffleTasks), appendJobs)
      // open: the driver's listing seeds the index; no job at all
      val opened = jobsOf(TimeSeriesTable.open(spark, root, "dom", "m"))
      assert(opened.isEmpty, opened)
      val fam = TimeSeriesTable.open(spark, root, "dom", "m")
      assert(fam.queryExecution.executedPlan.toString
        .contains("InMemoryFileIndex"))
      assert(fam.count() == rows.count())
      val deleted = jobsOf(TimeSeriesTable.deleteRows(spark, root, "dom", "m",
        col("series") === "cpu" && col("value") > 395.0))
      assert(deleted.nonEmpty && !deleted.exists(isListing), deleted)
      // one append more gives every date a second file to fold
      TimeSeriesTable.append(rows, root, "dom", "m")
      var files = (0, 0)
      val compacted = jobsOf { files = TimeSeriesTable.compact(spark, root, "dom", "m") }
      assert(compacted.nonEmpty && !compacted.exists(isListing), compacted)
      assert(files == ((80, 40)))
      assert(TimeSeriesTable.open(spark, root, "dom", "m").count() ==
        2 * rows.count() - 1)
    }
  }

  test("open gives a directory read's schema, rows and sums for " +
      "parquet, orc and json") {
    val rows = manyDates(40)
    for (fmt <- Seq("parquet", "orc", "json")) {
      withTempRoot(s"graft-open-$fmt") { root =>
        TimeSeriesTable.append(rows, root, "dom", "m", fmt)
        val opened = TimeSeriesTable.open(spark, root, "dom", "m", fmt)
        val read = spark.read.schema(TimeSeriesTable.schema).format(fmt)
          .load(s"$root/dom/m")
        assert(opened.schema == read.schema, fmt)
        def sig(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("series").agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,2)")).as("s"),
              countDistinct(col("dt")).as("days"))
            .orderBy("series").collect().toSeq
        assert(opened.count() == read.count() && opened.count() == 160, fmt)
        assert(sig(opened) == sig(read), fmt)
      }
    }
  }

  test("open of a missing family fails as a directory read does") {
    withTempRoot("graft-missing") { root =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        TimeSeriesTable.open(spark, root, "dom", "nothere"))
      assert(e.getMessage.startsWith("[PATH_NOT_FOUND] Path does not exist:"),
        e.getMessage)
    }
  }

  test("a cached open serves neither a verb's subset read nor a read " +
      "after the verb changed the family") {
    withTempRoot("graft-cached-open") { root =>
      val day = 86400L * 1000000L
      val rows = manyDates(3)
      TimeSeriesTable.append(rows, root, "dom", "m")
      TimeSeriesTable.refreshDownsample(spark, root, "dom", "m", day, "1d")
      val cached = TimeSeriesTable.open(spark, root, "dom", "m").cache()
      try {
        assert(cached.count() == 12)
        val onDay2 = to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-02"))
        // the kernel reads only day 2's file; served the whole cached
        // family, its rewrite would hold every date and fail its check
        val (deleted, parts) = TimeSeriesTable.deleteRows(spark, root, "dom",
          "m", onDay2 && col("series") === "cpu")
        assert(deleted == 2 && parts == Seq("dt=2024-01-02"))
        assert(TimeSeriesTable.open(spark, root, "dom", "m").count() == 10)
        val (updated, _) = TimeSeriesTable.updateRows(spark, root, "dom", "m",
          onDay2, Seq(("mem", None, lit(-1.0))))
        assert(updated == 2)
        val (rebuilt, _) = TimeSeriesTable.refreshDownsample(
          spark, root, "dom", "m", day, "1d")
        assert(rebuilt == Seq("dt=2024-01-02"))
        TimeSeriesTable.downsample(spark, root, "dom", "m", day, "1d",
          Some("fresh"))
        def rollup(f: String) = TimeSeriesTable.open(spark, root, "dom", f)
          .select("series", "ts", "value").collect()
          .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
          .toSeq.sortBy(_.toString)
        assert(rollup("m_1d") == rollup("fresh"))
        assertNoScratch(root, "m")
      } finally cached.unpersist(blocking = true)
    }
  }

  test("the parquet-only verbs refuse a family holding another format") {
    withTempRoot("graft-orc-verbs") { root =>
      TimeSeriesTable.append(manyDates(2), root, "dom", "m", "orc")
      def refusal(what: String)(verb: => Any): Unit = {
        val e = intercept[java.io.IOException](verb)
        assert(e.getMessage.startsWith(s"$what on ") &&
          e.getMessage.contains(".orc is not a parquet file — " +
            s"$what serves parquet families only"), e.getMessage)
      }
      refusal("compaction")(TimeSeriesTable.compact(spark, root, "dom", "m"))
      refusal("partitions")(TimeSeriesTable.partitions(spark, root, "dom", "m"))
      refusal("describeCached")(
        TimeSeriesTable.describeCached(spark, root, "dom", "m"))
      refusal("row-level DELETE")(TimeSeriesTable.deleteRows(spark, root,
        "dom", "m", col("series") === "cpu"))
      refusal("refreshDownsample")(TimeSeriesTable.refreshDownsample(
        spark, root, "dom", "m", 86400L * 1000000L, "1d"))
      // refused before any write: the family reads as it was
      assert(TimeSeriesTable.open(spark, root, "dom", "m", "orc").count() == 8)
      assertNoScratch(root, "m")
    }
  }
}

package graft.boostql

import graft.SparkSpec
import graft.sources.TimeSeriesTable
import graft.tables.Tables

import Ast._

/** Parser + compiler unit coverage for the BoostQL dialect, pinning the
  * reference's name-sugar rules (selectfieldparser.go:29-37,115-133) and
  * the join surface the reference parses but never executes.
  */
class BoostQLSpec extends SparkSpec {

  private def fam = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))

  test("name sugar: 1/2/3-part resolution with alias") {
    assert(Compiler.resolve(RawName(Seq("cpu")), None) == FieldRef("cpu", None))
    assert(Compiler.resolve(RawName(Seq("cpu", "host")), None) ==
      FieldRef("cpu", Some("host")))
    // alias-qualified series value: d.cpu with FROM ... AS d
    assert(Compiler.resolve(RawName(Seq("d", "cpu")), Some("d")) ==
      FieldRef("cpu", None))
    assert(Compiler.resolve(RawName(Seq("d", "cpu", "host")), Some("d")) ==
      FieldRef("cpu", Some("host")))
    intercept[Compiler.CompileException] {
      Compiler.resolve(RawName(Seq("x", "cpu", "host")), Some("d"))
    }
  }

  test("parser: full clause chain round-trips") {
    val q = Parser.parse(
      "SELECT cpu.host, count(*) FROM dom.fam WHERE cpu > 1.5 AND cpu.host != 'h1' " +
        "GROUP BY cpu.host HAVING count(*) > 2 ORDER BY count(*) DESC LIMIT 5")
    assert(q.select.length == 2)
    assert(q.where.isDefined && q.groupBy.length == 1 && q.having.isDefined)
    assert(q.orderBy.length == 1 && !q.orderBy.head.asc && q.limit.contains(5))
  }

  test("parser: join forms") {
    val j = Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f1 AS a JOIN dom.f2 AS b ON a.cpu.host = b.mem.host")
    assert(j.joins.length == 1 && j.joins.head.on.isDefined)
    assert(j.joins.head.joinType == "inner")
    val c = Parser.parse("SELECT a.cpu, b.mem FROM dom.f1 AS a, dom.f2 AS b")
    assert(c.joins.length == 1 && c.joins.head.on.isEmpty)
    val x = Parser.parse("SELECT a.cpu, b.mem FROM dom.f1 AS a CROSS JOIN dom.f2 AS b")
    assert(x.joins.length == 1 && x.joins.head.on.isEmpty)
    // LEFT [OUTER] JOIN — both spellings, joinType "left"
    val l = Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f1 AS a LEFT JOIN dom.f2 AS b ON a.cpu.host = b.mem.host")
    assert(l.joins.length == 1 && l.joins.head.on.isDefined)
    assert(l.joins.head.joinType == "left")
    val lo = Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f1 AS a LEFT OUTER JOIN dom.f2 AS b ON a.cpu.host = b.mem.host")
    assert(lo.joins.head.joinType == "left")
    // LEFT without JOIN is malformed
    intercept[Parser.ParseException](
      Parser.parse("SELECT a.cpu FROM dom.f1 AS a LEFT dom.f2 AS b ON a.cpu = b.cpu"))
  }

  test("INTERVAL arithmetic shifts timestamps; misuse refuses") {
    // literal-side arithmetic equals the explicit bound
    def rows(q: String) = Compiler.compile(Parser.parse(q),
      (_: (String, String)) => fam).collect().map(_.getDouble(0)).sorted.toSeq
    val explicit = rows("SELECT click FROM dom.events " +
      "WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-12 00:00:00'")
    val shifted = rows("SELECT click FROM dom.events " +
      "WHERE ts >= '2024-01-12 00:00:00' - INTERVAL '2 days' " +
      "AND ts < '2024-01-10 00:00:00' + INTERVAL '48 hours'")
    assert(shifted == explicit && explicit.nonEmpty)
    def bad(q: String): Unit =
      intercept[Compiler.CompileException](
        Compiler.compile(Parser.parse(q), (_: (String, String)) => fam))
    // interval alone, interval-minus-timestamp, *, and malformed units
    bad("SELECT click FROM dom.events WHERE ts >= INTERVAL '1 day'")
    bad("SELECT click FROM dom.events " +
      "WHERE ts >= INTERVAL '1 day' - '2024-01-10 00:00:00'")
    bad("SELECT click FROM dom.events " +
      "WHERE ts >= '2024-01-10 00:00:00' * INTERVAL '1 day'")
    // calendar units now take the year-month path; garbage still refuses
    bad("SELECT click FROM dom.events " +
      "WHERE ts >= '2024-01-10 00:00:00' - INTERVAL '1 fortnight'")
    // a series named `interval` still parses (contextual keyword)
    assert(Parser.parse("SELECT interval FROM dom.events")
      .select.nonEmpty)
    // the shared duration grammar keeps bucket()'s historical no-space
    // and uppercase spellings, and WITHIN-style sub-second units now
    // reach bucket too
    def bucketed(w: String) = Compiler.compile(Parser.parse(
      s"SELECT CAST(bucket(ts, '$w') AS int) AS d, count(click) AS n " +
        s"FROM dom.events GROUP BY CAST(bucket(ts, '$w') AS int) ORDER BY d"),
      (_: (String, String)) => fam).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed("1day") == bucketed("1 day") && bucketed("1 DAY") == bucketed("1 day"))
    assert(bucketed("86400000 milliseconds") == bucketed("1 day"))
  }

  test("DELETE: partition-granular retention; whole-family shape refuses") {
    import org.apache.spark.sql.functions.{col => c}
    withTempRoot("graft-sqldel") { root =>
      TimeSeriesTable.append(fam, root, "dom", "events")
      val before = TimeSeriesTable.open(spark, root, "dom", "events").count()
      val dropped = BoostQL.sqlDelete(
        "DELETE FROM dom.events WHERE ts < DATE '2024-01-10'", spark, root)
      assert(dropped.nonEmpty && dropped.forall(_.startsWith("dt=")))
      val after = TimeSeriesTable.open(spark, root, "dom", "events")
      assert(after.count() < before)
      // the cut is exact at the date boundary: nothing before survives,
      // the boundary date itself stays
      assert(after.filter(c("ts") <
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00")).count() == 0)
      assert(after.filter(c("ts") <
        java.sql.Timestamp.valueOf("2024-01-11 00:00:00")).count() > 0)
      // idempotent: nothing left to drop
      assert(BoostQL.sqlDelete(
        "DELETE FROM dom.events WHERE ts < DATE '2024-01-10'", spark, root).isEmpty)
      // the whole-family shape refuses (an operational drop, not a query)
      val e = intercept[Compiler.CompileException](
        BoostQL.sqlDelete("DELETE FROM dom.events", spark, root))
      assert(e.getMessage.contains("WHERE"), e.getMessage)
      intercept[Compiler.CompileException](
        BoostQL.sqlDelete("SELECT click FROM dom.events", spark, root))
    }
  }

  test("MERGE: clause order is first-true-wins, src attribute refs " +
      "resolve, malformed shapes refuse with the reason") {
    import org.apache.spark.sql.functions.{col => c, element_at}
    withTempRoot("graft-sqlmerge") { root =>
      BoostQL.sqlInsert("INSERT INTO dom.d SELECT ts, max(click) AS m " +
        "FROM dom.events GROUP BY ts", _ => fam, root)
      val seedCount = TimeSeriesTable.open(spark, root, "dom", "d").count()
      // batch carries a status attribute; tombstones delete FIRST, the
      // rest update only when they RAISE the stored value (always here:
      // the batch doubles) — clause order decides the tombstones' fate
      val (upd, del, ins) = BoostQL.sqlMerge(
        "MERGE INTO dom.d USING (SELECT ts, max(click) * 2.0 AS m, " +
          "CASE WHEN max(click) > 200.0 THEN 'tombstone' ELSE 'ok' END AS status " +
          "FROM dom.events GROUP BY ts) " +
          "WHEN MATCHED AND src.status = 'tombstone' THEN DELETE " +
          "WHEN MATCHED AND m < src.value THEN UPDATE " +
          "WHEN NOT MATCHED THEN INSERT", _ => fam, root)
      assert(del > 0 && upd > 0, s"expected deletes and updates ($upd, $del)")
      assert(ins == 0L, "every batch key matches the seed")
      val after = TimeSeriesTable.open(spark, root, "dom", "d")
      assert(after.count() == seedCount - del)
      // updated rows carry the batch's status attribute (source row
      // replaces the target row wholesale); no tombstone survives
      assert(after.filter(c("series") === "m" &&
        element_at(c("attributes"), "status") === "ok").count() == upd)
      assert(after.filter(
        element_at(c("attributes"), "status") === "tombstone").count() == 0)
      // refusals name the malformed piece
      def bad(stmt: String, needle: String) = {
        val e = intercept[Compiler.CompileException](
          BoostQL.sqlMerge(stmt, _ => fam, root))
        assert(e.getMessage.toLowerCase.contains(needle), e.getMessage)
      }
      bad("MERGE INTO dom.d USING (SELECT ts, max(click) AS m FROM " +
        "dom.events GROUP BY ts)", "when clause")
      bad("MERGE INTO dom.d USING (SELECT 1) WHEN NOT MATCHED THEN INSERT " +
        "WHEN NOT MATCHED THEN INSERT", "one when not matched")
      bad("MERGE INTO dom.d USING (SELECT 1) WHEN MATCHED THEN UPDATE " +
        "WHEN MATCHED AND m > 0.0 THEN DELETE", "unreachable")
      bad("MERGE INTO dom.d USING (SELECT 1) WHEN MATCHED THEN MERGE",
        "malformed merge clause")
      bad("MERGE INTO dom.d USING (SELECT 1", "closing parenthesis")
      // NOT MATCHED BY SOURCE: delete or update-with-SET only,
      // target-side conditions AND set expressions only, unreachable
      // ordering applies within the clause family
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE", "needs set")
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN INSERT", "contradictory")
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE AND src.value > 1.0 THEN DELETE",
        "target")
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND m > 0.0 THEN DELETE", "unreachable")
      // by-source UPDATE SET: src. refuses in the RHS (no source row for
      // an absent key), ts/series are not assignable, foreign-series RHS
      // refuses, aggregates refuse
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET m = src.value",
        "target")
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET ts = ts", "assign")
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET m = max(m)",
        "by-source set")
      bad("MERGE INTO dom.d USING (SELECT 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET m = m, m = m * 2.0",
        "duplicate")
      // a CASE condition inside a by-source condition or SET sees the
      // same target-only row: src. refuses there too
      bad("MERGE INTO dom.d USING (SELECT 1) WHEN NOT MATCHED BY SOURCE " +
        "AND CASE WHEN src.value > 1.0 THEN 1.0 ELSE 0.0 END > 0.0 " +
        "THEN DELETE", "sees only the target row")
      bad("MERGE INTO dom.d USING (SELECT 1) WHEN NOT MATCHED BY SOURCE " +
        "THEN UPDATE SET m = CASE WHEN src.k = 'x' THEN 0.0 ELSE m END",
        "sees only the target row")
      // mirror-sync end to end through the SQL face: keys absent from
      // the batch and below the guard are dropped, everything else keeps
      val before2 = TimeSeriesTable.open(spark, root, "dom", "d").count()
      val (u3, d3, i3) = BoostQL.sqlMerge(
        "MERGE INTO dom.d USING (SELECT ts, max(click) AS m " +
          "FROM dom.events WHERE click > 100.0 GROUP BY ts) " +
          "WHEN NOT MATCHED BY SOURCE AND m < 50.0 THEN DELETE",
        _ => fam, root)
      assert(u3 == 0L && i3 == 0L && d3 > 0L, s"got ($u3, $d3, $i3)")
      assert(TimeSeriesTable.open(spark, root, "dom", "d").count() ==
        before2 - d3)
    }
  }

  test("CREATE/DROP FAMILY: CTAS refuses over an existing family, " +
      "OR REPLACE swap is staged and crash-recoverable, DROP grammar") {
    withTempRoot("graft-ctas") { root =>
      val n = BoostQL.sqlCreateFamily("CREATE FAMILY dom.x AS " +
        "SELECT ts, max(click) AS c FROM dom.events GROUP BY ts",
        _ => fam, root)
      assert(n > 0)
      intercept[Compiler.CompileException](BoostQL.sqlCreateFamily(
        "CREATE FAMILY dom.x AS SELECT ts, max(click) AS c " +
          "FROM dom.events GROUP BY ts", _ => fam, root))
      // a failing OR REPLACE select leaves the old family untouched
      intercept[Exception](BoostQL.sqlCreateFamily(
        "CREATE OR REPLACE FAMILY dom.x AS SELECT nosuch FROM dom.events",
        _ => fam, root))
      assert(TimeSeriesTable.open(spark, root, "dom", "x").count() == n)
      // crash between the swap renames: live dir gone, aside present —
      // recover() restores the previous family
      val live = new java.io.File(s"$root/dom/x")
      val aside = new java.io.File(s"$root/dom/.x__ctas_old")
      assert(live.renameTo(aside))
      val acts = TimeSeriesTable.recover(spark, root, "dom", "x")
      assert(acts.exists(_.contains("ctas aside")), acts.toString)
      assert(TimeSeriesTable.open(spark, root, "dom", "x").count() == n)
      // DROP: missing refuses, IF EXISTS is idempotent
      intercept[Compiler.CompileException](
        BoostQL.sqlDropFamily("DROP FAMILY dom.nosuch", spark, root))
      assert(BoostQL.sqlDropFamily("DROP FAMILY dom.x", spark, root))
      assert(!BoostQL.sqlDropFamily(
        "DROP FAMILY IF EXISTS dom.x", spark, root))
      intercept[Compiler.CompileException](
        BoostQL.sqlDropFamily("DROP FAMILY x", spark, root))
      // REFRESH ROLLUP grammar: calendar and non-day-divisible widths
      // refuse with the per-date-swap reason; the read front points at
      // the entry point
      assert(intercept[Compiler.CompileException](BoostQL.sqlRefreshRollup(
          "REFRESH ROLLUP dom.events BUCKET '1 month' AS m1", spark, root))
        .getMessage.contains("fixed width"))
      assert(intercept[Compiler.CompileException](BoostQL.sqlRefreshRollup(
          "REFRESH ROLLUP dom.events BUCKET '7 hours' AS h7", spark, root))
        .getMessage.contains("divide one day"))
      assert(intercept[Compiler.CompileException](BoostQL.sql(
          "REFRESH ROLLUP dom.events BUCKET '1 hour' AS h1", _ => fam))
        .getMessage.contains("sqlRefreshRollup"))
      assert(intercept[Compiler.CompileException](BoostQL.sql(
          "MERGE INTO dom.x USING (SELECT 1) WHEN MATCHED THEN DELETE",
          _ => fam)).getMessage.contains("sqlMerge"))
    }
  }

  test("DATE/TIMESTAMP literals: typed bounds equal string bounds; " +
      "malformed text is a parse error; keyword stays contextual") {
    def q(where: String) = BoostQL.sql(
      "SELECT click.event_id, click FROM dom.events WHERE " + where +
        " ORDER BY click.event_id", _ => fam).collect().toSeq
    val typed = q("ts >= DATE '2024-01-10' AND " +
      "ts < TIMESTAMP '2024-01-12 00:00:00'")
    val strings = q("ts >= '2024-01-10 00:00:00' AND " +
      "ts < '2024-01-12 00:00:00'")
    assert(typed == strings && typed.nonEmpty)
    // malformed literal text is a PARSE error naming the literal
    val e1 = intercept[Parser.ParseException](Parser.parse(
      "SELECT click FROM dom.events WHERE ts < DATE '2024-13-40'"))
    assert(e1.getMessage.contains("2024-13-40"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT click FROM dom.events WHERE ts < TIMESTAMP 'nope'"))
    // contextual: only `DATE '<str>'` engages — a series named date
    // still resolves as an identifier
    Parser.parse("SELECT date FROM dom.events WHERE date > 1.0")
  }

  test("DELETE: row-level predicates rewrite only the matching rows") {
    withTempRoot("graft-rowdel-ql") { tmp =>
      import org.apache.spark.sql.functions.{col => c, element_at => ea}
      def freshFam(): String = {
        val root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(tmp), "fam").toString
        TimeSeriesTable.append(fam, root, "dom", "events")
        root
      }
      // value takedown on one series: matching purchases go, every other
      // row (other series AND non-matching purchases) survives
      locally {
        val root = freshFam()
        val affected = BoostQL.sqlDelete(
          "DELETE FROM dom.events WHERE purchase > 250.0", spark, root)
        assert(affected.nonEmpty && affected.forall(_.startsWith("dt=")))
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        assert(after.filter(c("series") === "purchase" && c("value") > 250.0)
          .count() == 0)
        val src = fam
        assert(after.count() ==
          src.filter(!(c("series") === "purchase" && c("value") > 250.0)).count())
        // idempotent: a second pass matches nothing and touches nothing
        assert(BoostQL.sqlDelete(
          "DELETE FROM dom.events WHERE purchase > 250.0", spark, root).isEmpty)
      }
      // user purge across an attribute (takedown/PII shape), plus the
      // reserved physical names: series + a mid-day ts bound — the shapes
      // the retention face refuses are exactly what this face is for
      locally {
        val root = freshFam()
        BoostQL.sqlDelete("DELETE FROM dom.events WHERE click.user = '3'",
          spark, root)
        BoostQL.sqlDelete("DELETE FROM dom.events WHERE series = 'view' " +
          "AND ts < TIMESTAMP '2024-01-15 12:00:00'", spark, root)
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        assert(after.filter(c("series") === "click" &&
          ea(c("attributes"), "user") === "3").count() == 0)
        assert(after.filter(c("series") === "view" && c("ts") <
          java.sql.Timestamp.valueOf("2024-01-15 12:00:00")).count() == 0)
        assert(after.filter(c("series") === "view").count() > 0)
        assert(after.filter(c("series") === "click").count() > 0)
      }
      // attribute resolution shadows series tags like SELECT's decode:
      // purchase's env TAG is 'test' (fromEvents), so the predicate
      // deletes every purchase row
      locally {
        val root = freshFam()
        BoostQL.sqlDelete("DELETE FROM dom.events WHERE purchase.env = 'test'",
          spark, root)
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        assert(after.filter(c("series") === "purchase").count() == 0)
        assert(after.filter(c("series") === "click").count() > 0)
      }
      // NOT is row-level over the long rows: a series-scoped term is
      // FALSE on other series' rows, so NOT(click > 100) deletes every
      // non-click row too — survivors are exactly clicks above 100
      locally {
        val root = freshFam()
        BoostQL.sqlDelete("DELETE FROM dom.events WHERE NOT (click > 100.0)",
          spark, root)
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        assert(after.filter(c("series") =!= "click").count() == 0)
        assert(after.count() ==
          fam.filter(c("series") === "click" && c("value") > 100.0).count())
      }
      // refusal matrix for the row-level face
      val root = freshFam()
      def refusal(stmt: String): String =
        intercept[Compiler.CompileException](
          BoostQL.sqlDelete(stmt, spark, root)).getMessage
      assert(refusal("DELETE FROM dom.events WHERE click > purchase")
        .contains("one long row holds one series"))
      assert(refusal("DELETE FROM dom.events WHERE click.user IN " +
        "(SELECT purchase.user FROM dom.events)").contains("subqueries"))
      assert(refusal("DELETE FROM dom.events WHERE click > 5.0 ORDER BY click")
        .contains("no joins, grouping, ordering or paging"))
    }
  }

  test("UPDATE: row-level masking, removal, CASE clamps and the " +
      "refusal matrix") {
    withTempRoot("graft-rowupd-ql") { tmp =>
      import org.apache.spark.sql.functions.{col => c, element_at => ea}
      def freshFam(): String = {
        val root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(tmp), "fam").toString
        TimeSeriesTable.append(fam, root, "dom", "events")
        root
      }
      // PII mask: attribute + value in one statement; row counts hold;
      // the predicate sees pre-update state, so a second pass is a no-op
      locally {
        val root = freshFam()
        val stmt = "UPDATE dom.events SET click.user = 'REDACTED', " +
          "click = 0.0 WHERE click.user = '3'"
        val wasMasked = fam.filter(c("series") === "click" &&
          ea(c("attributes"), "user") === "3").count()
        assert(wasMasked > 0)
        val affected = BoostQL.sqlUpdate(stmt, spark, root)
        assert(affected.nonEmpty && affected.forall(_.startsWith("dt=")))
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        assert(after.count() == fam.count())
        assert(after.filter(c("series") === "click" &&
          ea(c("attributes"), "user") === "3").count() == 0)
        val masked = after.filter(ea(c("attributes"), "user") === "REDACTED")
        assert(masked.count() == wasMasked)
        assert(masked.filter(c("value") =!= 0.0).count() == 0)
        // idempotent: the masked rows no longer match
        assert(BoostQL.sqlUpdate(stmt, spark, root).isEmpty)
      }
      // attribute REMOVAL via NULL rhs + a CASE clamp, both scoped to one
      // series; other series keep the removed key
      locally {
        val root = freshFam()
        BoostQL.sqlUpdate("UPDATE dom.events SET purchase.event_id = NULL, " +
          "purchase = CASE WHEN purchase > 100.0 THEN 100.0 ELSE purchase END " +
          "WHERE purchase >= 0.0", spark, root)
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        assert(after.filter(c("series") === "purchase" &&
          ea(c("attributes"), "event_id").isNotNull).count() == 0)
        assert(after.filter(c("series") === "purchase" &&
          c("value") > 100.0).count() == 0)
        assert(after.filter(c("series") === "click" &&
          ea(c("attributes"), "event_id").isNotNull).count() > 0)
        // sub-threshold values pass through the ELSE branch unchanged
        assert(after.filter(c("series") === "purchase" &&
            c("value") < 100.0).count() ==
          fam.filter(c("series") === "purchase" && c("value") < 100.0).count())
      }
      // round(x, d) takes its scale in SET as it does in SELECT
      locally {
        val root = freshFam()
        BoostQL.sqlUpdate("UPDATE dom.events SET click = round(click / 3.0, 1) " +
          "WHERE click > 100.0", spark, root)
        def clicks(df: org.apache.spark.sql.DataFrame) = df
          .filter(c("series") === "click").select(c("ts"), c("value"))
          .collect().map(r => (r.getTimestamp(0).getTime, r.getDouble(1))).sorted.toSeq
        val want = fam.filter(c("series") === "click").select(c("ts"),
          org.apache.spark.sql.functions.when(c("value") > 100.0,
            org.apache.spark.sql.functions.round(c("value") / 3.0, 1))
            .otherwise(c("value")).as("value"))
        assert(clicks(TimeSeriesTable.open(spark, root, "dom", "events")) ==
          clicks(want))
      }
      // a CASE condition is a predicate scoped on its own: `purchase > 5.0`
      // is never true on a click row, so the SET reads click rows only and
      // compiles; only the click > 100.0 branch changes values
      locally {
        val root = freshFam()
        BoostQL.sqlUpdate("UPDATE dom.events SET click = CASE WHEN " +
          "purchase > 5.0 OR click > 100.0 THEN 0.0 ELSE click END " +
          "WHERE click >= 0.0", spark, root)
        val after = TimeSeriesTable.open(spark, root, "dom", "events")
        val clickRows = fam.filter(c("series") === "click")
        assert(after.filter(c("series") === "click").count() == clickRows.count())
        assert(after.filter(c("series") === "click" && c("value") > 100.0)
          .count() == 0)
        assert(after.filter(c("series") === "click" && c("value") === 0.0)
          .count() == clickRows.filter(c("value") > 100.0).count())
        assert(after.filter(c("series") === "purchase").count() ==
          fam.filter(c("series") === "purchase").count())
      }
      // refusal matrix for the row-level face
      val root = freshFam()
      def refusal(stmt: String): String =
        intercept[Compiler.CompileException](
          BoostQL.sqlUpdate(stmt, spark, root)).getMessage
      assert(refusal("UPDATE dom.events SET ts = " +
        "TIMESTAMP '2024-01-01 00:00:00' WHERE click > 0.0")
        .contains("cannot assign"))
      assert(refusal("UPDATE dom.events SET series = 'x' WHERE click > 0.0")
        .contains("cannot assign"))
      assert(refusal("UPDATE dom.events SET click = purchase WHERE click > 0.0")
        .contains("one long row holds one series"))
      locally {
        val m = refusal("UPDATE dom.events SET click = count(click) " +
          "WHERE click > 0.0")
        assert(m.contains("row-level") || m.contains("UPDATE terms support"), m)
      }
      assert(refusal("UPDATE dom.events SET click = 1.0, click = 2.0 " +
        "WHERE click > 0.0").contains("duplicate"))
      assert(refusal("UPDATE dom.events SET click = 1.0 WHERE click.user IN " +
        "(SELECT view.user FROM dom.events)").contains("subqueries"))
      assert(refusal("UPDATE dom.events SET click WHERE click > 0.0")
        .contains("expected <target> = <expression>"))
      // no WHERE at all: the shape refusal names the full grammar
      assert(refusal("UPDATE dom.events SET click = 1.0")
        .contains("takes exactly"))
      assert(refusal("UPDATE dom.events SET click = 1.0 " +
        "WHERE click > 5.0 ORDER BY click")
        .contains("no joins, grouping, ordering or paging"))
      // the read front points write statements at their entry points
      assert(intercept[Compiler.CompileException](BoostQL.sql(
          "UPDATE dom.events SET click = 1.0 WHERE click > 0.0", _ => fam))
        .getMessage.contains("sqlUpdate"))
      assert(intercept[Compiler.CompileException](BoostQL.sql(
          "DELETE FROM dom.events WHERE click > 0.0", _ => fam))
        .getMessage.contains("sqlDelete"))
    }
  }

  test("UPDATE: ' where ' inside a WHERE string literal stays in the " +
      "literal") {
    import org.apache.spark.sql.functions.{col => c, element_at => ea}
    withTempRoot("graft-updlit") { root =>
      TimeSeriesTable.append(fam, root, "dom", "events")
      def users(u: String) = TimeSeriesTable.open(spark, root, "dom", "events")
        .filter(c("series") === "click" && ea(c("attributes"), "user") === u)
        .count()
      val threes = users("3")
      assert(threes > 0)
      BoostQL.sqlUpdate("UPDATE dom.events SET click.user = 'a where b' " +
        "WHERE click.user = '3'", spark, root)
      assert(users("a where b") == threes)
      val affected = BoostQL.sqlUpdate("UPDATE dom.events SET click.user = " +
        "'x' WHERE click.user = 'a where b'", spark, root)
      assert(affected.nonEmpty)
      assert(users("x") == threes && users("a where b") == 0L)
    }
  }

  test("backtick-quoted names in statement heads and SET targets act " +
      "like their unquoted twins") {
    withTempRoot("graft-quoted") { tmp =>
      def contents(root: String) =
        TimeSeriesTable.open(spark, root, "dom", "events")
          .selectExpr("series", "ts", "value", "attributes['user'] AS u")
          .collect().map(_.toString).sorted.toSeq
      // each twin runs on its own fresh copy of the family
      def run(stmt: String, verb: (String, String) => Seq[String]) = {
        val root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(tmp), "fam").toString
        TimeSeriesTable.append(fam, root, "dom", "events")
        val affected = verb(stmt, root)
        (affected, contents(root))
      }
      def twins(quoted: String, plain: String,
          verb: (String, String) => Seq[String]): Unit = {
        val (qa, qc) = run(quoted, verb)
        val (pa, pc) = run(plain, verb)
        assert(qa.nonEmpty && qa == pa, s"$quoted: $qa vs $pa")
        assert(qc == pc, quoted)
      }
      val update = (s: String, r: String) => BoostQL.sqlUpdate(s, spark, r)
      val delete = (s: String, r: String) => BoostQL.sqlDelete(s, spark, r)
      twins("UPDATE dom.events SET click.`user` = 'x' WHERE click.user = '3'",
        "UPDATE dom.events SET click.user = 'x' WHERE click.user = '3'", update)
      twins("UPDATE `dom`.`events` SET `click` = 0.0 WHERE click > 100.0",
        "UPDATE dom.events SET click = 0.0 WHERE click > 100.0", update)
      twins("DELETE FROM `dom`.events WHERE click > 100.0",
        "DELETE FROM dom.events WHERE click > 100.0", delete)
      twins("DELETE FROM dom.`events` WHERE `ts` < DATE '2024-01-10'",
        "DELETE FROM dom.events WHERE ts < DATE '2024-01-10'", delete)
      // the read statements resolve the same family and series
      def rows(q: String) = BoostQL.sql(q, (_: (String, String)) => fam)
        .collect().map(_.toString).sorted.toSeq
      assert(rows("DESCRIBE `dom`.`events`") == rows("DESCRIBE dom.events"))
      assert(rows("OUTLIERS `purchase` K 3.0 FROM `dom`.events") ==
        rows("OUTLIERS purchase K 3.0 FROM dom.events"))
    }
  }

  test("domain and family names that are not plain directory names " +
      "refuse and touch nothing") {
    withTempRoot("graft-names") { dir =>
      val base = java.nio.file.Paths.get(dir)
      val root = base.resolve("wh").toString
      TimeSeriesTable.append(fam, root, "dom", "events")
      // a directory beside the warehouse that `..` would reach
      val victim = java.nio.file.Files.createDirectories(
        base.resolve("victim").resolve("events"))
      java.nio.file.Files.write(victim.resolve("keep.txt"), Array[Byte](1))
      def snapshot() = {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(base)
        try walk.iterator().asScala.map(p => (base.relativize(p).toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
        finally walk.close()
      }
      val before = snapshot()
      val families = (_: (String, String)) => fam
      val q = "SELECT ts, max(click) AS m FROM dom.events GROUP BY ts"
      // every path these would name stays inside `base`
      for (name <- Seq("`..`.`victim`", "dom.`..`", "dom.`a/b`", "dom.`.x`",
          "`.x`.events")) {
        intercept[Compiler.CompileException](BoostQL.sqlDropFamily(
          s"DROP FAMILY IF EXISTS $name", spark, root))
        intercept[Compiler.CompileException](BoostQL.sqlCreateFamily(
          s"CREATE OR REPLACE FAMILY $name AS $q", families, root))
        intercept[Compiler.CompileException](BoostQL.sqlInsert(
          s"INSERT INTO $name $q", families, root))
      }
      assert(snapshot() == before)
    }
  }

  test("DELETE: only the retention form takes the metadata-only expire " +
      "route") {
    def cutoff(stmt: String) = BoostQL.RetentionCutoff.unapply(
      Parser.parseStatement(stmt).asInstanceOf[Delete].where)
    assert(cutoff("DELETE FROM dom.events WHERE ts < DATE '2024-01-10'") ==
      Some(java.sql.Date.valueOf("2024-01-10")))
    assert(cutoff("delete from `dom`.events where `TS` < date '2024-01-10'")
      .isDefined)
    for (row <- Seq("ts <= DATE '2024-01-10'",
        "ts < TIMESTAMP '2024-01-10 12:00:00'",
        "ts < DATE '2024-01-10' AND click > 1.0", "click < 2.0"))
      assert(cutoff(s"DELETE FROM dom.events WHERE $row").isEmpty, row)
  }

  test("INSERT INTO: SQL ingest round-trips; shape mismatches refuse") {
    import org.apache.spark.sql.functions._
    withTempRoot("graft-insert-spec") { root =>
      // ingest a filtered single-series family, reopen, query back
      BoostQL.sqlInsert(
        "INSERT INTO dom.hot SELECT ts, click AS hot FROM dom.events " +
          "WHERE click > 200.0",
        _ => fam, root)
      val reread = TimeSeriesTable.open(spark, root, "dom", "hot")
      val got = BoostQL.sql("SELECT hot, ts FROM dom.hot", _ => reread)
        .collect().map(_.getDouble(0)).sorted.toSeq
      val expected = fam.filter(col("series") === "click" && col("value") > 200.0)
        .select("value").collect().map(_.getDouble(0)).sorted.toSeq
      assert(got == expected && got.nonEmpty)
      // the written layout is the real family layout: date-partitioned
      assert(reread.columns.contains("dt"))
      // DIMENSION columns: a string column becomes a per-point attribute
      // on every unpivoted series row — the grouped-rollup shape
      BoostQL.sqlInsert(
        "INSERT INTO dom.peruser SELECT bucket(ts, '1 day') AS ts, " +
          "click.user AS u, count(*) AS n FROM dom.events " +
          "GROUP BY bucket(ts, '1 day'), click.user",
        _ => fam, root)
      val perUser = TimeSeriesTable.open(spark, root, "dom", "peruser")
      val gotDim = BoostQL.sql(
        "SELECT ts, n.u AS u, n FROM dom.peruser", _ => perUser)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1.getTime, t._2)).toSeq
      val expDim = fam.filter(col("series") === "click")
        .groupBy(date_trunc("day", col("ts")).as("d"),
          element_at(col("attributes"), "user").as("u"))
        .count()
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2).toDouble))
        .sortBy(t => (t._1.getTime, t._2)).toSeq
      assert(gotDim == expDim && gotDim.nonEmpty)
      def bad(stmt: String): Unit =
        intercept[Compiler.CompileException](BoostQL.sqlInsert(stmt, _ => fam, root))
      // no ts column → no time axis to write
      bad("INSERT INTO dom.x SELECT click AS c FROM dom.events")
      // dimension-only select: no numeric series column to write
      bad("INSERT INTO dom.x SELECT ts, click.user AS u FROM dom.events")
      // reserved layout names
      bad("INSERT INTO dom.x SELECT ts, click AS value FROM dom.events")
      bad("INSERT INTO dom.x SELECT ts, click AS series FROM dom.events")
      // duplicate series names
      bad("INSERT INTO dom.x SELECT ts, click AS c, view AS c FROM dom.events")
      // not an INSERT shape at all
      bad("INSERT dom.x SELECT ts, click AS c FROM dom.events")
    }
  }

  test("UPSERT INTO: idempotent SQL ingest — re-delivery replaces " +
      "instead of duplicating; shape refusals; read-front dispatch") {
    import org.apache.spark.sql.functions._
    withTempRoot("graft-upsert-spec") { root =>
      val stmt = "UPSERT INTO dom.hot SELECT ts, click AS hot " +
        "FROM dom.events WHERE click > 200.0"
      val (r1, w1) = BoostQL.sqlUpsert(stmt, _ => fam, root)
      assert(r1 == 0L && w1 > 0L, "first delivery inserts everything")
      val snapshot = TimeSeriesTable.open(spark, root, "dom", "hot")
        .select("value").collect().map(_.getDouble(0)).sorted.toSeq
      // the INSERT verb would double the family here; UPSERT replaces
      val (r2, w2) = BoostQL.sqlUpsert(stmt, _ => fam, root)
      assert(r2 == w1 && w2 == w1, "re-delivery replaces its own rows")
      val after = TimeSeriesTable.open(spark, root, "dom", "hot")
        .select("value").collect().map(_.getDouble(0)).sorted.toSeq
      assert(after == snapshot, "re-delivered content is unchanged")
      // the unpivot contract is shared with INSERT — same shape refusals
      def bad(s: String): Unit =
        intercept[Compiler.CompileException](BoostQL.sqlUpsert(s, _ => fam, root))
      bad("UPSERT INTO dom.x SELECT click AS c FROM dom.events")
      bad("UPSERT dom.x SELECT ts, click AS c FROM dom.events")
      // the read front points UPSERT at its entry point
      assert(intercept[Compiler.CompileException](BoostQL.sql(
          "UPSERT INTO dom.x SELECT ts, click AS c FROM dom.events", _ => fam))
        .getMessage.contains("sqlUpsert"))
    }
  }

  test("approx_percentile: exact below k, HAVING reuse, refusals") {
    // per-user purchase groups sit far below k = 256, so the sample
    // holds every row and the estimate equals the exact interpolated
    // percentile (mod the 6-decimal rounding)
    val rows = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "approx_percentile(CAST(purchase * 100.0 AS int), 0.5) AS ap, " +
        "percentile(CAST(purchase * 100.0 AS int), 0.5) AS ex " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"),
      (_: (String, String)) => fam).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ap, ex) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(ap - BigDecimal(ex).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"below-k sample must be exact: $ap vs $ex")
    }
    // the same call in HAVING dedups structurally to one aggregate;
    // threshold = the observed median ap so the filter discriminates
    val aps = rows.map(_.getDouble(1)).sorted
    val thr = aps(aps.length / 2)
    val hav = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "approx_percentile(CAST(purchase * 100.0 AS int), 0.5) AS ap " +
        "FROM dom.events GROUP BY purchase.user " +
        s"HAVING approx_percentile(CAST(purchase * 100.0 AS int), 0.5) > $thr " +
        "ORDER BY purchase.user"),
      (_: (String, String)) => fam).collect()
    val expected = rows.filter(_.getDouble(1) > thr).map(_.getString(0)).toSeq
    assert(hav.map(_.getString(0)).toSeq == expected && expected.nonEmpty)
    def bad(q: String): Unit =
      intercept[Compiler.CompileException](
        Compiler.compile(Parser.parse(q), (_: (String, String)) => fam))
    // multi-source frames can repeat the sampling axis — refuse
    bad("SELECT a.purchase.user, approx_percentile(a.purchase, 0.5) AS p " +
      "FROM dom.events AS a JOIN dom.events AS b " +
      "ON a.purchase.user = b.click.user GROUP BY a.purchase.user")
    // a derived table without a propagated ts has no sampling axis
    bad("SELECT t.u, approx_percentile(t.v, 0.5) AS p " +
      "FROM (SELECT purchase.user AS u, purchase AS v FROM dom.events) AS t " +
      "GROUP BY t.u")
    // …but one that propagates ts samples on it
    val derived = Compiler.compile(Parser.parse(
      "SELECT t.u, approx_percentile(t.v, 0.5) AS p " +
        "FROM (SELECT purchase.user AS u, purchase AS v, ts " +
        "FROM dom.events) AS t GROUP BY t.u ORDER BY t.u"),
      (_: (String, String)) => fam).collect()
    assert(derived.nonEmpty)
  }

  test("calendar INTERVAL clamps day-of-month; calendar buckets date_trunc") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one month-end point: Jan 31 2024 (leap year)
    val one = Seq(("cpu", java.sql.Timestamp.valueOf("2024-01-31 10:30:00"), 7.0))
      .toDF("series", "ts", "value")
      .select(col("series"), col("ts"), col("value"),
        map().cast("map<string,string>").as("tags"),
        map().cast("map<string,string>").as("attributes"))
    def row(q: String) = Compiler.compile(Parser.parse(q),
      (_: (String, String)) => one).collect()(0)
    // the fixed-vs-calendar divergence: + '1 month' clamps to Feb 29,
    // + '30 days' lands on Mar 1 — a fixed-width fold of the calendar
    // unit would be wrong by days
    val r = row("SELECT cpu, ts + INTERVAL '1 month' AS cal, " +
      "ts + INTERVAL '30 days' AS fix, ts - INTERVAL '1 year' AS yr " +
      "FROM dom.f")
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-02-29 10:30:00"))
    assert(r.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-03-01 10:30:00"))
    assert(r.getTimestamp(3) == java.sql.Timestamp.valueOf("2023-01-31 10:30:00"))
    // calendar buckets: month start, ISO Monday week start
    val b = row("SELECT cpu, bucket(ts, '1 month') AS m, " +
      "bucket(ts, '1 week') AS w, bucket(ts, '1 year') AS y FROM dom.f")
    assert(b.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(b.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-01-29 00:00:00"))
    assert(b.getTimestamp(3) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    def bad(q: String): Unit =
      intercept[Compiler.CompileException](
        Compiler.compile(Parser.parse(q), (_: (String, String)) => one))
    // multi-count calendar buckets are not fixed-width → refuse
    bad("SELECT cpu, bucket(ts, '2 months') AS m FROM dom.f")
    // calendar units stay refused where only a fixed width makes sense
    bad("SELECT cpu, session(ts, '1 month') AS s FROM dom.f")
    bad("SELECT a.cpu, b.cpu FROM dom.f AS a " +
      "ASOF JOIN dom.f AS b ON a.cpu.h = b.cpu.h WITHIN '1 month'")
  }

  test("QUALIFY filters after windows; refuses under GROUP BY") {
    import org.apache.spark.sql.functions._
    // alias form and inline-window form agree: top-1 purchase per user
    val byAlias = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase, " +
        "row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id) AS rk " +
        "FROM dom.events QUALIFY rk = 1 ORDER BY purchase.user"),
      (_: (String, String)) => fam)
    val inline = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase, " +
        "row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id) AS rk " +
        "FROM dom.events " +
        "QUALIFY row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id) = 1 " +
        "ORDER BY purchase.user"),
      (_: (String, String)) => fam)
    val a = byAlias.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a.nonEmpty && a == inline.collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq)
    // every kept row IS its user's max — the filter ran post-window
    val maxes = fam.filter(col("series") === "purchase")
      .groupBy(element_at(col("attributes"), "user").as("u"))
      .agg(max("value").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    a.foreach { case (u, v) => assert(v == maxes(u), s"user $u") }
    // aggregates filter with HAVING, not QUALIFY
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase.user, count(*) AS n FROM dom.events " +
          "GROUP BY purchase.user QUALIFY n > 1"),
        (_: (String, String)) => fam)
    }
    // NON-prefix predicate: displayed window values come from the
    // PRE-filter partitions — `rk = 2` shows rank 2, never a re-ranked
    // 1 over the surviving rows (the DuckDB/Snowflake contract)
    val second = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase, " +
        "row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id) AS rk " +
        "FROM dom.events QUALIFY rk = 2 ORDER BY purchase.user"),
      (_: (String, String)) => fam).collect()
    assert(second.nonEmpty && second.forall(_.getInt(2) == 2),
      "QUALIFY rk = 2 must display the pre-filter rank 2")
    // an ORDER BY window under QUALIFY must go through a selected item
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase.user, purchase FROM dom.events " +
          "QUALIFY purchase > 100.0 " +
          "ORDER BY row_number() OVER (PARTITION BY purchase.user " +
          "ORDER BY purchase)"),
        (_: (String, String)) => fam)
    }
    // …matched by EXPRESSION: an unaliased ORDER BY copy of a selected
    // window is that item's pre-filter value, not a false refusal
    val unaliased = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase, " +
        "row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id) AS rk " +
        "FROM dom.events QUALIFY rk <= 2 " +
        "ORDER BY row_number() OVER (PARTITION BY purchase.user " +
        "ORDER BY purchase DESC, purchase.event_id)"),
      (_: (String, String)) => fam).collect()
    assert(unaliased.nonEmpty)
    // a window alias that shadows a SERIES name must not clobber the
    // series column other windows read: both windows here see the
    // original frame, so the query equals its differently-aliased twin
    def winPair(alias: String) = Compiler.compile(Parser.parse(
      s"SELECT purchase.event_id, rank() OVER (ORDER BY purchase.event_id) AS $alias, " +
        "row_number() OVER (PARTITION BY purchase.user " +
        s"ORDER BY purchase DESC, purchase.event_id) AS rn " +
        "FROM dom.events QUALIFY rn <= 2 ORDER BY purchase.event_id"),
      (_: (String, String)) => fam)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(winPair("purchase") == winPair("zz") && winPair("zz").nonEmpty)
  }

  test("QUALIFY over zscore materializes the pre-filter statistic") {
    import org.apache.spark.sql.functions._
    // zscore is a tsPartFns window: under QUALIFY its displayed value
    // must be the PRE-filter whole-series statistic, not a recompute
    // over the surviving rows (which would shift mean/stddev and
    // disagree with what the predicate filtered on)
    val got = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, purchase, zscore(purchase) AS z " +
        "FROM dom.events QUALIFY z > 1.0 ORDER BY purchase.event_id"),
      (_: (String, String)) => fam)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    // expected: zscore over the FULL series, then filter
    val p = fam.filter(col("series") === "purchase")
    val stats = p.agg(count(lit(1)).cast("double").as("n"),
      sum(col("value")).cast("double").as("s"),
      sum(col("value") * col("value")).cast("double").as("q")).collect()(0)
    val (n, s, q) = (stats.getDouble(0), stats.getDouble(1), stats.getDouble(2))
    val mean = s / n
    val sd = math.sqrt((q - s * s / n) / (n - 1.0))
    val expected = p.select(element_at(col("attributes"), "event_id"),
      col("value")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1) - mean) / sd)
      .filter(_._2 > 1.0).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, z) => assert(math.abs(z - expected(k)) < 1e-9) }
  }

  test("DESCRIBE returns the per-series catalog row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(
      ("cpu", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("cpu", java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 2.0),
      ("mem", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 3.0)
    ).toDF("series", "ts", "value")
      .select(col("series"), col("ts"), col("value"),
        map(lit("dc"), lit("dc0")).as("tags"),
        when(col("series") === "cpu",
          map(lit("host"), lit("h1"), lit("core"), lit("0")))
          .otherwise(map(lit("host"), lit("h1"))).as("attributes"))
    val got = BoostQL.sql("DESCRIBE dom.f", (_: (String, String)) => rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4), r.getString(5)))
    assert(got.toSeq == Seq(
      ("cpu", 2L, "core,host", "dc"),
      ("mem", 1L, "host", "dc")))
    // extent is epoch micros of the min/max ts
    val cpu = BoostQL.sql("DESCRIBE dom.f", (_: (String, String)) => rows)
      .filter(col("series") === "cpu").collect()(0)
    assert(cpu.getLong(3) - cpu.getLong(2) == 2L * 86400L * 1000000L)
  }

  test("comments lex as whitespace; BROADCAST hints validate strictly") {
    // `--` line and `/* … */` block comments disappear; `*` before a
    // block comment stays the multiplication operator
    val plain = Compiler.compile(Parser.parse(
      "SELECT cpu FROM dom.events WHERE cpu < 100.0"), (_: (String, String)) => fam)
    val commented = Compiler.compile(Parser.parse(
      "SELECT cpu -- trailing note\nFROM dom.events /* block */ " +
        "WHERE cpu < 50.0 * /* inline */ 2.0"), (_: (String, String)) => fam)
    assert(commented.collect().map(_.getDouble(0)).sorted.toSeq ==
      plain.collect().map(_.getDouble(0)).sorted.toSeq)

    // the hint parses (same rows as unhinted — plan-only effect; the
    // BroadcastHashJoin pin is PlanShapeSpec's)
    val hinted = Compiler.compile(Parser.parse(
      "SELECT /*+ BROADCAST(b) */ a.purchase.user, b.click " +
        "FROM dom.events AS a JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user"), (_: (String, String)) => fam)
    assert(hinted.collect().nonEmpty)

    // strict validation: typo'd hint names, unknown aliases, a hint
    // with nothing to build, and the no-join-node ASOF combination all
    // refuse at compile time instead of silently no-opping
    def bad(q: String): Unit =
      intercept[Compiler.CompileException](
        Compiler.compile(Parser.parse(q), (_: (String, String)) => fam))
    bad("SELECT /*+ BROADCST(b) */ a.cpu FROM dom.events AS a " +
      "JOIN dom.events AS b ON a.cpu.host = b.cpu.host")
    bad("SELECT /*+ BROADCAST(zzz) */ a.cpu FROM dom.events AS a " +
      "JOIN dom.events AS b ON a.cpu.host = b.cpu.host")
    bad("SELECT /*+ BROADCAST(a) */ a.cpu FROM dom.events AS a")
    bad("SELECT /*+ BROADCAST(b) */ a.purchase FROM dom.events AS a " +
      "ASOF JOIN dom.events AS b ON a.purchase.user = b.click.user")
    // …but only sources the ASOF consumes refuse: hinting the ordinary
    // join's side in a mixed asof+equi query compiles
    val mixed = Compiler.compile(Parser.parse(
      "SELECT /*+ BROADCAST(c) */ a.purchase, b.click, c.view " +
        "FROM dom.events AS a " +
        "ASOF JOIN dom.events AS b ON a.purchase.user = b.click.user " +
        "JOIN dom.events AS c ON a.purchase.user = c.view.user"),
      (_: (String, String)) => fam)
    assert(mixed.columns.length == 3)
    // the PRESERVED side of an outer join refuses: Spark cannot build
    // that side of a broadcast hash join and would drop the pin with
    // only a log warning — the strict contract refuses instead
    bad("SELECT /*+ BROADCAST(a) */ a.purchase, b.click " +
      "FROM dom.events AS a LEFT JOIN dom.events AS b " +
      "ON a.purchase.user = b.click.user")
    bad("SELECT /*+ BROADCAST(b) */ a.purchase, b.click " +
      "FROM dom.events AS a RIGHT JOIN dom.events AS b " +
      "ON a.purchase.user = b.click.user")
    bad("SELECT /*+ BROADCAST(a) */ a.purchase, b.click " +
      "FROM dom.events AS a FULL JOIN dom.events AS b " +
      "ON a.purchase.user = b.click.user")
    bad("SELECT /*+ BROADCAST(b) */ a.purchase, b.click " +
      "FROM dom.events AS a FULL JOIN dom.events AS b " +
      "ON a.purchase.user = b.click.user")
    // …the BUILDABLE side still compiles: right of LEFT, left of RIGHT
    assert(Compiler.compile(Parser.parse(
      "SELECT /*+ BROADCAST(b) */ a.purchase, b.click " +
        "FROM dom.events AS a LEFT JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user"),
      (_: (String, String)) => fam).columns.length == 2)
    assert(Compiler.compile(Parser.parse(
      "SELECT /*+ BROADCAST(a) */ a.purchase, b.click " +
        "FROM dom.events AS a RIGHT JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user"),
      (_: (String, String)) => fam).columns.length == 2)
    // unterminated constructs are parse errors
    intercept[Parser.ParseException](
      Parser.parse("SELECT /*+ BROADCAST(b) a.cpu FROM dom.events AS a"))
    intercept[Parser.ParseException](
      Parser.parse("SELECT cpu /* never closed FROM dom.events"))
  }

  test("compiler: LEFT OUTER JOIN null-extends unmatched rows") {
    import org.apache.spark.sql.functions._
    // the >150 ON condition keeps some users matchless so the null
    // extension actually materializes on this corpus (error values top
    // out just above 200 at sf0.001); other users do match, so both
    // branches of the outer join are exercised
    val df = Compiler.compile(Parser.parse(
      "SELECT a.purchase.user, b.error FROM dom.events AS a " +
        "LEFT OUTER JOIN dom.events AS b " +
        "ON a.purchase.user = b.error.user AND b.error > 150.0"),
      (_: (String, String)) => fam)
    val purchases = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"))
    val errors = fam.filter(col("series") === "error" && col("value") > 150.0)
      .select(element_at(col("attributes"), "user").as("u"), col("value").as("v"))
    def key(u: String, v: Option[Double]) = s"$u|${v.getOrElse("null")}"
    val expected = purchases.join(errors, Seq("u"), "left").collect()
      .map(r => key(r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sorted.toSeq
    val got = df.collect()
      .map(r => key(r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sorted.toSeq
    assert(got == expected)
    assert(got.exists(_.endsWith("|null")),
      "corpus should contain purchases whose user never errored (null extension)")
    assert(got.exists(!_.endsWith("|null")), "some purchases should match")
  }

  test("a scalar subquery inside window arguments attaches before the " +
      "projection") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col => c, max, sum}
    val got = BoostQL.sql("SELECT click, sum(click + (SELECT max(purchase) " +
      "FROM dom.events)) OVER (ORDER BY ts) AS w FROM dom.events", _ => fam)
    val top = fam.filter(c("series") === "purchase").agg(max("value")).head().getDouble(0)
    val want = fam.filter(c("series") === "click").select(c("value"),
      sum(c("value") + top).over(Window.orderBy("ts")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDouble(1), r.getDouble(0))).sorted.toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g.nonEmpty && g.length == w.length)
    g.zip(w).foreach { case ((gw, gc), (ww, wc)) =>
      assert(gc == wc && math.abs(gw - ww) <= 1e-9 * math.abs(ww), (gw, ww))
    }
  }

  test("parser rejects malformed input") {
    intercept[Parser.ParseException](Parser.parse("SELECT FROM dom.fam"))
    intercept[Parser.ParseException](Parser.parse("SELECT cpu FROM fam"))
    intercept[Parser.ParseException](Parser.parse("SELECT cpu FROM dom.fam WHERE cpu <"))
    // (a bare trailing identifier is a legal implicit alias)
    intercept[Parser.ParseException](Parser.parse("SELECT cpu FROM dom.fam AS f trailing"))
  }

  test("compiler: flagship select+where shape") {
    val df = Compiler.compile(
      Parser.parse("SELECT click.user, click FROM dom.events WHERE click < 100.0"), fam)
    assert(df.columns.toSeq == Seq("click_user", "click"))
    assert(df.count() > 0)
    assert(df.filter(org.apache.spark.sql.functions.col("click") >= 100.0).count() == 0)
  }

  test("compiler: executed JOIN matches manual DataFrame join") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT a.click.user, count(*) FROM dom.events AS a " +
        "JOIN dom.events AS b ON a.click.user = b.view.user " +
        "GROUP BY a.click.user ORDER BY a.click.user"),
      (_: (String, String)) => fam)
    val clicks = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "user").as("u"))
    val views = fam.filter(col("series") === "view")
      .select(element_at(col("attributes"), "user").as("u"))
    val expected = clicks.join(views, "u").groupBy("u").count()
      .orderBy("u").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("time-scoped execution bounds the window like the reference executor") {
    import java.sql.Timestamp
    val scoped = BoostQL.sql(
      "SELECT click, click.event_id FROM dom.events",
      (_: (String, String)) => fam,
      Timestamp.valueOf("2024-01-10 00:00:00"),
      Timestamp.valueOf("2024-01-12 00:00:00"))
    import org.apache.spark.sql.functions._
    val manual = fam.filter(col("series") === "click" &&
      col("ts") >= "2024-01-10" && col("ts") < "2024-01-12").count()
    assert(scoped.count() == manual && manual > 0)
  }

  test("parser + compiler: NOT connective (absent from the reference)") {
    val q = Parser.parse(
      "SELECT click FROM dom.events WHERE NOT (click < 50.0 OR click > 200.0)")
    assert(q.where.exists(_.isInstanceOf[NotE]))
    import org.apache.spark.sql.functions._
    val got = Compiler.compile(q, fam).count()
    val manual = fam.filter(col("series") === "click" &&
      !(col("value") < 50.0 || col("value") > 200.0)).count()
    assert(got == manual && got > 0)
    // NOT binds tighter than AND: NOT a = x AND b = parses as (NOT a=x) AND b
    val p = Parser.parse(
      "SELECT click FROM dom.events WHERE NOT click < 50.0 AND click < 200.0")
    assert(p.where.exists(_.isInstanceOf[AndE]))
  }

  test("compiler: `ts` names the time axis in query text") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT click, ts FROM dom.events " +
        "WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-12 00:00:00'"), fam)
    assert(df.columns.toSeq == Seq("click", "ts"))
    val manual = fam.filter(col("series") === "click" &&
      col("ts") >= "2024-01-10" && col("ts") < "2024-01-12").count()
    assert(df.count() == manual && manual > 0)
  }

  test("dialect ts bound reaches parquet stats on an append()-written family") {
    // the testdata adapter derives ts from a NANOS column, which blocks
    // stats pushdown by construction — families written by our own
    // layout carry a native timestamp, where the bound must push down
    import org.apache.spark.sql.functions._
    withTempRoot("graft-tsq") { root =>
      TimeSeriesTable.append(fam, root, "dom", "events")
      val stored = TimeSeriesTable.open(spark, "" + root, "dom", "events")
      val df = Compiler.compile(Parser.parse(
        "SELECT click, ts FROM dom.events " +
          "WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-12 00:00:00'"), stored)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"ts bound should reach parquet as a pushed filter:\n$plan")
      assert(df.count() > 0)
    }
  }

  test("compiler: attribute miss falls back to series tag") {
    import org.apache.spark.sql.functions._
    // env/dc exist only in tags; user exists only in attributes
    val df = Compiler.compile(Parser.parse(
      "SELECT click.user, click.env, click.dc FROM dom.events LIMIT 3"), fam)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(1) == "prod" && r.getString(2) == "dc2"))
    assert(rows.forall(r => r.getString(0) != null))
  }

  test("comparison coercion is ANSI (documented divergence from the reference)") {
    // int literal against double value column: numeric widening, not
    // the reference's left-operand-driven matrix
    val a = Compiler.compile(
      Parser.parse("SELECT click FROM dom.events WHERE click < 100"), fam)
    val b = Compiler.compile(
      Parser.parse("SELECT click FROM dom.events WHERE click < 100.0"), fam)
    assert(a.count() == b.count())
    // string attribute vs string literal: plain equality
    val c = Compiler.compile(
      Parser.parse("SELECT click FROM dom.events WHERE click.user = '7'"), fam)
    assert(c.count() > 0)
    // the reference's bool LT≡EQ quirk (logicalexpression.go:376-390) is
    // NOT reproduced: true < false is a real less-than (i.e. false)
    val d = Compiler.compile(
      Parser.parse("SELECT click FROM dom.events WHERE true < false"), fam)
    assert(d.count() == 0)
  }

  // ---- round-5 surface: NULL, arithmetic, aliases, DISTINCT ----------

  test("NULL three-valued semantics: = NULL matches nothing, IS NULL sees absence") {
    // `user` is present on every point; `region` exists on no point and
    // no tag → decodes to null (the reference's unset ResultSet cells)
    val eqNull = Compiler.compile(Parser.parse(
      "SELECT click FROM dom.events WHERE click.user = NULL"), fam)
    assert(eqNull.count() == 0)
    val neNull = Compiler.compile(Parser.parse(
      "SELECT click FROM dom.events WHERE click.user != NULL"), fam)
    assert(neNull.count() == 0, "x != NULL is unknown, not true")
    val isNull = Compiler.compile(Parser.parse(
      "SELECT click, click.region FROM dom.events WHERE click.region IS NULL"), fam)
    val isNotNull = Compiler.compile(Parser.parse(
      "SELECT click FROM dom.events WHERE click.user IS NOT NULL"), fam)
    val total = Compiler.compile(Parser.parse("SELECT click FROM dom.events"), fam).count()
    assert(isNull.count() == total && total > 0)
    assert(isNotNull.count() == total)
  }

  test("parser: arithmetic precedence and unary-minus folding") {
    val q = Parser.parse("SELECT cpu FROM dom.f WHERE cpu > cpu + mem * 2")
    q.where.get match {
      case Cmp(">", _, OArith("+", ORef(_), OArith("*", ORef(_), OLit(BInt(2))))) => ()
      case other => fail(s"* should bind tighter than +: $other")
    }
    // literal negation folds at parse time; field negation stays ONeg
    val n = Parser.parse("SELECT cpu FROM dom.f WHERE cpu > -5")
    assert(n.where.contains(Cmp(">", ORef(RawName(Seq("cpu"))), OLit(BInt(-5)))))
    val f = Parser.parse("SELECT -cpu AS neg FROM dom.f")
    assert(f.select.head == ExprItem(ONeg(ORef(RawName(Seq("cpu")))), "neg"))
  }

  test("parser: paren backtracking — arithmetic operand vs boolean group") {
    val arith = Parser.parse("SELECT cpu FROM dom.f WHERE (cpu + 1) > 2")
    assert(arith.where.exists(_.isInstanceOf[Cmp]))
    val group = Parser.parse("SELECT cpu FROM dom.f WHERE (cpu = 1) AND mem = 2")
    assert(group.where.exists(_.isInstanceOf[AndE]))
  }

  test("compiler: arithmetic expressions compile to column math") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT click, click * 2.0 + 1.0 AS scaled FROM dom.events WHERE click > click - 1.0"), fam)
    val rows = df.collect()
    val total = fam.filter(col("series") === "click").count()
    assert(rows.length == total && total > 0)
    assert(rows.forall(r => math.abs(r.getDouble(1) - (r.getDouble(0) * 2.0 + 1.0)) < 1e-9))
  }

  test("ORDER BY select alias sorts the aliased expression (no phantom series)") {
    // regression: `ORDER BY d` used to fabricate a series 'd' whose empty
    // frame annihilated the exact-ts join → silently zero rows
    val df = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click * 2.0 AS d FROM dom.events ORDER BY d DESC LIMIT 5"), fam)
    val got = df.collect().map(_.getDouble(1)).toSeq
    assert(got.nonEmpty, "alias ORDER BY must not empty the result")
    assert(got == got.sorted.reverse)
    // aggregate alias too: ORDER BY n = ORDER BY count(*)
    val agg = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) AS n FROM dom.events " +
        "GROUP BY purchase.user ORDER BY n DESC, purchase.user LIMIT 3"), fam)
    val counts = agg.collect().map(_.getLong(1)).toSeq
    assert(counts.nonEmpty && counts == counts.sorted.reverse)
  }

  test("DISTINCT dedups projected rows, then orders and limits") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT DISTINCT click.user FROM dom.events ORDER BY click.user LIMIT 5"), fam)
    val manual = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "user").as("u"))
      .distinct().orderBy("u").limit(5)
      .collect().map(_.getString(0)).toSeq
    assert(df.collect().map(_.getString(0)).toSeq == manual && manual.nonEmpty)
    // a non-selected ORDER BY key under DISTINCT is a compile error for
    // every item kind, not a runtime unresolved-column surprise
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT DISTINCT click.user FROM dom.events ORDER BY click"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT DISTINCT click.user FROM dom.events ORDER BY count(*)"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT DISTINCT click.user FROM dom.events ORDER BY click + 1.0"), fam)
    }
  }

  test("GROUP BY select alias groups by the aliased expression") {
    import org.apache.spark.sql.functions._
    // regression: GROUP BY half previously fabricated a phantom series
    // 'half' whose empty frame silently zeroed the result
    val df = Compiler.compile(Parser.parse(
      "SELECT click * 0.5 AS half, count(*) FROM dom.events " +
        "GROUP BY half ORDER BY half LIMIT 10"), fam)
    val manual = fam.filter(col("series") === "click")
      .groupBy((col("value") * 0.5).as("half")).agg(count(lit(1)).as("n"))
      .orderBy("half").limit(10)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    val got = df.collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(got == manual && got.nonEmpty)
    // HAVING still applies over the expression grouping
    val hv = Compiler.compile(Parser.parse(
      "SELECT purchase - purchase AS z, count(*) FROM dom.events " +
        "GROUP BY z HAVING count(*) > 1"), fam)
    val rows = hv.collect()
    assert(rows.length == 1 && rows.head.getDouble(0) == 0.0)
  }

  test("arithmetic over aggregates in SELECT and HAVING") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, sum(purchase) - min(purchase) AS spread " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING sum(purchase) * 2.0 > min(purchase) + 10.0 " +
        "ORDER BY purchase.user"), fam)
    val manual = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"), col("value"))
      .groupBy("u").agg(sum("value").as("s"), min("value").as("m"))
      .filter(col("s") * 2.0 > col("m") + 10.0)
      .select(col("u"), (col("s") - col("m")).as("spread"))
      .orderBy("u").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == manual && got.nonEmpty)
  }

  test("GROUP BY validation reaches inside ExprItems") {
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT click + 1.0 AS c, count(*) FROM dom.events GROUP BY click.user"), fam)
    }
  }

  test("parser: RIGHT/FULL outer join forms") {
    val r = Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f1 AS a RIGHT JOIN dom.f2 AS b ON a.cpu.host = b.mem.host")
    assert(r.joins.head.joinType == "right")
    val ro = Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f1 AS a RIGHT OUTER JOIN dom.f2 AS b ON a.cpu.host = b.mem.host")
    assert(ro.joins.head.joinType == "right")
    val f = Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f1 AS a FULL OUTER JOIN dom.f2 AS b ON a.cpu.host = b.mem.host")
    assert(f.joins.head.joinType == "full")
    intercept[Parser.ParseException](
      Parser.parse("SELECT a.cpu FROM dom.f1 AS a RIGHT dom.f2 AS b ON a.cpu = b.cpu"))
  }

  test("compiler: RIGHT JOIN mirrors LEFT; FULL extends both sides") {
    // RIGHT: every error row survives; purchases only where matched
    val right = Compiler.compile(Parser.parse(
      "SELECT a.purchase, b.error.event_id, b.error FROM dom.events AS a " +
        "RIGHT JOIN dom.events AS b ON a.purchase.user = b.error.user " +
        "AND a.purchase > 300.0"),
      (_: (String, String)) => fam)
    val mirror = Compiler.compile(Parser.parse(
      "SELECT a.purchase, b.error.event_id, b.error FROM dom.events AS b " +
        "LEFT JOIN dom.events AS a ON a.purchase.user = b.error.user " +
        "AND a.purchase > 300.0"),
      (_: (String, String)) => fam)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until 3).map(i => if (r.isNullAt(i)) "null" else r.get(i).toString)
        .mkString("|")).sorted.toSeq
    assert(keyed(right) == keyed(mirror) && keyed(right).nonEmpty)
    assert(keyed(right).exists(_.startsWith("null|")), "unmatched errors null-extend")
    // FULL: both null-extension directions present (threshold 150, not
    // 250 — error values top out just above 200 at sf0.001)
    val full = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, b.error.event_id FROM dom.events AS a " +
        "FULL OUTER JOIN dom.events AS b ON a.purchase.user = b.error.user " +
        "AND b.error > 150.0"),
      (_: (String, String)) => fam)
    val rows = full.collect()
    assert(rows.exists(_.isNullAt(0)) && rows.exists(_.isNullAt(1)))
    assert(rows.exists(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("ORDER BY ordinal names a select position") {
    val df = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click FROM dom.events ORDER BY 2 DESC LIMIT 5"), fam)
    val got = df.collect().map(_.getDouble(1)).toSeq
    assert(got.nonEmpty && got == got.sorted.reverse)
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT click FROM dom.events ORDER BY 3"), fam)
    }
  }

  test("parser rejects keywords as aliases") {
    intercept[Parser.ParseException](Parser.parse("SELECT cpu AS from FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse("SELECT cpu AS select FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse("SELECT cpu FROM dom.f AS where"))
  }

  test("multi-source: arithmetic across aliases + ORDER BY alias/output name") {
    // cross-alias arithmetic in an ExprItem, ordered by its alias — the
    // alias-resolution rewrite must work when refs are alias-qualified
    val df = Compiler.compile(Parser.parse(
      "SELECT a.click.user, a.click - b.view AS d FROM dom.events AS a " +
        "JOIN dom.events AS b ON a.click.user = b.view.user " +
        "ORDER BY d DESC LIMIT 10"),
      (_: (String, String)) => fam)
    val got = df.collect().map(_.getDouble(1)).toSeq
    assert(got.nonEmpty && got == got.sorted.reverse)
    // ORDER BY a prefixed output name (a_click) resolves to the field,
    // not a phantom series
    val byOut = Compiler.compile(Parser.parse(
      "SELECT a.click, b.view FROM dom.events AS a " +
        "JOIN dom.events AS b ON a.click.user = b.view.user " +
        "ORDER BY a_click LIMIT 10"),
      (_: (String, String)) => fam)
    val vals = byOut.collect().map(_.getDouble(0)).toSeq
    assert(vals.nonEmpty && vals == vals.sorted)
  }

  test("parser: IN / BETWEEN / LIKE forms (prefix and infix NOT)") {
    val in = Parser.parse("SELECT cpu FROM dom.f WHERE cpu IN (1, 2 + 1, mem)")
    in.where.get match {
      case InE(ORef(_), Seq(OLit(BInt(1)), OArith("+", _, _), ORef(_)), false) => ()
      case other => fail(s"IN should take arbitrary operands: $other")
    }
    assert(Parser.parse("SELECT cpu FROM dom.f WHERE cpu NOT IN (1)")
      .where.contains(InE(ORef(RawName(Seq("cpu"))), Seq(OLit(BInt(1))), true)))
    // BETWEEN's AND binds tighter than the boolean AND
    val bt = Parser.parse(
      "SELECT cpu FROM dom.f WHERE cpu BETWEEN 1 AND 5 AND mem = 2")
    bt.where.get match {
      case AndE(BetweenE(_, OLit(BInt(1)), OLit(BInt(5)), false), Cmp("=", _, _)) => ()
      case other => fail(s"BETWEEN..AND must bind tighter: $other")
    }
    assert(Parser.parse("SELECT h FROM dom.f WHERE h.user NOT LIKE 'a_c%'")
      .where.exists { case LikeE(_, "a_c%", true) => true; case _ => false })
    // prefix NOT still composes with the new predicates
    assert(Parser.parse("SELECT cpu FROM dom.f WHERE NOT cpu IN (1)")
      .where.exists(_.isInstanceOf[NotE]))
    intercept[Parser.ParseException](
      Parser.parse("SELECT cpu FROM dom.f WHERE cpu NOT > 1"))
    intercept[Parser.ParseException](
      Parser.parse("SELECT cpu FROM dom.f WHERE cpu LIKE 5"))
  }

  test("IN/BETWEEN/LIKE semantics: inclusive ends, NOT IN + NULL trap, wildcards") {
    def cnt(q: String): Long = Compiler.compile(Parser.parse(q), fam).count()
    val total = cnt("SELECT click FROM dom.events")
    assert(total > 0)
    // BETWEEN is inclusive both ends — complement partitions exactly
    val in = cnt("SELECT click FROM dom.events WHERE click BETWEEN 100.0 AND 200.0")
    val out = cnt("SELECT click FROM dom.events WHERE click NOT BETWEEN 100.0 AND 200.0")
    assert(in + out == total)
    val edge = cnt("SELECT click FROM dom.events WHERE click BETWEEN click AND click")
    assert(edge == total, "x BETWEEN x AND x must match every row")
    // ANSI NOT IN trap: a NULL element makes non-matches unknown → nothing
    assert(cnt("SELECT click FROM dom.events WHERE click.user NOT IN ('3', NULL)") == 0)
    assert(cnt("SELECT click FROM dom.events WHERE click.user IN ('3', NULL)") ==
      cnt("SELECT click FROM dom.events WHERE click.user = '3'"))
    // LIKE: % spans, _ is exactly one char; users are '0'..'14' at sf0.001
    assert(cnt("SELECT click FROM dom.events WHERE click.user LIKE '1%'") ==
      cnt("SELECT click FROM dom.events WHERE click.user = '1'") +
      cnt("SELECT click FROM dom.events WHERE click.user LIKE '1_'"))
    assert(cnt("SELECT click FROM dom.events WHERE click.user LIKE '_'") ==
      cnt("SELECT click FROM dom.events WHERE click.user NOT LIKE '__'"))
  }

  test("testdata cache evicts and repopulates") {
    assert(BoostQL.onTestdata(spark, sfDir)(
      "SELECT click FROM dom.events LIMIT 1").count() == 1)
    BoostQL.evictTestdataCache(Some(spark))
    assert(BoostQL.onTestdata(spark, sfDir)(
      "SELECT click FROM dom.events LIMIT 1").count() == 1)
  }

  test("compiler: multi-source requires aliases and qualified refs") {
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.cpu FROM dom.f1 AS a, dom.f2"), (_: (String, String)) => fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT cpu FROM dom.f1 AS a, dom.f2 AS b"), (_: (String, String)) => fam)
    }
  }

  test("window functions: OVER parses, executes, validates") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // parse shape
    val q = Parser.parse("SELECT rank() OVER (PARTITION BY cpu.host ORDER BY cpu DESC) AS r " +
      "FROM dom.f")
    assert(q.select.head match {
      case ExprItem(OWin("rank", Seq(), Seq(RawName(Seq("cpu", "host"))),
        Seq((RawName(Seq("cpu")), false, None)), None), "r") => true
      case _ => false
    })
    // execution vs a manual Window over the same frame
    val df = Compiler.compile(Parser.parse(
      "SELECT click.event_id, " +
        "row_number() OVER (PARTITION BY click.user ORDER BY click DESC, click.event_id) AS rn, " +
        "max(click) OVER (PARTITION BY click.user) AS mx " +
        "FROM dom.events ORDER BY click.event_id"), fam)
    val manual = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "event_id").as("eid"),
        element_at(col("attributes"), "user").as("u"), col("value"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("value").desc, col("eid").asc)))
      .withColumn("mx", max("value").over(Window.partitionBy("u")))
      .orderBy("eid")
      .collect().map(r => (r.getString(0), r.getInt(3), r.getDouble(4))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
      == manual && manual.nonEmpty)
    // ranking without window ORDER BY, window in WHERE, window + GROUP BY
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT rank() OVER (PARTITION BY click.user) FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT click FROM dom.events " +
          "WHERE row_number() OVER (ORDER BY click) = 1"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT click.user, count(*), rank() OVER (ORDER BY click.user) " +
          "FROM dom.events GROUP BY click.user"), fam)
    }
  }

  test("ASOF JOIN: latest right row at or before each left row's time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // hand-built family: purchases at 10:00/11:00 for user 1, clicks at
    // 09:30/10:30 (user 1) and 09:00 (user 2); purchase@10:00 -> click
    // @09:30, purchase@11:00 -> click@10:30
    val rows = Seq(
      ("purchase", t("2024-01-01 10:00:00"), 10.0, "1", "p1"),
      ("purchase", t("2024-01-01 11:00:00"), 20.0, "1", "p2"),
      ("purchase", t("2024-01-01 08:00:00"), 30.0, "2", "p3"), // before any click
      ("click",    t("2024-01-01 09:30:00"), 1.0, "1", "c1"),
      ("click",    t("2024-01-01 10:30:00"), 2.0, "1", "c2"),
      ("click",    t("2024-01-01 09:00:00"), 3.0, "2", "c3")
    ).toDF("series", "ts", "value", "u", "eid")
      .select(col("series"), col("ts"), col("value"),
        map(lit("dc"), lit("dc0")).as("tags"),
        map(lit("user"), col("u"), lit("event_id"), col("eid")).as("attributes"))
    val df = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user ORDER BY a.purchase.event_id"),
      (_: (String, String)) => rows)
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    // p3 (08:00, user 2) precedes user 2's only click -> dropped (inner)
    assert(got == Seq(("p1", "c1", 1.0), ("p2", "c2", 2.0)))
    // ts in ON is rejected; non-equi ON is rejected
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase FROM dom.events AS a ASOF JOIN dom.events AS b " +
          "ON a.ts = b.ts"), (_: (String, String)) => rows)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase FROM dom.events AS a ASOF JOIN dom.events AS b " +
          "ON a.purchase.user != b.click.user"), (_: (String, String)) => rows)
    }

    def asofVariant(q: String): Seq[(String, String, Double)] =
      Compiler.compile(Parser.parse(q), (_: (String, String)) => rows)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq

    // WITHIN drops matches farther than the tolerance from the anchor:
    // p1 -> c1 sits 30 min back (kept at 30+ min, dropped at <30);
    // BACKWARD spells the default explicitly
    assert(asofVariant(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF BACKWARD JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '30 minutes' " +
        "ORDER BY a.purchase.event_id") ==
      Seq(("p1", "c1", 1.0), ("p2", "c2", 2.0)))
    assert(asofVariant(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '29 minutes' " +
        "ORDER BY a.purchase.event_id") == Seq.empty)

    // FORWARD matches the earliest right row at or after the anchor:
    // p1@10:00 -> c2@10:30; p2@11:00 has no later click -> dropped;
    // p3@08:00 (user 2) -> c3@09:00
    assert(asofVariant(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF FORWARD JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user " +
        "ORDER BY a.purchase.event_id") ==
      Seq(("p1", "c2", 2.0), ("p3", "c3", 3.0)))
    // forward + tolerance: p3's next click is 60 min out — beyond 45
    assert(asofVariant(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF FORWARD JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '45 minutes' " +
        "ORDER BY a.purchase.event_id") == Seq(("p1", "c2", 2.0)))

    // NEAREST picks the closer direction per anchor: p1@10:00 sits
    // EXACTLY 30 min from both c1@09:30 and c2@10:30 — the tie prefers
    // backward (c1); p2 has only a backward candidate, p3 only forward
    assert(asofVariant(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF NEAREST JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user " +
        "ORDER BY a.purchase.event_id") ==
      Seq(("p1", "c1", 1.0), ("p2", "c2", 2.0), ("p3", "c3", 3.0)))
    // nearest + tolerance: p3's only candidate is 60 min out — beyond 45
    assert(asofVariant(
      "SELECT a.purchase.event_id, b.click.event_id, b.click " +
        "FROM dom.events AS a ASOF NEAREST JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN '45 minutes' " +
        "ORDER BY a.purchase.event_id") ==
      Seq(("p1", "c1", 1.0), ("p2", "c2", 2.0)))

    // malformed WITHIN intervals are CompileExceptions (interval text
    // validated in the compiler), non-string WITHIN a parse error —
    // including counts too long for a Long and products that would
    // overflow into a negative tolerance (silently matching nothing)
    for (bad <- Seq("'banana'", "'5 fortnights'", "'-3 minutes'", "''",
        "'99999999999999999999 days'", "'200000000000000 days'"))
      intercept[Compiler.CompileException] {
        Compiler.compile(Parser.parse(
          "SELECT a.purchase FROM dom.events AS a ASOF JOIN dom.events AS b " +
            s"ON a.purchase.user = b.click.user WITHIN $bad"),
          (_: (String, String)) => rows)
      }
    intercept[Parser.ParseException](Parser.parse(
      "SELECT a.purchase FROM dom.events AS a ASOF JOIN dom.events AS b " +
        "ON a.purchase.user = b.click.user WITHIN 5"))
  }

  test("LIMIT OFFSET pages over the total order; OFFSET needs LIMIT") {
    def ids(q: String): Seq[String] =
      Compiler.compile(Parser.parse(q), fam).collect().map(_.getString(0)).toSeq
    val all = ids("SELECT click.event_id FROM dom.events ORDER BY click.event_id LIMIT 30")
    val page2 = ids("SELECT click.event_id FROM dom.events ORDER BY click.event_id " +
      "LIMIT 10 OFFSET 10")
    assert(page2 == all.slice(10, 20) && page2.length == 10)
    // DISTINCT branch pages too
    val du = ids("SELECT DISTINCT click.user FROM dom.events ORDER BY click.user " +
      "LIMIT 3 OFFSET 2")
    val duAll = ids("SELECT DISTINCT click.user FROM dom.events ORDER BY click.user LIMIT 5")
    assert(du == duAll.drop(2))
    // bare OFFSET (no LIMIT) is trailing input — rejected
    intercept[Parser.ParseException] {
      Parser.parse("SELECT click FROM dom.events OFFSET 5")
    }
  }

  test("COUNT(DISTINCT x): parses, executes, rejected for other aggregates") {
    import org.apache.spark.sql.functions._
    assert(Parser.parse("SELECT count(DISTINCT cpu.host) FROM dom.f").select.head ==
      AggItem("count_distinct", Some(RawName(Seq("cpu", "host")))))
    intercept[Parser.ParseException] {
      Parser.parse("SELECT sum(DISTINCT cpu) FROM dom.f")
    }
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(DISTINCT purchase.event_id) AS n " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(DISTINCT purchase.event_id) > 1 ORDER BY purchase.user"), fam)
    val manual = fam.filter(col("series") === "purchase")
      .groupBy(element_at(col("attributes"), "user").as("u"))
      .agg(count_distinct(element_at(col("attributes"), "event_id")).as("n"))
      .filter(col("n") > 1).orderBy("u")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == manual)
    assert(manual.nonEmpty)
  }

  test("parser: scalar function calls and CAST forms") {
    val q = Parser.parse("SELECT upper(click.user) AS u FROM dom.events")
    assert(q.select.head ==
      ExprItem(OFn("upper", Seq(ORef(RawName(Seq("click", "user"))))), "u"))
    // nested calls + arithmetic arguments
    val n = Parser.parse(
      "SELECT concat(upper(click.user), '_x') FROM dom.events WHERE abs(click - 1.0) > 2.0")
    assert(n.select.head match {
      case ExprItem(OFn("concat", Seq(OFn("upper", _), OLit(BStr("_x")))), _) => true
      case _ => false
    })
    // CAST with AS inside the parens; target validated at compile time
    val c = Parser.parse("SELECT CAST(click AS int) AS ci FROM dom.events")
    assert(c.select.head == ExprItem(OCast(ORef(RawName(Seq("click"))), "int"), "ci"))
    // an ident followed by '(' is always a call — never a field ref
    intercept[Parser.ParseException](Parser.parse("SELECT upper( FROM dom.events"))
    // aggregate names keep their dedicated production (count(*) is OAgg)
    assert(Parser.parse("SELECT count(*) FROM dom.events").select.head == AggItem("count", None))
  }

  test("compiler: scalar functions map to codegen'd built-ins") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT click.user, upper(click.user) AS u, length(click.user) AS n, " +
        "concat(click.user, '!') AS bang, substr(click.user, 1, 1) AS h " +
        "FROM dom.events WHERE length(click.user) >= 1 ORDER BY click.user LIMIT 10"), fam)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getString(0)
      assert(r.getString(1) == u.toUpperCase)
      assert(r.getLong(2) == u.length.toLong)
      assert(r.getString(3) == u + "!")
      assert(r.getString(4) == u.substring(0, 1))
    }
    // math tier: CAST truncates toward zero, floor/ceil/sqrt/abs/mod/least
    val m = Compiler.compile(Parser.parse(
      "SELECT click, CAST(click AS int) AS ci, sqrt(abs(click)) AS rt, " +
        "least(click, 100.0) AS lo, mod(CAST(click AS int), 7) AS m7 " +
        "FROM dom.events LIMIT 50"), fam)
    m.collect().foreach { r =>
      val v = r.getDouble(0)
      assert(r.getLong(1) == v.toLong)
      assert(math.abs(r.getDouble(2) - math.sqrt(math.abs(v))) == 0.0)
      assert(r.getDouble(3) == math.min(v, 100.0))
      assert(r.getLong(4) == v.toLong % 7)
    }
    // unknown function and bad arity are compile errors with the allowlist
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse("SELECT frobnicate(click) FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse("SELECT upper(click, click) FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse("SELECT CAST(click AS decimal) FROM dom.events"), fam)
    }
    // round's 2-arg scale must be a literal
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse("SELECT round(click, click) FROM dom.events"), fam)
    }
  }

  test("functions compose with WHERE pushdown, grouping and aggregates") {
    import org.apache.spark.sql.functions._
    // function over an aggregate; function inside GROUP BY via alias
    val g = Compiler.compile(Parser.parse(
      "SELECT substr(click.user, 1, 1) AS pre, count(*) AS n, " +
        "round(sum(click), 1) AS tot FROM dom.events " +
        "GROUP BY pre ORDER BY pre"), fam)
    val rows = g.collect()
    assert(rows.nonEmpty)
    val manual = fam.filter(col("series") === "click")
      .groupBy(element_at(col("attributes"), "user").substr(1, 1).as("pre"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 1).as("tot"))
      .orderBy("pre").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      manual.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
    // WHERE with a function on one conjunct must not block pushdown of
    // the sibling series predicate — the scan still prunes by series
    val df = Compiler.compile(Parser.parse(
      "SELECT click FROM dom.events WHERE upper(click.user) = '3'"), fam)
    assert(df.collect().length ==
      Compiler.compile(Parser.parse(
        "SELECT click FROM dom.events WHERE click.user = '3'"), fam).collect().length)
  }

  test("subqueries: uncorrelated IN / NOT IN compile to semi/anti joins") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val hotUsers = ev.filter(col("event_type") === "error" && col("value") > 150.0)
      .select(col("user_id").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet

    val in = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, purchase.user FROM dom.events " +
        "WHERE purchase.user IN " +
        "(SELECT error.user FROM dom.events WHERE error > 150.0) " +
        "ORDER BY purchase.event_id"), fam).collect()
    assert(in.nonEmpty)
    assert(in.forall(r => hotUsers.contains(r.getString(1))))

    val notIn = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, purchase.user FROM dom.events " +
        "WHERE purchase.user NOT IN " +
        "(SELECT error.user FROM dom.events WHERE error > 150.0)"), fam).collect()
    assert(notIn.forall(r => !hotUsers.contains(r.getString(1))))
    // IN + NOT IN partition the purchases (no NULLs in this corpus)
    val total = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id FROM dom.events"), fam).count()
    assert(in.length + notIn.length == total)

    // ANSI trap: one NULL in the subquery output annihilates NOT IN
    val sombre = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id FROM dom.events WHERE purchase.user NOT IN " +
        "(SELECT nullif(error.user, error.user) FROM dom.events)"), fam)
    assert(sombre.count() == 0)
  }

  test("subqueries: correlated EXISTS / NOT EXISTS via equality pairs") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val hotUsers = ev.filter(col("event_type") === "error" && col("value") > 150.0)
      .select(col("user_id").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet

    val ex = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase.user FROM dom.events AS a " +
        "WHERE EXISTS (SELECT b.error FROM dom.events AS b " +
        "WHERE b.error.user = a.purchase.user AND b.error > 150.0) " +
        "ORDER BY a.purchase.event_id"), fam).collect()
    assert(ex.nonEmpty)
    assert(ex.forall(r => hotUsers.contains(r.getString(1))))

    val notEx = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase.user FROM dom.events AS a " +
        "WHERE NOT EXISTS (SELECT b.error FROM dom.events AS b " +
        "WHERE b.error.user = a.purchase.user AND b.error > 150.0)"), fam).collect()
    assert(notEx.forall(r => !hotUsers.contains(r.getString(1))))
    val total = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id FROM dom.events AS a"), fam).count()
    assert(ex.length + notEx.length == total)

    // correlated EXISTS agrees with the equivalent IN formulation
    val in = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase.user FROM dom.events AS a " +
        "WHERE a.purchase.user IN " +
        "(SELECT error.user FROM dom.events WHERE error > 150.0) " +
        "ORDER BY a.purchase.event_id"), fam).collect()
    assert(ex.map(_.getString(0)).toSeq == in.map(_.getString(0)).toSeq)
  }

  test("subqueries: uncorrelated EXISTS gates the whole result") {
    // a qualifying error exists → every purchase flows through
    val all = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id FROM dom.events " +
        "WHERE EXISTS (SELECT error FROM dom.events WHERE error > 150.0)"),
      fam).count()
    val total = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id FROM dom.events"), fam).count()
    assert(all == total)
    // no error above the max → nothing flows through
    val none = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id FROM dom.events " +
        "WHERE EXISTS (SELECT error FROM dom.events WHERE error > 99999.0)"),
      fam).count()
    assert(none == 0)
  }

  test("set operations: UNION ALL / UNION / INTERSECT / EXCEPT") {
    // UNION ALL keeps duplicates; UNION dedups
    val ua = Compiler.compile(Parser.parseStmt(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "UNION ALL SELECT purchase.user FROM dom.events WHERE purchase > 200.0"),
      fam).count()
    val u = Compiler.compile(Parser.parseStmt(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "UNION SELECT purchase.user FROM dom.events WHERE purchase > 200.0"),
      fam).count()
    val base = Compiler.compile(Parser.parse(
      "SELECT DISTINCT purchase.user FROM dom.events WHERE purchase > 200.0"),
      fam).count()
    val baseAll = Compiler.compile(Parser.parse(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0"),
      fam).count()
    assert(ua == 2 * baseAll)
    assert(u == base)

    // INTERSECT/EXCEPT partition the left side's distinct values
    val i = Compiler.compile(Parser.parseStmt(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "INTERSECT SELECT error.user FROM dom.events WHERE error > 150.0"),
      fam).collect().map(_.getString(0)).toSet
    val e = Compiler.compile(Parser.parseStmt(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "EXCEPT SELECT error.user FROM dom.events WHERE error > 150.0"),
      fam).collect().map(_.getString(0)).toSet
    assert((i & e).isEmpty && (i ++ e).size == base)

    // trailing ORDER BY/LIMIT page the whole compound (ordinal keys);
    // column names come from the LEFT branch
    val paged = Compiler.compile(Parser.parseStmt(
      "SELECT click.event_id, click FROM dom.events WHERE click > 240.0 " +
        "UNION ALL SELECT view.event_id, view FROM dom.events WHERE view > 240.0 " +
        "ORDER BY 2 DESC, 1 LIMIT 5"), fam)
    assert(paged.columns.toSeq == Seq("click_event_id", "click"))
    val vals = paged.collect().map(_.getDouble(1)).toSeq
    assert(vals == vals.sorted.reverse && vals.length <= 5)

    // INTERSECT binds tighter than UNION (ANSI precedence)
    val prec = Parser.parseStmt(
      "SELECT click FROM dom.events UNION SELECT view FROM dom.events " +
        "INTERSECT SELECT error FROM dom.events")
    prec match {
      case SetOpSpec("union", _: QuerySpec, SetOpSpec("intersect", _, _, _, _, _), _, _, _) => ()
      case other => fail(s"unexpected shape: $other")
    }

    // the ALL variants keep bag multiplicities: self EXCEPT ALL self is
    // empty, self INTERSECT ALL self keeps every duplicate (min = count)
    val ea = Compiler.compile(Parser.parseStmt(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "EXCEPT ALL SELECT purchase.user FROM dom.events WHERE purchase > 200.0"),
      fam).count()
    val ia = Compiler.compile(Parser.parseStmt(
      "SELECT purchase.user FROM dom.events WHERE purchase > 200.0 " +
        "INTERSECT ALL SELECT purchase.user FROM dom.events WHERE purchase > 200.0"),
      fam).count()
    assert(ea == 0 && ia == baseAll)
  }

  test("CASE WHEN: searched and simple forms, ELSE default, agg contexts") {
    // searched CASE with arithmetic in branches; NULL fall-through
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, " +
        "CASE WHEN purchase > 200.0 THEN 'high' WHEN purchase > 100.0 THEN 'mid' END AS tier " +
        "FROM dom.events ORDER BY purchase.event_id"), fam)
    val rows = df.collect()
    assert(rows.exists(_.getString(1) == "high"))
    assert(rows.exists(_.isNullAt(1)), "no-ELSE fall-through must be NULL")

    // simple form is sugar for equality conditions
    val simple = Compiler.compile(Parser.parse(
      "SELECT CASE purchase.user WHEN '7' THEN 1 ELSE 0 END AS is7, purchase.event_id " +
        "FROM dom.events ORDER BY purchase.event_id"), fam).collect()
    val searched = Compiler.compile(Parser.parse(
      "SELECT CASE WHEN purchase.user = '7' THEN 1 ELSE 0 END AS is7, purchase.event_id " +
        "FROM dom.events ORDER BY purchase.event_id"), fam).collect()
    assert(simple.map(_.getLong(0)).toSeq == searched.map(_.getLong(0)).toSeq)

    // CASE over aggregates in a grouped query (condition + value)
    val agged = Compiler.compile(Parser.parse(
      "SELECT purchase.user, CASE WHEN count(*) > 2 THEN sum(purchase) ELSE -1.0 END AS s " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    assert(agged.columns.toSeq == Seq("purchase_user", "s"))
    assert(agged.count() > 0)

    // GROUP BY validation reaches into CASE conditions: a bare field in
    // a WHEN condition that is not a grouping key is refused
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase.user, CASE WHEN purchase > 1.0 THEN count(*) ELSE 0 END AS c " +
          "FROM dom.events GROUP BY purchase.user"), fam)
    }
    // parse errors: CASE without WHEN / without END
    intercept[Parser.ParseException](
      Parser.parse("SELECT CASE END FROM dom.events"))
    intercept[Parser.ParseException](
      Parser.parse("SELECT CASE WHEN click > 1.0 THEN 2 FROM dom.events"))
  }

  test("expression aggregates: sum(CASE), avg(arith), HAVING, dedup") {
    import org.apache.spark.sql.functions.{col => c, sum => ssum, when => swhen}
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "sum(CASE WHEN purchase > 200.0 THEN 1 ELSE 0 END) AS n_high, " +
        "count(*) AS n " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    assert(df.columns.toSeq == Seq("purchase_user", "n_high", "n"))
    val manual = Tables.events(spark, sfDir)
      .filter(c("event_type") === "purchase")
      .groupBy(c("user_id").cast("string").as("u"))
      .agg(ssum(swhen(c("value") > 200.0, 1L).otherwise(0L)).as("nh"))
      .orderBy("u").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == manual)

    // the same expression aggregate in SELECT, HAVING and ORDER BY
    // compiles to ONE aggregate column (structural dedup)
    val having = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "sum(CASE WHEN purchase > 200.0 THEN 1 ELSE 0 END) AS n_high " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING sum(CASE WHEN purchase > 200.0 THEN 1 ELSE 0 END) > 1 " +
        "ORDER BY sum(CASE WHEN purchase > 200.0 THEN 1 ELSE 0 END) DESC, " +
        "purchase.user"), fam)
    val rows = having.collect()
    assert(rows.forall(_.getLong(1) > 1))
    val vals = rows.map(_.getLong(1)).toSeq
    assert(vals == vals.sorted.reverse)

    // arithmetic aggregate: avg(a - b) styles
    val arith = Compiler.compile(Parser.parse(
      "SELECT purchase.user, min(purchase * 2.0) AS m " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    assert(arith.columns.toSeq == Seq("purchase_user", "m"))
    assert(arith.count() > 0)

    // nested aggregates are refused loudly
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase.user, sum(count(*) + 1) AS bad " +
          "FROM dom.events GROUP BY purchase.user"), fam)
    }
    // expression aggregates in WHERE are refused like bare ones
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase FROM dom.events " +
          "WHERE sum(CASE WHEN purchase > 1.0 THEN 1 ELSE 0 END) > 1"), fam)
    }
  }

  test("stddev and variance aggregates") {
    import org.apache.spark.sql.functions.{col => c, var_samp}
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, stddev(purchase) AS sd, variance(purchase) AS v " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 1 ORDER BY purchase.user"), fam)
    assert(df.columns.toSeq == Seq("purchase_user", "sd", "v"))
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // sd is the square root of v (one extra correctly-rounded op)
    got.foreach { case (_, sd, v) =>
      assert(math.abs(sd - math.sqrt(v)) <= math.ulp(sd))
    }
    // the explicit-sums formula agrees with Spark's var_samp to
    // floating-point noise (they differ only in summation strategy)
    val expect = Tables.events(spark, sfDir)
      .filter(c("event_type") === "purchase")
      .groupBy(c("user_id").cast("string").as("u"))
      .agg(var_samp(c("value")).as("v"), org.apache.spark.sql.functions
        .count(c("value")).as("n"))
      .filter(c("n") > 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach { case (u, _, v) =>
      val e = expect(u)
      assert(math.abs(v - e) <= 1e-9 * math.max(1.0, math.abs(e)),
        s"user $u: $v vs $e")
    }
    // DISTINCT stays count-only
    intercept[Parser.ParseException] {
      Parser.parse("SELECT stddev(DISTINCT purchase) AS sd " +
        "FROM dom.events GROUP BY purchase.user")
    }
    // not a window function
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT stddev(purchase) OVER (PARTITION BY purchase.user) AS sd " +
          "FROM dom.events"), fam)
    }

    // median: exact sort-based, agrees with a driver-side sort
    val med = Compiler.compile(Parser.parse(
      "SELECT purchase.user, median(purchase) AS m " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val vals = Tables.events(spark, sfDir)
      .filter(c("event_type") === "purchase")
      .select(c("user_id").cast("string"), c("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1)
    vals.foreach { case (u, g) =>
      val sorted = g.map(_._2).sorted
      val n = sorted.length
      val exact =
        if (n % 2 == 1) sorted(n / 2)
        else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
      assert(med(u) == exact, s"user $u: ${med(u)} vs $exact")
    }
  }

  test("set operations: validation") {
    // ORDER BY on a non-last branch is refused
    intercept[Parser.ParseException] {
      Parser.parseStmt("SELECT click FROM dom.events ORDER BY click " +
        "UNION SELECT view FROM dom.events")
    }
    // branch width mismatch is a compile error
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parseStmt(
        "SELECT click, click.user FROM dom.events " +
          "UNION SELECT view FROM dom.events"), fam)
    }
    // compound ORDER BY key must be an output column or ordinal
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parseStmt(
        "SELECT click FROM dom.events UNION SELECT view FROM dom.events " +
          "ORDER BY nope"), fam)
    }
    // parse() (single-select API) refuses compounds loudly
    intercept[Parser.ParseException] {
      Parser.parse("SELECT click FROM dom.events UNION SELECT view FROM dom.events")
    }
  }

  test("window ntile / first_value / last_value") {
    val nt = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, ntile(4) OVER (ORDER BY purchase) AS q " +
        "FROM dom.events ORDER BY purchase.event_id"), fam).collect()
    assert(nt.map(_.getInt(1)).toSet == Set(1, 2, 3, 4))
    // first_value over an unbounded frame = the partition minimum's value
    val fv = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "first_value(purchase) OVER (PARTITION BY purchase.user ORDER BY purchase " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lo, " +
        "last_value(purchase) OVER (PARTITION BY purchase.user ORDER BY purchase " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS hi " +
        "FROM dom.events ORDER BY purchase.user"), fam).collect()
    assert(fv.forall(r => r.getDouble(1) <= r.getDouble(2)))
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT ntile(0) OVER (ORDER BY purchase) AS q FROM dom.events " +
          "WHERE purchase > 0.0"), fam)
    }
  }

  test("HAVING resolves select aliases (agg-expression and agg-name forms)") {
    // alias of an expression aggregate
    val viaAlias = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) AS cnt FROM dom.events " +
        "GROUP BY purchase.user HAVING cnt > 2 ORDER BY purchase.user"), fam)
      .collect().map(_.getString(0)).toSeq
    val direct = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) AS cnt FROM dom.events " +
        "GROUP BY purchase.user HAVING count(*) > 2 ORDER BY purchase.user"), fam)
      .collect().map(_.getString(0)).toSeq
    assert(viaAlias.nonEmpty && viaAlias == direct)
    // an AggItem's conventional output name also resolves
    val viaName = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) FROM dom.events " +
        "GROUP BY purchase.user HAVING count_star > 2 ORDER BY purchase.user"), fam)
      .collect().map(_.getString(0)).toSeq
    assert(viaName == direct)
    // aliases participate in HAVING arithmetic, same rows as the
    // spelled-out aggregates
    val arithAlias = Compiler.compile(Parser.parse(
      "SELECT purchase.user, sum(purchase) AS s, count(*) AS cnt " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING s / cnt > 50.0 ORDER BY purchase.user"), fam)
      .collect().map(_.getString(0)).toSeq
    val arithDirect = Compiler.compile(Parser.parse(
      "SELECT purchase.user, sum(purchase) AS s, count(*) AS cnt " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING sum(purchase) / count(*) > 50.0 ORDER BY purchase.user"), fam)
      .collect().map(_.getString(0)).toSeq
    assert(arithAlias.nonEmpty && arithAlias == arithDirect)
  }

  test("window ROWS frames: moving aggregates over ordered windows") {
    // trailing 3-row count per user, ordered by event time
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, " +
        "count(*) OVER (PARTITION BY purchase.user ORDER BY ts " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS w " +
        "FROM dom.events ORDER BY purchase.event_id"), fam).collect()
    assert(df.nonEmpty)
    // a trailing window of width 3 counts 1..3
    assert(df.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
    // running (unbounded-preceding) max is monotone within each user
    val run = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase.event_id, " +
        "max(purchase) OVER (PARTITION BY purchase.user ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m " +
        "FROM dom.events ORDER BY purchase.user, purchase.event_id"),
      fam).collect()
    run.groupBy(_.getString(0)).values.foreach { rows =>
      // event ids don't follow ts order; just assert the overall max is
      // reached and values never exceed it
      val mx = rows.map(_.getDouble(2)).max
      assert(rows.forall(_.getDouble(2) <= mx))
    }
    // validation: frame without ORDER BY, frame on a ranking function,
    // inverted bounds
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT sum(purchase) OVER (PARTITION BY purchase.user " +
          "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT row_number() OVER (ORDER BY ts " +
          "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r FROM dom.events " +
          "WHERE purchase > 0.0"), fam)
    }
    intercept[Parser.ParseException] {
      Parser.parse("SELECT sum(purchase) OVER (ORDER BY ts " +
        "ROWS BETWEEN CURRENT ROW AND 1 PRECEDING) AS s FROM dom.events")
    }
  }

  test("COUNT(DISTINCT expr) over computed expressions") {
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "count(DISTINCT CAST(purchase / 100.0 AS int)) AS buckets " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    assert(df.columns.toSeq == Seq("purchase_user", "buckets"))
    // every bucket count is at most the plain distinct-value count
    val plain = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(DISTINCT purchase) AS n " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.collect().foreach(r => assert(r.getLong(1) <= plain(r.getString(0))))
  }

  test("GROUP BY ordinal names a select position") {
    val byOrdinal = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) FROM dom.events " +
        "GROUP BY 1 ORDER BY 1"), fam).collect()
    val byName = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) FROM dom.events " +
        "GROUP BY purchase.user ORDER BY purchase.user"), fam).collect()
    assert(byOrdinal.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      byName.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // ordinal of an expression item groups by the aliased expression
    val expr = Compiler.compile(Parser.parse(
      "SELECT CAST(purchase / 100.0 AS int) AS bucket, count(*) " +
        "FROM dom.events GROUP BY 1 ORDER BY 1"), fam)
    assert(expr.columns.toSeq == Seq("bucket", "count_star"))
    assert(expr.count() > 0)
    intercept[Parser.ParseException](
      Parser.parse("SELECT purchase.user, count(*) FROM dom.events GROUP BY 3"))
    intercept[Parser.ParseException](
      Parser.parse("SELECT purchase.user, count(*) FROM dom.events GROUP BY 2"))
  }

  test("scalar subqueries: threshold filters via broadcast one-row join") {
    import org.apache.spark.sql.functions.{avg => savg, col => c}
    val ev = Tables.events(spark, sfDir)
    val meanPurchase = ev.filter(c("event_type") === "purchase")
      .agg(savg("value")).collect()(0).getDouble(0)
    val expected = ev.filter(c("event_type") === "purchase" &&
      c("value") > meanPurchase).count()

    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, purchase FROM dom.events " +
        "WHERE purchase > (SELECT avg(purchase) FROM dom.events)"), fam)
    assert(df.count() == expected)

    // scalar sub inside arithmetic; LIMIT 1 form with ORDER BY
    val arith = Compiler.compile(Parser.parse(
      "SELECT purchase FROM dom.events " +
        "WHERE purchase > (SELECT max(purchase) FROM dom.events) / 2.0"), fam)
    assert(arith.count() > 0)
    val lim1 = Compiler.compile(Parser.parse(
      "SELECT purchase FROM dom.events WHERE purchase = " +
        "(SELECT purchase FROM dom.events ORDER BY purchase DESC LIMIT 1)"), fam)
    assert(lim1.count() >= 1)

    // validation: multi-row sub, and positions beyond WHERE/SELECT
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase FROM dom.events " +
          "WHERE purchase > (SELECT purchase FROM dom.events)"), fam)
    }
    intercept[Compiler.CompileException] { // ORDER BY position rejected
      Compiler.compile(Parser.parse(
        "SELECT purchase FROM dom.events " +
          "ORDER BY (SELECT max(purchase) FROM dom.events)"), fam)
    }
  }

  test("scalar subqueries in SELECT and correlated forms") {
    import org.apache.spark.sql.functions.{col => c, element_at, max => smax}
    // uncorrelated in SELECT: one broadcast value on every row
    val mx = fam.filter(c("series") === "click")
      .agg(smax("value")).collect()(0).getDouble(0)
    val sel = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, (SELECT max(click) FROM dom.events) AS mx " +
        "FROM dom.events ORDER BY purchase.event_id LIMIT 5"), fam)
    val rows = sel.collect()
    assert(rows.length == 5 && rows.forall(_.getDouble(1) == mx))
    // uncorrelated in SELECT of a GROUPED query: attaches post-agg
    val selAgg = Compiler.compile(Parser.parse(
      "SELECT purchase.user, count(*) AS n, " +
        "(SELECT max(click) FROM dom.events) AS mx " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    assert(selAgg.collect().forall(_.getDouble(2) == mx))

    // correlated max in WHERE: per-user threshold via groupBy + left join
    val perUserMaxErr = fam.filter(c("series") === "error")
      .select(element_at(c("attributes"), "user").as("u"), c("value"))
      .groupBy("u").agg(smax("value").as("m"))
    val expected = fam.filter(c("series") === "purchase")
      .select(element_at(c("attributes"), "user").as("u"), c("value"))
      .join(perUserMaxErr, Seq("u"), "left")
      .filter(c("value") < c("m")).count()
    val corr = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase FROM dom.events AS a " +
        "WHERE a.purchase < (SELECT max(b.error) FROM dom.events AS b " +
        "WHERE b.error.user = a.purchase.user)"), fam)
    assert(corr.count() == expected && expected > 0)

    // correlated COUNT in SELECT: empty groups coalesce to 0, not NULL
    val nclicks = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, " +
        "(SELECT count(b.click) FROM dom.events AS b " +
        "WHERE b.click.user = a.purchase.user AND b.click > 290.0) AS nc " +
        "FROM dom.events AS a ORDER BY a.purchase.event_id"), fam)
    val ncRows = nclicks.collect()
    assert(ncRows.forall(!_.isNullAt(1)), "COUNT must never be NULL")
    assert(ncRows.exists(_.getLong(1) == 0L), "some user has no click > 290")
    assert(ncRows.exists(_.getLong(1) > 0L), "some user has clicks > 290")

    // validation: a correlated sub must be a single bare aggregate, and
    // in a GROUPED outer query the correlation must ride a grouping key
    // (the grouped-on-key form itself is legal — covered in its own test)
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase FROM dom.events AS a " +
          "WHERE a.purchase < (SELECT max(b.error) + 1.0 FROM dom.events AS b " +
          "WHERE b.error.user = a.purchase.user)"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase.user, count(*) AS n, " +
          "(SELECT max(b.error) FROM dom.events AS b " +
          "WHERE b.error.event_id = a.purchase.event_id) AS m " +
          "FROM dom.events AS a GROUP BY a.purchase.user"), fam)
    }
  }

  test("an aggregate only in a CASE WHEN condition makes the query " +
      "aggregated, so a SELECT scalar subquery attaches after it") {
    def rows(q: String) = Compiler.compile(Parser.parse(q), fam)
      .collect().map(_.toSeq).toSeq
    val f = rows("SELECT CASE WHEN sum(click) > 0.0 THEN 1 ELSE 0 END AS f " +
      "FROM dom.events")
    val m = rows("SELECT max(purchase) AS m FROM dom.events")
    val both = rows("SELECT CASE WHEN sum(click) > 0.0 THEN 1 ELSE 0 END AS f, " +
      "(SELECT max(purchase) FROM dom.events) AS m FROM dom.events")
    assert(f.length == 1 && m.length == 1)
    assert(both == Seq(f.head ++ m.head))
  }

  test("a scalar subquery inside an aggregate argument attaches before " +
      "the aggregation") {
    import org.apache.spark.sql.functions._
    def rows(q: String) = Compiler.compile(Parser.parse(q), fam)
      .collect().map(_.toSeq).toSeq
    val avgPurchase = fam.filter(col("series") === "purchase")
      .agg(avg("value")).collect()(0).getDouble(0)
    val asLiteral = new java.math.BigDecimal(avgPurchase).toPlainString
    val viaSub = rows("SELECT max(CASE WHEN click > " +
      "(SELECT avg(purchase) FROM dom.events) THEN 1 ELSE 0 END) AS x, " +
      "sum(CASE WHEN click > (SELECT avg(purchase) FROM dom.events) " +
      "THEN 1 ELSE 0 END) AS n FROM dom.events")
    val viaLit = rows(s"SELECT max(CASE WHEN click > $asLiteral THEN 1 ELSE 0 END) " +
      s"AS x, sum(CASE WHEN click > $asLiteral THEN 1 ELSE 0 END) AS n " +
      "FROM dom.events")
    assert(viaSub == viaLit && viaLit.head(1) != 0L)
    // correlated, in a grouped query: the sub joins on the
    // pre-aggregation key, so each user's clicks compare against that
    // user's own average purchase
    val perUser = rows("SELECT a.click.user, sum(CASE WHEN a.click > " +
      "(SELECT avg(b.purchase) FROM dom.events AS b " +
      "WHERE b.purchase.user = a.click.user) THEN 1 ELSE 0 END) AS n " +
      "FROM dom.events AS a GROUP BY a.click.user ORDER BY a.click.user")
    val userAvg = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"), col("value"))
      .groupBy("u").agg(avg("value").as("m"))
    val expected = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "user").as("u"), col("value"))
      .join(userAvg, Seq("u"), "left")
      .groupBy("u")
      .agg(sum(when(col("value") > col("m"), 1).otherwise(0)).as("n"))
      .orderBy("u").collect().map(_.toSeq).toSeq
    assert(perUser == expected && expected.exists(_(1) != 0L))
  }

  test("subqueries: validation errors") {
    // not a top-level conjunct (under OR)
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase FROM dom.events WHERE purchase > 5.0 OR " +
          "purchase.user IN (SELECT error.user FROM dom.events)"), fam)
    }
    // IN subquery must project exactly one item
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT purchase FROM dom.events WHERE purchase.user IN " +
          "(SELECT error.user, error FROM dom.events)"), fam)
    }
    // outer references allowed only in the sub's WHERE
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase FROM dom.events AS a WHERE EXISTS " +
          "(SELECT a.purchase FROM dom.events AS b WHERE b.error > 1.0)"), fam)
    }
    // non-equality correlation is refused
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase FROM dom.events AS a WHERE EXISTS " +
          "(SELECT b.error FROM dom.events AS b WHERE b.error.user != a.purchase.user)"), fam)
    }
    // correlated subs cannot aggregate (v1 restriction, loud not silent)
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT a.purchase FROM dom.events AS a WHERE EXISTS " +
          "(SELECT count(*) FROM dom.events AS b " +
          "WHERE b.error.user = a.purchase.user GROUP BY b.error.user)"), fam)
    }
  }

  test("IN subquery honors ORDER BY + LIMIT (top-N membership, not arbitrary)") {
    import org.apache.spark.sql.functions.{col => c, element_at}
    // the top-3 errors by value define the membership set — before the
    // round-8 fix the sub's ORDER BY was stripped while its LIMIT was
    // kept, testing against an arbitrary 3 rows
    val top3 = fam.filter(c("series") === "error")
      .select(element_at(c("attributes"), "event_id").as("eid"), c("value"))
      .orderBy(c("value").desc, c("eid")).limit(3)
      .collect().map(_.getString(0)).toSet
    val df = Compiler.compile(Parser.parse(
      "SELECT error.event_id FROM dom.events WHERE error.event_id IN " +
        "(SELECT error.event_id FROM dom.events ORDER BY error DESC, error.event_id LIMIT 3)"), fam)
    assert(df.collect().map(_.getString(0)).toSet == top3)
  }

  test("HAVING can reference a GROUP BY expression alias") {
    // the alias names a grouping entry: HAVING must read the grouping
    // output column back, not re-expand the expression whose base
    // columns are gone post-aggregation (round-8 ADVICE fix)
    val df = Compiler.compile(Parser.parse(
      "SELECT CAST(click / 100.0 AS int) AS b, count(*) AS n " +
        "FROM dom.events GROUP BY b HAVING b > 1 ORDER BY b"), fam)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) > 1))
  }

  test("time-series functions: bucket/delta/rate/locf on the SQL front") {
    import org.apache.spark.sql.functions.{col => c, element_at, lag => slag, unix_micros}
    import org.apache.spark.sql.expressions.Window
    // bucket(): epoch-aligned hourly floor, GROUP BY the full expression
    // (the count(click) argument pins the frame to the click series)
    val bucketed = Compiler.compile(Parser.parse(
      "SELECT CAST(bucket(ts, '1 hour') AS int) AS h, count(click) AS n " +
        "FROM dom.events GROUP BY CAST(bucket(ts, '1 hour') AS int) ORDER BY h"), fam)
    val expected = fam.filter(c("series") === "click")
      .groupBy(((unix_micros(c("ts")) - unix_micros(c("ts")) % 3600000000L)
        / 1000000L).cast("long").as("h"))
      .count().orderBy("h")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed.columns.toSeq == Seq("h", "n"))
    assert(bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expected)
    // delta(): matches a manual lag over the ts order
    val d = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click, delta(click) AS d FROM dom.events " +
        "ORDER BY click.event_id"), fam)
    val manual = fam.filter(c("series") === "click")
      .select(element_at(c("attributes"), "event_id").as("eid"),
        c("value"), (c("value") - slag(c("value"), 1).over(Window.orderBy("ts"))).as("d"))
      .orderBy("eid")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val got = d.collect().map(r => (r.getString(0), r.getDouble(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == manual)
    // locf carries the last non-null forward: never null after the first
    // qualifying row per the axis
    val l = Compiler.compile(Parser.parse(
      "SELECT view.event_id, locf(CASE WHEN view > 100.0 THEN view END) AS f " +
        "FROM dom.events ORDER BY view.event_id"), fam)
    assert(l.filter(c("f").isNotNull).count() > 0)

    // interp(): gap rows land strictly between their neighboring
    // observations (linear fill, no extrapolation past the edges)
    val ip = Compiler.compile(Parser.parse(
      "SELECT view.event_id, view, " +
        "interp(CASE WHEN view > 100.0 THEN view END) AS f " +
        "FROM dom.events ORDER BY view.event_id"), fam)
      .collect().map(r => (r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // observed rows pass through untouched
    assert(ip.collect { case (v, Some(f)) if v > 100.0 => v == f }.forall(identity))
    // at least one gap was filled, and fills stay within the series range
    val fills = ip.collect { case (v, Some(f)) if v <= 100.0 => f }
    assert(fills.nonEmpty)
    val obs = ip.collect { case (v, _) if v > 100.0 => v }
    assert(fills.forall(f => f >= obs.min && f <= obs.max))

    // misuse pins
    intercept[Compiler.CompileException] { // first arg must be the ts axis
      Compiler.compile(Parser.parse(
        "SELECT bucket(click, '5 minutes') AS b FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // weeks are not fixed-width
      Compiler.compile(Parser.parse(
        "SELECT CAST(bucket(ts, '2 weeks') AS int) AS b, count(*) AS n " +
          "FROM dom.events GROUP BY b"), fam)
    }
    intercept[Compiler.CompileException] { // rate is a window fn: no WHERE
      Compiler.compile(Parser.parse(
        "SELECT click FROM dom.events WHERE rate(click) > 0.0"), fam)
    }
    intercept[Compiler.CompileException] { // window fns don't mix with GROUP BY
      Compiler.compile(Parser.parse(
        "SELECT click.user, delta(click) AS d FROM dom.events " +
          "GROUP BY click.user"), fam)
    }
    intercept[Parser.ParseException] { // GROUP BY expr must match a select item
      Parser.parse("SELECT click.user FROM dom.events GROUP BY bucket(ts, '1 hour')")
    }

    // partitioned form: OVER carries PARTITION BY only; time order is
    // implicit, so a window ORDER BY or frame is a loud error
    val perUser = Compiler.compile(Parser.parse(
      "SELECT click.event_id, delta(click) OVER (PARTITION BY click.user) AS d " +
        "FROM dom.events ORDER BY click.event_id"), fam)
    assert(perUser.count() > 0)
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT delta(click) OVER (PARTITION BY click.user ORDER BY click) AS d " +
          "FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] {
      Compiler.compile(Parser.parse(
        "SELECT delta(click) OVER (PARTITION BY click.user " +
          "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS d FROM dom.events"), fam)
    }
  }

  test("ewma and zscore series functions") {
    import org.apache.spark.sql.functions.{col => c}
    // ewma: replay the recurrence on the driver over the per-user
    // ts-ordered series and demand bit-identical doubles
    val df = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click, " +
        "ewma(click, 0.25) OVER (PARTITION BY click.user) AS sm " +
        "FROM dom.events ORDER BY click.event_id"), fam)
    val rows = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click, click.user FROM dom.events"), fam)
      .join(fam.filter(c("series") === "click")
        .select(org.apache.spark.sql.functions.element_at(
          c("attributes"), "event_id").as("click_event_id"), c("ts")),
        "click_event_id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2),
        r.getTimestamp(3).getTime))
    val expect = rows.groupBy(_._3).iterator.flatMap { case (_, g) =>
      var y = Option.empty[Double]
      g.sortBy(_._4).map { case (id, x, _, _) =>
        y = Some(y.fold(x)(p => 0.25 * x + 0.75 * p)); (id, y.get)
      }
    }.toMap
    val got = df.collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(got.nonEmpty && got.size == expect.size)
    assert(got.forall { case (id, v) => expect(id) == v })

    // zscore over a partition standardizes: per-user mean ~ 0
    val z = Compiler.compile(Parser.parse(
      "SELECT click.user, zscore(CAST(click * 100.0 AS int)) " +
        "OVER (PARTITION BY click.user) AS z FROM dom.events"), fam)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val perUser = z.groupBy(_._1).map { case (_, g) => g.map(_._2).sum / g.size }
    assert(perUser.forall(m => math.abs(m) < 1e-9))

    // validation pins
    intercept[Compiler.CompileException] { // alpha out of range
      Compiler.compile(Parser.parse(
        "SELECT ewma(click, 1.5) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // alpha must be a literal
      Compiler.compile(Parser.parse(
        "SELECT ewma(click, click) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // arity
      Compiler.compile(Parser.parse(
        "SELECT ewma(click) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // zscore takes one arg
      Compiler.compile(Parser.parse(
        "SELECT zscore(click, 2) AS z FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // no window ORDER BY
      Compiler.compile(Parser.parse(
        "SELECT zscore(click) OVER (PARTITION BY click.user ORDER BY click) " +
          "AS z FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // no frames
      Compiler.compile(Parser.parse(
        "SELECT ewma(click, 0.5) OVER (PARTITION BY click.user " +
          "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // not a predicate
      Compiler.compile(Parser.parse(
        "SELECT click FROM dom.events WHERE zscore(click) > 1.0"), fam)
    }
  }

  test("histogram_quantile: cumulative walk + uniform interpolation") {
    // 4 unit buckets over [0, 4), one count each: quantiles interpolate
    // to q*4 exactly; q=0 lands on the first nonempty bucket's left
    // edge, q=1 on the last one's right edge
    def hq(h: String, q: Double, lo: Int, hi: Int): Option[Double] = {
      val r = Compiler.compile(Parser.parse(
        s"SELECT click, histogram_quantile('$h', $q, $lo, $hi) AS v " +
          "FROM dom.events LIMIT 1"), fam).collect()(0)
      if (r.isNullAt(1)) None else Some(r.getDouble(1))
    }
    assert(hq("1,1,1,1", 0.5, 0, 4) == Some(2.0))
    assert(hq("1,1,1,1", 0.0, 0, 4) == Some(0.0))
    assert(hq("1,1,1,1", 1.0, 0, 4) == Some(4.0))
    assert(hq("1,1,1,1", 0.25, 0, 4) == Some(1.0))
    // skew: all mass in the second bucket of [0, 2) → median mid-bucket
    assert(hq("0,4", 0.5, 0, 2) == Some(1.5))
    // empty histogram, and q outside [0, 1]: NULL
    assert(hq("0,0,0,0", 0.5, 0, 4).isEmpty)
    assert(hq("1,1", 1.5, 0, 4).isEmpty)
    assert(hq("1,1", -0.1, 0, 4).isEmpty)
    // empty leading buckets are skipped, not interpolated into: the
    // first quartile target (1 of 4) falls halfway into bucket [4, 6)
    assert(hq("0,0,2,2", 0.25, 0, 8) == Some(5.0))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT histogram_quantile('1,1', 0.5) AS v FROM dom.events"), fam))
  }

  test("histogram_merge: elementwise sum of partials equals the direct histogram") {
    // two-level rollup vs one pass over the same rows — the integer
    // merge law makes them EQUAL, not approximately equal
    val direct = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8) AS h " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val merged = Compiler.compile(Parser.parse(
      "WITH dd AS (SELECT purchase.user AS u, bucket(ts, '1 day') AS dy, " +
        "histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8) AS dh " +
        "FROM dom.events GROUP BY u, dy) " +
        "SELECT u, histogram_merge(dh, 8) AS h FROM dd GROUP BY u ORDER BY u"),
      fam).collect().map(r => (r.getString(0), r.getString(1)))
    assert(direct.nonEmpty && direct.toSeq == merged.toSeq)
    // a short partial contributes nothing to its missing bins (no ANSI
    // index error); bin count is validated at parse
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram_merge(h, 0) FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram_merge(h, 257) FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram_merge(h) FROM dom.f"))
    // runtime guard: a partial whose bin count differs from the nbins
    // literal would silently truncate — the merged result is NULL
    // instead of skewed counts (all-null groups keep the zero bins)
    val mismatched = Compiler.compile(Parser.parse(
      "WITH dd AS (SELECT purchase.user AS u, bucket(ts, '1 day') AS dy, " +
        "histogram(CAST(purchase * 100.0 AS int), 0, 25000, 8) AS dh " +
        "FROM dom.events GROUP BY u, dy) " +
        "SELECT u, histogram_merge(dh, 4) AS h FROM dd GROUP BY u ORDER BY u"),
      fam).collect()
    assert(mismatched.nonEmpty && mismatched.forall(_.isNullAt(1)))
  }

  test("holt: level+trend smoothing matches the driver-replayed recurrence") {
    import org.apache.spark.sql.functions.{col => c}
    val df = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click, " +
        "holt(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS lv, " +
        "holt_forecast(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS fc " +
        "FROM dom.events ORDER BY click.event_id"), fam)
    val rows = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click, click.user FROM dom.events"), fam)
      .join(fam.filter(c("series") === "click")
        .select(org.apache.spark.sql.functions.element_at(
          c("attributes"), "event_id").as("click_event_id"), c("ts")),
        "click_event_id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2),
        r.getTimestamp(3).getTime))
    val expect = rows.groupBy(_._3).iterator.flatMap { case (_, g) =>
      var st = Option.empty[(Double, Double)]
      g.sortBy(_._4).map { case (id, x, _, _) =>
        st = Some(st.fold((x, 0.0)) { case (l, b) =>
          val ln = 0.5 * x + 0.5 * (l + b)
          (ln, 0.25 * (ln - l) + 0.75 * b)
        })
        (id, st.get)
      }
    }.toMap
    val got = df.collect()
      .map(r => (r.getString(0), (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.nonEmpty && got.size == expect.size)
    // bit-identical level; forecast = level + trend exactly
    assert(got.forall { case (id, (lv, fc)) =>
      val (l, b) = expect(id); lv == l && fc == l + b
    })
    // a constant series has zero trend: forecast == level == the value
    val const = Compiler.compile(Parser.parse(
      "SELECT holt(7.0, 0.5, 0.5) OVER (PARTITION BY click.user) AS lv, " +
        "holt_forecast(7.0, 0.5, 0.5) OVER (PARTITION BY click.user) AS fc " +
        "FROM dom.events"), fam).collect()
    assert(const.forall(r => r.getDouble(0) == 7.0 && r.getDouble(1) == 7.0))
    // beta = 0 degrades to single-exponential: holt == ewma exactly
    val eq = Compiler.compile(Parser.parse(
      "SELECT holt(click, 0.5, 0) OVER (PARTITION BY click.user) AS h, " +
        "ewma(click, 0.5) OVER (PARTITION BY click.user) AS e " +
        "FROM dom.events"), fam).collect()
    assert(eq.nonEmpty && eq.forall(r => r.getDouble(0) == r.getDouble(1)))
    // validation pins
    intercept[Compiler.CompileException] { // arity is three
      Compiler.compile(Parser.parse(
        "SELECT holt(click, 0.5) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // alpha = 0 invalid
      Compiler.compile(Parser.parse(
        "SELECT holt(click, 0, 0.5) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // beta out of range
      Compiler.compile(Parser.parse(
        "SELECT holt(click, 0.5, 1.5) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // beta must be a literal
      Compiler.compile(Parser.parse(
        "SELECT holt_forecast(click, 0.5, click) AS s FROM dom.events"), fam)
    }
  }

  test("SHOW PARTITIONS: metadata inventory matches the written layout; " +
      "read front and malformed shapes refuse") {
    import org.apache.spark.sql.functions.{col => c, to_date}
    withTempRoot("graft-showp") { root =>
      TimeSeriesTable.append(fam, root, "dom", "events")
      val inv = BoostQL.sqlShowPartitions("SHOW PARTITIONS dom.events", spark, root)
      val got = inv.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.nonEmpty && got.forall(_._1.startsWith("dt=")))
      // footer row totals equal the data's per-date counts
      val expect = fam.groupBy(to_date(c("ts")).cast("string").as("d")).count()
        .collect().map(r => ("dt=" + r.getString(0)) -> r.getLong(1)).toMap
      assert(got.map(t => t._1 -> t._4).toMap == expect)
      // bytes and file counts are positive on every partition
      assert(got.forall(t => t._2 > 0 && t._3 > 0))
      // a family that does not exist lists as empty, not an error
      assert(BoostQL.sqlShowPartitions(
        "SHOW PARTITIONS dom.nothing", spark, root).isEmpty)
      // the read front points at the warehouse entry point
      assert(intercept[Compiler.CompileException](BoostQL.sql(
          "SHOW PARTITIONS dom.events", _ => fam))
        .getMessage.contains("sqlShowPartitions"))
      // malformed shape refuses
      intercept[Compiler.CompileException](BoostQL.sqlShowPartitions(
        "SHOW PARTITIONS events", spark, root))
    }
  }

  test("holt_winters: seasonal smoothing learns a planted cycle, " +
      "degenerates to holt at gamma = 0, validates params") {
    // gamma = 0 freezes the (all-zero) seasonal slots: holt_winters
    // must equal plain holt bit for bit, fit and forecast both
    val eq = Compiler.compile(Parser.parse(
      "SELECT holt_winters(click, 0.5, 0.25, 0, 4) " +
        "OVER (PARTITION BY click.user) AS hw, " +
        "holt(click, 0.5, 0.25) OVER (PARTITION BY click.user) AS h, " +
        "holt_winters_forecast(click, 0.5, 0.25, 0, 4) " +
        "OVER (PARTITION BY click.user) AS hwf, " +
        "holt_forecast(click, 0.5, 0.25) " +
        "OVER (PARTITION BY click.user) AS hf " +
        "FROM dom.events"), fam).collect()
    assert(eq.nonEmpty && eq.forall(r =>
      r.getDouble(0) == r.getDouble(1) && r.getDouble(2) == r.getDouble(3)))
    // a planted period-4 cycle on a level series: after a few cycles
    // the one-step forecast must track the cycle far better than holt
    // (which reads the oscillation as trend noise)
    import spark.implicits._
    val cyc = Seq.tabulate(40) { i =>
      val ts = java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 4}%02d:${15 * (i % 4)}%02d:00")
      ("cyc", ts, 100.0 + Seq(0.0, 10.0, -5.0, -5.0)(i % 4),
        Map.empty[String, String], Map("i" -> i.toString))
    }.toDF("series", "ts", "value", "tags", "attributes")
    val out = Compiler.compile(Parser.parse(
      "SELECT cyc.i, cyc, " +
        "holt_winters_forecast(cyc, 0.5, 0.125, 0.5, 4) AS hwf, " +
        "holt_forecast(cyc, 0.5, 0.125) AS hf " +
        "FROM dom.cyc"), _ => cyc).collect()
      .map(r => (r.getString(0).toInt, r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // compare each forecast to the NEXT observation over the last 2 cycles
    val byI = out.map(t => t._1 -> t).toMap
    val errs = (31 until 39).map { i =>
      val next = byI(i + 1)._2
      (math.abs(byI(i)._3 - next), math.abs(byI(i)._4 - next))
    }
    val (hwErr, hErr) = (errs.map(_._1).sum, errs.map(_._2).sum)
    assert(hwErr < hErr / 2,
      s"seasonal forecast should beat holt on a planted cycle: $hwErr vs $hErr")
    // validation pins
    intercept[Compiler.CompileException] { // arity is five
      Compiler.compile(Parser.parse(
        "SELECT holt_winters(click, 0.5, 0.25, 0.25) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // period must be >= 2
      Compiler.compile(Parser.parse(
        "SELECT holt_winters(click, 0.5, 0.25, 0.25, 1) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // period capped at 24
      Compiler.compile(Parser.parse(
        "SELECT holt_winters(click, 0.5, 0.25, 0.25, 48) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // gamma out of range
      Compiler.compile(Parser.parse(
        "SELECT holt_winters(click, 0.5, 0.25, 1.5, 4) AS s FROM dom.events"), fam)
    }
  }

  test("session() assigns monotone per-partition session ids") {
    import org.apache.spark.sql.functions.{col => c}
    val df = Compiler.compile(Parser.parse(
      "SELECT click.event_id, click.user, " +
        "session(ts, '12 hours') OVER (PARTITION BY click.user) AS sid " +
        "FROM dom.events ORDER BY click.event_id"), fam)
    assert(df.columns.toSeq == Seq("click_event_id", "click_user", "sid"))
    // ids agree with the DataFrame-tier sessionize on the same key/gap
    val viaOps = graft.operators.TimeSeriesOps.sessionize(
      Tables.events(spark, sfDir).filter(c("event_type") === "click"),
      Seq("user_id"), "ts", Seq.empty, 12L * 3600)
      .select(c("event_id").cast("string"), c("session_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got == viaOps)

    // validation pins
    intercept[Compiler.CompileException] { // first arg must be ts
      Compiler.compile(Parser.parse(
        "SELECT session(click, '1 hour') AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // gap must be a duration literal
      Compiler.compile(Parser.parse(
        "SELECT session(ts, click) AS s FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // weeks are not fixed-width
      Compiler.compile(Parser.parse(
        "SELECT session(ts, '2 weeks') AS s FROM dom.events"), fam)
    }
  }

  test("RANGE interval window frames over the time axis") {
    import org.apache.spark.sql.functions.{col => c, element_at, sum => ssum, unix_micros}
    import org.apache.spark.sql.expressions.Window
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.event_id, " +
        "sum(CAST(purchase * 100.0 AS int)) OVER " +
        "(PARTITION BY purchase.user ORDER BY ts " +
        "RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW) AS cents " +
        "FROM dom.events ORDER BY purchase.event_id"), fam)
    val manual = fam.filter(c("series") === "purchase")
      .select(element_at(c("attributes"), "event_id").as("eid"),
        element_at(c("attributes"), "user").as("u"),
        (c("value") * 100.0).cast("long").as("cents0"),
        unix_micros(c("ts")).as("us"))
      .withColumn("cents", ssum(c("cents0")).over(
        Window.partitionBy("u").orderBy("us")
          .rangeBetween(-2L * 86400000000L, 0L)))
      .orderBy("eid")
      .collect().map(r => (r.getString(0), r.getLong(4))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == manual && got.nonEmpty)

    // validation pins: RANGE requires the ascending ts order key, an
    // aggregate function, and ordered windows; bounds must be sane
    intercept[Compiler.CompileException] { // non-ts order key
      Compiler.compile(Parser.parse(
        "SELECT sum(purchase) OVER (ORDER BY purchase.event_id " +
          "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) AS x " +
          "FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // DESC time axis
      Compiler.compile(Parser.parse(
        "SELECT sum(purchase) OVER (ORDER BY ts DESC " +
          "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) AS x " +
          "FROM dom.events"), fam)
    }
    intercept[Compiler.CompileException] { // framed rank is meaningless
      Compiler.compile(Parser.parse(
        "SELECT rank() OVER (ORDER BY ts " +
          "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) AS x " +
          "FROM dom.events WHERE purchase > 0.0"), fam)
    }
    intercept[Parser.ParseException] { // lower bound above upper
      Parser.parse("SELECT sum(purchase) OVER (ORDER BY ts " +
        "RANGE BETWEEN CURRENT ROW AND INTERVAL '1' HOUR PRECEDING) AS x " +
        "FROM dom.events")
    }
    intercept[Parser.ParseException] { // non-integer interval
      Parser.parse("SELECT sum(purchase) OVER (ORDER BY ts " +
        "RANGE BETWEEN INTERVAL '1.5' HOUR PRECEDING AND CURRENT ROW) AS x " +
        "FROM dom.events")
    }
    intercept[Parser.ParseException] { // week is not a fixed-width unit
      Parser.parse("SELECT sum(purchase) OVER (ORDER BY ts " +
        "RANGE BETWEEN INTERVAL '1' WEEK PRECEDING AND CURRENT ROW) AS x " +
        "FROM dom.events")
    }
  }

  test("backtick-quoted identifiers escape reserved words") {
    // parse tier: quoted keywords are plain identifiers
    val q = Parser.parse("SELECT `rows`, `current`.`all` FROM dom.f")
    assert(q.select == Seq(FieldItem(RawName(Seq("rows"))),
      FieldItem(RawName(Seq("current", "all")))))
    // quoted alias can even be a keyword
    val a = Parser.parse("SELECT cpu AS `from` FROM dom.f")
    assert(a.select == Seq(ExprItem(ORef(RawName(Seq("cpu"))), "from")))
    // compile tier: quoting is transparent for ordinary names
    val df = Compiler.compile(Parser.parse(
      "SELECT `purchase`.`user`, count(*) AS n FROM dom.events " +
        "GROUP BY `purchase`.`user` ORDER BY `purchase`.`user` LIMIT 5"), fam)
    assert(df.columns.toSeq == Seq("purchase_user", "n") && df.count() == 5)
    // unterminated / empty quotes are loud
    intercept[Parser.ParseException](Parser.parse("SELECT `oops FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse("SELECT `` FROM dom.f"))
  }

  test("GROUP BY ROLLUP / CUBE grouping sets") {
    // rollup = leaf groups + per-user subtotals + one grand total;
    // cube adds the (NULL, k) slice
    def rows(mode: String): Array[org.apache.spark.sql.Row] =
      Compiler.compile(Parser.parse(
        "SELECT purchase.user, purchase.k, count(*) AS n FROM dom.events " +
          s"WHERE purchase > 150.0 GROUP BY $mode(purchase.user, purchase.k) " +
          "ORDER BY purchase.user, purchase.k"), fam).collect()
    val plain = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase.k, count(*) AS n FROM dom.events " +
        "WHERE purchase > 150.0 GROUP BY purchase.user, purchase.k"), fam)
      .collect()
    val ru = rows("ROLLUP")
    val cu = rows("CUBE")
    val users = plain.map(_.getString(0)).distinct.length
    val ks = plain.map(_.getString(1)).distinct.length
    assert(ru.length == plain.length + users + 1)
    assert(cu.length == plain.length + users + ks + 1)
    // the grand total sorts first (NULLS FIRST) and sums every leaf
    assert(ru.head.isNullAt(0) && ru.head.isNullAt(1) &&
      ru.head.getLong(2) == plain.map(_.getLong(2)).sum)
    // ROLLUP/CUBE are contextual, not reserved: without parens they are
    // ordinary identifiers (a series named rollup still groups plainly)
    val q = Parser.parse("SELECT rollup, count(*) FROM dom.f GROUP BY rollup")
    assert(q.groupMode == "plain" && q.groupBy == Seq(RawName(Seq("rollup"))))
    // unclosed grouping-set list is loud
    intercept[Parser.ParseException](Parser.parse(
      "SELECT a, count(*) FROM dom.f GROUP BY ROLLUP(a"))
    // grouping() marks super-rows (1 = rolled up), and is refused
    // outside grouping sets / off grouping keys / argumentless
    val g = Compiler.compile(Parser.parse(
      "SELECT purchase.user, grouping(purchase.user) AS gu, count(*) " +
        "FROM dom.events WHERE purchase > 150.0 " +
        "GROUP BY ROLLUP(purchase.user) ORDER BY purchase.user"), fam)
      .collect()
    assert(g.head.isNullAt(0) && g.head.getByte(1) == 1.toByte &&
      g.tail.forall(_.getByte(1) == 0.toByte))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT purchase.user, grouping(purchase.user) AS gu, count(*) " +
        "FROM dom.events GROUP BY purchase.user"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT purchase.user, grouping(purchase.k) AS gk, count(*) " +
        "FROM dom.events GROUP BY ROLLUP(purchase.user)"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT purchase.user, grouping(*) AS gx, count(*) " +
        "FROM dom.events GROUP BY ROLLUP(purchase.user)"), fam))
  }

  test("agg FILTER (WHERE …) desugars to the CASE aggregate") {
    val q = Parser.parse(
      "SELECT count(*) FILTER (WHERE cpu > 1.0) AS n FROM dom.f")
    assert(q.select == Seq(ExprItem(OAggX("count",
      OCase(Seq((Cmp(">", ORef(RawName(Seq("cpu"))), OLit(BFloat(1.0))),
        OLit(BInt(1)))), None)), "n")))
    // execution parity against the spelled-out CASE form
    val filtered = Compiler.compile(Parser.parse(
      "SELECT purchase.user, sum(purchase) FILTER (WHERE purchase > 200.0) AS hi " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    val cased = Compiler.compile(Parser.parse(
      "SELECT purchase.user, sum(CASE WHEN purchase > 200.0 THEN purchase END) AS hi " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    assert(filtered.collect().toSeq == cased.collect().toSeq)
    // contextual: a field named filter still parses as a plain ref
    val f = Parser.parse("SELECT filter FROM dom.f WHERE filter > 1.0")
    assert(f.select == Seq(FieldItem(RawName(Seq("filter")))))
    // FILTER on window aggregates / DISTINCT aggregates is refused
    intercept[Parser.ParseException](Parser.parse(
      "SELECT sum(cpu) OVER (PARTITION BY host) FILTER (WHERE cpu > 1.0) FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT count(DISTINCT cpu) FILTER (WHERE cpu > 1.0) FROM dom.f"))
  }

  test("GROUP BY GROUPING SETS: explicit ANSI form") {
    // the rollup hierarchy spelled explicitly is row-identical to ROLLUP
    val sets = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase.k, count(*) FROM dom.events " +
        "WHERE purchase > 150.0 " +
        "GROUP BY GROUPING SETS ((purchase.user, purchase.k), (purchase.user), ()) " +
        "ORDER BY purchase.user, purchase.k"), fam)
    val roll = Compiler.compile(Parser.parse(
      "SELECT purchase.user, purchase.k, count(*) FROM dom.events " +
        "WHERE purchase > 150.0 " +
        "GROUP BY ROLLUP(purchase.user, purchase.k) " +
        "ORDER BY purchase.user, purchase.k"), fam)
    assert(sets.collect().toSeq == roll.collect().toSeq)
    // a bare key is its singleton set; grouping() disambiguates, and an
    // expression alias is a legal set key
    val g = Compiler.compile(Parser.parse(
      "SELECT purchase.user, CAST(purchase / 100.0 AS int) AS bucket, " +
        "grouping(purchase.user) AS gu, count(*) FROM dom.events " +
        "GROUP BY GROUPING SETS (purchase.user, (bucket), ()) " +
        "ORDER BY gu, purchase.user, bucket"), fam)
    val rows = g.collect()
    // one grand-total row (gu=1, user null, bucket null covers it twice:
    // once from (bucket) per bucket, once from ())
    assert(rows.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1)
    assert(rows.filter(_.isNullAt(0)).map(_.getByte(2)).forall(_ == 1))
    // a series named grouping still parses as a plain GROUP BY key
    val plain = Parser.parse("SELECT grouping, count(*) FROM dom.f GROUP BY grouping")
    assert(plain.groupMode == "plain" && plain.groupBy == Seq(RawName(Seq("grouping"))))
    // grouping() still refused in plain mode
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT purchase.user, grouping(purchase.user) AS gu, count(*) " +
        "FROM dom.events GROUP BY purchase.user"), fam))
  }

  test("correlated scalar subquery in the SELECT of a grouped query") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT a.purchase.user, count(*) AS n, " +
        "(SELECT max(b.click) FROM dom.events AS b " +
        "WHERE b.click.user = a.purchase.user) AS mx " +
        "FROM dom.events AS a GROUP BY a.purchase.user " +
        "ORDER BY a.purchase.user"), fam)
    val p = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"))
      .groupBy("u").agg(count(lit(1)).as("n"))
    val c = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "user").as("u"), col("value").as("v"))
      .groupBy("u").agg(max(col("v")).as("mx"))
    val exp = p.join(c, Seq("u"), "left").orderBy("u")
    assert(df.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
    // correlation on a non-grouping key is still refused
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT a.purchase.user, count(*) AS n, " +
        "(SELECT max(b.click) FROM dom.events AS b " +
        "WHERE b.click.event_id = a.purchase.event_id) AS mx " +
        "FROM dom.events AS a GROUP BY a.purchase.user"), fam))
  }

  test("EXPLAIN returns the plan text with the pushed-down filter visible") {
    val rows = BoostQL.sql(
      "EXPLAIN SELECT click.user, click FROM dom.events WHERE click < 100.0",
      (_: ((String, String))) => fam).collect()
    assert(rows.length == 1)
    val plan = rows(0).getString(0)
    // formatted mode, physical plan present, and the series predicate
    // reached the scan as a pushed/codegen'd filter
    assert(plan.contains("== Physical Plan =="))
    assert(plan.contains("Filter"), s"no filter in plan:\n$plan")
    assert("(?i)100\\.0".r.findFirstIn(plan).isDefined,
      s"value predicate missing from plan:\n$plan")
    // EXTENDED mode carries the analyzed/optimized sections too
    val ext = BoostQL.sql(
      "EXPLAIN EXTENDED SELECT click FROM dom.events WHERE click < 100.0",
      (_: ((String, String))) => fam).collect()(0).getString(0)
    assert(ext.contains("== Optimized Logical Plan =="))
    // a series named explain still parses as a field, not the keyword
    val q = Parser.parse("SELECT explain FROM dom.f WHERE explain > 1.0")
    assert(q.select == Seq(FieldItem(RawName(Seq("explain")))))
  }

  test("parser: derived table sources (FROM and JOIN operands)") {
    val q = Parser.parse("SELECT t.c FROM (SELECT cpu AS c FROM dom.f) AS t")
    q.source match {
      case SubSource(inner: QuerySpec, a) =>
        assert(a == "t" && inner.select.length == 1)
      case other => fail(s"expected SubSource, got $other")
    }
    // ANSI: the alias is mandatory
    intercept[Parser.ParseException](
      Parser.parse("SELECT c FROM (SELECT cpu AS c FROM dom.f)"))
    // JOIN operand form, bare-alias spelling
    val j = Parser.parse(
      "SELECT a.cpu, t.c FROM dom.f AS a JOIN " +
        "(SELECT cpu AS c, cpu.host AS h FROM dom.f) t ON a.cpu.host = t.h")
    assert(j.joins.head.source.isInstanceOf[SubSource])
    // a set-op compound is a legal derived-table body
    val u = Parser.parse(
      "SELECT t.c FROM (SELECT cpu AS c FROM dom.f UNION SELECT mem AS c FROM dom.f) AS t")
    assert(u.source.asInstanceOf[SubSource].stmt.isInstanceOf[SetOpSpec])
  }

  test("compiler: derived table — outer WHERE over an inner aggregate") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT t.u, t.cnt FROM (SELECT purchase.user AS u, count(*) AS cnt " +
        "FROM dom.events GROUP BY purchase.user) AS t " +
        "WHERE t.cnt > 2 ORDER BY t.u"), fam)
    assert(df.columns.toSeq == Seq("u", "cnt"))
    val exp = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"))
      .groupBy("u").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 2).orderBy("u")
    assert(df.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
  }

  test("compiler: family JOIN derived table on an aggregated key") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase, t.cnt FROM dom.events AS a " +
        "JOIN (SELECT purchase.user AS u, count(*) AS cnt FROM dom.events " +
        "GROUP BY purchase.user) AS t ON a.purchase.user = t.u " +
        "WHERE t.cnt > 2 ORDER BY a.purchase.event_id"), fam)
    assert(df.columns.toSeq == Seq("a_purchase_event_id", "a_purchase", "t_cnt"))
    val p = fam.filter(col("series") === "purchase").select(
      element_at(col("attributes"), "event_id").as("eid"),
      col("value").as("v"),
      element_at(col("attributes"), "user").as("u"))
    val cnt = p.groupBy("u").agg(count(lit(1)).as("cnt")).filter(col("cnt") > 2)
    val exp = p.join(cnt, Seq("u")).select(col("eid"), col("v"), col("cnt"))
      .orderBy("eid")
    assert(df.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
  }

  test("compiler: derived-table scope rules") {
    // referencing a column the subquery does not output
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT t.nope FROM (SELECT cpu AS c FROM dom.events) AS t"), fam))
    // attribute access on a derived alias (flat columns)
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT a.cpu, t.c.host FROM dom.events AS a JOIN " +
        "(SELECT cpu AS c FROM dom.events) AS t ON a.cpu.host = t.c"), fam))
    // ts-pinned window functions need a family time axis
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT rate(t.c) FROM (SELECT click AS c FROM dom.events) AS t"), fam))
    // ASOF JOIN cannot anchor on a derived table
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT a.click, t.c FROM dom.events AS a ASOF JOIN " +
        "(SELECT click AS c, click.user AS u FROM dom.events) AS t " +
        "ON a.click.user = t.u"), fam))
  }

  test("WITH common table expressions substitute as derived tables") {
    import org.apache.spark.sql.functions._
    // single CTE, referenced in FROM under its own name
    val df = Compiler.compile(Parser.parseStmt(
      "WITH pu AS (SELECT purchase.user AS u, count(*) AS cnt " +
        "FROM dom.events GROUP BY purchase.user) " +
        "SELECT pu.u, pu.cnt FROM pu WHERE pu.cnt > 2 ORDER BY pu.u"), fam)
    val exp = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"))
      .groupBy("u").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 2).orderBy("u")
    assert(df.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
    // a later CTE sees earlier ones; use-site re-alias; JOIN position
    val chained = Compiler.compile(Parser.parseStmt(
      "WITH pu AS (SELECT purchase.user AS u, count(*) AS cnt " +
        "FROM dom.events GROUP BY purchase.user), " +
        "big AS (SELECT pu.u AS u FROM pu WHERE pu.cnt > 2) " +
        "SELECT a.purchase.event_id, a.purchase FROM dom.events AS a " +
        "JOIN big AS b ON a.purchase.user = b.u ORDER BY a.purchase.event_id"), fam)
    assert(chained.count() > 0)
    // errors: duplicate name, unknown bare source, self-reference
    intercept[Parser.ParseException](Parser.parseStmt(
      "WITH t AS (SELECT cpu FROM dom.f), t AS (SELECT mem FROM dom.f) " +
        "SELECT t.cpu FROM t"))
    intercept[Parser.ParseException](Parser.parseStmt(
      "SELECT t.cpu FROM t"))
    intercept[Parser.ParseException](Parser.parseStmt(
      "WITH t AS (SELECT t.c AS c FROM t) SELECT t.c FROM t"))
    // a series named `with` still selects (contextual keyword)
    val q = Parser.parse("SELECT with FROM dom.f WHERE with > 1.0")
    assert(q.select == Seq(FieldItem(RawName(Seq("with")))))
  }

  test("compiler: ts functions bind to a derived table's propagated axis") {
    import org.apache.spark.sql.functions._
    // bucket() over a subquery that outputs the reserved axis: identical
    // to bucketing the family directly with the filter inline
    val bucketed = Compiler.compile(Parser.parse(
      "SELECT CAST(bucket(ts, '1 hour') AS int) AS h, count(*) AS n " +
        "FROM (SELECT ts, click AS v FROM dom.events WHERE click < 200.0) AS t " +
        "GROUP BY CAST(bucket(ts, '1 hour') AS int) ORDER BY h"), fam)
    val direct = Compiler.compile(Parser.parse(
      "SELECT CAST(bucket(ts, '1 hour') AS int) AS h, count(*) AS n " +
        "FROM dom.events WHERE click < 200.0 " +
        "GROUP BY CAST(bucket(ts, '1 hour') AS int) ORDER BY h"), fam)
    assert(bucketed.columns.toSeq == Seq("h", "n"))
    assert(bucketed.collect().map(_.toSeq).toSeq ==
      direct.collect().map(_.toSeq).toSeq)
    // implicit-window fn (rate) without ts spelled anywhere in the outer
    // query: the axis rides along internally
    val rated = Compiler.compile(Parser.parse(
      "SELECT eid, rate(v) AS r FROM " +
        "(SELECT ts, click.event_id AS eid, click AS v FROM dom.events) AS t " +
        "ORDER BY eid"), fam)
    val ratedDirect = Compiler.compile(Parser.parse(
      "SELECT click.event_id, rate(click) AS r FROM dom.events " +
        "ORDER BY click.event_id"), fam)
    assert(rated.collect().map(_.toSeq).toSeq ==
      ratedDirect.collect().map(_.toSeq).toSeq)
    // ASOF JOIN with a derived right side whose subquery propagates ts
    val asof = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase, b.c FROM dom.events AS a " +
        "ASOF JOIN (SELECT ts, click.user AS u, click AS c FROM dom.events) AS b " +
        "ON a.purchase.user = b.u WHERE a.purchase > 300.0 " +
        "ORDER BY a.purchase.event_id"), fam)
    val asofDirect = Compiler.compile(Parser.parse(
      "SELECT a.purchase.event_id, a.purchase, b.click FROM dom.events AS a " +
        "ASOF JOIN dom.events AS b ON a.purchase.user = b.click.user " +
        "WHERE a.purchase > 300.0 ORDER BY a.purchase.event_id"), fam)
    assert(asof.collect().map(_.toSeq).toSeq ==
      asofDirect.collect().map(_.toSeq).toSeq)
    // multi-source: an alias-qualified derived axis (t.ts) binds too
    val multiBucket = Compiler.compile(Parser.parse(
      "SELECT CAST(bucket(t.ts, '1 day') AS int) AS d, count(*) AS n " +
        "FROM dom.events AS a JOIN " +
        "(SELECT ts, click.user AS u, click AS c FROM dom.events) AS t " +
        "ON a.click.user = t.u " +
        "GROUP BY CAST(bucket(t.ts, '1 day') AS int) ORDER BY d"), fam)
    assert(multiBucket.count() > 0)
    // a set-op compound body propagates the axis when every branch does
    val unionBucket = Compiler.compile(Parser.parse(
      "SELECT CAST(bucket(ts, '1 day') AS int) AS d, count(*) AS n FROM " +
        "(SELECT ts, click AS v FROM dom.events " +
        "UNION ALL SELECT ts, view AS v FROM dom.events) AS t " +
        "GROUP BY CAST(bucket(ts, '1 day') AS int) ORDER BY d"), fam)
    assert(unionBucket.count() > 0)
    // CTEs inherit the propagation (they substitute as derived tables)
    val cte = Compiler.compile(Parser.parseStmt(
      "WITH t AS (SELECT ts, click AS v FROM dom.events WHERE click < 200.0) " +
        "SELECT CAST(bucket(ts, '1 hour') AS int) AS h, count(*) AS n FROM t " +
        "GROUP BY CAST(bucket(ts, '1 hour') AS int) ORDER BY h"), fam)
    assert(cte.collect().map(_.toSeq).toSeq ==
      direct.collect().map(_.toSeq).toSeq)
    // axis-destroying subqueries still refuse: ts aggregated away…
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT rate(t.c) FROM (SELECT max(click) AS c FROM dom.events) AS t"), fam))
    // …or a non-timestamp column merely NAMED ts is not an axis
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 hour') AS h FROM " +
        "(SELECT click AS ts FROM dom.events) AS t GROUP BY bucket(ts, '1 hour')"),
      fam))
  }

  test("approx_distinct: exact below k, within KMV error above, star rejected") {
    import org.apache.spark.sql.functions._
    // per-user groups at sf0.001 are far below k=64 → the estimate IS
    // the exact distinct count (as a double)
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, approx_distinct(purchase.event_id) AS ad, " +
        "count(DISTINCT purchase.event_id) AS ex " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"), fam)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) == r.getLong(2).toDouble,
      s"below k must be exact: ${r.toSeq}"))
    // one global group over all click event_ids exceeds k → estimator
    // branch; KMV rel. error ~ 1/sqrt(k-2), allow 5 sigma
    val est = Compiler.compile(Parser.parse(
      "SELECT approx_distinct(click.event_id) AS ad FROM dom.events"), fam)
      .collect()(0).getDouble(0)
    val exact = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "event_id")).distinct().count()
    assert(exact > 64, "fixture must exceed k for the estimator branch")
    assert(math.abs(est - exact) / exact < 5.0 / math.sqrt(62.0),
      s"est $est vs exact $exact")
    // FILTER desugar rides the expression-aggregate path
    val filtered = Compiler.compile(Parser.parse(
      "SELECT approx_distinct(purchase.event_id) FILTER (WHERE purchase > 100.0) AS ad " +
        "FROM dom.events"), fam).collect()(0).getDouble(0)
    val filteredExact = fam.filter(col("series") === "purchase" && col("value") > 100.0)
      .select(element_at(col("attributes"), "event_id")).distinct().count()
    if (filteredExact <= 64) assert(filtered == filteredExact.toDouble)
    // HAVING/ORDER BY resolve the same structural aggregate (no
    // double-compute, no unknown-column error)
    val having = Compiler.compile(Parser.parse(
      "SELECT purchase.user, approx_distinct(purchase.event_id) AS ad " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING approx_distinct(purchase.event_id) > 5 " +
        "ORDER BY approx_distinct(purchase.event_id) DESC, purchase.user"), fam)
    assert(having.collect().forall(_.getDouble(1) > 5))
    // star is count-only sugar — sum(*) / approx_distinct(*) must refuse,
    // not silently compute count(*)
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT approx_distinct(*) FROM dom.events GROUP BY purchase.user"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT purchase.user, sum(*) FROM dom.events GROUP BY purchase.user"), fam))
  }

  test("percentile(x, p): median equivalence, HAVING dedup, bad fractions refuse") {
    // p = 0.5 must equal median() exactly (same interpolation)
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, percentile(purchase, 0.5) AS p50, " +
        "median(purchase) AS med FROM dom.events GROUP BY purchase.user " +
        "ORDER BY purchase.user"), fam)
    df.collect().foreach(r => assert(r.getDouble(1) == r.getDouble(2), r.toSeq))
    // quartile ordering invariant + HAVING resolves the same aggregate
    val q = Compiler.compile(Parser.parse(
      "SELECT purchase.user, percentile(purchase, 0.25) AS p25, " +
        "percentile(purchase, 0.75) AS p75 FROM dom.events " +
        "GROUP BY purchase.user HAVING percentile(purchase, 0.75) > 100.0 " +
        "ORDER BY purchase.user"), fam).collect()
    assert(q.nonEmpty)
    q.foreach(r => assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) > 100.0))
    // FILTER desugars onto the percentile argument
    val f = Compiler.compile(Parser.parse(
      "SELECT percentile(purchase, 0.5) FILTER (WHERE purchase > 100.0) AS p " +
        "FROM dom.events"), fam).collect()(0).getDouble(0)
    assert(f > 100.0)
    // fraction must be a literal in [0, 1]; DISTINCT is count-only
    intercept[Parser.ParseException](Parser.parse(
      "SELECT percentile(purchase, 1.5) FROM dom.events"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT percentile(purchase, purchase.k) FROM dom.events"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT percentile(purchase) FROM dom.events"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT percentile(DISTINCT purchase, 0.5) FROM dom.events"))
  }

  test("first/last: time-axis extremes, tie-break by value, null skip") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // handcrafted family: a ts tie (5.0 vs 3.0) and a null at the
    // latest point — first must take the tie's SMALLER value, last must
    // skip the null back to 7.0, count(*) still sees every row
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 00:00:00"), Some(5.0)),
      ("cpu", Timestamp.valueOf("2024-01-01 00:00:00"), Some(3.0)),
      ("cpu", Timestamp.valueOf("2024-01-02 00:00:00"), Some(7.0)),
      ("cpu", Timestamp.valueOf("2024-01-03 00:00:00"), Option.empty[Double]))
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "value")
      .withColumn("attributes", map(lit("host"), lit("h1")))
    val r = Compiler.compile(Parser.parse(
      "SELECT first(cpu) AS f, last(cpu) AS l, count(*) AS n FROM dom.f"),
      tiny).collect()(0)
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 7.0 && r.getLong(2) == 4L)
    // grouped over testdata: first/last agree with an independent
    // window formulation (row_number over (ts, value))
    val df = Compiler.compile(Parser.parse(
      "SELECT click.user, first(click) AS f, last(click) AS l " +
        "FROM dom.events GROUP BY click.user ORDER BY click.user"), fam)
    val base = fam.filter(col("series") === "click" && col("value").isNotNull)
      .select(element_at(col("attributes"), "user").as("u"),
        col("ts"), col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("ts"), col("value"))
    val exp = base
      .withColumn("rn", row_number().over(w))
      .withColumn("rx", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")
          .orderBy(col("ts").desc, col("value").desc)))
      .groupBy("u").agg(
        max(when(col("rn") === 1, col("value"))).as("f"),
        max(when(col("rx") === 1, col("value"))).as("l"))
      .orderBy("u")
    assert(df.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
    // HAVING references the same aggregate; works ungrouped too
    assert(Compiler.compile(Parser.parse(
      "SELECT click.user, first(click) AS f FROM dom.events " +
        "GROUP BY click.user HAVING last(click) > 0.0"), fam).columns
      .sameElements(Array("click_user", "f")))
    // refusals: star, joined frames, derived tables without a ts axis,
    // window position
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT first(*) FROM dom.events"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT first(a.click) FROM dom.events AS a " +
        "JOIN dom.events AS b ON a.click.user = b.view.user"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT first(t.x) FROM (SELECT purchase.user AS x " +
        "FROM dom.events) AS t"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT first(click) OVER (PARTITION BY click.user) FROM dom.events"),
      fam))
  }

  test("corr/covar: parse-time desugar to exact-sum arithmetic") {
    import org.apache.spark.sql.functions._
    // desugar: no corr aggregate survives the parse — the select item
    // is arithmetic over sum() CASE aggregates
    val ast = Parser.parse("SELECT corr(cpu, mem) AS r FROM dom.f")
    def aggNames(o: Operand): Seq[String] = o match {
      case OAggX(f, e, _, _) => f +: aggNames(e)
      case OArith(_, l, xr) => aggNames(l) ++ aggNames(xr)
      case OCast(x, _) => aggNames(x)
      case OFn(_, as) => as.flatMap(aggNames)
      case OCase(bs, el) => bs.flatMap(b => aggNames(b._2)) ++
        el.toSeq.flatMap(aggNames)
      case _ => Seq.empty
    }
    val names = ast.select.collect { case ExprItem(e, _) => aggNames(e) }.flatten
    assert(names.nonEmpty && names.forall(_ == "sum"), names)
    // perfectly linear relation → corr 1 (IEEE tail tolerance);
    // covar_pop(x, x) = population variance
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "corr(CAST(purchase * 100.0 AS int), " +
        "     CAST(purchase * 100.0 AS int) * 2 + 1) AS r, " +
        "covar_pop(CAST(purchase * 100.0 AS int), " +
        "          CAST(purchase * 100.0 AS int)) AS cp, " +
        "variance(CAST(purchase * 100.0 AS int)) AS v, " +
        "count(purchase) AS n " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 1 ORDER BY purchase.user"), fam)
    df.collect().foreach { row =>
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-9, row.toSeq)
      val n = row.getLong(4).toDouble
      assert(math.abs(row.getDouble(2) - row.getDouble(3) * (n - 1) / n) <
        1e-6 * math.abs(row.getDouble(2)).max(1.0), row.toSeq)
    }
    // covar_samp of a single pair divides by zero → null, no special
    // casing; FILTER conjoins into the pair guard
    val one = Compiler.compile(Parser.parse(
      "SELECT covar_samp(click, click) AS cs FROM dom.events " +
        "WHERE click.event_id = '3'"), fam).collect()(0)
    assert(one.isNullAt(0))
    val filt = Compiler.compile(Parser.parse(
      "SELECT corr(click, click * 2.0) FILTER (WHERE click > 100.0) AS r " +
        "FROM dom.events"), fam).collect()(0)
    assert(math.abs(filt.getDouble(0) - 1.0) < 1e-9)
    // arity is fixed at two
    intercept[Parser.ParseException](
      Parser.parse("SELECT corr(cpu) FROM dom.f"))
    intercept[Parser.ParseException](
      Parser.parse("SELECT covar_pop(cpu, mem, disk) FROM dom.f"))
  }

  test("regr_*: OLS semantics over the exact-sum desugar") {
    // a perfect line y = 2x + 1 recovers slope/intercept/r² exactly
    // (regr_* argument order is (y, x): dependent first)
    val df = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "regr_slope(CAST(purchase * 100.0 AS int) * 2 + 1, " +
        "           CAST(purchase * 100.0 AS int)) AS sl, " +
        "regr_intercept(CAST(purchase * 100.0 AS int) * 2 + 1, " +
        "               CAST(purchase * 100.0 AS int)) AS ic, " +
        "regr_r2(CAST(purchase * 100.0 AS int) * 2 + 1, " +
        "        CAST(purchase * 100.0 AS int)) AS r2, " +
        "regr_count(purchase, purchase) AS n, " +
        "regr_avgx(purchase, CAST(purchase * 100.0 AS int)) AS ax, " +
        "count(purchase) AS cn " +
        "FROM dom.events GROUP BY purchase.user " +
        "HAVING count(purchase) > 2 ORDER BY purchase.user"), fam)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 2.0) < 1e-9, r.toSeq)
      assert(math.abs(r.getDouble(2) - 1.0) <
        1e-9 * math.abs(r.getDouble(2)).max(1.0), r.toSeq)
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, r.toSeq)
      // both args non-null on every purchase row → count = count()
      assert(r.getLong(4) == r.getLong(6), r.toSeq)
    }
    // zero x-variance (vertical line): slope/intercept/r² all null;
    // zero y-variance with x varying: a perfect horizontal fit, r² = 1
    val degen = Compiler.compile(Parser.parse(
      "SELECT regr_slope(click, 7) AS sl, " +
        "regr_intercept(click, 7) AS ic, regr_r2(click, 7) AS r2, " +
        "regr_slope(7, click) AS hs, regr_r2(7, click) AS hr " +
        "FROM dom.events"), fam).collect()(0)
    assert(degen.isNullAt(0) && degen.isNullAt(1) && degen.isNullAt(2),
      degen.toSeq)
    // slope over raw (non-integral) doubles is near-zero, not exact —
    // the exactness contract is for integral inputs; r² = 1 is the
    // literal CASE branch so it IS exact
    assert(math.abs(degen.getDouble(3)) < 1e-9 &&
      degen.getDouble(4) == 1.0, degen.toSeq)
    // count over an empty pair set is 0, not null
    val none = Compiler.compile(Parser.parse(
      "SELECT regr_count(click, click) AS n FROM dom.events " +
        "WHERE click > 1000000000000.0"), fam).collect()(0)
    assert(!none.isNullAt(0) && none.getLong(0) == 0L, none.toSeq)
    intercept[Parser.ParseException](
      Parser.parse("SELECT regr_slope(cpu) FROM dom.f"))
  }

  test("FILL: dense bucket axis, modes, refusal matrix") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // three observed daily buckets with a two-day gap: Jan 1 (v=10),
    // Jan 4 (v=40); Jan 2/3 are the gap
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 10.0),
      ("cpu", Timestamp.valueOf("2024-01-01 07:00:00"), 10.0),
      ("cpu", Timestamp.valueOf("2024-01-04 09:00:00"), 40.0))
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "value")
      .withColumn("attributes", map(lit("host"), lit("h1")))
      .withColumn("tags", map().cast("map<string,string>"))
    def fill(mode: String) = Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 day') AS d, sum(cpu) AS s FROM dom.f " +
        s"GROUP BY d FILL($mode) ORDER BY d"), tiny).collect()
    // null: 4 dense buckets, gaps null
    val nulls = fill("null")
    assert(nulls.length == 4)
    assert(nulls(0).getDouble(1) == 20.0 && nulls(1).isNullAt(1) &&
      nulls(2).isNullAt(1) && nulls(3).getDouble(1) == 40.0)
    // previous: LOCF carries 20 across the gap
    val prev = fill("previous")
    assert(prev.map(_.getDouble(1)).toSeq == Seq(20.0, 20.0, 20.0, 40.0))
    // linear: 20 → 40 over three steps
    val lin = fill("linear")
    assert(lin.map(_.getDouble(1)).toSeq ==
      Seq(20.0, 20.0 + 20.0 / 3, 20.0 + 40.0 / 3, 40.0))
    // constant
    assert(fill("-1.5").map(_.getDouble(1)).toSeq ==
      Seq(20.0, -1.5, -1.5, 40.0))
    // per-dimension-group extents: each host densifies between ITS OWN
    // first and last bucket
    val rows2 = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), "a", 1.0),
      ("cpu", Timestamp.valueOf("2024-01-03 05:00:00"), "a", 3.0),
      ("cpu", Timestamp.valueOf("2024-01-05 05:00:00"), "b", 5.0),
      ("cpu", Timestamp.valueOf("2024-01-06 05:00:00"), "b", 6.0))
    val tiny2 = spark.createDataFrame(rows2).toDF("series", "ts", "h", "value")
      .withColumn("attributes", map(lit("host"), col("h"))).drop("h")
      .withColumn("tags", map().cast("map<string,string>"))
    val keyed = Compiler.compile(Parser.parse(
      "SELECT cpu.host, bucket(ts, '1 day') AS d, max(cpu) AS m " +
        "FROM dom.f GROUP BY cpu.host, d FILL(previous) " +
        "ORDER BY cpu.host, d"), tiny2).collect()
    assert(keyed.map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      Seq(("a", 1.0), ("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 6.0)))
    // refusal matrix
    def refuses(q: String): Unit =
      intercept[Compiler.CompileException](Compiler.compile(Parser.parse(q), fam))
    // no aggregation / no GROUP BY (parser only accepts FILL after a
    // group list, so the non-grouped shape is a parse error)
    intercept[Parser.ParseException](Parser.parse(
      "SELECT click FROM dom.events FILL(null)"))
    // no bucket grouping key
    refuses("SELECT click.user, count(*) AS n FROM dom.events " +
      "GROUP BY click.user FILL(null)")
    // CAST-wrapped bucket key is not the raw axis
    refuses("SELECT CAST(bucket(ts, '1 day') AS int) AS d, count(*) AS n " +
      "FROM dom.events GROUP BY d FILL(null)")
    // calendar widths have no constant step
    refuses("SELECT bucket(ts, '1 month') AS d, count(*) AS n " +
      "FROM dom.events GROUP BY d FILL(null)")
    // HAVING re-opens the gaps
    refuses("SELECT bucket(ts, '1 day') AS d, count(*) AS n " +
      "FROM dom.events GROUP BY d FILL(null) HAVING count(*) > 1")
    // super-aggregate rows have no dense axis
    refuses("SELECT bucket(ts, '1 day') AS d, count(*) AS n " +
      "FROM dom.events GROUP BY ROLLUP (d) FILL(null)")
    // mode must be a known word or a number; a series named fill is
    // unaffected (contextual keyword)
    intercept[Parser.ParseException](Parser.parse(
      "SELECT bucket(ts, '1 day') AS d, count(*) AS n FROM dom.events " +
        "GROUP BY d FILL(sideways)"))
    assert(Parser.parse("SELECT fill FROM dom.events").select.length == 1)
  }

  test("FILL: calendar buckets step the spine by the calendar interval") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // observed in Jan, Feb and May: the month spine must land on the
    // true month STARTS (Mar 1, Apr 1 — irregular month lengths), not
    // fixed 30-day steps
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-15 05:00:00"), 10.0),
      ("cpu", Timestamp.valueOf("2024-02-20 07:00:00"), 20.0),
      ("cpu", Timestamp.valueOf("2024-05-02 09:00:00"), 50.0))
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "value")
      .withColumn("attributes", map().cast("map<string,string>"))
      .withColumn("tags", map().cast("map<string,string>"))
    val got = Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 month') AS m, max(cpu) AS mx " +
        "FROM dom.f GROUP BY m FILL(previous) ORDER BY m"), tiny)
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1)))
    assert(got.toSeq == Seq(
      ("2024-01-01 00:00:00.0", 10.0),
      ("2024-02-01 00:00:00.0", 20.0),
      ("2024-03-01 00:00:00.0", 20.0),
      ("2024-04-01 00:00:00.0", 20.0),
      ("2024-05-01 00:00:00.0", 50.0)), got.toSeq)
    // quarter steps three months (Q1 observed, Q2 gap-filled, Q3 obs)
    val q = Seq(
      ("cpu", Timestamp.valueOf("2024-02-15 00:00:00"), 1.0),
      ("cpu", Timestamp.valueOf("2024-08-15 00:00:00"), 3.0))
    val tinyQ = spark.createDataFrame(q).toDF("series", "ts", "value")
      .withColumn("attributes", map().cast("map<string,string>"))
      .withColumn("tags", map().cast("map<string,string>"))
    val gotQ = Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 quarter') AS m, count(cpu) AS n " +
        "FROM dom.f GROUP BY m FILL(0) ORDER BY m"), tinyQ)
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1)))
    assert(gotQ.toSeq == Seq( // constant fill coerces the column double
      ("2024-01-01 00:00:00.0", 1.0),
      ("2024-04-01 00:00:00.0", 0.0),
      ("2024-07-01 00:00:00.0", 1.0)), gotQ.toSeq)
    // multi-count calendar widths still refuse under FILL
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '2 months') AS m, count(cpu) AS n " +
        "FROM dom.f GROUP BY m FILL(0)"), tinyQ))
  }

  test("FILL: null dimension keys keep their groups; observed nulls survive") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // host 'a': Jan 1 (1.0), Jan 3 observed but ALL-NULL (sum -> null),
    // Jan 5 (5.0) — gaps Jan 2 and Jan 4; host NULL: Jan 1 (10.0) and
    // Jan 3 (30.0) — gap Jan 2
    val rows: Seq[(String, Timestamp, String, Option[Double])] = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), "a", Some(1.0)),
      ("cpu", Timestamp.valueOf("2024-01-03 05:00:00"), "a", None),
      ("cpu", Timestamp.valueOf("2024-01-05 05:00:00"), "a", Some(5.0)),
      ("cpu", Timestamp.valueOf("2024-01-01 06:00:00"), null, Some(10.0)),
      ("cpu", Timestamp.valueOf("2024-01-03 06:00:00"), null, Some(30.0)))
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "h", "value")
      .withColumn("attributes",
        when(col("h").isNotNull, map(lit("host"), col("h")))
          .otherwise(map().cast("map<string,string>")))
      .drop("h")
      .withColumn("tags", map().cast("map<string,string>"))
    def fill(mode: String) = Compiler.compile(Parser.parse(
      "SELECT cpu.host, bucket(ts, '1 day') AS d, sum(cpu) AS s FROM dom.f " +
        s"GROUP BY cpu.host, d FILL($mode) ORDER BY cpu.host, d"), tiny)
      .collect().map(r => (Option(r.getString(0)),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq
    // previous: the NULL-host group still densifies (null-safe key
    // join), and LOCF carries the last OBSERVED row's value — an
    // observed null (Jan 3) is carried as null into Jan 4's gap, never
    // skipped back over, and never itself overwritten
    assert(fill("previous") == Seq(
      (None, Some(10.0)), (None, Some(10.0)), (None, Some(30.0)),
      (Some("a"), Some(1.0)), (Some("a"), Some(1.0)), (Some("a"), None),
      (Some("a"), None), (Some("a"), Some(5.0))))
    // constant: only materialized GAP rows take the literal; the
    // observed all-null bucket stays null
    assert(fill("0.0") == Seq(
      (None, Some(10.0)), (None, Some(0.0)), (None, Some(30.0)),
      (Some("a"), Some(1.0)), (Some("a"), Some(0.0)), (Some("a"), None),
      (Some("a"), Some(0.0)), (Some("a"), Some(5.0))))
    // linear: gaps interpolate between observed NON-NULL anchors (Jan 1
    // and Jan 5 for host a); the observed-null bucket neither anchors
    // nor gets interpolated
    assert(fill("linear") == Seq(
      (None, Some(10.0)), (None, Some(20.0)), (None, Some(30.0)),
      (Some("a"), Some(1.0)), (Some("a"), Some(2.0)), (Some("a"), None),
      (Some("a"), Some(4.0)), (Some("a"), Some(5.0))))
    // null mode: gaps materialize as null for the null-host group too
    assert(fill("null") == Seq(
      (None, Some(10.0)), (None, None), (None, Some(30.0)),
      (Some("a"), Some(1.0)), (Some("a"), None), (Some("a"), None),
      (Some("a"), None), (Some("a"), Some(5.0))))
  }

  test("group-key alias colliding with a source column refuses") {
    // sliding bucket: the window-starts explode materializes via
    // withColumn, which would REPLACE a same-named source column
    val e1 = intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 day', '12 hours') AS click, avg(click) AS a " +
        "FROM dom.events GROUP BY click"), fam))
    assert(e1.getMessage.contains("collides"))
    // twa key materialization: the old contains-check skipped the
    // withColumn, silently grouping by the RAW column
    val e2 = intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 day') AS click, twa(click) AS t " +
        "FROM dom.events GROUP BY click"), fam))
    assert(e2.getMessage.contains("collides"))
    // a non-colliding alias on the same shapes still compiles
    Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 day') AS d, twa(click) AS t " +
        "FROM dom.events GROUP BY d"), fam)
  }

  test("increase()/resets(): reset-aware counter math over consecutive points") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // counter walk 10 → 15 → 3 (reset) → 9:
    //   increase = (15-10) + 3 + (9-3) = 14, resets = 1
    val rows: Seq[(String, Timestamp, Option[Double])] = Seq(
      ("c", Timestamp.valueOf("2024-01-01 00:00:00"), Some(10.0)),
      ("c", Timestamp.valueOf("2024-01-01 00:01:00"), Some(15.0)),
      ("c", Timestamp.valueOf("2024-01-01 00:02:00"), Some(3.0)),
      ("c", Timestamp.valueOf("2024-01-01 00:03:00"), Some(9.0)))
    def fam(rs: Seq[(String, Timestamp, Option[Double])]) =
      spark.createDataFrame(rs).toDF("series", "ts", "value")
        .withColumn("attributes", map().cast("map<string,string>"))
        .withColumn("tags", map().cast("map<string,string>"))
    val r = Compiler.compile(Parser.parse(
      "SELECT increase(c) AS inc, resets(c) AS rst FROM dom.f"),
      fam(rows)).collect()(0)
    assert(r.getDouble(0) == 14.0 && r.getLong(1) == 1L)
    // a NULL breaks the chain: 10 → null → 9 contributes nothing at all
    val rows2: Seq[(String, Timestamp, Option[Double])] = Seq(
      ("c", Timestamp.valueOf("2024-01-01 00:00:00"), Some(10.0)),
      ("c", Timestamp.valueOf("2024-01-01 00:01:00"), None),
      ("c", Timestamp.valueOf("2024-01-01 00:02:00"), Some(9.0)))
    val r2 = Compiler.compile(Parser.parse(
      "SELECT increase(c) AS inc, resets(c) AS rst FROM dom.f"),
      fam(rows2)).collect()(0)
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    // the segment-aggregate refusal matrix applies (same as twa)
    def refuses(q: String): Unit =
      intercept[Compiler.CompileException](
        Compiler.compile(Parser.parse(q), fam(rows)))
    refuses("SELECT c.host, increase(c) AS i FROM dom.f " +
      "GROUP BY ROLLUP (c.host)")
    refuses("SELECT bucket(ts, '1 day', '12 hours') AS d, " +
      "increase(c) AS i FROM dom.f GROUP BY d")
  }

  test("acf(): planted period-2 signal reads -1 at lag 1 and +1 at " +
      "lag 2; constant series NULLs; refusal matrix applies") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // strict alternation 1,5,1,5,…: lag-1 pairs anti-correlate
    // perfectly (-1), lag-2 pairs correlate perfectly (+1)
    val rows: Seq[(String, Timestamp, Option[Double])] =
      (0 until 12).map(i => ("c",
        Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"),
        Some(if (i % 2 == 0) 1.0 else 5.0)))
    def fam(rs: Seq[(String, Timestamp, Option[Double])]) =
      spark.createDataFrame(rs).toDF("series", "ts", "value")
        .withColumn("attributes", map().cast("map<string,string>"))
        .withColumn("tags", map().cast("map<string,string>"))
    val r = Compiler.compile(Parser.parse(
      "SELECT acf(CAST(c AS int), 1) AS r1, acf(CAST(c AS int), 2) AS r2 " +
        "FROM dom.f"), fam(rows)).collect()(0)
    assert(math.abs(r.getDouble(0) - (-1.0)) < 1e-12, r.getDouble(0))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12, r.getDouble(1))
    // zero variance on a side → NULL, never DIVIDE_BY_ZERO/NaN
    val const = (0 until 6).map(i => ("c",
      Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"),
      Some(2.0): Option[Double]))
    val rc = Compiler.compile(Parser.parse(
      "SELECT acf(c, 1) AS r1 FROM dom.f"), fam(const)).collect()(0)
    assert(rc.isNullAt(0))
    // lag beyond the group leaves no pairs → NULL
    val rl = Compiler.compile(Parser.parse(
      "SELECT acf(c, 100) AS r FROM dom.f"), fam(rows)).collect()(0)
    assert(rl.isNullAt(0))
    def refuses(q: String): Unit =
      intercept[Exception](Compiler.compile(Parser.parse(q), fam(rows)))
    refuses("SELECT c.host, acf(c, 1) AS r FROM dom.f GROUP BY ROLLUP (c.host)")
    refuses("SELECT acf(c) AS r FROM dom.f")            // lag required
    refuses("SELECT acf(c, 0) AS r FROM dom.f")         // positive lag
    refuses("SELECT acf(c, 1) FILTER (WHERE c > 0.0) AS r FROM dom.f")
    refuses("SELECT acf(c, 1) OVER (PARTITION BY c.host) AS r FROM dom.f")
    // xcorr: acf is its self-correlation special case; a planted
    // one-step lead reads exactly +1 at lag 1; lag 0 is plain corr
    val both = Compiler.compile(Parser.parse(
      "SELECT xcorr(CAST(c AS int), CAST(c AS int), 2) AS xc, " +
        "acf(CAST(c AS int), 2) AS ac FROM dom.f"), fam(rows)).collect()(0)
    assert(both.getDouble(0) == both.getDouble(1))
    // y = tomorrow's x: build a frame where series d leads c by one
    // step — xcorr over a two-column derived table via bucketed align
    val lead1 = Compiler.compile(Parser.parse(
      "SELECT xcorr(t.a, t.b, 1) AS xc FROM (SELECT bucket(ts, " +
        "'1 minute') AS ts, sum(CAST(c AS int)) AS a, " +
        "sum(CAST(c AS int)) AS b FROM dom.f GROUP BY " +
        "bucket(ts, '1 minute')) AS t"), fam(rows)).collect()(0)
    // b is a itself, so lag-1 cross-corr equals acf lag 1 = -1
    assert(math.abs(lead1.getDouble(0) - (-1.0)) < 1e-12)
    refuses("SELECT xcorr(c, c) AS r FROM dom.f")       // lag required
    refuses("SELECT xcorr(c, c, 1) FILTER (WHERE c > 0.0) AS r FROM dom.f")
  }

  test("ATTRIBUTES() unnest source: dynamic-key aggregation, ts rides " +
      "along for bucket(), empty maps contribute no rows") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val rows = spark.createDataFrame(Seq(
        ("c", Timestamp.valueOf("2024-01-01 01:00:00"), 1.0,
          Map("h" -> "a", "env" -> "prod")),
        ("c", Timestamp.valueOf("2024-01-02 01:00:00"), 2.0,
          Map("h" -> "b")),
        ("c", Timestamp.valueOf("2024-01-02 02:00:00"), 3.0,
          Map.empty[String, String]),
        ("other", Timestamp.valueOf("2024-01-01 01:00:00"), 4.0,
          Map("h" -> "z"))))
      .toDF("series", "ts", "value", "attributes")
      .withColumn("tags", map().cast("map<string,string>"))
    val got = Compiler.compile(Parser.parse(
      "SELECT akey, count(*) AS n, min(avalue) AS lo " +
        "FROM ATTRIBUTES(dom.f, c) GROUP BY akey ORDER BY akey"),
      (_: (String, String)) => rows).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    // only series c; the empty-map point contributes nothing; 'other'
    // never leaks
    assert(got == Seq(("env", 1L, "prod"), ("h", 2L, "a")))
    // the time axis survives the unnest: bucket() groups by day
    val byDay = Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 day') AS d, count(*) AS n " +
        "FROM ATTRIBUTES(dom.f, c) AS a GROUP BY d ORDER BY d"),
      (_: (String, String)) => rows).collect().map(_.getLong(1)).toSeq
    assert(byDay == Seq(2L, 1L))
    // unknown columns refuse with the outputs listed
    val e = intercept[Compiler.CompileException](Compiler.compile(
      Parser.parse("SELECT nosuch FROM ATTRIBUTES(dom.f, c)"),
      (_: (String, String)) => rows))
    assert(e.getMessage.contains("akey"), e.getMessage)
  }

  test("cusum(): planted mean shift accumulates evidence, in-control " +
      "stretches reset to zero, nulls hold state; refusals") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // in-control at 10 (target 10, slack 2: no side accumulates), then
    // a +5 shift: hi ramps by (15-12)=3 per point; a dip back resets
    val vals = Seq(10.0, 11.0, 9.0, 15.0, 15.0, 15.0, 5.0, 10.0)
    val rows: Seq[(String, Timestamp, Option[Double])] =
      vals.zipWithIndex.map { case (v, i) => ("c",
        Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), Some(v)) }
    def fam(rs: Seq[(String, Timestamp, Option[Double])]) =
      spark.createDataFrame(rs).toDF("series", "ts", "value")
        .withColumn("attributes", map().cast("map<string,string>"))
        .withColumn("tags", map().cast("map<string,string>"))
    val got = Compiler.compile(Parser.parse(
      "SELECT ts, cusum(c, 10.0, 2.0) AS hi, cusum_low(c, 10.0, 2.0) AS lo " +
        "FROM dom.f ORDER BY ts"), fam(rows)).collect()
      .map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    // hi: 0,0,0,3,6,9, then 5 is 7 under the 12 bound -> floor 2... no:
    // max(0, 9 + (5-12)) = 2, then max(0, 2 + (10-12)) = 0
    assert(got.map(_._1) == Seq(0.0, 0.0, 0.0, 3.0, 6.0, 9.0, 2.0, 0.0))
    // lo accumulates only on the dip: 8 - 5 = 3, then 8 - 10 -> 1
    assert(got.map(_._2) == Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 3.0, 1.0))
    // a null input holds the statistic (emits the last value)
    val rows2 = rows.take(6) :+ (("c",
      Timestamp.valueOf("2024-01-01 00:06:00"), None: Option[Double]))
    val g2 = Compiler.compile(Parser.parse(
      "SELECT ts, cusum(c, 10.0, 2.0) AS hi FROM dom.f ORDER BY ts"),
      fam(rows2)).collect().map(_.getDouble(1)).toSeq
    assert(g2 == Seq(0.0, 0.0, 0.0, 3.0, 6.0, 9.0, 9.0))
    def refuses(q: String): Unit =
      intercept[Exception](Compiler.compile(Parser.parse(q), fam(rows)))
    refuses("SELECT cusum(c, 10.0) AS s FROM dom.f")        // arity
    refuses("SELECT cusum(c, c, 2.0) AS s FROM dom.f")      // literal target
    refuses("SELECT cusum(c, 10.0, -1.0) AS s FROM dom.f")  // slack >= 0
  }

  test("SHOW FAMILIES: registry listing, domain filter, resolver refusal") {
    val reg = Map(("dom", "events") -> fam, ("ops", "metrics") -> fam,
      ("ops", "alerts") -> fam)
    val all = BoostQL.sql("SHOW FAMILIES", reg)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(all == Seq(("dom", "events"), ("ops", "alerts"),
      ("ops", "metrics")))
    val ops = BoostQL.sql("SHOW FAMILIES IN ops", reg)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(ops == Seq(("ops", "alerts"), ("ops", "metrics")))
    // a SELECT through the Map overload still compiles (delegation)
    assert(BoostQL.sql(
      "SELECT click FROM dom.events WHERE click < 50.0", reg).count() > 0)
    // the function-resolver overload cannot enumerate — refuse with a
    // pointer, never an empty listing
    val e = intercept[Compiler.CompileException](
      BoostQL.sql("SHOW FAMILIES", (_: (String, String)) => fam))
    assert(e.getMessage.contains("enumerable"))
  }

  test("time extraction: dow() is ISO (Monday=1), hour/epoch_us UTC") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // 2024-01-01 is a Monday
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:30:15"), 1.0),
      ("cpu", Timestamp.valueOf("2024-01-07 23:00:00"), 2.0))
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "value")
      .withColumn("attributes", map().cast("map<string,string>"))
      .withColumn("tags", map().cast("map<string,string>"))
    val got = Compiler.compile(Parser.parse(
      "SELECT dow(ts) AS dw, hour(ts) AS h, minute(ts) AS m, " +
        "year(ts) AS y, doy(ts) AS dy, epoch_us(ts) AS us, cpu " +
        "FROM dom.f ORDER BY cpu"), tiny).collect()
    assert(got(0).getInt(0) == 1 && got(1).getInt(0) == 7) // Mon=1, Sun=7
    assert(got(0).getInt(1) == 5 && got(0).getInt(2) == 30)
    assert(got(0).getInt(3) == 2024 && got(0).getInt(4) == 1)
    assert(got(0).getLong(5) % 1000000L == 0L &&
      got(0).getLong(5) / 1000000L % 60 == 15L)
  }

  test("ANY/ALL quantified comparisons: ANSI null and empty-list cases") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    def mk(rows: Seq[(String, Timestamp, Option[Double])]) =
      spark.createDataFrame(rows).toDF("series", "ts", "value")
        .withColumn("attributes", map().cast("map<string,string>"))
        .withColumn("tags", map().cast("map<string,string>"))
    val t = (i: Int) => Timestamp.valueOf(f"2024-01-01 00:00:0$i")
    val base = mk(Seq(("cpu", t(0), Some(4.0)), ("cpu", t(1), Some(6.0)),
      ("cpu", t(2), Some(8.0)), ("cpu", t(3), Some(9.0)),
      ("mem", t(4), Some(5.0)), ("mem", t(5), Some(7.0))))
    def q(sql: String, fam: org.apache.spark.sql.DataFrame = base) =
      Compiler.compile(Parser.parse(sql), fam)
        .collect().map(_.getDouble(0)).sorted.toSeq
    // > ALL: beat the maximum; > ANY: beat the minimum
    assert(q("SELECT cpu FROM dom.f WHERE cpu > ALL " +
      "(SELECT mem FROM dom.f)") == Seq(8.0, 9.0))
    assert(q("SELECT cpu FROM dom.f WHERE cpu > ANY " +
      "(SELECT mem FROM dom.f)") == Seq(6.0, 8.0, 9.0))
    assert(q("SELECT cpu FROM dom.f WHERE cpu < ANY " +
      "(SELECT mem FROM dom.f)") == Seq(4.0, 6.0))
    // empty list: ALL is vacuously true, ANY vacuously false
    assert(q("SELECT cpu FROM dom.f WHERE cpu > ALL " +
      "(SELECT mem FROM dom.f WHERE mem > 100.0)") ==
      Seq(4.0, 6.0, 8.0, 9.0))
    assert(q("SELECT cpu FROM dom.f WHERE cpu > ANY " +
      "(SELECT mem FROM dom.f WHERE mem > 100.0)") == Seq.empty)
    // a NULL in the list poisons ALL (unknown filters out) but not the
    // ANY rows that beat a non-null element
    val withNull = mk(Seq(("cpu", t(0), Some(4.0)), ("cpu", t(1), Some(9.0)),
      ("mem", t(2), Some(5.0)), ("mem", t(3), None)))
    assert(q("SELECT cpu FROM dom.f WHERE cpu > ALL " +
      "(SELECT mem FROM dom.f)", withNull) == Seq.empty)
    assert(q("SELECT cpu FROM dom.f WHERE cpu > ANY " +
      "(SELECT mem FROM dom.f)", withNull) == Seq(9.0))
    // NOT flips to the anti form with the same unknown-dropping rules
    assert(q("SELECT cpu FROM dom.f WHERE NOT (cpu > ANY " +
      "(SELECT mem FROM dom.f))") == Seq(4.0))
    // = ANY / != ALL point at IN / NOT IN instead of duplicating them
    intercept[Parser.ParseException](Parser.parse(
      "SELECT cpu FROM dom.f WHERE cpu = ANY (SELECT mem FROM dom.f)"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT cpu FROM dom.f WHERE cpu != ALL (SELECT mem FROM dom.f)"))
    // contextual: a series named `any` still compares (no paren follows)
    assert(Parser.parse("SELECT cpu FROM dom.f WHERE cpu > any")
      .where.isDefined)
  }

  test("DISTINCT ON: first row per key under the query ORDER BY") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0),
      ("cpu", Timestamp.valueOf("2024-01-02 00:00:00"), "a", 9.0),
      ("cpu", Timestamp.valueOf("2024-01-03 00:00:00"), "a", 5.0),
      ("cpu", Timestamp.valueOf("2024-01-01 00:00:00"), "b", 7.0),
      ("cpu", Timestamp.valueOf("2024-01-02 00:00:00"), "b", 2.0))
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "h", "value")
      .withColumn("attributes", map(lit("host"), col("h"))).drop("h")
      .withColumn("tags", map().cast("map<string,string>"))
    // highest value per host
    val top = Compiler.compile(Parser.parse(
      "SELECT DISTINCT ON (cpu.host) cpu.host, cpu FROM dom.f " +
        "ORDER BY cpu DESC"), tiny).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(top == Seq(("a", 9.0), ("b", 7.0)))
    // the ORDER BY also orders the survivors (value DESC here)
    val latest = Compiler.compile(Parser.parse(
      "SELECT DISTINCT ON (cpu.host) cpu.host, ts, cpu FROM dom.f " +
        "ORDER BY ts DESC"), tiny).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(latest.toSet == Set(("a", 5.0), ("b", 2.0)))
    // refusals: no ORDER BY → nondeterministic pick; unselected key
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT DISTINCT ON (cpu.host) cpu.host, cpu FROM dom.f"), tiny))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT DISTINCT ON (cpu.host) cpu FROM dom.f ORDER BY cpu"), tiny))
    // plain DISTINCT is untouched; `on` elsewhere still parses as a
    // join keyword
    assert(Parser.parse("SELECT DISTINCT cpu FROM dom.f").distinctOn.isEmpty)
  }

  test("mad(): median absolute deviation, robust against the outlier itself") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // 1,2,3,4,100: median 3, deviations (2,1,0,1,97) → mad = 1; the
    // wild point that would wreck a stddev moves the MAD not at all
    val rows = Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex.map {
      case (v, i) =>
        ("c", Timestamp.valueOf(f"2024-01-01 00:00:0$i"), v)
    }
    val tiny = spark.createDataFrame(rows).toDF("series", "ts", "value")
      .withColumn("attributes", map().cast("map<string,string>"))
      .withColumn("tags", map().cast("map<string,string>"))
    val r = Compiler.compile(Parser.parse(
      "SELECT mad(c) AS m, round(stddev(c), 2) AS sd FROM dom.f"),
      tiny).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) > 40.0)
    // grouping-set expansion would double-count the window median
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT c.host, mad(c) AS m FROM dom.f GROUP BY ROLLUP (c.host)"),
      tiny))
  }

  test("sketch_jaccard/sketch_intersect: exact below k, arity refusals") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // day 1 users u1..u6, day 2 users u4..u9: below k = 64 the sketches
    // ARE the hash sets, so jaccard = |A∩B|/|A∪B| = 3/9 and intersect
    // = 3 EXACTLY — the estimator's exact regime, independent of hashes
    val rows = (1 to 6).map(i => ("2024-01-01 10:00:00", s"u$i")) ++
      (4 to 9).map(i => ("2024-01-02 10:00:00", s"u$i"))
    val tiny = spark.createDataFrame(rows.zipWithIndex.map {
      case ((day, u), i) => ("c", Timestamp.valueOf(day), i * 1.0, u)
    }).toDF("series", "ts", "value", "u")
      .withColumn("attributes", map(lit("user"), col("u"))).drop("u")
      .withColumn("tags", map().cast("map<string,string>"))
    val r = Compiler.compile(Parser.parse(
      "WITH s AS (SELECT CAST(bucket(ts, '1 day') AS int) AS d, " +
        "CAST(bucket(ts, '1 day') AS int) + 86400 AS dn, " +
        "approx_distinct_sketch(c.user) AS sk " +
        "FROM dom.f GROUP BY d, dn) " +
        "SELECT round(sketch_jaccard(a.sk, b.sk), 6) AS j, " +
        "sketch_intersect(a.sk, b.sk) AS ix " +
        "FROM s AS a JOIN s AS b ON a.dn = b.d"), tiny).collect()(0)
    assert(r.getDouble(0) == 0.333333 && r.getDouble(1) == 3.0)
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT sketch_jaccard(c) AS j FROM dom.f"), tiny))
  }

  test("WINDOW clause: parse-time substitution, scoping, refusals") {
    // `OVER w` substitutes to the EXACT AST the inline spelling builds —
    // downstream (compiler, plan, same-spec window collapsing) is
    // literally the same query
    val named = Parser.parse(
      "SELECT cpu.host, rank() OVER w AS r, lag(cpu, 1) OVER w AS p " +
        "FROM dom.f WINDOW w AS (PARTITION BY cpu.host ORDER BY cpu DESC)")
    val inline = Parser.parse(
      "SELECT cpu.host, " +
        "rank() OVER (PARTITION BY cpu.host ORDER BY cpu DESC) AS r, " +
        "lag(cpu, 1) OVER (PARTITION BY cpu.host ORDER BY cpu DESC) AS p " +
        "FROM dom.f")
    assert(named == inline)
    // named windows reach QUALIFY and ORDER BY items too
    val q = Parser.parse(
      "SELECT cpu.host, cpu FROM dom.f QUALIFY rank() OVER w <= 2 " +
        "WINDOW w AS (PARTITION BY cpu.host ORDER BY cpu DESC) " +
        "ORDER BY row_number() OVER w")
    assert(q.qualify.isDefined && q.orderBy.nonEmpty)
    // frames ride along
    val f = Parser.parse(
      "SELECT sum(cpu) OVER w AS s FROM dom.f WINDOW w AS " +
        "(PARTITION BY cpu.host ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)")
    assert(f.select.collect {
      case ExprItem(OWin(_, _, _, _, Some(fr)), _) => fr }.nonEmpty)
    // undefined name refuses with the clause spelled out
    val e1 = intercept[Parser.ParseException](Parser.parse(
      "SELECT rank() OVER w AS r FROM dom.f"))
    assert(e1.getMessage.contains("WINDOW"))
    // … including inside a JOIN ON condition: the marker must not leak
    // past the parser into a confusing downstream resolution error
    val e2 = intercept[Parser.ParseException](Parser.parse(
      "SELECT a.cpu, b.mem FROM dom.f AS a JOIN dom.g AS b " +
        "ON row_number() OVER w = 1"))
    assert(e2.getMessage.contains("references no named window"))
    // duplicate definition refuses
    intercept[Parser.ParseException](Parser.parse(
      "SELECT rank() OVER w AS r FROM dom.f WINDOW w AS (ORDER BY cpu), " +
        "w AS (ORDER BY ts)"))
    // ANSI scoping: a subquery does NOT see the outer query's windows
    intercept[Parser.ParseException](Parser.parse(
      "SELECT x FROM (SELECT rank() OVER w AS x FROM dom.f) " +
        "WINDOW w AS (ORDER BY cpu)"))
    // `window` stays usable as an ordinary name (contextual keyword)
    val w = Parser.parse("SELECT window, window.host FROM dom.f " +
      "WHERE window > 1.0")
    assert(w.select.length == 2)
  }

  test("arg_max/arg_min/string_agg/bool_and/bool_or: two-arg aggregates") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    val rows: Seq[(String, Timestamp, java.lang.Double, String)] = Seq(
      ("c", t(0), 5.0, "u3"),
      ("c", t(1), 9.0, "u1"), // tie at the peak …
      ("c", t(2), 9.0, "u9"), // … breaks toward the MAX arg for arg_max
      ("c", t(3), 1.0, "u5"),
      ("c", t(4), 1.0, "u2"), // trough tie breaks toward the MIN arg
      ("c", t(5), 99.0, null), // null pair member: skipped, not the peak
      ("c", t(6), null, "u7")) // null key: skipped everywhere
    val tiny = spark.createDataFrame(rows)
      .toDF("series", "ts", "value", "u")
      .withColumn("attributes", map(lit("user"), col("u"))).drop("u")
      .withColumn("tags", map().cast("map<string,string>"))
    def one(q: String) = Compiler.compile(Parser.parse(q), tiny).collect()(0)
    val r = one(
      "SELECT arg_max(c.user, c) AS pk, arg_min(c.user, c) AS lo FROM dom.f")
    assert(r.getString(0) == "u9" && r.getString(1) == "u2")
    // FILTER conjoins into the pair guard on BOTH arguments
    val rf = one(
      "SELECT arg_max(c.user, c) FILTER (WHERE c < 9.0) AS pk FROM dom.f")
    assert(rf.getString(0) == "u3")
    // string_agg: sorted ASCENDING BY VALUE (not input order), nulls
    // skipped — 99.0's null user drops, u1 < u3 < u9
    val sa = one(
      "SELECT string_agg(c.user, '|') AS us FROM dom.f WHERE c >= 5.0")
    assert(sa.getString(0) == "u1|u3|u9")
    // bool_and/bool_or are three-valued: the null-value row is UNKNOWN
    // and drops (ANSI) — it neither falsifies bool_and nor fires bool_or
    val b = one(
      "SELECT bool_and(c < 50.0) AS a, bool_or(c > 50.0) AS o FROM dom.f")
    assert(!b.getBoolean(0) && b.getBoolean(1))
    val b2 = one(
      "SELECT bool_and(c < 500.0) AS a, bool_or(c > 500.0) AS o FROM dom.f")
    assert(b2.getBoolean(0) && !b2.getBoolean(1))
    // empty group → NULL, never false
    val b3 = one("SELECT bool_and(c < 5.0) AS a FROM dom.f WHERE c > 1000.0")
    assert(b3.isNullAt(0))
    // structural dedup: the same arg_max in SELECT and HAVING is ONE
    // aggregate; a different second argument is a DIFFERENT aggregate
    val g = Compiler.compile(Parser.parse(
      "SELECT c.user, arg_max(c, ts) AS lastv FROM dom.f " +
        "WHERE c.user IS NOT NULL " +
        "GROUP BY c.user HAVING arg_max(c, ts) > 2.0 ORDER BY c.user"),
      tiny).collect()
    assert(g.map(_.getString(0)).toSeq == Seq("u1", "u3", "u9"))
    // max_by/min_by are pure aliases — same AST, one aggregate
    assert(Parser.parse("SELECT max_by(c.user, c) AS pk FROM dom.f") ==
      Parser.parse("SELECT arg_max(c.user, c) AS pk FROM dom.f"))
    assert(Parser.parse("SELECT min_by(c.user, c) AS lo FROM dom.f") ==
      Parser.parse("SELECT arg_min(c.user, c) AS lo FROM dom.f"))
    // count_if: only TRUE rows count — UNKNOWN (null value) is not a
    // match, unlike count(*); FILTER conjoins
    val ci = one("SELECT count_if(c >= 9.0) AS n, count(*) AS all_n, " +
      "count_if(c >= 9.0) FILTER (WHERE c < 50.0) AS nf FROM dom.f")
    assert(ci.getLong(0) == 3L && ci.getLong(1) == 7L && ci.getLong(2) == 2L)
    // refusals: no window form; separator must be a string literal
    intercept[Parser.ParseException](Parser.parse(
      "SELECT arg_max(c, ts) OVER (PARTITION BY c.user) AS x FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT string_agg(c.user, c) AS x FROM dom.f"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT bool_and(c < 1) OVER (PARTITION BY c.user) AS x FROM dom.f"))
  }

  test("GROUP BY ALL / ORDER BY ALL desugar; NULLS FIRST/LAST") {
    // GROUP BY ALL = the non-aggregate select items (fields by name,
    // expressions by alias), in select order
    val g = Parser.parse(
      "SELECT click.user, bucket(ts, '1 day') AS d, count(*) AS n " +
        "FROM dom.events GROUP BY ALL")
    assert(g.groupBy == Seq(RawName(Seq("click", "user")), RawName(Seq("d"))))
    // sugar ≡ the explicit spelling, row for row
    val sugar = Compiler.compile(Parser.parse(
      "SELECT click.user, bucket(ts, '1 day') AS d, count(*) AS n " +
        "FROM dom.events GROUP BY ALL ORDER BY ALL"), fam).collect().toSeq
    val explicit = Compiler.compile(Parser.parse(
      "SELECT click.user, bucket(ts, '1 day') AS d, count(*) AS n " +
        "FROM dom.events GROUP BY click.user, d " +
        "ORDER BY click.user, d, n"), fam).collect().toSeq
    assert(sugar == explicit && sugar.nonEmpty)
    // an all-aggregate select has no keys to group by
    intercept[Parser.ParseException](Parser.parse(
      "SELECT count(*) AS n FROM dom.events GROUP BY ALL"))
    // ORDER BY ALL DESC applies the direction to every key
    val o = Parser.parse(
      "SELECT click.user, click FROM dom.events ORDER BY ALL DESC")
    assert(o.orderBy.length == 2 && o.orderBy.forall(!_.asc))
    // NULLS LAST on an ascending nullable key moves nulls to the end
    // (Spark's ASC default is NULLS FIRST — this is the override)
    val rows = Compiler.compile(Parser.parse(
      "SELECT CASE WHEN click > 200.0 THEN click.k END AS k2, click " +
        "FROM dom.events ORDER BY k2 NULLS LAST, click"), fam).collect()
    assert(rows.nonEmpty && rows.last.isNullAt(0) && !rows.head.isNullAt(0))
    // a series named `nulls` still parses as a sort key (contextual:
    // only the exact `NULLS FIRST|LAST` two-word shape engages)
    assert(Parser.parse(
      "SELECT x FROM dom.f ORDER BY x, nulls").orderBy.length == 2)
    // window ORDER BY carries the placement too (same sortDir path as
    // the query-level keys — grammar pin here)
    Parser.parse("SELECT rank() OVER (ORDER BY cpu DESC NULLS LAST) AS r " +
      "FROM dom.f").select.head match {
      case ExprItem(OWin("rank", _, _,
        Seq((RawName(Seq("cpu")), false, Some(false))), _), "r") => ()
      case other => fail(s"window NULLS placement not parsed: $other")
    }
  }

  test("approx_percentile_sketch/_merge: two-level rollup equals direct") {
    // the bottom-k merge law: per-day sample sketches merged per user
    // give EXACTLY the sample (and so the estimate) of a direct
    // single-pass approx_percentile over the same rows
    val direct = Compiler.compile(Parser.parse(
      "SELECT purchase.user, " +
        "approx_percentile(CAST(purchase * 100.0 AS int), 0.25) AS p " +
        "FROM dom.events GROUP BY purchase.user ORDER BY purchase.user"),
      fam).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val rolled = Compiler.compile(Parser.parse(
      "SELECT t.u AS purchase_user, " +
        "approx_percentile_merge(t.sk, 0.25) AS p " +
        "FROM (SELECT purchase.user AS u, bucket(ts, '1 day') AS d, " +
        "approx_percentile_sketch(CAST(purchase * 100.0 AS int)) AS sk " +
        "FROM dom.events GROUP BY u, d) AS t GROUP BY t.u ORDER BY t.u"),
      fam).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rolled == direct && rolled.nonEmpty)
    // the sketch needs the time axis; the merge fraction is mandatory
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT approx_percentile_sketch(t.x) AS sk FROM " +
        "(SELECT purchase.user AS x FROM dom.events) AS t"), fam))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT approx_percentile_merge(t.sk) AS p FROM " +
        "(SELECT approx_percentile_sketch(purchase) AS sk " +
        "FROM dom.events) AS t"))
  }

  test("percent_rank/cume_dist/nth_value: ANSI ratios and refusals") {
    // percent_rank = (rank-1)/(n-1), cume_dist = peers<=current / n;
    // single-row partitions give 0 and 1 (ANSI), nth_value past the
    // partition end gives null
    val df = Compiler.compile(Parser.parse(
      "SELECT click.user, percent_rank() OVER (PARTITION BY click.user " +
        "ORDER BY click, click.event_id) AS pr, " +
        "cume_dist() OVER (PARTITION BY click.user " +
        "ORDER BY click, click.event_id) AS cd, " +
        "nth_value(click, 2) OVER (PARTITION BY click.user " +
        "ORDER BY click, click.event_id ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND UNBOUNDED FOLLOWING) AS nv FROM dom.events"), fam).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
    // both need a window ORDER BY; nth_value's offset is a positive
    // integer literal
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT percent_rank() OVER (PARTITION BY click.user) AS pr " +
        "FROM dom.events"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT nth_value(click, 0) OVER (PARTITION BY click.user " +
        "ORDER BY click) AS nv FROM dom.events"), fam))
    intercept[Compiler.CompileException](Compiler.compile(Parser.parse(
      "SELECT nth_value(click, click) OVER (PARTITION BY click.user " +
        "ORDER BY click) AS nv FROM dom.events"), fam))
  }

  test("sliding bucket: map-side expansion, window membership, refusals") {
    import org.apache.spark.sql.functions._
    // every row lands in exactly width/slide windows: summed window
    // counts = 2x the series rows for (1 day, 12 hours)
    val df = Compiler.compile(Parser.parse(
      "SELECT bucket(ts, '1 day', '12 hours') AS d, count(click) AS n " +
        "FROM dom.events GROUP BY d ORDER BY d"), fam).collect()
    val clicks = fam.filter(col("series") === "click")
    val base = clicks.count()
    assert(df.map(_.getAs[Long]("n")).sum == 2 * base && base > 0)
    // window starts align to the slide; each consecutive pair of starts
    // is 12 hours apart where data is dense
    val starts = df.map(_.getAs[java.sql.Timestamp]("d").getTime)
    assert(starts.forall(_ % (12L * 3600 * 1000) == 0))
    // equals the manual 2-row expansion
    val us = unix_micros(col("ts"))
    val b = us - pmod(us, lit(43200000000L))
    val exp = clicks.select(explode(array(b, b - 43200000000L)).as("dus"))
      .groupBy("dus").count().orderBy("dus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(df.map(r => (r.getAs[java.sql.Timestamp]("d").getTime * 1000,
      r.getAs[Long]("n"))).toSeq == exp)
    // refusals: scalar position, gap-leaving slide, non-divisible
    // width, ROLLUP, FILL
    def refuses(q: String): Unit =
      intercept[Compiler.CompileException](Compiler.compile(Parser.parse(q), fam))
    refuses("SELECT bucket(ts, '1 day', '12 hours') AS d, click " +
      "FROM dom.events")
    refuses("SELECT bucket(ts, '1 hour', '2 hours') AS d, count(click) AS n " +
      "FROM dom.events GROUP BY d")
    refuses("SELECT bucket(ts, '1 day', '7 hours') AS d, count(click) AS n " +
      "FROM dom.events GROUP BY d")
    refuses("SELECT bucket(ts, '1 day', '12 hours') AS d, count(click) AS n " +
      "FROM dom.events GROUP BY ROLLUP (d)")
    refuses("SELECT bucket(ts, '1 day', '12 hours') AS d, count(click) AS n " +
      "FROM dom.events GROUP BY d FILL(null)")
  }

  test("histogram: bin counts, exclusion, FILTER, literal contracts") {
    import org.apache.spark.sql.functions._
    // bins of [0, 100) in 4: values 5, 30, 55, 99 → one per bin; -1 and
    // 100 excluded; 25 lands in bin 1
    val df = Compiler.compile(Parser.parse(
      "SELECT histogram(click, 0, 100, 4) AS h, count(*) AS n " +
        "FROM dom.events"), fam)
    assert(df.columns.sameElements(Array("h", "n")))
    val h = df.collect()(0).getString(0).split(",").map(_.toLong)
    assert(h.length == 4)
    // matches an independent Spark formulation
    val exp = fam.filter(col("series") === "click" &&
        col("value") >= 0 && col("value") < 100)
      .withColumn("b", least(floor(col("value") / lit(100.0) * 4.0)
        .cast("int"), lit(3)))
      .groupBy("b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 4).foreach(i => assert(h(i) == exp.getOrElse(i, 0L), s"bin $i"))
    // total binned <= series rows (out-of-range excluded, not clamped)
    assert(h.sum <= fam.filter(col("series") === "click").count())
    // FILTER narrows the input rows
    val f = Compiler.compile(Parser.parse(
      "SELECT histogram(click, 0, 300, 3) FILTER (WHERE click < 100.0) " +
        "AS h FROM dom.events"), fam).collect()(0).getString(0)
    assert(f.split(",").drop(1).forall(_ == "0"), f)
    // literal contracts: integer bin count in [1, 256], hi > lo
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram(click, 0, 100, 0) AS h FROM dom.events"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram(click, 0, 100, 2.5) AS h FROM dom.events"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram(click, 100, 100, 4) AS h FROM dom.events"))
    intercept[Parser.ParseException](Parser.parse(
      "SELECT histogram(click, 0, 100, click) AS h FROM dom.events"))
  }

  test("twa: dialect equals the operator; window+agg on one exchange; refusals") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT click.user, twa(click) AS tw FROM dom.events " +
        "GROUP BY click.user HAVING count(click) > 1 " +
        "ORDER BY click.user"), fam)
    val base = fam.filter(col("series") === "click")
      .select(element_at(col("attributes"), "user").as("click_user"),
        col("ts"), col("value"))
    val exp = graft.operators.TimeSeriesOps
      .timeWeightedAvg(base, Seq("click_user"), "ts", "value")
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val expm = exp.collect()
      .flatMap(r => Option(r.get(1)).map(v =>
        r.getString(0) -> v.asInstanceOf[Double])).toMap
    assert(got.nonEmpty)
    got.foreach { case (u, v) =>
      assert(math.abs(v - expm(u)) < 1e-9, s"$u: $v vs ${expm(u)}")
    }
    // the lead() window and the aggregate hash on the same key: one
    // data exchange (plus the presentation sort)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"twa must reuse the key exchange:\n$plan")
    // refusals: star, joined frames, ts-less derived tables, ROLLUP,
    // sliding keys
    def refuses(q: String): Unit =
      intercept[Compiler.CompileException](Compiler.compile(Parser.parse(q), fam))
    refuses("SELECT twa(*) FROM dom.events")
    refuses("SELECT twa(a.click) AS t FROM dom.events AS a " +
      "JOIN dom.events AS b ON a.click.user = b.view.user")
    refuses("SELECT twa(t.x) AS tw FROM (SELECT purchase.user AS x " +
      "FROM dom.events) AS t")
    refuses("SELECT click.user, twa(click) AS tw FROM dom.events " +
      "GROUP BY ROLLUP (click.user)")
    refuses("SELECT bucket(ts, '1 day', '12 hours') AS d, twa(click) AS tw " +
      "FROM dom.events GROUP BY d")
  }

  test("FUNNEL/RETENTION/OUTLIERS statements: semantics + refusals") {
    import org.apache.spark.sql.functions._
    // funnel equals the operator it compiles to, run by hand
    val viaSql = BoostQL.sql(
      "FUNNEL signup -> click -> purchase BY user FROM dom.events",
      _ => fam).collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val byHand = graft.operators.TimeSeriesOps.funnel(
      fam.select(col("series"),
        coalesce(element_at(col("attributes"), "user"),
          element_at(col("tags"), "user")).as("u"), col("ts")),
      "u", "series", "ts", Seq("signup", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(viaSql.toSeq == byHand.toSeq && viaSql.nonEmpty)
    // funnel counts are monotone non-increasing down the steps
    assert(viaSql.map(_._3).toSeq == viaSql.map(_._3).sorted.reverse.toSeq)
    // WITHIN tightens (or keeps) every step count
    val bounded = BoostQL.sql(
      "FUNNEL signup -> click -> purchase BY user WITHIN '1 hour' " +
        "FROM dom.events", _ => fam)
      .collect().map(_.getLong(2))
    assert(bounded.zip(viaSql.map(_._3)).forall { case (b, u) => b <= u })
    // retention: offset 0 row per cohort; all offsets within MAX
    val ret = BoostQL.sql("RETENTION BY user MAX 5 DAYS FROM dom.events",
      _ => fam).collect()
    assert(ret.nonEmpty && ret.forall(_.getInt(1) <= 5))
    assert(ret.filter(_.getInt(1) == 0).nonEmpty)
    // outliers: every surviving row satisfies dev > k*mad
    val out = BoostQL.sql("OUTLIERS purchase K 3.0 FROM dom.events",
      _ => fam).collect()
    assert(out.nonEmpty && out.forall(r =>
      r.getDouble(2) > 3.0 * r.getDouble(3)))
    // refusals: malformed/duplicate steps, bad interval, non-positive K
    def refuses(q: String): Unit =
      intercept[Compiler.CompileException](BoostQL.sql(q, _ => fam))
    refuses("FUNNEL signup -> -> click BY user FROM dom.events")
    refuses("FUNNEL signup -> signup BY user FROM dom.events")
    refuses("FUNNEL signup -> click BY user WITHIN 'nope' FROM dom.events")
    refuses("OUTLIERS purchase K 0 FROM dom.events")
  }

  test("hot-key smoothing escapes: zscore auto-stitches bit-equally, " +
      "ewma/twa width spellings match their single-pass forms, " +
      "refusals name the shape") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // three hour-buckets, a null VALUE row, and a null KEY row — the
    // stitch paths must carry both exactly like the window forms
    val rows: Seq[(String, Timestamp, Option[Double], Option[String])] =
      Seq(
        ("c", Timestamp.valueOf("2024-01-01 00:05:00"), Some(10.0), Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 00:25:00"), Some(14.0), Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 00:45:00"), None,       Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 01:10:00"), Some(6.0),  Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 01:30:00"), Some(9.0),  None),
        ("c", Timestamp.valueOf("2024-01-01 02:15:00"), Some(3.0),  Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 02:40:00"), Some(7.0),  Some("b")),
        ("c", Timestamp.valueOf("2024-01-01 02:55:00"), Some(5.0),  None))
    val f = spark.createDataFrame(rows).toDF("series", "ts", "value", "h")
      .withColumn("attributes",
        map(lit("host"), col("h")).cast("map<string,string>"))
      .withColumn("tags", map().cast("map<string,string>"))
      .drop("h")
    def q(text: String) = Compiler.compile(Parser.parse(text), f)
    def planOf(text: String) = q(text).queryExecution.analyzed
    def hasNode(text: String, node: String): Boolean =
      planOf(text).collect { case p if p.nodeName == node => p }.nonEmpty
    // --- zscore: AUTO-stitched (groupBy + broadcast join-back) -------
    val zsText = "SELECT ts, zscore(CAST(c AS int)) " +
      "OVER (PARTITION BY c.host) AS z FROM dom.f ORDER BY ts"
    assert(hasNode(zsText, "Join") && !hasNode(zsText, "Window"),
      "top-level zscore must compile to the stitched join-back plan")
    // nested use keeps the window form
    val zsNested = "SELECT ts, zscore(CAST(c AS int)) " +
      "OVER (PARTITION BY c.host) * 1.0 AS z2 FROM dom.f ORDER BY ts"
    assert(hasNode(zsNested, "Window"),
      "nested zscore must keep the window form")
    // ×1.0 is the IEEE identity, so the two plans must agree BIT for bit
    val zs = q(zsText).collect().map(r =>
      if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val zw = q(zsNested).collect().map(r =>
      if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(zs.toSeq == zw.toSeq && zs.exists(_.isDefined),
      "stitched zscore must be bit-equal to the window form")
    // under QUALIFY the window form engages (and works)
    assert(q("SELECT ts, zscore(CAST(c AS int)) OVER (PARTITION BY " +
      "c.host) AS z FROM dom.f QUALIFY z > 0.0 ORDER BY ts")
      .collect().forall(_.getDouble(1) > 0.0))
    // --- ewma escape: opt-in width, ~1e-9 of the single pass ---------
    val sgl = q("SELECT ts, ewma(c, 0.25) OVER (PARTITION BY c.host) " +
      "AS sm FROM dom.f ORDER BY ts").collect()
    val esc = q("SELECT ts, ewma(c, 0.25, '1 hour') OVER (PARTITION BY " +
      "c.host) AS sm FROM dom.f ORDER BY ts").collect()
    assert(sgl.length == rows.length && esc.length == rows.length)
    sgl.zip(esc).foreach { case (a, b) =>
      assert(a.isNullAt(1) == b.isNullAt(1),
        s"null pattern diverged at ${a.getTimestamp(0)}")
      if (!a.isNullAt(1))
        assert(math.abs(a.getDouble(1) - b.getDouble(1)) <=
          1e-9 * math.max(1.0, math.abs(a.getDouble(1))),
          s"ewma escape diverged at ${a.getTimestamp(0)}: " +
            s"${a.getDouble(1)} vs ${b.getDouble(1)}")
    }
    // --- twa escape: bit-equal over integral inputs -------------------
    val twaS = q("SELECT c.host AS h, twa(CAST(c AS int)) AS tw " +
      "FROM dom.f GROUP BY c.host ORDER BY h").collect().map(_.toSeq)
    val twaE = q("SELECT c.host AS h, twa(CAST(c AS int), '1 hour') " +
      "AS tw FROM dom.f GROUP BY c.host ORDER BY h").collect().map(_.toSeq)
    assert(twaS.toSeq == twaE.toSeq && twaS.nonEmpty,
      "bucketed twa must be bit-equal to the single-pass form")
    // --- refusals name the shape --------------------------------------
    def refuses(text: String, frag: String): Unit = {
      val e = intercept[Compiler.CompileException](q(text).collect())
      assert(e.getMessage.contains(frag), s"message: ${e.getMessage}")
    }
    // --- holt escape: the 2-state stitch through the same front ------
    val holtS = q("SELECT ts, holt(c, 0.5, 0.25) OVER (PARTITION BY " +
      "c.host) AS h FROM dom.f ORDER BY ts").collect()
    val holtE = q("SELECT ts, holt(c, 0.5, 0.25, '1 hour') OVER " +
      "(PARTITION BY c.host) AS h FROM dom.f ORDER BY ts").collect()
    holtS.zip(holtE).foreach { case (a, b) =>
      assert(a.isNullAt(1) == b.isNullAt(1))
      if (!a.isNullAt(1))
        assert(math.abs(a.getDouble(1) - b.getDouble(1)) <=
          1e-9 * math.max(1.0, math.abs(a.getDouble(1))),
          s"holt escape diverged at ${a.getTimestamp(0)}")
    }
    refuses("SELECT round(ewma(c, 0.5, '1 day') OVER (PARTITION BY " +
      "c.host), 6) AS x FROM dom.f", "top-level select item")
    refuses("SELECT holt(c, 0.5, 0.25, '1 day') OVER (PARTITION BY " +
      "c.host) * 2.0 AS x FROM dom.f", "top-level select item")
    refuses("SELECT holt_forecast(c, 0.5, 0.25, 'bogus') OVER " +
      "(PARTITION BY c.host) AS x FROM dom.f", "bucket width")
    refuses("SELECT ewma(c, 0.5, '1 day') OVER (PARTITION BY c.host) " +
      "AS x FROM dom.f QUALIFY x > 0.0", "top-level select item")
    refuses("SELECT ewma(c, 0.5, 'nonsense') OVER (PARTITION BY " +
      "c.host) AS x FROM dom.f", "bucket width")
    refuses("SELECT twa(CAST(c AS int), '0 seconds') AS tw FROM dom.f",
      "bucket width")
    intercept[Parser.ParseException](
      Parser.parse("SELECT twa(c, 5) AS tw FROM dom.f"))
  }

  test("holt_winters escape: the (2+p)-state stitch tracks the " +
      "single-pass kernel across bucket phases; refusals name the shape") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // same fixture discipline as the ewma/holt escape test: several
    // hour-buckets with UNEVEN observation counts (so later buckets
    // enter at non-zero seasonal phase), a null VALUE row and a null
    // KEY row — the phase join and the stitch must carry all of it
    val rows: Seq[(String, Timestamp, Option[Double], Option[String])] =
      Seq(
        ("c", Timestamp.valueOf("2024-01-01 00:05:00"), Some(10.0), Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 00:25:00"), Some(14.0), Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 00:45:00"), None,       Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 00:55:00"), Some(8.0),  Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 01:10:00"), Some(6.0),  Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 01:30:00"), Some(9.0),  None),
        ("c", Timestamp.valueOf("2024-01-01 02:15:00"), Some(3.0),  Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 02:25:00"), Some(11.0), Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 02:40:00"), Some(7.0),  Some("b")),
        ("c", Timestamp.valueOf("2024-01-01 02:55:00"), Some(5.0),  None),
        ("c", Timestamp.valueOf("2024-01-01 03:20:00"), Some(4.0),  Some("a")),
        ("c", Timestamp.valueOf("2024-01-01 03:40:00"), Some(12.0), Some("a")))
    val f = spark.createDataFrame(rows).toDF("series", "ts", "value", "h")
      .withColumn("attributes",
        map(lit("host"), col("h")).cast("map<string,string>"))
      .withColumn("tags", map().cast("map<string,string>"))
      .drop("h")
    def q(text: String) = Compiler.compile(Parser.parse(text), f)
    // both faces, p = 3 so the uneven bucket counts shift the phase
    for (fn <- Seq("holt_winters", "holt_winters_forecast")) {
      val sgl = q(s"SELECT ts, $fn(c, 0.5, 0.25, 0.25, 3) OVER " +
        "(PARTITION BY c.host) AS hw FROM dom.f ORDER BY ts").collect()
      val esc = q(s"SELECT ts, $fn(c, 0.5, 0.25, 0.25, 3, '1 hour') " +
        "OVER (PARTITION BY c.host) AS hw FROM dom.f ORDER BY ts")
        .collect()
      assert(sgl.length == rows.length && esc.length == rows.length)
      sgl.zip(esc).foreach { case (a, b) =>
        assert(a.isNullAt(1) == b.isNullAt(1),
          s"$fn null pattern diverged at ${a.getTimestamp(0)}")
        if (!a.isNullAt(1))
          assert(math.abs(a.getDouble(1) - b.getDouble(1)) <=
            1e-9 * math.max(1.0, math.abs(a.getDouble(1))),
            s"$fn escape diverged at ${a.getTimestamp(0)}: " +
              s"${a.getDouble(1)} vs ${b.getDouble(1)}")
      }
    }
    // a single wide bucket IS the single pass (phase 0, one chain link)
    val one = q("SELECT ts, holt_winters(c, 0.5, 0.25, 0.25, 3, " +
      "'1 day') OVER (PARTITION BY c.host) AS hw FROM dom.f " +
      "ORDER BY ts").collect()
    val oneS = q("SELECT ts, holt_winters(c, 0.5, 0.25, 0.25, 3) " +
      "OVER (PARTITION BY c.host) AS hw FROM dom.f ORDER BY ts")
      .collect()
    one.zip(oneS).foreach { case (a, b) =>
      assert(a.isNullAt(1) == b.isNullAt(1))
      if (!a.isNullAt(1)) assert(a.getDouble(1) == b.getDouble(1),
        s"one-bucket stitch must equal the single pass bit for bit at " +
          s"${a.getTimestamp(0)}")
    }
    def refuses(text: String, frag: String): Unit = {
      val e = intercept[Compiler.CompileException](q(text).collect())
      assert(e.getMessage.contains(frag), s"message: ${e.getMessage}")
    }
    refuses("SELECT holt_winters(c, 0.5, 0.25, 0.25, 3, '1 hour') " +
      "OVER (PARTITION BY c.host) * 2.0 AS x FROM dom.f",
      "top-level select item")
    refuses("SELECT holt_winters(c, 0.5, 0.25, 0.25, 3, '1 hour') " +
      "OVER (PARTITION BY c.host) AS x FROM dom.f QUALIFY x > 0.0",
      "top-level select item")
    refuses("SELECT holt_winters_forecast(c, 0.5, 0.25, 0.25, 3, " +
      "'bogus') OVER (PARTITION BY c.host) AS x FROM dom.f",
      "bucket width")
    refuses("SELECT holt_winters(c, 0.5, 0.25, 0.25, 30, '1 hour') " +
      "OVER (PARTITION BY c.host) AS x FROM dom.f", "[2, 8]")
    refuses("SELECT holt_winters(c, 0.5, 0.25, 0.25, 1, '1 hour') " +
      "OVER (PARTITION BY c.host) AS x FROM dom.f", "[2, 8]")
    refuses("SELECT holt_winters(c, 0.5, 0.25, 0.25, 3, '1 hour') " +
      "OVER (PARTITION BY c.host ORDER BY c) AS x FROM dom.f",
      "time axis implicitly")
  }

  test("compiler: nested derived tables collapse into one plan") {
    import org.apache.spark.sql.functions._
    val df = Compiler.compile(Parser.parse(
      "SELECT t2.u, t2.cnt FROM (SELECT t1.u AS u, t1.cnt AS cnt FROM " +
        "(SELECT purchase.user AS u, count(*) AS cnt FROM dom.events " +
        "GROUP BY purchase.user) AS t1 WHERE t1.cnt > 1) AS t2 " +
        "WHERE t2.cnt > 2 ORDER BY t2.u"), fam)
    val exp = fam.filter(col("series") === "purchase")
      .select(element_at(col("attributes"), "user").as("u"))
      .groupBy("u").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 2).orderBy("u")
    assert(df.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
  }

  test("refusal texts of the literal parsers, escapes and time-axis checks") {
    val joined = "FROM dom.events AS a JOIN dom.events AS b ON a.click = b.click"
    val derived = "FROM (SELECT click FROM dom.events) AS d"
    val escape = " escape is a top-level select item only (not nested in " +
      "an expression, not under QUALIFY) — alias it and reference the alias"
    val noTs = "this derived table does not output a timestamp column named ts"
    val cases = Seq(
      // smoothing literals: the single-pass forms, then the escapes
      "SELECT ewma(click, 1.5) AS x FROM dom.events" ->
        "ewma() alpha must be a numeric literal in (0, 1]",
      "SELECT holt(click, 0.0, 0.5) AS x FROM dom.events" ->
        "holt() alpha must be a numeric literal in (0, 1]",
      "SELECT holt_forecast(click, 0.5, 1.5) AS x FROM dom.events" ->
        "holt_forecast() beta must be a numeric literal in [0, 1]",
      "SELECT holt_winters(click, 2, 0.5, 0.5, 7) AS x FROM dom.events" ->
        "holt_winters() alpha must be a numeric literal in (0, 1]",
      "SELECT holt_winters(click, 0.5, 1.5, 0.5, 7) AS x FROM dom.events" ->
        "holt_winters() beta must be a numeric literal in [0, 1]",
      "SELECT holt_winters(click, 0.5, 0.5, 2.0, 7) AS x FROM dom.events" ->
        "holt_winters() gamma must be a numeric literal in [0, 1]",
      "SELECT ewma(click, 0.0, '1 day') AS x FROM dom.events" ->
        "ewma() alpha must be a numeric literal in (0, 1]",
      "SELECT holt(click, 0.5, -1.0, '1 day') AS x FROM dom.events" ->
        "holt() beta must be a numeric literal in [0, 1]",
      "SELECT holt_winters_forecast(click, 0.5, 0.5, 1.5, 7, '1 day') AS x " +
        "FROM dom.events" ->
        "holt_winters_forecast() gamma must be a numeric literal in [0, 1]",
      // the escapes nested in an expression
      "SELECT ewma(click, 0.5, '1 day') + 1 AS x FROM dom.events" ->
        ("the bucket-stitched ewma(x, alpha, '<width>')" + escape),
      "SELECT holt_forecast(click, 0.5, 0.5, '1 day') * 2 AS x FROM dom.events" ->
        ("the bucket-stitched holt_forecast(x, alpha, beta, '<width>')" + escape),
      "SELECT -holt_winters(click, 0.5, 0.5, 0.5, 7, '1 day') AS x " +
        "FROM dom.events" -> ("the bucket-stitched holt_winters(x, alpha, " +
        "beta, gamma, period, '<width>')" + escape),
      // the seasonal period of the stitched and the single-pass forms
      "SELECT holt_winters(click, 0.5, 0.5, 0.5, 12, '1 day') AS x " +
        "FROM dom.events" -> ("the stitched holt_winters() period must be " +
        "an integer literal in [2, 8] — the (2+p)² matrix-power buffer is " +
        "codegen-bounded; longer cycles use the single-pass form"),
      "SELECT holt_winters(click, 0.5, 0.5, 0.5, 30) AS x FROM dom.events" ->
        ("holt_winters() period must be an integer literal in [2, 24] (the " +
          "seasonal cycle length in observations: 7 for day-of-week, 12 " +
          "for month, 24 for hour-of-day)"),
      // bucket widths
      "SELECT ewma(click, 0.5, 5) AS x FROM dom.events" ->
        "ewma() bucket width must be a string literal like '1 day'",
      "SELECT holt(click, 0.5, 0.5, '1 month') AS x FROM dom.events" ->
        ("holt() bucket width '1 month' must be a positive fixed-width " +
          "interval (microsecond…day)"),
      "SELECT twa(click, '1 month') AS x FROM dom.events" ->
        ("twa() bucket width '1 month' must be a positive fixed-width " +
          "interval (microsecond…day)"),
      // the time-axis aggregates over a join and over a derived table
      // without ts
      s"SELECT approx_percentile(a.click, 0.5) AS x $joined" ->
        ("approx_percentile() is single-source only — joined frames can " +
          "repeat the sampling time axis"),
      s"SELECT first(a.click) AS x $joined" ->
        "first() is single-source only — joined frames have no unambiguous time axis",
      s"SELECT twa(a.click) AS x $joined" ->
        "twa() is single-source only — joined frames have no unambiguous time axis",
      s"SELECT acf(a.click, 1) AS x $joined" ->
        ("acf()/xcorr() are single-source only — joined frames have no " +
          "unambiguous time axis"),
      s"SELECT approx_percentile(click, 0.5) AS x $derived" ->
        s"approx_percentile() samples on the time axis — $noTs",
      s"SELECT last(click) AS x $derived" ->
        s"last() takes the value at the group's time-axis extreme — $noTs",
      s"SELECT increase(click) AS x $derived" ->
        s"increase() walks consecutive points on the time axis — $noTs",
      s"SELECT acf(click, 1) AS x $derived" ->
        s"acf()/xcorr() pair points k apart on the time axis — $noTs",
      // OVER on the time-series functions, and their arities
      "SELECT rate(click) OVER (ORDER BY ts) AS x FROM dom.events" ->
        "rate() orders by the time axis implicitly — OVER may only carry PARTITION BY",
      "SELECT zscore(click) OVER (ORDER BY ts) AS x FROM dom.events" ->
        "zscore() orders by the time axis implicitly — OVER may only carry PARTITION BY",
      "SELECT ewma(click, 0.5, '1 day') OVER (ORDER BY ts) AS x FROM dom.events" ->
        "ewma() orders by the time axis implicitly — OVER may only carry PARTITION BY",
      "SELECT rate(click) OVER (PARTITION BY click.user ROWS BETWEEN 1 " +
        "PRECEDING AND CURRENT ROW) AS x FROM dom.events" ->
        "rate() does not take a window frame",
      "SELECT zscore(click) OVER (PARTITION BY click.user ROWS BETWEEN 1 " +
        "PRECEDING AND CURRENT ROW) AS x FROM dom.events" ->
        "zscore() does not take a window frame",
      "SELECT rate(click, 2) AS x FROM dom.events" ->
        "rate() expects exactly 1 argument(s)",
      "SELECT ewma(click) AS x FROM dom.events" ->
        "ewma() expects exactly 2 argument(s)",
      "SELECT holt(click, 0.5) AS x FROM dom.events" ->
        "holt() expects exactly 3 argument(s)",
      "SELECT cusum(click, 1.0) AS x FROM dom.events" ->
        "cusum() expects exactly 3 argument(s)",
      "SELECT holt_winters(click, 0.5, 0.5, 0.5) AS x FROM dom.events" ->
        "holt_winters() expects exactly 5 argument(s)")
    val wrong = cases.flatMap { case (q, want) =>
      val got = try {
        Compiler.compile(Parser.parse(q), (_: (String, String)) => fam)
        "no refusal"
      } catch { case e: Compiler.CompileException => e.getMessage }
      if (got == want) None else Some(s"$q\n  want: $want\n  got:  $got")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("refusal texts of the stream aggregate") {
    val G = " FROM dom.events GROUP BY d"
    val J = "FROM dom.events AS a JOIN dom.events AS b ON a.click.user = " +
      "b.purchase.user AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'"
    val joinOnly = "streaming joined-stream aggregation supports one " +
      "[CAST(]bucket(x.ts, '<width>')[ AS int)] key + dimension aliases + " +
      "count/sum/avg/min/max only; "
    val wider = " is not supported (the single-family sqlStream form is wider)"
    val axisOnly = "source dom.events is referenced only through its time " +
      "axis ts — name one of its series, e.g. count(cpu) for a series cpu"
    // (query, whether it compiles as a stream, the exact text)
    val cases = Seq(
      // the aggregates and their aliases
      ("SELECT bucket(ts, '1 hour') AS d, median(click) AS m" + G, true,
        "median() is not streaming-safe — supported streaming aggregates: " +
          "count, sum, avg, min, max, approx_top_k, histogram"),
      ("SELECT bucket(ts, '1 hour') AS d, percentile(click, 0.5) AS p" + G, true,
        "percentile() is not streaming-safe — supported streaming " +
          "aggregates: count, sum, avg, min, max, approx_top_k, histogram"),
      ("SELECT bucket(ts, '1 hour') AS d, count(click)" + G, true,
        "streaming aggregates must be aliased (agg(x) AS name)"),
      ("SELECT bucket(ts, '1 hour') AS d, click.user AS u FROM dom.events " +
        "GROUP BY d, u", true,
        "watermarked streaming aggregation needs at least one aggregate"),
      // the time key
      ("SELECT click.user AS u, count(click) AS n FROM dom.events GROUP BY u",
        true, "watermarked streaming aggregation needs a bucket(ts, " +
          "'<width>') or session(ts, '<gap>') group key selected under an alias"),
      ("SELECT bucket(ts, '1 hour') AS d, bucket(ts, '1 day') AS e, " +
        "count(click) AS n FROM dom.events GROUP BY d, e", true,
        "watermarked streaming aggregation takes exactly one bucket(ts, …) " +
          "or session(ts, …) group key"),
      ("SELECT bucket(ts, '1 hour') AS d, count(click) AS n FROM dom.events " +
        "GROUP BY d, ts", true,
        "GROUP BY ts groups every point alone — use bucket(ts, …)"),
      ("SELECT bucket(ts, '1 hour') AS d, click * 2.0 AS k, count(click) AS n " +
        "FROM dom.events GROUP BY d, k", true,
        "streaming GROUP BY alias 'k' must name a bucket(ts, …) / " +
          "session(ts, …) item or a plain field"),
      ("SELECT bucket(ts, '1 month') AS d, count(click) AS n" + G, true,
        "bucket() width '1 month' must be a positive fixed-width interval " +
          "(microsecond…day)"),
      ("SELECT bucket(ts, '1 hour', '2 hours') AS d, count(click) AS n" + G,
        true, "bucket() slide must not exceed the width — a larger slide " +
          "leaves gaps (filter rows instead)"),
      ("SELECT bucket(ts, '1 day', '7 hours') AS d, count(click) AS n" + G,
        true, "bucket() width must be a multiple of the slide so every " +
          "row is in exactly width/slide windows"),
      ("SELECT CAST(bucket(ts, '1 hour') AS float) AS d, count(click) AS n" + G,
        true, "streaming bucket key CAST must target int (epoch seconds), " +
          "not float"),
      ("SELECT session(ts, '1 hour') AS w, count(click) AS n " +
        "FROM dom.events GROUP BY w", true,
        "streaming session(ts, …) aggregation needs at least one plain " +
          "grouping key besides the session — a global session merge is not " +
          "supported by the engine (group by the series/user key whose " +
          "activity defines the session)"),
      // over a join
      (s"SELECT session(a.ts, '1 hour') AS w, a.click.user AS u, " +
        s"count(*) AS n $J GROUP BY w, u", true,
        joinOnly + "a session key over a joined stream" + wider),
      (s"SELECT bucket(a.ts, '1 day', '12 hours') AS d, count(*) AS n $J " +
        "GROUP BY d", true, joinOnly + "a sliding bucket over a joined " +
          "stream (an Expand between two stateful operators)" + wider),
      (s"SELECT bucket(a.ts, '1 day') AS d, count(*) AS n $J GROUP BY d " +
        "HAVING count(*) > 2", true, joinOnly + "HAVING over a joined-stream " +
          "aggregate (filter the finalized windows at the sink, or use the " +
          "single-family form which supports HAVING)" + wider),
      (s"SELECT bucket(a.ts, '1 day') AS d, count(*) * 2 AS n $J GROUP BY d",
        true, joinOnly + "the aggregate expression 'n'" + wider),
      (s"SELECT bucket(a.ts, '1 day') AS d, approx_top_k(a.click.user, 3) " +
        s"AS t $J GROUP BY d", true, joinOnly + "approx_top_k() (streaming-" +
          "safe joined-stream aggregates: count, sum, avg, min, max)" + wider),
      (s"SELECT bucket(a.ts, '1 day') AS d, count(*) AS n " +
        J.replace("JOIN", "LEFT JOIN") + " GROUP BY d", true,
        joinOnly + "GROUP BY over a LEFT OUTER joined stream (the " +
          "null-extended rows only arrive at watermark finalize, a second " +
          "layer of emission latency the aggregate would compound — " +
          "aggregate the inner join, or the outer join at the sink)" + wider),
      // a source named only through its time axis, in both tiers, and a
      // source never named at all
      ("SELECT bucket(ts, '1 hour') AS d, count(*) AS n" + G, true, axisOnly),
      ("SELECT bucket(ts, '1 hour') AS d, count(*) AS n" + G, false, axisOnly),
      ("SELECT a.click AS c FROM dom.events AS a CROSS JOIN dom.events AS b",
        false, "source dom.events is never referenced"))
    val wrong = cases.flatMap { case (q, stream, want) =>
      val got = try {
        if (stream) BoostQL.sqlStream(q, _ => fam, "1 day")
        else BoostQL.sql(q, _ => fam)
        "no refusal"
      } catch { case e: Compiler.CompileException => e.getMessage }
      if (got == want) None else Some(s"$q\n  want: $want\n  got:  $got")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}

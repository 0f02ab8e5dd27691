package graft.boostql

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

import graft.SparkSpec

/** End-to-end fuzz of the dialect's ERROR SURFACE: every generated
  * query — syntactically well-formed by construction, semantically
  * arbitrary (aggregate/window mixes, ungrouped bare fields, FILL on
  * non-bucket keys, quantifiers, sketch params…) — must either compile
  * and execute, or refuse with the dialect's own exceptions
  * (ParseException / CompileException). A raw Spark AnalysisException
  * (or anything else) escaping means a validation hole: the user typed
  * SQL and got an internal stack trace instead of a dialect error.
  */
object CompileFuzzProps extends Properties("boostql.compilefuzz") {

  private lazy val spark = new SparkSpec {}.spark
  private lazy val fam: DataFrame = {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val rows = for {
      s <- Seq("cpu", "mem"); i <- 0 until 40
    } yield (s, new Timestamp(1704067200000L + i * 977000L + s.length),
      i * 1.5 + s.length, s"h${i % 3}")
    spark.createDataFrame(rows).toDF("series", "ts", "value", "h")
      .withColumn("attributes", map(lit("host"), col("h"))).drop("h")
      .withColumn("tags", map().cast("map<string,string>"))
  }

  private val scalarItem: Gen[String] = Gen.oneOf(
    "cpu", "mem", "cpu.host", "cpu + mem", "upper(cpu.host)",
    "CAST(cpu AS int)", "bucket(ts, '1 hour')", "hour(ts)",
    "CASE WHEN cpu > 10.0 THEN mem END", "ts")
  private val aggItem: Gen[String] = Gen.oneOf(
    "count(*)", "sum(cpu)", "avg(cpu + mem)", "mad(cpu)", "twa(cpu)",
    "increase(cpu)", "median(mem)", "percentile(cpu, 0.5)",
    "approx_top_k(cpu.host, 4)", "first(cpu)", "corr(cpu, mem)",
    "histogram(cpu, 0, 100, 4)", "stddev(mem)",
    "arg_max(cpu.host, cpu)", "min_by(mem, ts)",
    "arg_min(cpu, mem + 1.0) FILTER (WHERE mem > 4.0)",
    "string_agg(cpu.host, ',')", "bool_and(cpu < 50.0)",
    "bool_or(cpu.host = 'h1')", "count_if(mem > cpu)",
    "regr_slope(mem, cpu)", "regr_r2(mem, cpu)",
    "regr_count(mem, cpu)")
  private val winItem: Gen[String] = Gen.oneOf(
    "rank() OVER (ORDER BY cpu)",
    "lag(cpu, 1) OVER (PARTITION BY cpu.host ORDER BY cpu)",
    "avg(mem) OVER (ORDER BY cpu ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
    "rate(cpu)", "locf(mem)", "zscore(cpu)",
    "holt(cpu, 0.5, 0.25)", "holt_forecast(mem, 1, 0)",
    "rank() OVER w", "sum(cpu) OVER w")

  private val item: Gen[String] = Gen.frequency(
    5 -> scalarItem, 3 -> aggItem, 2 -> winItem)

  private val queryGen: Gen[String] = for {
    n     <- Gen.choose(1, 3)
    items <- Gen.listOfN(n, item)
    withAliases = items.zipWithIndex.map { case (it, i) =>
      // bare 1-part fields keep their name; everything else aliased
      if (it.matches("[a-z_.]+") && !it.contains("(")) it else s"$it AS c$i"
    }
    source <- Gen.frequency(
      6 -> Gen.const(" FROM dom.f"),
      1 -> Gen.const(" FROM dom.f AS a JOIN dom.f AS b " +
        "ON a.cpu.host = b.mem.host"),
      1 -> Gen.const(" FROM dom.f AS a ASOF JOIN dom.f AS b " +
        "ON a.cpu.host = b.mem.host WITHIN '1 hour'"),
      1 -> Gen.const(" FROM (SELECT ts, cpu AS v, cpu.host AS h " +
        "FROM dom.f WHERE cpu > 3.0) AS t"),
      1 -> Gen.const(" FROM dom.f, dom.g"))
    where <- Gen.oneOf("", " WHERE cpu > 5.0", " WHERE cpu > ALL " +
      "(SELECT mem FROM dom.f)", " WHERE cpu.host IN ('h0', 'h1')",
      " WHERE NOT (mem < ANY (SELECT cpu FROM dom.f WHERE cpu > 20.0))",
      " WHERE EXISTS (SELECT mem FROM dom.f WHERE mem > 50.0)",
      " WHERE cpu > (SELECT avg(mem) FROM dom.f)")
    group <- Gen.oneOf("", " GROUP BY cpu.host", " GROUP BY ALL",
      " GROUP BY bucket(ts, '1 hour')",
      " GROUP BY cpu.host FILL(previous)",
      " GROUP BY bucket(ts, '2 hours', '1 hour')",
      " GROUP BY ROLLUP (cpu.host)")
    having <- Gen.frequency(4 -> Gen.const(""),
      1 -> Gen.const(" HAVING count(*) > 1"),
      1 -> Gen.const(" HAVING sum(cpu) > 10.0"))
    qualify <- Gen.frequency(5 -> Gen.const(""),
      1 -> Gen.const(" QUALIFY rank() OVER (ORDER BY cpu) <= 2"))
    // a WINDOW clause defining w half the time — `OVER w` items hit
    // both the defined path and the undefined-name refusal
    window <- Gen.oneOf("", " WINDOW w AS (PARTITION BY cpu.host " +
      "ORDER BY cpu DESC)", " WINDOW w AS (ORDER BY ts " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    order <- Gen.oneOf("", " ORDER BY 1", " ORDER BY ALL DESC",
      " ORDER BY cpu NULLS LAST")
    limit <- Gen.oneOf("", " LIMIT 5", " LIMIT 5 OFFSET 2")
    dist  <- Gen.oneOf("", "DISTINCT ", "DISTINCT ON (cpu.host) ")
    setop <- Gen.frequency(6 -> Gen.const(""),
      1 -> Gen.const(" UNION ALL SELECT mem FROM dom.f"),
      1 -> Gen.const(" INTERSECT SELECT cpu FROM dom.f"))
  } yield s"SELECT $dist${withAliases.mkString(", ")}$source" +
    s"$where$group$having$qualify$window$order$limit$setop"

  property("execute or refuse with a dialect exception — nothing leaks") =
    forAll(queryGen) { q =>
      try {
        Compiler.compile(Parser.parse(q), fam).collect()
        true
      } catch {
        case _: Parser.ParseException       => true
        case _: Compiler.CompileException   => true
        case e: Throwable =>
          println(s"FUZZLEAK ${e.getClass.getSimpleName} on: $q\n  " +
            String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200))
          false
      }
    }

  // ---- parse-only fuzz of the write, DDL and utility statements ----

  /** String literals that hold the words and separators the statement
    * grammar splits on. */
  private val literal: Gen[String] =
    Gen.oneOf("'h1'", "'a where b'", "'x when y'", "'p, q'", "'WHEN MATCHED'")
  private val predicate: Gen[String] = literal.flatMap(l => Gen.oneOf(
    s"cpu.host = $l", s"cpu > 5.0 AND mem.host != $l",
    s"cpu.host IN ($l, 'h2')", s"NOT (cpu.host LIKE $l)",
    "ts < DATE '2024-01-02'"))
  private val query: Gen[String] = literal.flatMap(l => Gen.oneOf(
    s"SELECT ts, cpu AS c FROM dom.g WHERE cpu.host = $l",
    "SELECT ts, max(cpu) AS c, cpu.host AS h FROM dom.g GROUP BY ts, cpu.host",
    "WITH t AS (SELECT ts, cpu AS c FROM dom.g) SELECT ts, c FROM t"))
  private val assigns: Gen[String] = literal.flatMap(l => Gen.oneOf(
    s"cpu.host = $l", "cpu = cpu * 2.0", "`cpu`.`host` = NULL",
    s"mem.host = $l, mem = CASE WHEN mem > 1.0 THEN 1.0 ELSE mem END"))
  private val mergeClause: Gen[String] = for {
    l <- literal; p <- predicate; a <- assigns
    c <- Gen.oneOf("WHEN MATCHED THEN UPDATE",
      s"WHEN MATCHED AND src.host = $l THEN DELETE",
      "WHEN NOT MATCHED THEN INSERT",
      s"WHEN NOT MATCHED BY SOURCE AND $p THEN DELETE",
      s"WHEN NOT MATCHED BY SOURCE THEN UPDATE SET $a")
  } yield c

  private val statement: Gen[String] = for {
    q <- query; p <- predicate; a <- assigns
    cs <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, mergeClause))
    s <- Gen.oneOf(s"INSERT INTO dom.f $q", s"UPSERT INTO dom.f $q",
      s"MERGE INTO dom.f USING ($q) AS src ${cs.mkString(" ")}",
      s"DELETE FROM dom.f WHERE $p", s"UPDATE dom.f SET $a WHERE $p",
      s"CREATE OR REPLACE FAMILY dom.f AS $q", "DROP FAMILY IF EXISTS dom.f",
      "REFRESH ROLLUP dom.f BUCKET '1 hour' AS h INTO dom.g",
      "DESCRIBE dom.f", "SHOW FAMILIES IN dom", "SHOW PARTITIONS dom.f",
      s"EXPLAIN EXTENDED $q",
      "FUNNEL a -> b -> c BY user WITHIN '1 hour' FROM dom.f",
      "RETENTION BY user MAX 5 DAYS FROM dom.f", "OUTLIERS cpu K 2.5 FROM dom.f")
  } yield s

  /** A statement and how it was mutated: "none", "trailing" (paging or
    * grouping after a DELETE/UPDATE predicate), "badname" (a target
    * family name that is not a plain directory name), "dropped" (one
    * keyword removed) or "truncated". */
  private val mutated: Gen[(String, String)] = statement.flatMap { s =>
    val words = s.split(" ").toVector
    val keywords = words.indices.filter(i => words(i).matches("[A-Z]+"))
    val trailing =
      if (!s.startsWith("DELETE") && !s.startsWith("UPDATE")) Gen.const((s, "none"))
      else Gen.oneOf(" GROUP BY cpu.host", " ORDER BY cpu", " LIMIT 5",
        " ORDER BY cpu LIMIT 5 OFFSET 2").map(t => (s + t, "trailing"))
    val badName =
      if (!s.contains(" dom.f")) Gen.const((s, "none"))
      else Gen.oneOf("`..`", "`a/b`", "`.x`", "`f x`").map(n =>
        (s.replaceFirst(" dom\\.f", s" dom.$n"), "badname"))
    Gen.frequency(
      2 -> Gen.const((s, "none")),
      2 -> trailing,
      1 -> badName,
      2 -> Gen.oneOf(keywords).map(i =>
        (words.patch(i, Nil, 1).mkString(" "), "dropped")),
      2 -> Gen.choose(1, words.length - 1).map(i =>
        (words.take(i).mkString(" "), "truncated")))
  }

  /** The statement kind each leading keyword names. */
  private def kindOf(lead: String): Option[Ast.Statement => Boolean] =
    lead match {
      case "select" | "with" => Some(_.isInstanceOf[Ast.QueryStmt])
      case "insert" => Some(_.isInstanceOf[Ast.Insert])
      case "upsert" => Some(_.isInstanceOf[Ast.Upsert])
      case "merge" => Some(_.isInstanceOf[Ast.Merge])
      case "delete" => Some(_.isInstanceOf[Ast.Delete])
      case "update" => Some(_.isInstanceOf[Ast.Update])
      case "create" => Some(_.isInstanceOf[Ast.CreateFamily])
      case "drop" => Some(_.isInstanceOf[Ast.DropFamily])
      case "refresh" => Some(_.isInstanceOf[Ast.RefreshRollup])
      case "describe" => Some(_.isInstanceOf[Ast.Describe])
      case "show" => Some(st => st.isInstanceOf[Ast.ShowFamilies] ||
        st.isInstanceOf[Ast.ShowPartitions])
      case "explain" => Some(_.isInstanceOf[Ast.Explain])
      case "funnel" => Some(_.isInstanceOf[Ast.Funnel])
      case "retention" => Some(_.isInstanceOf[Ast.Retention])
      case "outliers" => Some(_.isInstanceOf[Ast.Outliers])
      case _ => None
    }

  private val mustRefuse = Set("trailing", "badname")

  property("statements parse to their leading keyword's kind or refuse " +
      "with a dialect exception") =
    // no shrinking: a shrunk string no longer matches its mutation label
    forAllNoShrink(mutated) { case (stmt, how) =>
      val lead = stmt.takeWhile(_ != ' ').toLowerCase
      val ok = try {
        val st = Parser.parseStatement(stmt)
        !mustRefuse(how) && kindOf(lead).exists(_(st))
      } catch {
        case _: Parser.ParseException | _: Compiler.CompileException =>
          how != "none"
        case e: Throwable =>
          println(s"FUZZLEAK ${e.getClass.getSimpleName} on: $stmt")
          false
      }
      if (!ok) println(s"STATEMENT FUZZ ($how): $stmt")
      ok
    }
}

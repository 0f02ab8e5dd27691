package graft.boostql

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.SparkSpec
import graft.sources.TimeSeriesTable

/** Answer checks for the expression evaluator's scopes. Each scope must
  * mean what the batch compiler means:
  *  - the mutate verbs' long-row scope: over a one-series family a row
  *    predicate keeps exactly the rows SELECT … WHERE keeps;
  *  - the streaming aggregate's output-name scope: a streaming HAVING
  *    (and an expression item beside it) finalizes the rows batch
  *    HAVING returns;
  *  - the stateless stream tier: a projection + WHERE tailed from a
  *    written family returns the rows the batch read returns;
  *  - the streaming compiler as a whole: over batch frames (where
  *    `withWatermark` is a no-op) a single-family or self-joined
  *    aggregate returns the rows the batch compiler returns: tumbling
  *    and sliding keys, the plain aggregates, approx_top_k and
  *    histogram, and both joined topologies (the per-side hot-key plan
  *    for one-side arguments, the symmetric join for mixed-side ones).
  * The predicates span field, attribute and `ts` references, literals,
  * arithmetic, INTERVAL, CAST, CASE, IN, BETWEEN, LIKE, IS [NOT] NULL
  * and the scalar builtins, `round(x, d)` included. Values are exact
  * binary fractions, so sums do not depend on the order Spark adds in.
  * Each sample checks several predicates or queries at once, which keeps
  * each property under 20 s in a warm JVM.
  */
object EvalProps extends Properties("boostql.eval") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private lazy val spark = new SparkSpec {}.spark

  /** One series `cpu`: 48 points 97 s apart from 2024-01-01, some null
    * values, a `host` attribute on most points. */
  private lazy val fam: DataFrame = {
    import org.apache.spark.sql.functions._
    val rows = (0 until 48).map { i =>
      (new java.sql.Timestamp(1704067200000L + i * 97000L),
        if (i % 11 == 5) None else Some((i * 7 % 23) * 0.5),
        if (i % 7 == 3) None else Some(s"h${i % 3}"))
    }
    spark.createDataFrame(rows).toDF("ts", "value", "host")
      .select(lit("cpu").as("series"), col("ts"), col("value"),
        when(col("host").isNull, map().cast("map<string,string>"))
          .otherwise(map(lit("host"), col("host"))).as("attributes"),
        map().cast("map<string,string>").as("tags"))
  }

  private val num: Gen[String] = Gen.oneOf(
    "cpu", "cpu * 2.0", "cpu + 1", "-cpu", "round(cpu * 1.37, 1)",
    "round(cpu, 0)", "abs(cpu - 5.0)", "CAST(cpu AS int)", "floor(cpu)",
    "coalesce(cpu, -1.0)", "length(cpu.host)", "greatest(cpu, 3.0)",
    "CASE WHEN cpu > 5.0 THEN cpu ELSE 0.0 END",
    "CASE WHEN cpu.host = 'h1' THEN 1 WHEN cpu IS NULL THEN 2 END",
    "minute(ts)", "2.5", "7", "-1.0")
  private val str: Gen[String] = Gen.oneOf(
    "cpu.host", "upper(cpu.host)", "concat(cpu.host, 'x')",
    "CAST(CAST(cpu AS int) AS string)", "'h1'")
  private val time: Gen[String] = Gen.oneOf(
    "ts", "ts + INTERVAL '10 minutes'", "ts - INTERVAL '1 hour'",
    "TIMESTAMP '2024-01-01 00:30:00'")
  private val op: Gen[String] = Gen.oneOf("=", "!=", "<", "<=", ">", ">=")

  private val leaf: Gen[String] = Gen.oneOf(
    for (a <- num; o <- op; b <- num) yield s"$a $o $b",
    for (a <- str; o <- Gen.oneOf("=", "!=", "<"); b <- str) yield s"$a $o $b",
    for (a <- time; o <- op; b <- time) yield s"$a $o $b",
    for (a <- num; n <- Gen.oneOf("", "NOT ")) yield s"$a ${n}BETWEEN 2.0 AND 7.5",
    for (a <- num; n <- Gen.oneOf("", "NOT ")) yield s"$a ${n}IN (1.5, 3.0, 4, 7.5)",
    for (a <- str; n <- Gen.oneOf("", "NOT ")) yield s"$a ${n}IN ('h0', 'H2', '3')",
    for (a <- str; n <- Gen.oneOf("", "NOT "); p <- Gen.oneOf("'h%'", "'%1'", "'_2%'"))
      yield s"$a ${n}LIKE $p",
    for (a <- Gen.oneOf(num, str); n <- Gen.oneOf("", "NOT ")) yield s"$a IS ${n}NULL")

  private def pred(depth: Int): Gen[String] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> (for (a <- pred(depth - 1); b <- pred(depth - 1)) yield s"($a AND $b)"),
      1 -> (for (a <- pred(depth - 1); b <- pred(depth - 1)) yield s"($a OR $b)"),
      1 -> pred(depth - 1).map(a => s"NOT ($a)"))

  property("long-row scope keeps the rows SELECT … WHERE keeps") =
    forAllNoShrink(Gen.listOfN(12, pred(2))) { ps =>
      import org.apache.spark.sql.functions.{count, lit, sum, when}
      val queries = ps.map(p => s"SELECT ts, cpu FROM dom.f WHERE $p")
      val selected = queries
        .map(q => BoostQL.sql(q, (_: (String, String)) => fam).agg(count(lit(1))))
        .reduce(_ union _).collect().map(_.getLong(0)).toSeq
      val long = fam.select(queries.map { q =>
        val kept = new BoostQL.LongRow("DELETE").predicate(Parser.parse(q).where.get)
        sum(when(kept, 1L).otherwise(0L))
      }: _*).head().toSeq.map(_.asInstanceOf[Long])
      ps.zip(selected.zip(long)).foreach { case (p, (a, b)) =>
        if (a != b) println(s"EVALPROP $p: SELECT $a rows, long rows $b")
      }
      selected == long
    }

  // ---- the streaming aggregate's output-name scope ----

  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-evalprops")
    TimeSeriesTable.append(fam, dir.toString, "dom", "f")
    // scheduled after the write, so every file in the tree is covered
    org.apache.commons.io.FileUtils.forceDeleteOnExit(dir.toFile)
    dir.toString
  }

  private val aggNum: Gen[String] = Gen.oneOf(
    "n", "s", "d / 600", "sum(cpu)", "max(cpu)", "min(cpu)", "avg(cpu)",
    "count(cpu)", "round(sum(cpu), 1)", "round(avg(cpu), 2)", "n * 2",
    "s - n", "abs(s - 20.0)", "CASE WHEN n > 3 THEN s ELSE 0.0 END",
    "coalesce(max(cpu), 0.0)", "e", "2.5", "10")
  /** Aggregate operands for expression items, which (unlike HAVING)
    * cannot name select outputs. */
  private val aggOnly: Gen[String] = Gen.oneOf(
    "sum(cpu)", "max(cpu)", "min(cpu)", "avg(cpu)", "count(cpu)",
    "round(sum(cpu), 1)", "round(avg(cpu), 2)", "max(cpu) - min(cpu)",
    "coalesce(min(cpu), 0.0)", "CASE WHEN count(cpu) > 3 THEN sum(cpu) ELSE 0.0 END",
    "2.5", "10")
  private def having(operand: Gen[String]): Gen[String] = {
    val leafH = Gen.oneOf(
      for (a <- operand; o <- op; b <- operand) yield s"$a $o $b",
      for (a <- operand; n <- Gen.oneOf("", "NOT ")) yield s"$a ${n}BETWEEN 4 AND 30.5",
      for (a <- operand; n <- Gen.oneOf("", "NOT ")) yield s"$a ${n}IN (5, 6, 7)",
      for (a <- operand; n <- Gen.oneOf("", "NOT ")) yield s"$a IS ${n}NULL",
      for (a <- operand; p <- Gen.oneOf("'1%'", "'%5'")) yield s"CAST($a AS string) LIKE $p")
    Gen.frequency(
      3 -> leafH,
      1 -> (for (a <- leafH; b <- leafH) yield s"($a AND $b)"),
      1 -> (for (a <- leafH; b <- leafH) yield s"($a OR NOT ($b))"))
  }

  /** An expression item over a predicate: it must hold an aggregate to
    * stream, so the THEN branch is one. */
  private val predItem: Gen[String] =
    having(aggOnly).map(p => s"CASE WHEN $p THEN count(*) ELSE -1 END")

  property("streaming HAVING finalizes the rows batch HAVING returns") =
    forAllNoShrink(having(aggNum), Gen.listOfN(4, predItem)) { (h, items) =>
      val q = "SELECT CAST(bucket(ts, '10 minutes') AS int) AS d, " +
        "count(*) AS n, sum(cpu) AS s, round(sum(cpu), 1) + 0.5 AS e" +
        items.zipWithIndex.map { case (it, i) => s", $it AS b$i" }.mkString +
        s" FROM dom.f GROUP BY d HAVING $h"
      val batch = BoostQL.sql(q,
          (_: (String, String)) => TimeSeriesTable.open(spark, root, "dom", "f"))
        .orderBy("d").collect().toSeq
      val sink = "evalprops_" + java.util.UUID.randomUUID.toString.replace("-", "")
      BoostQL.sqlStream(q,
          _ => TimeSeriesTable.openStream(spark, root, "dom", "f"), "1 day")
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val streamed = spark.table(sink).orderBy("d").collect().toSeq
      spark.sql(s"DROP VIEW IF EXISTS $sink")
      if (streamed != batch) println(s"EVALPROP $q: " +
        s"stream ${streamed.length} rows, batch ${batch.length} rows")
      streamed == batch
    }

  // ---- the stateless stream tier against the batch compiler ----

  /** `SELECT ts, cpu, <3 expression items> FROM dom.f WHERE <predicate>`. */
  private val projectWhere: Gen[String] = for {
    items <- Gen.listOfN(3, Gen.oneOf(num, num, str, time))
    p <- pred(2)
  } yield s"SELECT ts, cpu, " +
    items.zipWithIndex.map { case (e, i) => s"$e AS e$i" }.mkString(", ") +
    s" FROM dom.f WHERE $p"

  property("stateless sqlStream tails the rows sql returns") =
    forAllNoShrink(Gen.listOfN(2, projectWhere)) { qs =>
      import org.apache.spark.sql.functions.col
      def rows(df: DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
      qs.forall { q =>
        val batch = rows(BoostQL.sql(q,
          (_: (String, String)) => TimeSeriesTable.open(spark, root, "dom", "f")))
        val sink = "evalprops_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val streamed =
          try {
            BoostQL.sqlStream(q, _ => TimeSeriesTable.openStream(spark, root, "dom", "f"))
              .writeStream.format("memory").queryName(sink).outputMode("append")
              .trigger(Trigger.AvailableNow()).start().awaitTermination()
            rows(spark.table(sink))
          } finally spark.sql(s"DROP VIEW IF EXISTS $sink")
        if (streamed != batch) println(s"EVALPROP $q: " +
          s"stream ${streamed.length} rows, batch ${batch.length} rows")
        streamed == batch
      }
    }

  // ---- the streaming compiler against the batch compiler ----

  private val width: Gen[String] = Gen.oneOf("'10 minutes'", "'30 minutes'", "'1 hour'")

  /** `SELECT <key> AS d[, <dim> AS h], <aggs> FROM <from> GROUP BY d[, h]`. */
  private def aggQuery(key: Gen[String], dim: Gen[String], agg: Gen[String],
      from: Gen[String]): Gen[String] = for {
    k <- key; h <- Gen.option(dim); n <- Gen.choose(1, 3)
    aggs <- Gen.listOfN(n, agg); src <- from
  } yield {
    val items = (s"$k AS d" +: h.map(d => s"$d AS h").toSeq) ++
      aggs.zipWithIndex.map { case (a, i) => s"$a AS x$i" }
    s"SELECT ${items.mkString(", ")} FROM $src GROUP BY d" + h.fold("")(_ => ", h")
  }

  /** A tumbling bucket of `ts`, optionally cast to epoch seconds. */
  private def tumbling(ts: Gen[String]): Gen[String] = for {
    t <- ts; w <- width; cast <- Gen.oneOf(true, false)
  } yield if (cast) s"CAST(bucket($t, $w) AS int)" else s"bucket($t, $w)"

  /** A sliding bucket whose slide divides its width (batch takes the
    * sliding key bare only, so it is never cast). */
  private val sliding: Gen[String] = Gen.oneOf(
    "'10 minutes', '5 minutes'", "'30 minutes', '10 minutes'",
    "'1 hour', '20 minutes'", "'1 hour', '1 hour'").map(ws => s"bucket(ts, $ws)")

  /** count(*) or one of the plain aggregates over `arg`. */
  private def plainAgg(arg: Gen[String]): Gen[String] = Gen.oneOf(
    Gen.const("count(*)"),
    for (fn <- Gen.oneOf("count", "sum", "avg", "min", "max"); a <- arg)
      yield s"$fn($a)")

  private val singleArg: Gen[String] = Gen.oneOf("cpu", "cpu * 2.0", "cpu - 1.5")

  private val singleAgg: Gen[String] = aggQuery(
    Gen.oneOf(tumbling(Gen.const("ts")), sliding), Gen.const("cpu.host"),
    Gen.frequency(3 -> plainAgg(singleArg),
      1 -> (for (a <- singleArg; k <- Gen.choose(1, 4)) yield s"approx_top_k($a, $k)"),
      1 -> (for (a <- singleArg; n <- Gen.choose(2, 6)) yield s"histogram($a, 0, 12, $n)")),
    Gen.oneOf("dom.f", "dom.f WHERE cpu > 2.0", "dom.f WHERE cpu.host != 'h2'"))

  /** A self-join on the host attribute within ten minutes. One-side
    * arguments decompose to the hot-key plan; `a.cpu + b.cpu` does not. */
  private val joinedAgg: Gen[String] = aggQuery(tumbling(Gen.oneOf("a.ts", "b.ts")),
    Gen.oneOf("a.cpu.host", "b.cpu.host"),
    plainAgg(Gen.oneOf("a.cpu", "b.cpu", "b.cpu * 2.0", "a.cpu + b.cpu")),
    for {
      bound <- Gen.oneOf("b.ts BETWEEN a.ts AND a.ts + INTERVAL '10 minutes'",
        "b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '10 minutes'")
      extra <- Gen.oneOf("", " AND b.cpu > 2.0", " WHERE a.cpu < 9.0")
    } yield s"dom.f AS a JOIN dom.f AS b ON a.cpu.host = b.cpu.host AND $bound$extra")

  property("sqlStream over batch frames returns the rows sql returns") =
    forAllNoShrink(Gen.listOfN(3, singleAgg), Gen.listOfN(3, joinedAgg)) { (ss, js) =>
      import org.apache.spark.sql.functions.col
      def rows(df: DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
      def outcome(df: => DataFrame): Either[String, Seq[Row]] =
        try Right(rows(df)) catch { case e: Compiler.CompileException => Left(e.getMessage) }
      (ss ++ js).forall { q =>
        val batch = outcome(BoostQL.sql(q, (_: (String, String)) => fam))
        val streamed = outcome(BoostQL.sqlStream(q, _ => fam, "1 day"))
        if (streamed != batch) println(s"EVALPROP $q: " +
          s"stream ${streamed.map(_.length)} rows, batch ${batch.map(_.length)} rows")
        // a query whose only field is the time axis (all count(*), no
        // dimension, no WHERE) reads no series: both tiers must refuse it
        // with the same text
        streamed == batch && batch.fold(_ == "source dom.f is referenced " +
          "only through its time axis ts — name one of its series, e.g. " +
          "count(cpu) for a series cpu", _.nonEmpty)
      }
    }
}

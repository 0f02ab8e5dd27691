package graft.layerbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.boostql.{Compiler, Parser}
import graft.layerbench.Gen._

/** BoostQL read statements, their expected answers from the model, and
  * the traced call path through boostql, Catalyst and execution. */
object Reads {

  def sql(r: Read): String = r match {
    case Point(s, a, b) =>
      s"SELECT ts, s$s AS v FROM dom.fam WHERE ts >= ${tsLiteral(a)} AND ts < ${tsLiteral(b)}"
    case WindowAgg(s, a) =>
      s"SELECT bucket(ts, '1 hour') AS b, count(*) AS n, sum(s$s) AS v FROM dom.fam " +
        s"WHERE ts >= ${tsLiteral(a)} AND ts < ${tsLiteral(a + 7 * DayUs)} GROUP BY b"
    case ScanAgg(s) =>
      s"SELECT s$s.user AS u, count(*) AS n, sum(s$s) AS v FROM dom.fam GROUP BY s$s.user"
    case Asof(l, r, a) =>
      s"SELECT a.ts AS t, a.s$l AS x, b.s$r AS y FROM dom.fam AS a ASOF JOIN dom.fam AS b " +
        s"ON a.s$l.user = b.s$r.user " +
        s"WHERE a.ts >= ${tsLiteral(a)} AND a.ts < ${tsLiteral(a + DayUs)}"
    case DayCount(s, d) =>
      val a = BaseUs + d * DayUs
      s"SELECT s$s.user AS u, count(*) AS n, sum(s$s) AS v FROM dom.fam " +
        s"WHERE ts >= ${tsLiteral(a)} AND ts < ${tsLiteral(a + DayUs)} GROUP BY s$s.user"
  }

  private def perUser(rs: Seq[R]): Seq[Seq[Any]] =
    rs.groupBy(_.user).toSeq.map { case (u, g) =>
      Seq[Any](u, g.length.toLong, g.map(_.value).sum)
    }

  /** The expected rows of `r` over the model's rows, in the
    * statement's column order, timestamps as epoch µs. Plain Scala over
    * the generator's rows: no BoostQL, no TimeSeriesTable, no Spark. */
  def expected(model: Seq[R], r: Read): Seq[Seq[Any]] = {
    def series(s: Int) = model.filter(_.series == s"s$s")
    def in(rs: Seq[R], a: Long, b: Long) = rs.filter(x => x.ts >= a && x.ts < b)
    r match {
      case Point(s, a, b) => in(series(s), a, b).map(x => Seq[Any](x.ts, x.value))
      case WindowAgg(s, a) =>
        in(series(s), a, a + 7 * DayUs).groupBy(x => Math.floorDiv(x.ts, HourUs) * HourUs)
          .toSeq.map { case (b, g) => Seq[Any](b, g.length.toLong, g.map(_.value).sum) }
      case ScanAgg(s) => perUser(series(s))
      case DayCount(s, d) =>
        val a = BaseUs + d * DayUs
        perUser(in(series(s), a, a + DayUs))
      case Asof(l, rt, a) =>
        val right = series(rt).groupBy(_.user)
        in(series(l), a, a + DayUs).flatMap { x =>
          right.getOrElse(x.user, Nil).filter(_.ts <= x.ts).maxByOption(_.ts)
            .map(y => Seq[Any](x.ts, x.value, y.value))
        }
    }
  }

  /** A collected row with timestamps as epoch µs. */
  def norm(row: Row): Seq[Any] = row.toSeq.map {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case v => v
  }

  /** None when the row sets are equal up to order, with doubles equal to
    * 1e-9 relative (sums are order-dependent in the last bits); else
    * the first difference. */
  def mismatch(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    def split(vs: Seq[Any]): (String, Seq[Double]) =
      (vs.filterNot(_.isInstanceOf[Double]).map(String.valueOf).mkString("|"),
        vs.collect { case d: Double => d })
    def sorted(rs: Seq[Seq[Any]]) = rs.map(split).sortBy(x => (x._1, x._2.mkString(",")))
    def close(x: Double, y: Double) =
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    if (got.length != want.length) Some(s"${got.length} rows, expected ${want.length}")
    else sorted(got).zip(sorted(want)).collectFirst {
      case (a, b) if a._1 != b._1 || a._2.length != b._2.length ||
          a._2.zip(b._2).exists { case (x, y) => !close(x, y) } =>
        s"row ${a._1} ${a._2.mkString(",")}, expected ${b._1} ${b._2.mkString(",")}"
    }
  }

  /** Parse, compile, analyze, optimize, plan and collect one statement,
    * each step in its own span. Returns the frame (for its plan) and
    * the collected rows. */
  def run(tracer: Tracer, q: String,
      families: ((String, String)) => DataFrame): (DataFrame, Array[Row]) = {
    val stmt = tracer.span("boostql.parse")(Parser.parseStmt(q))
    val df = tracer.span("boostql.compile")(Compiler.compile(stmt, families))
    val qe = df.queryExecution
    tracer.span("catalyst.analyze")(qe.analyzed)
    tracer.span("catalyst.optimize")(qe.optimizedPlan)
    tracer.span("catalyst.plan")(qe.executedPlan)
    (df, tracer.span("spark.exec")(df.collect()))
  }

  /** Files the executed plan's parquet scans read (SQL metric
    * numFiles), summed over every scan of the final adaptive plan. */
  def scannedFiles(df: DataFrame): Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Long = if (!seen.add(p)) 0L else p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case o => (o.children ++ o.subqueries).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** (parquet data files, their bytes, bytes of every file) under a
    * family directory. */
  def familyStats(dir: Path): (Long, Long, Long) =
    if (!Files.exists(dir)) (0L, 0L, 0L)
    else {
      val st = Files.walk(dir)
      try {
        val files = st.iterator().asScala.filter(Files.isRegularFile(_)).toList
        val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
        (data.length.toLong, data.map(Files.size).sum, files.map(Files.size).sum)
      } finally st.close()
    }

  /** dt= partitions under a family directory. */
  def partitions(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.count(_.getFileName.toString.startsWith("dt="))
      finally st.close()
    }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.boostql.BoostQL
import graft.queries.{BoostQueries, PipelineQueries, RelationalQueries,
  StreamingQueries, TimeSeriesQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB twin in `oracleSql` unless the
  * operator is not SQL-expressible (then the driver records a rows-only
  * check). Conventions that make the hash-compare deterministic:
  *  - column names aliased identically on both sides;
  *  - every oracled query totally ordered on both sides;
  *  - double SUMs accumulate exactly via DECIMAL casts then convert back
  *    to double (plain double summation is association-order-dependent);
  *  - AVG is decimal-sum / count;
  *  - timestamps leave as epoch-micros bigints or DATEs (parquet NANOS
  *    vs MICROS units differ between engines).
  */
object SparkEntry {

  /** Flagship: the reference's own flagship query
    * (query/executor/executor_test.go:188 —
    * `SELECT cpu_utilization.host, cpu_utilization FROM d.f WHERE cpu_utilization < 100.0`)
    * through the BoostQL parser/compiler on the events family.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.pin(spark)
    BoostQL.onTestdata(spark, "/root/testdata/sf0.001")(
      "SELECT click.user, click FROM dom.events WHERE click < 100.0")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (BoostQueries.queries ++ TimeSeriesQueries.queries ++
      RelationalQueries.queries ++ PipelineQueries.queries ++
      StreamingQueries.queries).view.mapValues { q =>
      (s: SparkSession, d: String) => { GraftSession.pin(s); q(s, d) }
    }.toMap

  def oracleSql: Map[String, String] =
    BoostQueries.oracleSql ++ TimeSeriesQueries.oracleSql ++
      RelationalQueries.oracleSql ++ PipelineQueries.oracleSql ++
      StreamingQueries.oracleSql
}

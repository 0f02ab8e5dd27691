package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap: every session graft builds comes from
  * [[builder]], and [[pin]] applies the same contract to a session
  * graft did not build (the driver's).
  */
object GraftSession {

  /** Session conf the engine contracts on. UTC makes TIMESTAMP_NTZ
    * reinterpretation lossless ([[graft.tables.Tables.normalizeEventsTs]]);
    * nanosAsLong lets a TIMESTAMP(NANOS) testdata generation load at
    * all. Session config is an entrypoint responsibility — the Tables
    * loaders are conf-write free.
    */
  private val contract = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Cores for the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A local session on `cpus` cores with as many shuffle partitions,
    * the contract conf and no UI; callers add their own conf and call
    * `getOrCreate()`.
    */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config(contract)

  /** Set each contract conf on `spark` where it differs. */
  def pin(spark: SparkSession): Unit = contract.foreach { case (k, v) =>
    if (spark.conf.getOption(k) != Some(v)) spark.conf.set(k, v)
  }
}

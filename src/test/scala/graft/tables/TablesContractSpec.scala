package graft.tables

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the external testdata contract: `Tables.events` must yield
  * `ts: TimestampType` with identical instant values no matter which
  * physical unit the harness wrote the parquet in. The unit has already
  * drifted once (round 9: TIMESTAMP(NANOS) → TIMESTAMP(MICROS)/NTZ
  * overnight, which silently broke 77 queries at driver time) — this
  * spec makes the next drift a single red test with an obvious name.
  */
class TablesContractSpec extends SparkSpec {

  // one row set, written three ways; instants chosen micro-precision
  private val instantsUs = Seq(
    1700000000000000L, // 2023-11-14T22:13:20Z
    1700000123456789L,
    1700086400000000L)

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column,
      tsType: DataType): Unit = {
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(instantsUs.zipWithIndex.map {
        case (us, i) => Row(i.toLong, us, s"et$i", i.toDouble)
      }),
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("us", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
    base.select(col("event_id"), tsCol.cast(tsType).as("ts"),
        col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def readBack(dir: String): (DataType, Seq[(Long, Long)]) = {
    val df = Tables.events(spark, dir)
    (df.schema("ts").dataType,
      df.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
  }

  private val expected = instantsUs.zipWithIndex.map { case (us, i) => (i.toLong, us) }

  test("events.ts contract: nanos-as-long, NTZ-micros, and adjusted TIMESTAMP all normalize identically") {
    withTempRoot("graft-contract") { root =>
      val asLong = s"$root/long"
      writeEvents(asLong, col("us") * lit(1000L), LongType) // raw nanos longs
      val asNtz = s"$root/ntz"
      writeEvents(asNtz, timestamp_micros(col("us")).cast(TimestampNTZType), TimestampNTZType)
      val asTs = s"$root/ts"
      writeEvents(asTs, timestamp_micros(col("us")), TimestampType)

      for (dir <- Seq(asLong, asNtz, asTs)) {
        val (dt, rows) = readBack(dir)
        assert(dt == TimestampType, s"$dir: ts must normalize to TimestampType, got $dt")
        assert(rows == expected, s"$dir: instants drifted through normalization")
      }
    }
  }

  test("normalizeEventsTs preserves column order and rejects unknown ts types") {
    import spark.implicits._
    val ntz = Seq((1L, "a")).toDF("event_id", "x")
      .withColumn("ts", timestamp_micros(lit(42L)).cast(TimestampNTZType))
      .select("event_id", "ts", "x")
    assert(Tables.normalizeEventsTs(ntz).columns.toSeq == Seq("event_id", "ts", "x"))

    val bad = Seq((1L, "oops")).toDF("event_id", "ts")
    assertThrows[IllegalStateException](Tables.normalizeEventsTs(bad))
  }

  test("the real sf0.001 events table loads as TimestampType with rows") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(1).count() == 1)
  }

  test("flagship SparkEntry.entry executes on sf0.001 with rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("ParquetStats.eventsMaxTsMicros equals the scan max on every ts unit and the real fixture") {
    withTempRoot("graft-contract") { root =>
      val asLong = s"$root/statslong"
      writeEvents(asLong, col("us") * lit(1000L), LongType)
      val asNtz = s"$root/statsntz"
      writeEvents(asNtz, timestamp_micros(col("us")).cast(TimestampNTZType), TimestampNTZType)
      // adjusted TIMESTAMP as INT64 micros (Spark's default INT96 carries
      // no usable stats — pinned as the degrade case below)
      val asTs = s"$root/statsts"
      val oldOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try writeEvents(asTs, timestamp_micros(col("us")), TimestampType)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", oldOut)
      for (dir <- Seq(asLong, asNtz, asTs, sfDir)) {
        val scanned = Tables.events(spark, dir)
          .agg(max(unix_micros(col("ts")))).head.getLong(0)
        assert(graft.util.ParquetStats.eventsMaxTsMicros(spark, dir)
          .contains(scanned), s"$dir: footer max ts != scan max ts")
      }
      // INT96 timestamps (stats-less) and a missing path degrade to None,
      // never throw — callers fall back to the scan aggregate
      val asInt96 = s"$root/statsint96"
      writeEvents(asInt96, timestamp_micros(col("us")), TimestampType)
      assert(graft.util.ParquetStats.eventsMaxTsMicros(spark, asInt96).isEmpty)
      assert(graft.util.ParquetStats
        .eventsMaxTsMicros(spark, s"$root/statsempty").isEmpty)
    }
  }

  test("ParquetStats.schema equals the inferred schema for the fixtures " +
      "and every ts unit") {
    def inferred(p: String) = spark.read.parquet(p).schema
    for (t <- Seq("events", "documents")) {
      val p = s"$sfDir/$t.parquet"
      assert(graft.util.ParquetStats.schema(spark, p) == inferred(p), p)
    }
    // Spark-written directories: part files beside _SUCCESS and .crc
    // files, with the Spark schema stored in each footer
    withTempRoot("graft-contract-schema") { dir =>
      Seq(("long", col("us") * lit(1000L), LongType),
        ("ntz", timestamp_micros(col("us")).cast(TimestampNTZType), TimestampNTZType),
        ("int96", timestamp_micros(col("us")), TimestampType)).foreach {
        case (tag, ts, ty) =>
          writeEvents(s"$dir/$tag", ts, ty)
          val p = s"$dir/$tag/events.parquet"
          assert(graft.util.ParquetStats.schema(spark, p) == inferred(p), tag)
      }
    }
  }

  test("the session contract lives in GraftSession: pin restores it, and no other file builds a session") {
    import org.apache.spark.sql.internal.SQLConf
    val tz = SQLConf.SESSION_LOCAL_TIMEZONE.key
    val nanos = SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key
    val other = SQLConf.SHUFFLE_PARTITIONS.key
    val otherBefore = spark.conf.get(other)
    try {
      spark.conf.set(tz, "America/New_York")
      spark.conf.set(nanos, "false")
      graft.GraftSession.pin(spark)
      assert(spark.conf.get(tz) == "UTC")
      assert(spark.conf.get(nanos) == "true")
      assert(spark.conf.get(other) == otherBefore)
    } finally {
      spark.conf.set(tz, "UTC")
      spark.conf.set(nanos, "true")
    }

    // split so this file does not match its own scan
    val builderCall = "SparkSession" + ".builder"
    val stream = Files.walk(java.nio.file.Paths.get("src"))
    val builders =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(f => Files.readString(f).contains(builderCall))
        .map(_.toString).toList
      finally stream.close()
    assert(builders == List("src/main/scala/graft/GraftSession.scala"))
  }
}

package graft.layerbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.layerbench.Gen._

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val shape = Shape(series = 4, days = 6, rowsPerDay = 8, users = 20)

  test("the same seed gives the same family, another seed another") {
    val a = Gen.rows(spark, shape, 7L, 0, shape.days)
    val b = Gen.rows(spark, shape, 7L, 0, shape.days)
    val c = Gen.rows(spark, shape, 8L, 0, shape.days)
    assert(a.count() == shape.rows && b.count() == shape.rows)
    assert(contentHash(a) == contentHash(b))
    assert(contentHash(a) != contentHash(c))
    // a day range is the same rows as that slice of the whole family
    val tail = Gen.rows(spark, shape, 7L, 4, 6)
    assert(contentHash(tail) == contentHash(a.filter(
      unix_micros(col("ts")) >= BaseUs + 4 * DayUs)))
  }

  test("family keys are unique and every series has a point every day") {
    val a = Gen.rows(spark, shape, 3L, 0, shape.days)
    assert(a.select("series", "ts").distinct().count() == shape.rows)
    val perDay = a.groupBy(col("series"), to_date(col("ts"))).count()
    assert(perDay.count() == shape.series.toLong * shape.days)
    assert(perDay.filter(col("count") =!= shape.rowsPerDay).isEmpty)
  }

  test("correction batches never repeat a key and reuse the row's user") {
    val fam = Gen.collect(Gen.rows(spark, shape, 3L, 0, shape.days))
    val inc = Gen.incoming(shape, fam, 2, 5, 99L, 6)
    assert(inc.map(r => (r.series, r.ts)).distinct.length == inc.length)
    val byKey = fam.map(r => (r.series, r.ts) -> r).toMap
    val matched = inc.flatMap(r => byKey.get((r.series, r.ts)).map(r -> _))
    assert(matched.nonEmpty && matched.forall { case (a, b) => a.user == b.user })
    assert(inc.exists(r => !byKey.contains((r.series, r.ts))))
    assert(Gen.incoming(shape, fam, 2, 5, 99L, 6) == inc)
    // the model's rows survive the trip through a frame unchanged
    assert(Gen.collect(Gen.toFrame(spark, inc)) == inc)
  }

  test("op sequences are a function of the seed") {
    assert(dashReads(1L, shape, 10) == dashReads(1L, shape, 10))
    assert(dashReads(1L, shape, 10) != dashReads(2L, shape, 10))
    assert(mutations(1L, shape, 2) == mutations(1L, shape, 2))
    assert(mutations(1L, shape, 2) != mutations(2L, shape, 2))
  }

  test("every seed runs each read class and each verb equally often") {
    def mix(seed: Long) = dashReads(seed, shape, 10)._2.groupBy(_.cls).map {
      case (c, rs) => c -> rs.length }
    assert(mix(1L) == mix(2L))
    assert(mix(1L) == ReadClasses.map(_ -> 10).toMap)
    assert(dashReads(1L, shape, 10)._1.map(_.cls) == ReadClasses)
    def verbs(seed: Long) = mutations(seed, shape, 2).groupBy(_.verb).map {
      case (v, ws) => v -> ws.length }
    assert(verbs(1L) == verbs(5L))
    assert(verbs(1L) == Map("append" -> 2, "upsert" -> 2, "delete" -> 2, "merge" -> 2,
      "update" -> 2, "expire" -> 2, "compact" -> 2))
  }

  test("mutations only name days the family holds at that point") {
    var oldest = 0
    var next = shape.days
    mutations(11L, shape, 3).foreach { w =>
      w match {
        case Append(d, _) => assert(d == next); next += 1
        case Expire(d, _) => assert(d == oldest + 1); oldest = d
        case Upsert(_, d, _, _) => assert(d >= oldest && d < next)
        case Merge(_, d, _, _) => assert(d >= oldest && d < next)
        case _ => ()
      }
      assert(w.check.day >= oldest && w.check.day < next)
    }
  }
}

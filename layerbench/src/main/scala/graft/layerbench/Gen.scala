package graft.layerbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. A family row is a pure function of (seed, row id), so
  * the same seed always writes the same family; op sequences come from
  * a SplittableRandom seeded per workload. The program under test only
  * ever sees the generated rows and statement texts.
  */
object Gen {
  /** 2024-01-01T00:00:00Z in epoch microseconds: day 0 of every family. */
  val BaseUs = 1704067200000000L
  val DayUs = 86400000000L
  val HourUs = 3600000000L

  /** Family shape: `series` series named s0…, `days` daily partitions,
    * `rowsPerDay` points per series per day on evenly spaced slots, and
    * a `user` attribute drawn from `users` values with P(u_k) ∝
    * log((k+1)/k) — the continuous Zipf s=1 skew, u1 the hottest. */
  final case class Shape(series: Int, days: Int, rowsPerDay: Int, users: Int) {
    def slotUs: Long = DayUs / rowsPerDay
    def rowsPerDayAll: Long = series.toLong * rowsPerDay
    def rows: Long = days * rowsPerDayAll
    override def toString: String =
      s"$series series x $days days x $rowsPerDay rows/series/day, $users zipf users"
  }

  def tsLiteral(us: Long): String = {
    val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val i = java.time.Instant.ofEpochSecond(us / 1000000L)
    s"TIMESTAMP '${f.format(i.atOffset(java.time.ZoneOffset.UTC))}'"
  }

  private def h(c: Column, seed: Long, salt: Long): Column =
    xxhash64(c, lit(seed), lit(salt))

  /** A uniform draw in [0, 1) per row. */
  private def unit(c: Column, seed: Long, salt: Long): Column =
    pmod(h(c, seed, salt), lit(1000000L)).cast("double") / 1e6

  private def zipfUser(c: Column, seed: Long, salt: Long, users: Int): Column =
    concat(lit("u"),
      floor(pow(lit(users + 1.0), unit(c, seed, salt))).cast("long").cast("string"))

  /** Flat rows (series, ts, value, user) of days [d0, d1). Within a
    * series every point sits in its own slot, jittered in the slot's
    * first half, so (series, ts) keys never collide and the second
    * half of each slot is free for [[incoming]] keys. */
  def rows(spark: SparkSession, shape: Shape, seed: Long, d0: Int, d1: Int): DataFrame = {
    val per = shape.rowsPerDayAll
    val id = col("id")
    val within = pmod(id, lit(per))
    spark.range(d0 * per, d1 * per, 1, 4).select(
      concat(lit("s"), pmod(within, lit(shape.series.toLong)).cast("string")).as("series"),
      timestamp_micros(lit(BaseUs) + (id / lit(per)).cast("long") * lit(DayUs) +
        (within / lit(shape.series.toLong)).cast("long") * lit(shape.slotUs) +
        pmod(h(id, seed, 1), lit(shape.slotUs / 2))).as("ts"),
      (pmod(h(id, seed, 2), lit(100000L)).cast("double") / 100.0).as("value"),
      zipfUser(id, seed, 3, shape.users).as("user"))
  }

  /** Flat rows → the family row shape (series, ts, value, tags,
    * attributes), with `extra` attribute pairs beside `user`. */
  def asFamily(flat: DataFrame, extra: Seq[(String, Column)] = Nil): DataFrame =
    flat.select(col("series"), col("ts"), col("value"),
      map(lit("host"), concat(lit("h"), substring(col("series"), 2, 8))).as("tags"),
      map((Seq(lit("user"), col("user")) ++
        extra.flatMap { case (k, v) => Seq(lit(k), v) }): _*).as("attributes"))

  /** A flat row held by the benchmark's model; ts in epoch µs. */
  final case class R(series: String, ts: Long, value: Double, user: String)

  def collect(flat: DataFrame): Vector[R] =
    flat.select(col("series"), unix_micros(col("ts")), col("value"), col("user"))
      .collect().map(r => R(r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toVector

  /** Model rows back to a flat frame, for a statement's input. */
  def toFrame(spark: SparkSession, rs: Seq[R]): DataFrame = {
    import spark.implicits._
    rs.map(r => (r.series, r.ts, r.value, r.user)).toDF("series", "us", "value", "user")
      .select(col("series"), timestamp_micros(col("us")).as("ts"), col("value"), col("user"))
  }

  /** Correction rows for one (series, day): about a third of the
    * day's existing points with new values (same key, same user), plus
    * up to `fresh` new points in the free second half of random slots. */
  def incoming(shape: Shape, model: Seq[R], series: Int, day: Int, salt: Long,
      fresh: Int): Vector[R] = {
    val rng = new SplittableRandom(salt)
    val s = s"s$series"
    val d0 = BaseUs + day * DayUs
    def value() = rng.nextInt(100000) / 100.0
    val changed = model.filter(r => r.series == s && r.ts >= d0 && r.ts < d0 + DayUs)
      .sortBy(_.ts).filter(_ => rng.nextInt(3) == 0).map(_.copy(value = value()))
    val half = shape.slotUs / 2
    val added = Vector.fill(fresh) {
      val ts = d0 + rng.nextInt(shape.rowsPerDay) * shape.slotUs + half + rng.nextLong(half)
      R(s, ts, value(), s"u${1 + rng.nextInt(shape.users)}")
    }.groupBy(_.ts).values.map(_.head).toVector.sortBy(_.ts)
    changed.toVector ++ added
  }

  /** Generator batches [b0, b1) of the live tail on day `day`: each
    * batch holds `perSeries` points per series, one second apart. */
  def batches(spark: SparkSession, shape: Shape, seed: Long, day: Int, b0: Int, b1: Int,
      perSeries: Int): DataFrame = {
    val id = col("id")
    val n = shape.series.toLong * perSeries
    spark.range(b0 * n, b1 * n, 1, 1).select(
      concat(lit("s"), pmod(id, lit(shape.series.toLong)).cast("string")).as("series"),
      timestamp_micros(lit(BaseUs + day * DayUs) +
        (id / lit(shape.series.toLong)).cast("long") * lit(1000000L) +
        pmod(h(id, seed, 10), lit(500000L))).as("ts"),
      (pmod(h(id, seed, 11), lit(100000L)).cast("double") / 100.0).as("value"),
      zipfUser(id, seed, 12, shape.users).as("user"))
  }

  /** Order-independent content hash of flat rows: the exact sum of
    * per-row 64-bit hashes, as a decimal string. */
  def contentHash(flat: DataFrame): String =
    flat.select(xxhash64(col("series"), col("ts"), col("value"), col("user")).as("h"))
      .agg(coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)).cast("string"))
      .head().getString(0)

  // ---- op sequences -------------------------------------------------

  sealed trait Read { def cls: String }
  /** One series over [startUs, endUs): a 1 h or 1 day window. */
  final case class Point(series: Int, startUs: Long, endUs: Long) extends Read {
    def cls = "point"
  }
  /** Hourly buckets of one series over 7 days from startUs. */
  final case class WindowAgg(series: Int, startUs: Long) extends Read {
    def cls = "window_agg"
  }
  /** Whole-family GROUP BY user over one series. */
  final case class ScanAgg(series: Int) extends Read { def cls = "scan_agg" }
  /** As-of join of two series (same user), left side over one day. */
  final case class Asof(left: Int, right: Int, startUs: Long) extends Read {
    def cls = "asof"
  }
  /** Per-user count and sum of one series over one day. */
  final case class DayCount(series: Int, day: Int) extends Read {
    def cls = "count_read"
  }

  /** The four read classes of dash_read. Every class runs the same number of
    * times: nothing in the paper or the roadmap gives a traffic mix, so
    * the benchmark assumes none and reports each class on its own. */
  val ReadClasses: Seq[String] = Seq("point", "window_agg", "scan_agg", "asof")

  private def shuffle[A](xs: Seq[A], rng: SplittableRandom): Seq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList
  }

  /** A day index biased toward the newest: age = floor(days·u²). */
  private def recentDay(shape: Shape, rng: SplittableRandom): Int =
    shape.days - 1 - math.min(shape.days - 1,
      math.floor(shape.days * math.pow(rng.nextDouble(), 2)).toInt)

  private def read(cls: String, shape: Shape, rng: SplittableRandom): Read = {
    val s = rng.nextInt(shape.series)
    cls match {
      case "point" =>
        val d0 = BaseUs + recentDay(shape, rng) * DayUs
        if (rng.nextBoolean()) Point(s, d0, d0 + DayUs)
        else { val hr = d0 + rng.nextInt(24) * HourUs; Point(s, hr, hr + HourUs) }
      case "window_agg" =>
        WindowAgg(s, BaseUs + math.max(0, recentDay(shape, rng) - 6) * DayUs)
      case "scan_agg" => ScanAgg(s)
      case "asof" =>
        val r = (s + 1 + rng.nextInt(shape.series - 1)) % shape.series
        Asof(s, r, BaseUs + recentDay(shape, rng) * DayUs)
    }
  }

  /** A warm-up of one read per class, then `perClass` reads of every
    * class in a seeded order. */
  def dashReads(seed: Long, shape: Shape, perClass: Int): (Seq[Read], Seq[Read]) = {
    val rng = new SplittableRandom(seed * 31 + 1)
    val warm = ReadClasses.map(read(_, shape, rng))
    val order = shuffle(ReadClasses.flatMap(Seq.fill(perClass)(_)), rng)
    (warm, order.map(read(_, shape, rng)))
  }

  sealed trait Write { def verb: String; def check: DayCount }
  final case class Append(day: Int, check: DayCount) extends Write { def verb = "append" }
  final case class Upsert(series: Int, day: Int, salt: Long, check: DayCount)
    extends Write { def verb = "upsert" }
  final case class Merge(series: Int, day: Int, salt: Long, check: DayCount)
    extends Write { def verb = "merge" }
  final case class Delete(series: Int, user: String, check: DayCount)
    extends Write { def verb = "delete" }
  final case class Update(series: Int, user: String, check: DayCount)
    extends Write { def verb = "update" }
  final case class Expire(day: Int, check: DayCount) extends Write { def verb = "expire" }
  final case class Compact(check: DayCount) extends Write { def verb = "compact" }

  /** One cycle is a day's routine, in order: the new day arrives,
    * corrections and deletions land, the oldest day expires. Each cycle
    * ends with a compact, so every verb runs once per cycle. */
  val Cycle: Seq[String] = Seq("append", "upsert", "delete", "merge", "update", "expire")

  /** `cycles` cycles of [[Cycle]] + compact over a family that starts
    * as days [0, shape.days). Attribute verbs (delete, update) touch
    * series s0..s(k-1) and key verbs (upsert, merge) series sk.., k =
    * series/2, so corrections always carry their row's own user. Each
    * write names the per-day read that checks it. */
  def mutations(seed: Long, shape: Shape, cycles: Int): Seq[Write] = {
    val rng = new SplittableRandom(seed * 31 + 2)
    val half = shape.series / 2
    var oldest = 0
    var next = shape.days
    def anyDay(): Int = oldest + rng.nextInt(next - oldest)
    def recent(): Int = next - 1 - rng.nextInt(math.min(3, next - oldest))
    // attribute verbs take distinct (series, hot user) pairs, so each
    // one matches rows on nearly every day and none repeats a no-op
    val pairs = Iterator.continually(shuffle(
      for (s <- 0 until half; u <- 1 to 2) yield (s, s"u$u"), rng)).flatten
    (0 until cycles).flatMap { _ =>
      Cycle.map[Write] {
        case "append" =>
          val d = next; next += 1
          Append(d, DayCount(rng.nextInt(shape.series), d))
        case "upsert" =>
          val s = half + rng.nextInt(shape.series - half); val d = recent()
          Upsert(s, d, rng.nextLong(), DayCount(s, d))
        case "merge" =>
          val s = half + rng.nextInt(shape.series - half); val d = recent()
          Merge(s, d, rng.nextLong(), DayCount(s, d))
        case "delete" =>
          val (s, u) = pairs.next(); Delete(s, u, DayCount(s, anyDay()))
        case "update" =>
          val (s, u) = pairs.next(); Update(s, u, DayCount(s, anyDay()))
        case "expire" =>
          oldest += 1
          Expire(oldest, DayCount(rng.nextInt(shape.series), oldest))
      } :+ Compact(DayCount(rng.nextInt(shape.series), anyDay()))
    }
  }
}

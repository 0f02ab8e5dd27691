package graft.layerbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.boostql.BoostQL
import graft.layerbench.Gen._
import graft.sources.TimeSeriesTable

/** One measured operation. `kind` is read, write or append (a
  * generator batch); `cls` the read class or write verb. Read fields
  * hold what the scan touched; write fields what the call wrote,
  * against the logical size of the rows the statement changed. */
final case class OpRec(id: Int, kind: String, cls: String, ms: Double,
    rowsOut: Long = 0, famBytes: Long = 0, famFiles: Long = 0, scanFiles: Long = 0,
    userRows: Long = 0, userBytes: Long = 0, written: Long = 0, parts: Int = 0)

/** One pass over a workload's op sequence. `ops` are the measured ops
  * (warm-up ops only count toward attempted/failures). `latency` holds
  * the ops the gate reads, as (class, ms): reads on dash_read, writes
  * and their trailing reads on ingest_mutate, followed batches on
  * stream_follow. */
final case class Pass(ops: Seq[OpRec], attempted: Int, failures: Seq[String],
    famRows: Long, famDir: Path, latency: Seq[(String, Double)],
    lagMs: Seq[Double] = Nil, startMs: Double = 0)

trait Workload {
  def name: String
  def shape: Shape
  /** Write a fresh family under `root` and open it: the set-up a user
    * pays before the first operation. */
  def setup(spark: SparkSession, root: Path, seed: Long): DataFrame
  def pass(spark: SparkSession, root: Path, fam: DataFrame, seed: Long, seconds: Int,
      tracer: Tracer): Pass
}

object Workload {
  val all: Seq[Workload] = Seq(DashRead, IngestMutate, StreamFollow)

  def famDir(root: Path): Path = root.resolve("dom").resolve("fam")

  def writeFamily(spark: SparkSession, root: Path, shape: Shape, seed: Long): DataFrame = {
    TimeSeriesTable.append(Gen.asFamily(Gen.rows(spark, shape, seed, 0, shape.days)),
      root.toString, "dom", "fam")
    TimeSeriesTable.open(spark, root.toString, "dom", "fam")
  }

  /** Logical bytes of a row as a user hands it over: ts and value (8
    * bytes each), the series name, and the host tag and user attribute
    * as key and value strings. */
  def rowBytes(r: Gen.R): Long =
    16 + r.series.length + "host".length + r.series.length + "user".length + r.user.length

  def attempt[A](failures: collection.mutable.Buffer[String], what: => String)(f: => A): Option[A] =
    try Some(f) catch {
      case NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
}

/** Closed loop, one client: the same number of BoostQL reads of each
  * class, in a seeded order, over a family opened once in set-up.
  * Never writes. */
object DashRead extends Workload {
  val name = "dash_read"
  val shape = Shape(series = 8, days = 60, rowsPerDay = 32, users = 50)
  /** Reads per second of `--seconds`, split evenly over the classes. */
  val readsPerSecond = 3

  def setup(spark: SparkSession, root: Path, seed: Long): DataFrame =
    Workload.writeFamily(spark, root, shape, seed)

  def pass(spark: SparkSession, root: Path, fam: DataFrame, seed: Long, seconds: Int,
      tracer: Tracer): Pass = {
    val model = Gen.collect(Gen.rows(spark, shape, seed, 0, shape.days))
    val (famFiles, famBytes, _) = Reads.familyStats(Workload.famDir(root))
    val (warm, reads) = Gen.dashReads(seed, shape,
      math.max(1, readsPerSecond * seconds / Gen.ReadClasses.length))
    val failures = collection.mutable.ArrayBuffer.empty[String]
    val recs = (warm ++ reads).zipWithIndex.flatMap { case (r, i) =>
      val q = Reads.sql(r)
      Workload.attempt(failures, s"${r.cls} [$q]") {
        val ((df, rows), ms) = tracer.op(i, "read")(Reads.run(tracer, q, _ => fam))
        Reads.mismatch(rows.toSeq.map(Reads.norm), Reads.expected(model, r))
          .foreach(m => failures += s"${r.cls} [$q]: wrong answer: $m")
        OpRec(i, if (i < warm.length) "warm" else "read", r.cls, ms,
          rowsOut = rows.length, famBytes = famBytes, famFiles = famFiles,
          scanFiles = Reads.scannedFiles(df))
      }
    }
    val measured = recs.filter(_.kind == "read")
    Pass(measured, warm.length + reads.length, failures.toList, shape.rows,
      Workload.famDir(root), measured.map(o => o.cls -> o.ms))
  }
}

/** Closed loop, one client: a fixed-length seeded sequence of appends,
  * UPSERT and MERGE corrections, attribute DELETE and redaction UPDATE,
  * retention and compaction, each followed by a per-day read checked
  * against the benchmark's own model of the family. */
object IngestMutate extends Workload {
  val name = "ingest_mutate"
  val shape = Shape(series = 8, days = 10, rowsPerDay = 32, users = 50)
  /** A run holds `--seconds` / this many cycles (2 at 12 s). The count,
    * not the clock, ends a run, so parent and change do the same work;
    * one cycle (6 verbs + compact, each with its read) took 12–15 s on
    * a shared 4-core host, so the pass outlasts `--seconds`. */
  val secondsPerCycle = 6
  val freshPerCorrection = 8

  def setup(spark: SparkSession, root: Path, seed: Long): DataFrame =
    Workload.writeFamily(spark, root, shape, seed)

  def pass(spark: SparkSession, root: Path, fam: DataFrame, seed: Long, seconds: Int,
      tracer: Tracer): Pass = {
    val dir = Workload.famDir(root)
    val r = root.toString
    var model = Gen.collect(Gen.rows(spark, shape, seed, 0, shape.days))
    val writes = Gen.mutations(seed, shape, math.max(1, seconds / secondsPerCycle))
    val failures = collection.mutable.ArrayBuffer.empty[String]
    val recs = collection.mutable.ArrayBuffer.empty[OpRec]
    var id = 0
    writes.foreach { w =>
      // the statement's input rows, the model after it, and the rows it
      // adds, changes or removes (for the user-byte count)
      val (input, next, changed): (Seq[R], Vector[R], Seq[R]) = w match {
        case Append(d, _) =>
          val rows = Gen.collect(Gen.rows(spark, shape, seed, d, d + 1))
          (rows, model ++ rows, rows)
        case Upsert(s, d, salt, _) =>
          val inc = Gen.incoming(shape, model, s, d, salt, freshPerCorrection)
          val keys = inc.map(r => (r.series, r.ts)).toSet
          (inc, model.filterNot(r => keys((r.series, r.ts))) ++ inc, inc)
        case Merge(s, d, salt, _) =>
          val inc = Gen.incoming(shape, model, s, d, salt, freshPerCorrection)
          val src = inc.map(r => (r.series, r.ts) -> r).toMap
          // WHEN MATCHED AND target < src.value THEN UPDATE, else keep;
          // WHEN NOT MATCHED THEN INSERT
          val newer = (r: R) => src.get((r.series, r.ts)).filter(_.value > r.value)
          val keys = model.map(r => (r.series, r.ts)).toSet
          val inserted = inc.filterNot(r => keys((r.series, r.ts)))
          (inc, model.map(r => newer(r).getOrElse(r)) ++ inserted,
            model.flatMap(newer) ++ inserted)
        case Delete(s, u, _) =>
          val (hit, keep) = model.partition(r => r.series == s"s$s" && r.user == u)
          (Nil, keep, hit)
        case Update(s, u, _) =>
          val hit = (r: R) => r.series == s"s$s" && r.user == u
          (Nil, model.map(r => if (hit(r)) r.copy(user = "REDACTED") else r), model.filter(hit))
        case Expire(d, _) =>
          val (old, keep) = model.partition(_.ts < BaseUs + d * DayUs)
          (Nil, keep, old)
        case Compact(_) => (Nil, model, Nil)
      }
      lazy val inFrame = Gen.asFamily(Gen.toFrame(spark, input))
      val userRows = if (input.isEmpty) 0L else changed.length.toLong
      val before = if (tracer.enabled) Stats.snapshot(dir) else Map.empty[String, Stats.FileStat]
      val done = Workload.attempt(failures, s"${w.verb} $w") {
        tracer.op(id, "write")(tracer.span(s"sources.${w.verb}")(w match {
          case Append(_, _) =>
            TimeSeriesTable.append(inFrame, r, "dom", "fam")
          case Upsert(s, _, _, _) =>
            BoostQL.sqlUpsert(s"UPSERT INTO dom.fam SELECT ts, s$s, s$s.user AS user " +
              "FROM dom.inc", _ => inFrame, r)
          case Merge(s, _, _, _) =>
            BoostQL.sqlMerge(s"MERGE INTO dom.fam USING (SELECT ts, s$s, s$s.user AS user " +
              s"FROM dom.inc) WHEN MATCHED AND s$s < src.value THEN UPDATE " +
              "WHEN NOT MATCHED THEN INSERT", _ => inFrame, r)
          case Delete(s, u, _) =>
            BoostQL.sqlDelete(s"DELETE FROM dom.fam WHERE s$s.user = '$u'", spark, r)
          case Update(s, u, _) =>
            BoostQL.sqlUpdate(s"UPDATE dom.fam SET s$s.user = 'REDACTED' " +
              s"WHERE s$s.user = '$u'", spark, r)
          case Expire(d, _) =>
            TimeSeriesTable.expire(spark, r, "dom", "fam",
              java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))
          case Compact(_) => TimeSeriesTable.compact(spark, r, "dom", "fam")
        }))._2
      }
      val d = if (tracer.enabled) Stats.diff(before, Stats.snapshot(dir))
        else Stats.DirDiff(0, Set.empty)
      done.foreach { ms =>
        recs += OpRec(id, "write", w.verb, ms, userRows = userRows,
          userBytes = changed.map(Workload.rowBytes).sum, written = d.bytesWritten,
          parts = d.partitions.size)
      }
      id += 1
      model = next
      val q = Reads.sql(w.check)
      Workload.attempt(failures, s"count_read after ${w.verb} [$q]") {
        val ((df, rows), ms) = tracer.op(id, "read")(Reads.run(tracer, q,
          _ => tracer.span("sources.open")(TimeSeriesTable.open(spark, r, "dom", "fam"))))
        val (files, bytes, _) = Reads.familyStats(dir)
        Reads.mismatch(rows.toSeq.map(Reads.norm), Reads.expected(model, w.check))
          .foreach(m => failures += s"count_read after ${w.verb} [$q]: wrong answer: $m")
        recs += OpRec(id, "read", "count_read", ms, rowsOut = rows.length,
          famBytes = bytes, famFiles = files, scanFiles = Reads.scannedFiles(df))
      }
      id += 1
    }
    // whole-family check: the stored rows are exactly the model's rows
    Workload.attempt(failures, "final content check") {
      val stored = Gen.collect(TimeSeriesTable.open(spark, r, "dom", "fam").select(
        col("series"), col("ts"), col("value"), col("attributes").getItem("user").as("user")))
      if (stored.sortBy(x => (x.series, x.ts)) != model.sortBy(x => (x.series, x.ts)))
        failures += "final content check: stored family differs from the model"
    }
    // the gated ops: every write and trailing read but expire, a ~3 ms
    // directory delete whose two samples a run swung 2x on JIT and GC
    // jitter alone
    val gated = recs.filter(_.cls != "expire").map(o => o.cls -> o.ms).toList
    Pass(recs.toList, 2 * writes.length + 1, failures.toList, model.length.toLong, dir, gated)
  }
}

/** Open loop: a generator thread appends one small seeded batch on a
  * fixed schedule while one stateless sqlStream query tails the same
  * family into a foreachBatch sink. A batch's follow latency runs from
  * its due time until the sink has seen all of its rows. */
object StreamFollow extends Workload {
  val name = "stream_follow"
  val shape = Shape(series = 8, days = 20, rowsPerDay = 32, users = 50)
  /** Not a multiple of the trigger interval, so the phase between an
    * append and the next trigger sweeps across a run instead of being
    * fixed for it. At 630 ms a slow host (appends at ~600 ms) fell
    * behind the schedule in one run of ten and the median follow
    * latency read 1.9 s instead of 0.75 s. */
  val periodMs = 870
  val perSeries = 16
  val triggerMs = 200
  val warmBatches = 6

  def setup(spark: SparkSession, root: Path, seed: Long): DataFrame =
    Workload.writeFamily(spark, root, shape, seed)

  def pass(spark: SparkSession, root: Path, fam: DataFrame, seed: Long, seconds: Int,
      tracer: Tracer): Pass = {
    val r = root.toString
    // the first `warmBatches` batches bring the stream to steady state:
    // checked, but not in the latency sample. Then 1.5 measured batches
    // per second of `--seconds` (18 at 12 s), so the pass outlasts it.
    val total = warmBatches + seconds * 3 / 2
    val live = shape.days
    val failures = collection.mutable.ArrayBuffer.empty[String]
    val batches = (0 until total).map(b => Gen.asFamily(
      Gen.batches(spark, shape, seed, live, b, b + 1, perSeries), Seq("batch" -> lit(b.toString))))
    // expected per-batch (rows, sum) of the followed series, and the
    // backlog the query must read first
    def s0(rs: Seq[R]) = {
      val f = rs.filter(_.series == "s0")
      (f.length.toLong, f.map(_.value).sum)
    }
    val want = Gen.collect(Gen.batches(spark, shape, seed, live, 0, total, perSeries))
      .groupBy(x => ((x.ts - BaseUs - live * DayUs) / 1000000L / perSeries).toInt)
      .map { case (b, rs) => b -> s0(rs) }
    val backlog = s0(Gen.collect(Gen.rows(spark, shape, seed, 0, shape.days)))

    val seenRows = new ConcurrentHashMap[String, (Long, Double)]()
    val seenAt = new ConcurrentHashMap[Int, Long]()
    val q = BoostQL.sqlStream("SELECT ts, s0 AS v, s0.batch AS b FROM dom.fam",
      _ => TimeSeriesTable.openStream(spark, r, "dom", "fam"))
    val tStart = System.nanoTime()
    val query = q.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.groupBy(col("b")).agg(count(lit(1)), sum(col("v"))).collect().foreach { row =>
          val key = Option(row.getString(0)).getOrElse("backlog")
          val now = System.nanoTime()
          val (c, v) = seenRows.merge(key, (row.getLong(1), row.getDouble(2)),
            (a, b) => (a._1 + b._1, a._2 + b._2))
          if (key != "backlog" && c >= perSeries) seenAt.putIfAbsent(key.toInt, now)
          ()
        }
      }
      .trigger(Trigger.ProcessingTime(triggerMs.toLong))
      .option("checkpointLocation", root.resolve("chk").toString)
      .start()
    def waitFor(deadlineNs: Long)(done: => Boolean): Boolean = {
      while (!done && System.nanoTime() < deadlineNs && query.isActive) Thread.sleep(5)
      done
    }
    val backlogSeen = waitFor(System.nanoTime() + 60000000000L)(
      Option(seenRows.get("backlog")).exists(_._1 >= backlog._1))
    val startMs = (System.nanoTime() - tStart) / 1e6
    if (!backlogSeen) failures += "stream never delivered the backlog"

    val appendMs = new Array[Double](total)
    val lagMs = new Array[Double](total)
    val ok = new Array[Boolean](total)
    val t0 = System.nanoTime() + 100000000L
    def due(b: Int): Long = t0 + b.toLong * periodMs * 1000000L
    val gen = new Thread(() => {
      (0 until total).foreach { b =>
        val wait = due(b) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lagMs(b) = (System.nanoTime() - due(b)) / 1e6
        Workload.attempt(failures, s"append batch $b") {
          appendMs(b) = tracer.op(b, "append")(tracer.span("sources.append")(
            TimeSeriesTable.append(batches(b), r, "dom", "fam")))._2
          ok(b) = true
        }
      }
    }, "layerbench-generator")
    gen.start()
    gen.join()
    waitFor(due(total - 1) + 30000000000L)((0 until total).forall(seenAt.containsKey))
    query.stop()
    query.exception.foreach(e => failures += s"stream failed: ${e.getMessage}")

    val got = Option(seenRows.get("backlog")).getOrElse((0L, 0.0))
    if (got._1 != backlog._1 || math.abs(got._2 - backlog._2) > 1e-6 * math.abs(backlog._2))
      failures += s"backlog: sink saw $got, family holds $backlog"
    val follow = (0 until total).flatMap { b =>
      val g = Option(seenRows.get(b.toString)).getOrElse((0L, 0.0))
      if (g._1 != want(b)._1 || math.abs(g._2 - want(b)._2) > 1e-6 * math.max(1.0, want(b)._2)) {
        failures += s"batch $b: sink saw $g, generator wrote ${want(b)}"
        None
      } else Option(seenAt.get(b)).filter(_ => b >= warmBatches)
        .map(t => "follow" -> (t - due(b)) / 1e6)
    }
    val measured = (warmBatches until total)
    val recs = measured.filter(ok(_)).map(b =>
      OpRec(b, "append", "append", appendMs(b), userRows = shape.series * perSeries))
    Pass(recs, total + 1, failures.toList, shape.rows + total.toLong * shape.series * perSeries,
      Workload.famDir(root), follow, measured.map(lagMs(_)), startMs)
  }
}

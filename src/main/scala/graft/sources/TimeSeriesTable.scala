package graft.sources

import java.io.IOException
import java.sql.Timestamp

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native series-family facade (SURVEY.md §1.4).
  *
  * The reference's SeriesFamily (core/seriesfamily.go:8-11) is "a
  * collection of series that shares certain attributes" — its table
  * analogue. Here a family IS a table: long-format rows
  * `(series string, ts timestamp, value double, tags map, attributes map)`
  * stored as date-partitioned parquet. Everything the reference
  * hand-builds on top of m3db — distributionFactor striping
  * (m3dbseriesfamily.go:156-168), k-way shard merge
  * (boostseriesiterator.go:270-343), symbol-table dictionary streams
  * (core/symtable.go:28-55) — collapses into Spark partitioning, shuffle
  * sort, and parquet dictionary encoding respectively.
  *
  * Scale stance: writes are partitioned by event date so time-range reads
  * prune partitions; within a file, rows are sorted by (series, ts) so
  * parquet row-group min/max stats prune series scans. At 100 TB this is
  * the layout that keeps a `WHERE series = 'cpu' AND ts BETWEEN ...`
  * query reading only the touched dates' files and only the row groups
  * containing that series.
  */
object TimeSeriesTable {
  val SchemaColumns: Seq[String] = Seq("series", "ts", "value", "tags", "attributes")

  val schema: StructType = StructType(Seq(
    StructField("series", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("tags", MapType(StringType, StringType), nullable = true),
    StructField("attributes", MapType(StringType, StringType), nullable = true)
  ))

  /** [[schema]] plus the path-derived `dt` partition column. */
  private val withDt: StructType =
    schema.add(StructField("dt", DateType, nullable = true))

  /** Adapt the driver's `events` table to the series-family row shape
    * (FIXTURES.md §3): series=event_type, attributes=parsed props JSON,
    * user_id hoisted as an attribute. Series-level tags (the reference's
    * dc/env-style series metadata, executor_test.go:127-131) are derived
    * deterministically from the series name — constant per series, so
    * they behave exactly like stored tags and stay oracle-expressible:
    * dc = 'dc' || length(series) % 3, env = prod for click/view else test.
    */
  def fromEvents(events: DataFrame): DataFrame = {
    val attrs = from_json(col("props"), MapType(StringType, StringType))
    events.select(
      col("event_type").as("series"),
      col("ts"),
      col("value"),
      map(
        lit("dc"), concat(lit("dc"), pmod(length(col("event_type")), lit(3)).cast(StringType)),
        lit("env"), when(col("event_type").isin("click", "view"), "prod").otherwise("test")
      ).as("tags"),
      map_concat(
        coalesce(attrs, map().cast(MapType(StringType, StringType))),
        map(lit("user"), col("user_id").cast(StringType)),
        map(lit("event_id"), col("event_id").cast(StringType))
      ).as("attributes")
    )
  }

  /** [[fromEvents]] with the per-row decode parallelized for
    * ingest-shaped consumers (append/seed paths that materialize EVERY
    * column): when the raw events scan yields fewer splits than the
    * session's parallelism — the fixture corpus is one sub-MB parquet
    * row group, so ONE task would run the whole `from_json` +
    * map-building projection — fan the narrow raw rows out first so
    * the decode lands above the exchange on every core (guide §2.5
    * "input skew: repartition immediately after the read"). Production
    * corpora (many files / row groups) already exceed the threshold
    * and take NO extra exchange. Round-robin repartition is
    * retry-deterministic (sortBeforeRepartition is on by default).
    * Read paths keep plain [[fromEvents]]: they prune the decode away
    * or filter at the scan, where an unconditional exchange would only
    * cost (measured: the docs-table variant of this fan-out regressed
    * every pruned read 1.4-3.3x at sf0.1).
    */
  def fromEventsFanned(events: DataFrame): DataFrame =
    fromEvents(graft.util.FanOut.ifNarrow(events))

  /** Open a family from a warehouse root: `root/domain/family/`.
    * Format is parquet by default; orc/json/csv are supported for
    * interchange (the explicit schema keeps text formats lossless for
    * the scalar columns; maps require parquet/orc).
    */
  def open(spark: SparkSession, root: String, domain: String, family: String,
      format: String = "parquet"): DataFrame =
    spark.read.schema(schema).format(format).load(s"$root/$domain/$family")

  /** Open a family as a STREAMING source — the read half of the ingest
    * topology whose write half is
    * [[graft.streaming.StreamingOps.streamIntoFamily]]: a downstream job
    * tails the warehouse path and processes files as they land in the
    * date partitions. The file stream source discovers new files
    * incrementally (state = seen-file log in the checkpoint);
    * `maxFilesPerTrigger` bounds per-micro-batch work so one giant
    * backfill day cannot monopolize a trigger. The partition column `dt`
    * is part of the streamed schema — partition pruning applies to the
    * discovery listing exactly as it does to batch scans.
    */
  def openStream(spark: SparkSession, root: String, domain: String,
      family: String, maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(withDt)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$root/$domain/$family")

  /** Append rows (any DataFrame with the family schema), partitioned by
    * event date — the write path analogue of SeriesFamily.WriteTagged
    * (m3dbseriesfamily.go:147-185). `sortWithinPartitions` gives parquet
    * row groups clustered by series so series predicates prune via
    * min/max stats.
    */
  def append(df: DataFrame, root: String, domain: String, family: String,
      format: String = "parquet"): Unit =
    df.withColumn("dt", to_date(col("ts")))
      .repartition(col("dt"))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("append")
      .format(format).save(s"$root/$domain/$family")

  /** RETENTION: drop whole date partitions older than the cutoff —
    * metadata-only directory removal, never a rewrite, which is the
    * only way retention works at 100 TB (a DELETE-shaped rewrite of a
    * petabyte family to age out a day is an anti-pattern; the
    * reference's m3db side ages out whole blocks the same way).
    * Returns the dropped partition names, sorted. Directories that are
    * not `dt=YYYY-MM-DD` are left untouched.
    */
  def expire(spark: SparkSession, root: String, domain: String,
      family: String, olderThan: java.sql.Date): Seq[String] = {
    val p = new Path(s"$root/$domain/$family")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith("dt=")) None
      else scala.util.Try(java.sql.Date.valueOf(name.stripPrefix("dt=")))
        .toOption.filter(_.before(olderThan))
        .map { _ => fs.delete(st.getPath, true); name }
    }.sorted
  }

  /** CONTINUOUS-AGGREGATE MATERIALIZATION (the TimescaleDB continuous
    * aggregate / Prometheus recording-rule idiom): roll a family up
    * into fixed-width buckets and write the result as a NEW family in
    * the same warehouse, queryable through every existing read path —
    * `open`, the dialect, `openStream`. Each source series emits four
    * rollup series named `{series}:{agg}_{label}` (avg/min/max/count;
    * count is cast to double — the family value type), bucket start as
    * `ts`.
    *
    * Determinism contract: `avg` accumulates as DECIMAL(30,6) sums
    * over the bucket (order-independent, partitioning-invariant) and
    * divides once in doubles — the same rollup bytes on every run and
    * every engine replaying the arithmetic, which plain double
    * summation cannot promise. Bucketing is integer arithmetic on
    * epoch micros (`u − u mod width`).
    *
    * Plan shape: one hash aggregation on (series, bucket), a narrow
    * 4-way explode, then [[append]]'s date repartition — the rollup is
    * |series|×|buckets| rows, so everything after the first exchange
    * is metadata-sized relative to the source. At 100 TB this is THE
    * dashboard-latency lever: queries over months hit the 1-day
    * rollup family and never rescan raw points.
    *
    * Series-level `tags` carry through (`first` per series — constant
    * per series by the family contract); `attributes` do not (they are
    * per-point).
    */
  def downsample(spark: SparkSession, root: String, domain: String,
      family: String, bucketMicros: Long, label: String,
      toFamily: Option[String] = None): String = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    require(label.nonEmpty && label.forall(c => c.isLetterOrDigit || c == '_'),
      "label must be alphanumeric")
    val rows = rollupRows(open(spark, root, domain, family),
      bucketMicros, label)
    val target = toFamily.getOrElse(s"${family}_$label")
    append(rows, root, domain, target)
    target
  }

  /** The downsample aggregation body over an arbitrary source frame —
    * shared by the one-shot [[downsample]] materialization and the
    * incremental [[refreshDownsample]] (which feeds it only the
    * changed dates' files). Determinism contract as documented on
    * [[downsample]].
    */
  private def rollupRows(src: DataFrame, bucketMicros: Long,
      label: String): DataFrame = {
    val u = unix_micros(col("ts"))
    val bucket = timestamp_micros(u - pmod(u, lit(bucketMicros)))
    // tags are series-constant by the data model, but nothing enforces
    // that at write time — `first(tags)` would pick whichever map a
    // task order happened to deliver. Pick DETERMINISTICALLY instead:
    // the map with the lexicographically least canonical rendering
    // (sorted k=v list). Well-formed series (one map) are unaffected;
    // a malformed mixed-tags series downsamples reproducibly under any
    // partitioning (pinned in spec).
    val renderedTags = array_join(array_sort(transform(
      map_entries(col("tags")),
      e => concat_ws("=", e.getField("key"), e.getField("value")))), ",")
    val g = src.groupBy(col("series"), bucket.as("ts"))
      .agg(
        sum(col("value").cast("decimal(30,6)")).cast("double").as("__sum"),
        count(col("value")).as("__n"),
        min(col("value")).as("__min"), max(col("value")).as("__max"),
        min_by(col("tags"), renderedTags).as("__tags"))
      .withColumn("__avg", col("__sum") / col("__n").cast("double"))
    g.select(col("series"), col("ts"), col("__tags"),
      explode(array(
        struct(lit("avg").as("a"), col("__avg").as("v")),
        struct(lit("min").as("a"), col("__min").as("v")),
        struct(lit("max").as("a"), col("__max").as("v")),
        struct(lit("count").as("a"),
          col("__n").cast("double").as("v")))).as("e"))
      .select(
        concat(col("series"), lit(":"), col("e.a"), lit("_" + label))
          .as("series"),
        col("ts"), col("e.v").as("value"), col("__tags").as("tags"),
        map().cast(MapType(StringType, StringType)).as("attributes"))
  }

  /** INCREMENTAL materialized-rollup maintenance — the refresh verb
    * that keeps a [[downsample]] family current as its source family
    * takes appends, upserts, deletes or compactions, recomputing ONLY
    * the source date partitions whose file set changed.
    *
    * Change detection is metadata-only: a per-date signature (sorted
    * file-name:length:mtime list, hashed) of the source's data files,
    * compared against a manifest stored as a hidden sidecar in the
    * derived family (`.graft_refresh_manifest`; dot-files are invisible
    * to parquet readers). A date whose signature moved — new files
    * appended, a compaction's rewrite, a mutate verb's swap — is
    * re-aggregated from its files alone and SWAPPED into the derived
    * family by the shared commit protocol ([[swapPartitions]], aside
    * `.{target}__refresh_old`); a date that vanished from the
    * source (expire/retention) drops from the rollup; untouched dates'
    * derived files are never read, written, or moved. First refresh of
    * a missing derived family is simply "every date changed" — the
    * initial materialization and the maintenance path are one code
    * path. The manifest writes LAST (temp + rename), so a crash
    * anywhere re-runs as a larger-but-idempotent refresh, and a
    * manifest line that does not parse only rebuilds its date.
    *
    * Requires `bucketMicros` to divide a day: derived rows then land
    * on the same `dt` as their source rows, which is what makes the
    * per-date swap sound (a week-wide bucket would straddle dates).
    * At 100 TB this is THE rollup-maintenance lever: a daily ingest
    * touches yesterday's partition, so the refresh re-aggregates one
    * date, not months.
    *
    * Returns (rebuilt derived partitions, dropped derived partitions).
    */
  def refreshDownsample(spark: SparkSession, root: String, domain: String,
      family: String, bucketMicros: Long, label: String,
      toFamily: Option[String] = None): (Seq[String], Seq[String]) = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    require(86400000000L % bucketMicros == 0,
      "refreshDownsample needs a day-divisible bucket so derived rows " +
        "stay on their source date — use downsample() for wider buckets")
    require(label.nonEmpty && label.forall(c => c.isLetterOrDigit || c == '_'),
      "label must be alphanumeric")
    val target = toFamily.getOrElse(s"${family}_$label")
    val srcDir = s"$root/$domain/$family"
    val srcPath = new Path(srcDir)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgtPath = new Path(s"$root/$domain/$target")
    val statuses = listDataStatus(fs, srcPath)
    val byDt = statuses.groupBy(st => dtOf(st.getPath.toString))
    if (byDt.contains(None))
      throw new IOException(
        s"refreshDownsample on $srcDir: data files exist OUTSIDE the " +
          "dt= partition layout — compact() the family first")
    val sig: Map[String, String] =
      byDt.collect { case (Some(d), sts) => d -> signature(sts) }
    val manifestPath = new Path(tgtPath, ".graft_refresh_manifest")
    // an unparsable line (a torn write) is skipped: its date rebuilds
    val old: Map[String, String] = readManifest(fs, manifestPath) {
      case Array(d, s) => Some(d -> s)
      case _ => None
    }.toMap
    val changed = sig.keySet.filter(d => !old.get(d).contains(sig(d)))
    val removed = old.keySet -- sig.keySet
    if (changed.isEmpty && removed.isEmpty) return (Seq.empty, Seq.empty)
    val tmp = scratch(root, domain, target, Verb.Refresh.temp)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (changed.nonEmpty) {
      val rebuildFiles = filesOn(statuses.map(_.getPath.toString), changed)
      val rows = rollupRows(
        spark.read.schema(schema).parquet(rebuildFiles: _*),
        bucketMicros, label)
      rows.withColumn("dt", to_date(col("ts")))
        .repartition(col("dt"))
        .sortWithinPartitions("series", "ts")
        .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
    }
    // a removed date has no rewrite output, and neither has a source
    // date whose every value is NULL: the swap leaves both empty
    swapPartitions(fs, Verb.Refresh, root, domain, target, changed ++ removed)
    // manifest LAST: a crash above re-runs as a larger refresh
    writeManifest(fs, manifestPath,
      sig.toSeq.sorted.map { case (d, s) => s"$d\t$s" })
    (changed.toSeq.sorted.map(d => s"dt=$d"),
      removed.toSeq.sorted.map(d => s"dt=$d"))
  }

  /** Sum of the files' parquet-footer record counts — the authoritative
    * per-file row count (what the writer committed), read from metadata
    * only. Footers are fetched on a bounded thread pool: compaction
    * targets are exactly the many-small-files directories, and a
    * thousand sequential ~ms footer reads would add driver seconds for
    * no reason (object stores amplify per-request latency further).
    */
  private def footerRowCount(spark: SparkSession, files: Seq[String]): Long = {
    if (files.isEmpty) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.length))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[Long]] =
        files.map[java.util.concurrent.Callable[Long]] { f => () =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.asJava
      pool.invokeAll(tasks).asScala.map(_.get()).sum
    } finally pool.shutdown()
  }

  /** Recursive data-file listing, parallelized PER DIRECTORY: one
    * listStatus per directory on a bounded pool, level by level. The
    * sequential `fs.listFiles(path, true)` walk this replaces paid one
    * round-trip per directory in series — ~30 s at 3,000 date
    * partitions (CompactProbe), and worse against an object store
    * where each LIST is a network call. Parallel per-prefix listing is
    * the standard S3 idiom; on a local fs it just collapses the walk
    * to near-zero. Skips the streaming-sink log (`_spark_metadata`)
    * and counts only data files; a missing root lists as empty.
    */
  private def listDataFiles(fs: FileSystem, root: Path): Seq[String] =
    listDataStatus(fs, root).map(_.getPath.toString)

  private def listDataStatus(fs: FileSystem, root: Path): Seq[FileStatus] = {
    if (!fs.exists(root)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    var dirs = Seq(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      while (dirs.nonEmpty) {
        val tasks: java.util.List[java.util.concurrent.Callable[
            Array[FileStatus]]] =
          dirs.map[java.util.concurrent.Callable[Array[FileStatus]]] {
            d => () => fs.listStatus(d)
          }.asJava
        val level = pool.invokeAll(tasks).asScala.flatMap(_.get())
        dirs = level.collect {
          case st if st.isDirectory &&
            st.getPath.getName != "_spark_metadata" => st.getPath
        }.toSeq
        out ++= level.collect {
          case st if !st.isDirectory &&
            st.getPath.getName.endsWith(".parquet") => st
        }
      }
      out.toSeq
    } finally pool.shutdown()
  }

  /** Read data files by EXPLICIT list ([[compact]]'s rationale) with
    * the path-derived `dt` (`basePath` keeps it derivable). */
  private def readFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame =
    spark.read.schema(withDt).option("basePath", dir).parquet(files: _*)

  /** The date of a `…/dt=YYYY-MM-DD/…` path; None outside the layout. */
  private def dtOf(path: String): Option[String] =
    path.split('/').collectFirst {
      case seg if seg.startsWith("dt=") => seg.stripPrefix("dt=")
    }

  /** The files that sit in one of the `dates` partitions. */
  private def filesOn(files: Seq[String], dates: Set[String]): Seq[String] =
    files.filter(f => dtOf(f).exists(dates.contains))

  /** A file set's signature, the sidecar manifests' invalidation key:
    * MD5 of the sorted name:length:mtime list. mtime catches a
    * non-Spark writer that rewrites a file IN PLACE with the same name
    * and byte length. */
  private def signature(sts: Seq[FileStatus]): String = {
    val rendered = sts.map(st => s"${st.getPath.getName}:${st.getLen}:" +
      st.getModificationTime).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Data files by partition name (`dt=…`); files outside the layout
    * group under `(unpartitioned)` so an inventory never under-reports. */
  private def byPartition(sts: Seq[FileStatus])
      : Map[String, Seq[FileStatus]] =
    sts.groupBy(st =>
      dtOf(st.getPath.toString).fold("(unpartitioned)")("dt=" + _))

  /** Read a sidecar manifest (a `.graft_*_manifest` dot-file inside the
    * family): one tab-separated record per line, handed to `parse` with
    * empty trailing fields kept. A line `parse` rejects (wrong arity, a
    * bad number or encoding, a torn write) is skipped and a missing or
    * unreadable manifest reads as empty — the cost is only a recompute. */
  private def readManifest[T](fs: FileSystem, path: Path)(
      parse: Array[String] => Option[T]): Seq[T] =
    try {
      if (!fs.exists(path)) Seq.empty
      else {
        val in = fs.open(path)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        text.linesIterator.flatMap { line =>
          try parse(line.split("\t", -1))
          catch { case _: RuntimeException => None }
        }.toSeq
      }
    } catch { case _: IOException => Seq.empty }

  /** Write a sidecar manifest through a temp sibling + rename: an
    * in-place overwrite lets a concurrent reader see a torn final line
    * whose truncated number still parses. Throws IOException on
    * failure. */
  private def writeManifest(fs: FileSystem, path: Path,
      lines: Seq[String]): Unit = {
    val tmp = new Path(path.getParent,
      s"${path.getName}.tmp.${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      throw new IOException(s"could not write the manifest $path")
    }
  }

  /** One verb in the commit protocol's name table ([[swapPartitions]]).
    * Scratch directories sit beside the family as `.{family}__<suffix>`:
    * `aside` receives what a swap moves out, `temp` the rewrite, `staged`
    * any staged inputs. `name` words [[recover]]'s actions, `label`
    * opens refusals; `wholeDir` marks a [[swapDir]] verb. */
  private final case class Verb(name: String, label: String, aside: String,
      temp: String, staged: Seq[String] = Nil, wholeDir: Boolean = false) {
    def temps: Seq[String] = temp +: staged
  }

  private object Verb {
    val Compact = Verb("compact", "compaction", "old", "compacting",
      wholeDir = true)
    val Ctas = Verb("ctas", "CREATE OR REPLACE FAMILY", "ctas_old", "ctas",
      wholeDir = true)
    val Delete = Verb("delete", "row-level DELETE", "delete_old", "deleting")
    val Update = Verb("update", "row-level UPDATE", "update_old", "updating")
    val Upsert = Verb("upsert", "UPSERT", "upsert_old", "upserting",
      Seq("upsert_in"))
    val Merge = Verb("merge", "MERGE", "merge_old", "merging",
      Seq("merge_in", "merge_ins"))
    val Refresh = Verb("refresh", "refresh", "refresh_old", "refreshing")
    val all: Seq[Verb] = Seq(Compact, Ctas, Delete, Update, Upsert, Merge,
      Refresh)
  }

  /** `.{family}__<suffix>` beside the family. */
  private def scratch(root: String, domain: String, family: String,
      suffix: String): Path =
    new Path(s"$root/$domain/.${family}__$suffix")

  /** Stage an incoming batch for [[upsertRows]] / [[mergeRows]]: an
    * arbitrary plan is not re-read-stable, so the batch is written once
    * to the verb's staging temp and read back by explicit file list (no
    * hidden-path filter on the dot-prefixed temp). ONE pass then gives
    * per-date counts and key stats; Σ per-date distinct == global
    * distinct because duplicate keys share to_date(ts). Refuses NULL
    * keys (a NULL ts lands in the null dt group) and duplicate keys
    * (`dupReason`). Returns the staged frame and per-date counts, empty
    * for an empty batch; the caller drops the staging temp. */
  private def stage(spark: SparkSession, fs: FileSystem, verb: Verb,
      root: String, domain: String, family: String, incoming: DataFrame,
      dupReason: String): (DataFrame, Map[String, Long]) = {
    val dir = s"$root/$domain/$family"
    val staging = scratch(root, domain, family, verb.staged.head)
    if (fs.exists(staging)) fs.delete(staging, true)
    incoming.select(col("series").cast(StringType),
        col("ts").cast(TimestampType), col("value").cast(DoubleType),
        col("tags").cast(MapType(StringType, StringType)),
        col("attributes").cast(MapType(StringType, StringType)))
      .write.parquet(staging.toString)
    val inc = spark.read.schema(schema)
      .parquet(listDataFiles(fs, staging): _*)
    val dtStats = inc.groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("n"),
        count(when(col("series").isNull, 1)).as("nulls"),
        countDistinct(col("series"), col("ts")).as("dist"))
      .collect()
    if (dtStats.exists(r => r.isNullAt(0) || r.getLong(2) > 0L))
      throw new IOException(
        s"${verb.label} into $dir: incoming rows carry NULL (series, ts) " +
          "keys — the merge key must be present on every row")
    if (dtStats.map(_.getLong(3)).sum != dtStats.map(_.getLong(1)).sum)
      throw new IOException(
        s"${verb.label} into $dir: the incoming batch holds duplicate " +
          s"(series, ts) keys — $dupReason")
    (inc, dtStats.map(r => (r.getDate(0).toString, r.getLong(1))).toMap)
  }

  /** Per-date row counts of `rows` (path-derived `dt`); rows outside
    * the dt= layout refuse, since the swap cannot place them. */
  private def countByDate(rows: DataFrame, what: String): Map[String, Long] = {
    val counts = rows.groupBy(col("dt")).count().collect()
    if (counts.exists(_.isNullAt(0))) throw new IOException(
      s"$what exist OUTSIDE the dt= partition layout — the per-partition " +
        "copy-on-write swap needs the partitioned layout; compact() the " +
        "family first")
    counts.map(r => (r.getDate(0).toString, r.getLong(1))).toMap
  }

  /** Rewrite parallelism for the mutate verbs ([[deleteRows]] /
    * [[updateRows]]): hash each date's rows into
    * `shufflePartitions / |affected partitions|` series slices, so a
    * takedown touching three dates of a TB-per-day family does NOT
    * serialize each date into one task (a bare `repartition(dt)`
    * would). Series-hash slicing keeps every series' rows CLUSTERED
    * within one file per date — row-group series pruning survives the
    * rewrite — and unlike `repartitionByRange` it needs no sampling
    * pass over the input. With many affected dates the quotient hits 1
    * and the shape degrades gracefully to the one-file-per-date
    * [[append]] layout.
    */
  private def rewriteSlices(spark: SparkSession, affectedParts: Int): Int =
    math.max(1, spark.sessionState.conf.numShufflePartitions /
      math.max(1, affectedParts))

  /** Write `rows` (family columns + `dt`) to the verb's rewrite temp in
    * the [[append]] layout sliced per [[rewriteSlices]], VERIFY its
    * footer row total against `expected` (the caller's `identity`; a
    * mismatch drops the temp, source untouched), then [[swapPartitions]]. */
  private def rewrite(spark: SparkSession, fs: FileSystem, verb: Verb,
      root: String, domain: String, family: String, rows: DataFrame,
      dates: Set[String], expected: Long, identity: String): Unit = {
    val tmp = scratch(root, domain, family, verb.temp)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    rows.repartition(col("dt"),
        pmod(hash(col("series")), lit(rewriteSlices(spark, dates.size))))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
    val n = footerRowCount(spark, listDataFiles(fs, tmp))
    if (n != expected) {
      fs.delete(tmp, true)
      throw new IOException(
        s"${verb.label} aborted for $root/$domain/$family: rewrite holds " +
          s"$n rows, expected $expected ($identity) — a concurrent write " +
          "or a rewrite fault; source left untouched")
    }
    swapPartitions(fs, verb, root, domain, family, dates)
  }

  /** THE COMMIT PROTOCOL of the copy-on-write verbs — [[deleteRows]],
    * [[updateRows]], [[upsertRows]], [[mergeRows]] and
    * [[refreshDownsample]] commit through this swap; [[compact]] and
    * CREATE OR REPLACE FAMILY through its whole-directory form
    * [[swapDir]].
    *
    * A verb first stages ([[stage]], for a batch that must be read
    * twice), writes its rewrite of the affected dates to its temp
    * `.{family}__<temp>` and verifies it against parquet footers
    * ([[rewrite]]) — nothing live has moved yet, so an abort just drops
    * the temp. This swap then commits date by date, in date order: the
    * live `dt=D`, if it exists, moves under the verb's aside root
    * `.{family}__<aside>/dt=D`; the rewrite's `dt=D`, if it exists,
    * renames in (a date with no rewrite output ends up empty: every row
    * deleted, or a rollup of nothing). A failed rename-in moves that
    * date's original back and throws. Last, the aside root and the temp
    * drop.
    *
    * Invariant: at every instant each affected date is untouched
    * (live), mid-swap (its only copy under the aside root) or swapped
    * (the rewrite live, the original under the aside root) — a date is
    * never lost, though a reader can see some dates swapped and others
    * not (multi-partition atomicity is not provided). [[recover]] reads
    * the name table [[Verb]] — per verb its `name`, `aside` and
    * `temps` — and applies the invariant: an aside date whose live
    * date is missing renames back, an aside date whose live date exists
    * was swapped and drops, every temp drops; a whole-directory aside
    * restores when the live directory is missing and drops otherwise.
    *
    * Because a leftover aside root may hold the only copy of a date,
    * the swap refuses to start over one: before moving anything it
    * drops its own temp and throws, asking for [[recover]].
    */
  private def swapPartitions(fs: FileSystem, verb: Verb, root: String,
      domain: String, family: String, dates: Set[String]): Unit = {
    val live = new Path(s"$root/$domain/$family")
    val tmp = scratch(root, domain, family, verb.temp)
    val asideRoot = scratch(root, domain, family, verb.aside)
    if (fs.exists(asideRoot)) {
      fs.delete(tmp, true)
      throw new IOException(
        s"${verb.label} on $live refused: $asideRoot is left from an " +
          "interrupted swap and may hold the only copy of a partition — " +
          "run TimeSeriesTable.recover first; nothing was moved")
    }
    fs.mkdirs(asideRoot)
    fs.mkdirs(live)
    dates.toSeq.sorted.foreach { d =>
      val livePart = new Path(live, s"dt=$d")
      val aside = new Path(asideRoot, s"dt=$d")
      val movedAside = fs.exists(livePart)
      if (movedAside && !fs.rename(livePart, aside)) throw new IOException(
        s"${verb.label} swap failed for $live: could not move dt=$d " +
          "aside — partition left untouched")
      val rewritten = new Path(tmp, s"dt=$d")
      if (fs.exists(rewritten) && !fs.rename(rewritten, livePart)) {
        if (movedAside) fs.rename(aside, livePart) // roll back
        throw new IOException(
          s"${verb.label} swap failed for $live: rewrite rename of " +
            s"dt=$d failed — partition restored")
      }
    }
    fs.delete(asideRoot, true)
    fs.delete(tmp, true)
  }

  /** The whole-directory form of [[swapPartitions]]: the live family
    * moves to its aside, the verified temp renames in (a failure moves
    * it back), the aside drops. A leftover aside beside a live family is
    * a completed swap's stale copy ([[recover]]'s rule) and drops first. */
  private def swapDir(fs: FileSystem, verb: Verb, root: String,
      domain: String, family: String): Unit = {
    val live = new Path(s"$root/$domain/$family")
    val tmp = scratch(root, domain, family, verb.temp)
    val aside = scratch(root, domain, family, verb.aside)
    if (fs.exists(aside)) fs.delete(aside, true)
    if (!fs.rename(live, aside)) throw new IOException(
      s"${verb.label} swap failed for $live: could not move the old " +
        "directory aside — source left untouched")
    if (!fs.rename(tmp, live)) {
      fs.rename(aside, live) // roll back; source restored
      throw new IOException(
        s"${verb.label} swap failed for $live: rewrite rename failed — " +
          "source restored")
    }
    fs.delete(aside, true)
  }

  /** CREATE OR REPLACE FAMILY: stage `rows` as a new family in the CTAS
    * temp (a failing select moves nothing), then [[swapDir]] it in. */
  private[graft] def replaceFamily(rows: DataFrame, root: String,
      domain: String, family: String): Unit = {
    val tmp = scratch(root, domain, family, Verb.Ctas.temp)
    val fs = tmp.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    append(rows, root, domain, tmp.getName)
    swapDir(fs, Verb.Ctas, root, domain, family)
  }

  /** COMPACTION: rewrite the family into few large (series, ts)-sorted
    * files per date partition — the operational counterpart of the
    * streaming ingest path, whose sink lands one small file per
    * micro-batch per partition. Small files tax the scan twice at
    * scale (listing + per-file open, and row groups too small for
    * min/max pruning to bite); compaction restores the
    * [[append]]-shaped layout.
    *
    * Safety contract:
    *  - The source is read by EXPLICIT FILE LIST, never by directory.
    *    A directory that was ever a streaming-sink target carries a
    *    `_spark_metadata` log, and a directory read honors only the
    *    files that log committed — files landed by the batch path
    *    ([[append]] / SQL `INSERT`, which target the same layout) would
    *    be invisible to the rewrite and then destroyed with the swap.
    *    The explicit list sees every parquet file regardless of
    *    provenance; the sink log itself is retired by the swap (the
    *    compacted directory is batch-owned), so roll any live ingest
    *    stream to a new root first — its checkpoint's file log does not
    *    carry over.
    *  - The rewrite is VERIFIED (row counts must match) before the
    *    source is touched; a mismatch aborts with the source intact.
    *  - The swap is the whole-directory commit protocol ([[swapDir]],
    *    aside `.{family}__old`): any failure leaves the data
    *    recoverable, the source either still in place or intact under
    *    the aside.
    * Returns (data files before, data files after).
    */
  def compact(spark: SparkSession, root: String, domain: String,
      family: String): (Int, Int) = {
    val dir = s"$root/$domain/$family"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listDataFiles(fs, p)
    if (files.isEmpty) return (0, 0)
    // row counts on both sides come from the parquet FOOTERS (summed
    // row-group record counts — authoritative commit metadata, no data
    // scan), so the rewrite write is the compaction's ONLY
    // data-proportional pass; the r13 form burned two extra full scans
    // (source count + rewrite count) for the same verification
    val expected = footerRowCount(spark, files)
    val tmp = scratch(root, domain, family, Verb.Compact.temp)
    readFiles(spark, dir, files).repartition(col("dt"))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
    // verify via the explicit file list as well: the temp dir is
    // dot-prefixed (hidden from sibling listings by design), and a
    // directory listing of a hidden root would be filtered — the
    // recursive file list is immune
    val tmpFiles = listDataFiles(fs, tmp)
    val rewritten = footerRowCount(spark, tmpFiles)
    if (rewritten != expected) {
      fs.delete(tmp, true)
      throw new IOException(
        s"compaction aborted for $dir: rewrite holds $rewritten rows, " +
          s"source holds $expected — source left untouched")
    }
    swapDir(fs, Verb.Compact, root, domain, family)
    // the compacted file set IS tmpFiles (the tmp dir became the live
    // path by rename) — a third recursive listing here measured 33 s
    // on a 3000-partition family for a number already in hand
    (files.length, tmpFiles.length)
  }

  /** Partition inventory — the operational "what would expire, compact
    * or a takedown touch" question: one row per `dt=` date partition
    * with its file count, byte size and parquet-footer row total,
    * sorted by partition. METADATA-ONLY: one parallel listing plus
    * footer reads, no data scan — the same cost class as the mutate
    * verbs' count passes, safe to point at a petabyte family. Files
    * outside the dt= layout (pre-partition-era writes) group under
    * `(unpartitioned)` so the inventory never under-reports.
    *
    * The footer reads are CACHED through a self-validating manifest
    * sidecar (`.graft_partitions_manifest`, the refreshDownsample
    * discipline): each call signs every partition's file set
    * (name:length:mtime, metadata already in the listing's hand) and
    * re-reads footers ONLY for partitions whose signature moved — a
    * daily-ingest family answers from yesterday's manifest plus one
    * partition's footers, however many dates it holds. The cache can
    * never serve stale rows (a changed file set changes the signature,
    * which is exactly what every writer — append, compact, the mutate
    * swaps, a non-Spark tool — must alter to change the data), and a
    * read-only warehouse still works: the manifest write is
    * best-effort.
    */
  def partitions(spark: SparkSession, root: String, domain: String,
      family: String): DataFrame = {
    import spark.implicits._
    val p = new Path(s"$root/$domain/$family")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = listDataStatus(fs, p)
    if (statuses.isEmpty) return Seq.empty[(String, Long, Long, Long)]
      .toDF("part", "n_files", "n_bytes", "n_rows")
    val byPart = byPartition(statuses)
    val manifestPath = new Path(p, ".graft_partitions_manifest")
    // part → (sig, n_files, n_bytes, n_rows)
    val cached: Map[String, (String, Long, Long, Long)] =
      readManifest(fs, manifestPath) {
        case Array(part, sig, nf, nb, nr) =>
          Some(part -> (sig, nf.toLong, nb.toLong, nr.toLong))
        case _ => None
      }.toMap
    var footerReads = false
    val rows = byPart.toSeq.map { case (part, sts) =>
      val sig = signature(sts)
      cached.get(part) match {
        case Some((s, nf, nb, nr)) if s == sig => (part, sig, nf, nb, nr)
        case _ =>
          footerReads = true
          (part, sig, sts.size.toLong, sts.map(_.getLen).sum,
            footerRowCount(spark, sts.map(_.getPath.toString)))
      }
    }.sortBy(_._1)
    // rewrite the manifest only when something changed (incl. dropped
    // partitions); best-effort — SHOW must work on a read-only store
    if (footerReads || cached.keySet != byPart.keySet) try {
      writeManifest(fs, manifestPath, rows.map {
        case (part, sig, nf, nb, nr) => s"$part\t$sig\t$nf\t$nb\t$nr" })
    } catch { case _: IOException => () }
    rows.map { case (part, _, nf, nb, nr) => (part, nf, nb, nr) }
      .toDF("part", "n_files", "n_bytes", "n_rows")
  }

  /** Manifest-cached DESCRIBE over a warehouse family — the per-series
    * catalog (point count, epoch-micros time extent, sorted
    * attribute/tag key inventories; the same six columns the dialect's
    * frame-based `DESCRIBE` computes) served WITHOUT re-scanning
    * partitions whose file set has not moved. The discipline is
    * [[partitions]]'s: each call signs every partition's file set
    * (name:length:mtime, metadata already in the listing's hand) and
    * re-aggregates ONLY signature-moved partitions, merging
    * per-partition stats — counts sum, extents min/max, key sets
    * union — so a daily-ingest family answers from yesterday's
    * sidecar (`.graft_describe_manifest`) plus one partition's scan.
    * Per-series stats merge EXACTLY (no sketches), so the cached
    * answer is identical to the from-scratch aggregation.
    *
    * The sidecar holds one line per (partition, series) — the design
    * assumes series-cardinality × partitions is metadata-sized (the
    * same assumption the manifest file itself embodies); values are
    * URL-encoded so series names and key inventories survive tabs.
    * The cache can never serve stale rows (a changed file set changes
    * the signature — exactly what every writer must alter), writes go
    * through temp+rename (no torn reads), and a read-only warehouse
    * still works: the manifest write is best-effort. Files outside the
    * dt= layout group under `(unpartitioned)` like [[partitions]].
    */
  def describeCached(spark: SparkSession, root: String, domain: String,
      family: String): DataFrame = {
    import spark.implicits._
    val p = new Path(s"$root/$domain/$family")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = listDataStatus(fs, p)
    if (statuses.isEmpty) return Seq.empty[(String, Long, Option[Long],
      Option[Long], String, String)].toDF("series", "n_points", "first_us",
      "last_us", "attr_keys", "tag_keys")
    val byPart = byPartition(statuses)
    // one cached stat row: (series, n, firstUs, lastUs, attrKeys, tagKeys)
    type Stat = (Option[String], Long, Option[Long], Option[Long],
      Seq[String], Seq[String])
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    def dec(s: String): String =
      java.net.URLDecoder.decode(s, "UTF-8")
    def encOpt(s: Option[String]): String = s.fold("0")("1" + enc(_))
    def decOpt(s: String): Option[String] =
      if (s == "0") None else Some(dec(s.substring(1)))
    def encL(l: Option[Long]): String = l.fold("-")(_.toString)
    def decL(s: String): Option[Long] =
      if (s == "-") None else Some(s.toLong)
    def decKeys(s: String): Seq[String] =
      if (s.isEmpty) Seq.empty else s.split(',').toSeq.map(dec)
    val manifestPath = new Path(p, ".graft_describe_manifest")
    // an empty key-inventory tail field is a legitimate value, which is
    // why readManifest keeps trailing empty fields: dropping them would
    // un-match the 8-field pattern and serve that partition's remaining
    // rows as the full set
    val cached: Map[String, (String, Seq[Stat])] =
      readManifest(fs, manifestPath) {
        case Array(part, sig, ser, n, fu, lu, ak, tk) =>
          Some((part, sig, (decOpt(ser), n.toLong, decL(fu), decL(lu),
            decKeys(ak), decKeys(tk)): Stat))
        case _ => None
      }.groupBy(_._1).map { case (part, rows) =>
        // a partition's lines all carry one signature by construction;
        // discard the partition if a torn write ever mixed two
        val sigs = rows.map(_._2).distinct
        part -> (sigs.head, if (sigs.length == 1) rows.map(_._3)
          else Seq.empty)
      }.filter(_._2._2.nonEmpty)
    // One Spark job for ALL signature-moved partitions, not one per
    // partition (guide §1.2 step 1 / §5 driver): the previous
    // per-partition scan+collect launched a sequential job per moved
    // partition — a fresh 30-date family paid 30 job schedules for one
    // catalog (measured: ~1.5 s of boost_describe_cached's 2.65 s) and
    // a 3,000-partition backfill would pay 3,000. The moved files are
    // tagged with their partition name via a path→part lookup column
    // and aggregated by (part, series) in one pass; the collect stays
    // bounded at (moved partitions × series) rows — the sidecar's own
    // size assumption.
    val sigs: Map[String, String] = byPart.map { case (part, sts) =>
      part -> signature(sts)
    }
    val moved: Seq[(String, Seq[FileStatus])] =
      byPart.toSeq.sortBy(_._1).filter { case (part, _) =>
        !cached.get(part).exists(_._1 == sigs(part)) }
    val rescans = moved.nonEmpty
    val movedStats: Map[String, Seq[Stat]] = if (!rescans) Map.empty
    else {
      // partition name from the file's own path — the same `dt=` segment
      // rule the listing's dtOf applies, as a native (codegen) regexp
      // rather than a closure UDF; both spellings of the path carry the
      // identical directory segment, so the keys line up with byPart's
      val seg = regexp_extract(input_file_name(), "/(dt=[^/]+)/", 1)
      val df = spark.read.schema(schema)
        .parquet(moved.flatMap(_._2).map(_.getPath.toString): _*)
        .withColumn("__part",
          when(seg =!= "", seg).otherwise(lit("(unpartitioned)")))
      df.groupBy(col("__part"), col("series")).agg(
          count(lit(1)).as("n"),
          unix_micros(min(col("ts"))).as("fu"),
          unix_micros(max(col("ts"))).as("lu"),
          array_sort(array_distinct(flatten(
            collect_set(map_keys(col("attributes")))))).as("ak"),
          array_sort(array_distinct(flatten(
            collect_set(map_keys(col("tags")))))).as("tk"))
        .collect().toSeq.map { r =>
          r.getString(0) -> ((Option(r.getString(1)), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getSeq[String](5), r.getSeq[String](6)): Stat)
        }.groupBy(_._1).map { case (part, rows) => part -> rows.map(_._2) }
    }
    val perPart: Seq[(String, String, Seq[Stat])] =
      byPart.toSeq.sortBy(_._1).map { case (part, _) =>
        val sig = sigs(part)
        cached.get(part) match {
          case Some((s, rows)) if s == sig => (part, sig, rows)
          case _ => (part, sig, movedStats.getOrElse(part, Seq.empty))
        }
      }
    // best-effort sidecar rewrite (the partitions() manifest discipline)
    if (rescans || cached.keySet != byPart.keySet) try {
      writeManifest(fs, manifestPath, perPart.flatMap {
        case (part, sig, rows) => rows.map { case (ser, n, fu, lu, ak, tk) =>
          Seq(part, sig, encOpt(ser), n.toString, encL(fu), encL(lu),
            ak.map(enc).mkString(","), tk.map(enc).mkString(","))
            .mkString("\t")
        }
      })
    } catch { case _: IOException => () }
    // exact merge across partitions: counts sum, extents min/max,
    // key inventories union — identical to the one-pass aggregation
    val out = perPart.flatMap(_._3).groupBy(_._1).toSeq.map {
      case (ser, rows) =>
        (ser.orNull,
          rows.map(_._2).sum,
          rows.flatMap(_._3).reduceOption(_ min _),
          rows.flatMap(_._4).reduceOption(_ max _),
          rows.flatMap(_._5).distinct.sorted.mkString(","),
          rows.flatMap(_._6).distinct.sorted.mkString(","))
    }
    out.toDF("series", "n_points", "first_us", "last_us",
      "attr_keys", "tag_keys").orderBy("series")
  }

  /** ROW-LEVEL DELETE — the takedown path (PII purge, copyright
    * removal: the one mutate verb an LLM corpus store is guaranteed to
    * need). The reference's write tier has append/retention but no
    * row-level mutate (boostsession.go:94-184 is its most complete
    * surface and this verb is absent); [[expire]] covers the
    * whole-partition retention shape, and this covers everything else
    * as a COPY-ON-WRITE rewrite of ONLY the date partitions that hold
    * matching rows.
    *
    * Semantics: rows where `predicate` is TRUE are deleted; FALSE and
    * NULL rows are kept (ANSI DELETE). Two passes:
    *
    *  1. COUNT scan: per-partition matched counts. Column-pruned to
    *     the predicate's columns + `dt`, and series/ts conjuncts push
    *     into parquet row-group stats — at 100 TB a takedown touching
    *     three dates reads a few predicate columns everywhere and
    *     actual data almost nowhere. The collect is bounded: one row
    *     per AFFECTED date partition.
    *  2. REWRITE: only the affected partitions' files (explicit file
    *     list, same [[compact]] rationale) are re-read, the kept rows
    *     rewritten in the [[append]] layout ((series, ts)-sorted), the
    *     result VERIFIED against parquet footers (kept = source −
    *     matched, per the count pass) before anything moves, then
    *     committed by the shared protocol ([[swapPartitions]], aside
    *     `.{family}__delete_old`); a partition whose every row matched
    *     disappears. Partitions with no matches are never read, moved,
    *     or rewritten — their files stay BYTE-IDENTICAL (pinned in
    *     TimeSeriesTableSpec).
    *
    * Returns (rows deleted, affected partition names); (0, empty) when
    * nothing matches — no writes at all in that case.
    */
  def deleteRows(spark: SparkSession, root: String, domain: String,
      family: String, predicate: Column): (Long, Seq[String]) = {
    val dir = s"$root/$domain/$family"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listDataFiles(fs, new Path(dir))
    if (files.isEmpty) return (0L, Seq.empty)
    val hit = coalesce(predicate, lit(false))
    val matched = countByDate(readFiles(spark, dir, files).filter(hit),
      s"row-level DELETE on $dir: matching rows")
    if (matched.isEmpty) return (0L, Seq.empty)
    val affected = matched.keySet
    val affectedFiles = filesOn(files, affected)
    // the verification identity: kept-after-rewrite must equal the
    // affected partitions' footer total minus the count pass's matches
    val expectedKept = footerRowCount(spark, affectedFiles) - matched.values.sum
    rewrite(spark, fs, Verb.Delete, root, domain, family,
      readFiles(spark, dir, affectedFiles).filter(!hit), affected,
      expectedKept, "source minus matches")
    (matched.values.sum, affected.toSeq.sorted.map(d => s"dt=$d"))
  }

  /** ROW-LEVEL UPDATE — the redaction path, [[deleteRows]]'s sibling
    * mutate verb: where DELETE removes a takedown's rows, UPDATE
    * rewrites them in place (PII masking — `SET click.user =
    * 'REDACTED'` — value corrections, attribute backfills). Same
    * copy-on-write machinery, same 100 TB stance: a count pass finds
    * the affected date partitions (column-pruned, predicate-pushed,
    * collect bounded by one row per affected partition), then ONLY
    * those partitions' files are re-read with the assignments applied,
    * footer-verified, and committed by the shared protocol
    * ([[swapPartitions]], aside `.{family}__update_old`). Untouched
    * partitions stay byte-identical.
    *
    * Assignments are `(series, attr, rhs)` triples over the long
    * layout: `attr = None` sets the series' VALUE column (rhs cast to
    * double), `attr = Some(a)` sets per-point attribute `a` (rhs cast
    * to string; a NULL rhs REMOVES the key — redaction by deletion).
    * Every RHS evaluates against the OLD row (ANSI UPDATE: all SET
    * expressions see pre-update state, so `SET a = b, b = a` swaps).
    * A row is touched when `predicate` is TRUE on it AND its series
    * has an assignment; FALSE/NULL rows and other series pass through
    * bit-unchanged inside rewritten partitions.
    *
    * The verify identity is row-count PRESERVATION: the rewrite must
    * hold exactly the affected partitions' footer total (UPDATE moves
    * no rows — `ts` and `series` are not assignable, so no row changes
    * partition). Returns (rows updated, affected partition names);
    * (0, empty) when nothing matches — no writes.
    */
  def updateRows(spark: SparkSession, root: String, domain: String,
      family: String, predicate: Column,
      assigns: Seq[(String, Option[String], Column)])
      : (Long, Seq[String]) = {
    require(assigns.nonEmpty, "updateRows needs at least one assignment")
    val dir = s"$root/$domain/$family"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listDataFiles(fs, new Path(dir))
    if (files.isEmpty) return (0L, Seq.empty)
    val hit = coalesce(predicate, lit(false))
    val targetSeries = assigns.map(_._1).distinct
    val touched = hit && col("series").isin(targetSeries: _*)
    val matched = countByDate(readFiles(spark, dir, files).filter(touched),
      s"row-level UPDATE on $dir: matching rows")
    if (matched.isEmpty) return (0L, Seq.empty)
    val affected = matched.keySet
    val affectedFiles = filesOn(files, affected)
    // the verification identity: UPDATE preserves row counts — the
    // rewrite must hold exactly the affected partitions' footer total
    val expectedRows = footerRowCount(spark, affectedFiles)
    // all assignments in ONE select over the OLD row
    val (newValue, newAttrs) =
      applyAssigns(assigns, hit, col("value"), col("attributes"))
    rewrite(spark, fs, Verb.Update, root, domain, family,
      readFiles(spark, dir, affectedFiles)
        .select(col("series"), col("ts"), newValue.as("value"),
          col("tags"), newAttrs.as("attributes"), col("dt")),
      affected, expectedRows, "updates preserve row counts")
    (matched.values.sum, affected.toSeq.sorted.map(d => s"dt=$d"))
  }

  /** UPDATE's and MERGE by-source's SET machinery, on rows where
    * `guard` holds: value-sets nest CASEs over `value`, attribute sets
    * rebuild the map FROM THE ACCUMULATED `attrs` (so assignments to one
    * series compose). Every RHS reads only source columns, so ANSI
    * pre-update-state semantics hold by construction. */
  private def applyAssigns(assigns: Seq[(String, Option[String], Column)],
      guard: Column, value: Column, attrs: Column): (Column, Column) = {
    val newValue = assigns.collect { case (s, None, rhs) => (s, rhs) }
      .foldLeft(value) { case (prev, (s, rhs)) =>
        when(guard && col("series") === lit(s), rhs.cast(DoubleType))
          .otherwise(prev)
      }
    val newAttrs = assigns.collect { case (s, Some(a), rhs) => (s, a, rhs) }
      .foldLeft(attrs) { case (prev, (s, a, rhs)) =>
        val r = rhs.cast(StringType)
        val cleaned = map_filter(
          coalesce(prev, map().cast(MapType(StringType, StringType))),
          (k, _) => k =!= lit(a))
        val set = when(r.isNull, cleaned)
          .otherwise(map_concat(cleaned, map(lit(a), r)))
        when(guard && col("series") === lit(s), set).otherwise(prev)
      }
    (newValue, newAttrs)
  }

  /** ROW-LEVEL UPSERT (MERGE) — the idempotent-ingest verb completing
    * the mutate tier ([[deleteRows]] is the takedown, [[updateRows]]
    * the redaction, this the re-delivery): every incoming row REPLACES
    * all existing rows with the same (series, ts) key and INSERTS
    * otherwise, so re-running a batch (at-least-once upstreams,
    * backfill re-runs, late corrections) never duplicates points. The
    * reference's write path is append-only (boostsession.go:94-184);
    * re-delivery there duplicates.
    *
    * The incoming frame is STAGED to parquet first ([[stage]]: one
    * write, batch-proportional, so the key-overlap count and the
    * rewrite see the SAME rows). Incoming frames with NULL or
    * internally-duplicate (series, ts) keys refuse — which duplicate
    * wins is undefined in a DataFrame.
    *
    * Incoming dates then split two ways (bounded collects — one row
    * per date):
    *
    *  - dates whose keys OVERLAP existing rows → copy-on-write rewrite
    *    of only those partitions (existing rows anti-joined against the
    *    incoming keys, unioned with the incoming rows), footer-VERIFIED
    *    (kept = existing − replaced + incoming) before anything moves,
    *    then committed by the shared protocol ([[swapPartitions]],
    *    aside `.{family}__upsert_old`);
    *  - dates with no key overlap (whether the partition exists or is
    *    brand new) → plain additive [[append]] of just those incoming
    *    rows. The daily-ingest case stays append-cheap even when
    *    spelled as UPSERT — no rewrite unless a key actually collides.
    *
    * Existing duplicate keys all fall to the one incoming row (MERGE's
    * delete-then-insert semantics). A crash between the swap and the
    * append phase
    * leaves the replaced dates applied and the append dates absent —
    * re-running the same upsert finishes it (replacement is
    * idempotent). Returns (existing rows replaced, incoming rows
    * written, rewritten partition names).
    */
  def upsertRows(spark: SparkSession, root: String, domain: String,
      family: String, incoming: DataFrame): (Long, Long, Seq[String]) = {
    val missing = SchemaColumns.filterNot(incoming.columns.contains)
    require(missing.isEmpty,
      s"upsertRows needs the family columns; missing ${missing.mkString(", ")}")
    val dir = s"$root/$domain/$family"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val (inc, incDates) = stage(spark, fs, Verb.Upsert, root, domain,
        family, incoming, "which duplicate wins is undefined in a " +
          "DataFrame; aggregate the batch to one row per key first")
      if (incDates.isEmpty) return (0L, 0L, Seq.empty)
      val files = listDataFiles(fs, new Path(dir))
      // only files on incoming dates can hold colliding keys; files
      // OUTSIDE the dt= layout could too, invisibly to the swap — read
      // them in the count pass and refuse if they collide (same
      // compact-first contract as the other mutate verbs)
      val candidates = files.filter(f =>
        dtOf(f).fold(true)(incDates.contains))
      val overlapByDt: Map[String, Long] =
        if (candidates.isEmpty) Map.empty
        else countByDate(readFiles(spark, dir, candidates)
          .join(inc.select("series", "ts"), Seq("series", "ts"), "leftsemi"),
          s"UPSERT into $dir: colliding keys")
      val overlapDates = overlapByDt.keySet
      val replaced = overlapByDt.values.sum
      def onDates(ds: Set[String]) = inc.filter(
        to_date(col("ts")).isin(ds.toSeq.map(java.sql.Date.valueOf): _*))
      if (overlapDates.nonEmpty) {
        val rewriteFiles = filesOn(files, overlapDates)
        val expectedKept = footerRowCount(spark, rewriteFiles) - replaced +
          overlapDates.toSeq.map(incDates).sum
        // existing rows KEEP their path-derived dt (like the sibling
        // verbs — a row never migrates partitions in a rewrite);
        // incoming rows land on their ts-date, which is within the
        // overlap set by construction
        rewrite(spark, fs, Verb.Upsert, root, domain, family,
          readFiles(spark, dir, rewriteFiles)
            .join(inc.select("series", "ts"), Seq("series", "ts"), "left_anti")
            .unionByName(onDates(overlapDates)
              .withColumn("dt", to_date(col("ts")))),
          overlapDates, expectedKept, "existing − replaced + incoming")
      }
      val appendDates = incDates.keySet -- overlapDates
      if (appendDates.nonEmpty)
        append(onDates(appendDates), root, domain, family)
      (replaced, incDates.values.sum,
        overlapDates.toSeq.sorted.map(d => s"dt=$d"))
    } finally
      fs.delete(scratch(root, domain, family, Verb.Upsert.staged.head), true)
  }

  /** One `WHEN NOT MATCHED BY SOURCE` clause for [[mergeRows]]:
    * `cond` (None = unconditional) sees TARGET columns only; `action`
    * is `"delete"` or `"update"`; an update clause carries its SET
    * assignments in [[updateRows]]'s shape — (series, None, rhs) sets
    * that series' value, (series, Some(attr), rhs) a per-point
    * attribute (NULL rhs removes the key) — with RHS over target
    * columns only (there is no source row by definition).
    */
  case class BySourceClause(cond: Option[Column],
      action: String,
      assigns: Seq[(String, Option[String], Column)] =
        Seq.empty)

  /** ANSI MERGE over a family — the general mutate verb subsuming
    * [[upsertRows]] (which is matched-UPDATE + not-matched-INSERT with
    * no conditions): incoming rows match existing rows on the family
    * key (series, ts); each MATCHED existing row takes the FIRST
    * `matched` clause whose condition holds — `"update"` replaces the
    * row with the source row (value, tags, attributes), `"delete"`
    * drops it, no clause true → the row is kept as is. Unmatched
    * incoming rows are written only when `insertUnmatched`. Clause
    * conditions are Columns over the JOINED row: the existing row's
    * columns (series, ts, value, tags, attributes) plus the source
    * row's as `src_value` / `src_tags` / `src_attributes`; a NULL
    * condition is false (ANSI).
    *
    * Same copy-on-write machinery and 100 TB stance as the sibling
    * verbs: the incoming batch STAGES to parquet once ([[stage]]; the
    * classification pass and the rewrite must see identical rows —
    * recomputing a nondeterministic source between passes would merge
    * two different batches), a classification pass touches only files
    * on incoming dates (column access is the clause conditions' and
    * the collect is bounded at one row per date × clause), ONLY dates
    * holding a non-keep outcome rewrite — footer-verified at
    * existing − deleted + inserted-on-those-dates — and commit by the
    * shared protocol ([[swapPartitions]], aside `.{family}__merge_old`).
    * Matched-keep-only dates and untouched
    * dates stay byte-identical; unmatched inserts on non-rewrite dates
    * take the additive [[append]] path (a daily-ingest MERGE stays
    * append-cheap). Existing duplicate (series, ts) keys each take the
    * merge outcome independently — the verb preserves multiplicity;
    * UPSERT is the collapsing variant.
    *
    * `bySource` carries the mirror-sync clauses (`WHEN NOT MATCHED BY
    * SOURCE [AND <cond>] THEN DELETE | UPDATE SET …`): existing rows
    * whose key is ABSENT from the batch take the first true by-source
    * clause (conditions see target columns only — there is no source
    * row by definition). DELETE drops the row; UPDATE applies its SET
    * assignments ([[updateRows]]'s shape — a value set or a per-point
    * attribute set, RHS over target columns only) — the "flag stale
    * rows instead of purging them" half of mirror-sync. A row captured
    * by an UPDATE clause whose series has no assignment is a no-op:
    * ANSI semantics still consume the clause (no fall-through to later
    * clauses), but the row neither counts as updated nor forces its
    * date to rewrite. Locality inverts: absent-key rows can sit on ANY
    * date, so the classification covers the WHOLE family, not just
    * incoming dates — keep-only dates still stay byte-identical.
    * Returns (rows updated, rows deleted, rows inserted, rewritten
    * partitions).
    */
  def mergeRows(spark: SparkSession, root: String, domain: String,
      family: String, incoming: DataFrame,
      matched: Seq[(Option[Column], String)],
      insertUnmatched: Boolean,
      bySource: Seq[BySourceClause] = Seq.empty)
      : (Long, Long, Long, Seq[String]) = {
    require(matched.forall(c => c._2 == "update" || c._2 == "delete"),
      "matched clause actions must be update|delete")
    require(bySource.forall(c => c.action == "delete" ||
      c.action == "update"),
      "NOT MATCHED BY SOURCE clause actions must be delete|update")
    require(bySource.forall(c =>
      c.action != "update" || c.assigns.nonEmpty),
      "a NOT MATCHED BY SOURCE UPDATE clause needs SET assignments")
    require(bySource.forall(c =>
      c.action != "delete" || c.assigns.isEmpty),
      "a NOT MATCHED BY SOURCE DELETE clause takes no SET assignments")
    require(matched.nonEmpty || insertUnmatched || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val missing = SchemaColumns.filterNot(incoming.columns.contains)
    require(missing.isEmpty,
      s"mergeRows needs the family columns; missing ${missing.mkString(", ")}")
    val dir = s"$root/$domain/$family"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val insStaging = scratch(root, domain, family, Verb.Merge.staged(1))
    try {
      val (inc, incDates) = stage(spark, fs, Verb.Merge, root, domain,
        family, incoming, "ANSI MERGE refuses a source that matches one " +
          "target row twice; aggregate the batch to one row per key")
      if (incDates.isEmpty) return (0L, 0L, 0L, Seq.empty)
      val files = listDataFiles(fs, new Path(dir))
      // only files on incoming dates can hold matching keys; files
      // OUTSIDE the dt= layout could too, invisibly to the swap —
      // refuse on collision (compact-first, same as the sibling verbs).
      // A NOT MATCHED BY SOURCE clause inverts the locality: rows
      // ABSENT from the batch can sit on ANY date, so the
      // classification (and potentially the rewrite) covers the whole
      // family — inherent to mirror-sync, and stated in the sqlMerge
      // doc rather than silently narrowed.
      val candidates =
        if (bySource.nonEmpty) files
        else files.filter(f => dtOf(f).fold(true)(incDates.contains))
      val incSrc = inc.select(col("series"), col("ts"),
        col("value").as("src_value"), col("tags").as("src_tags"),
        col("attributes").as("src_attributes"),
        lit(true).as("__src_matched"))
      // first-true-clause-wins index over (condition, index) clauses;
      // NULL conditions are false, no clause true → keep (-1)
      def firstTrue(clauses: Seq[(Option[Column], Int)]): Column =
        clauses.foldLeft(Option.empty[Column]) { case (acc, (cond, i)) =>
          val c = coalesce(cond.getOrElse(lit(true)), lit(false))
          Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
        }.fold(lit(-1))(_.otherwise(lit(-1)))
      val outcome = firstTrue(
        matched.zipWithIndex.map { case ((cond, _), i) => (cond, i) })
      // NOT MATCHED BY SOURCE clauses take the index space after the
      // matched ones (first-true-wins among themselves); conditions see
      // TARGET columns only. With no by-source clauses this folds to
      // the keep outcome (-1) — the pre-existing unmatched behavior.
      val bsOutcome = firstTrue(bySource.zipWithIndex.map {
        case (cl, i) => (cl.cond, matched.length + i) })
      val deleteIdx = matched.zipWithIndex.collect {
        case ((_, "delete"), i) => i } ++
        bySource.zipWithIndex.collect {
          case (cl, i) if cl.action == "delete" => matched.length + i }
      val updateIdx = matched.zipWithIndex.collect {
        case ((_, "update"), i) => i }
      val bsUpdateIdx = bySource.zipWithIndex.collect {
        case (cl, i) if cl.action == "update" => matched.length + i }
      // EFFECTIVE outcome: a row captured by a by-source UPDATE clause
      // whose series has no assignment is a no-op — ANSI already
      // consumed the clause (bsOutcome picked it, so no fall-through),
      // and downgrading it to keep (-1) afterwards is byte-identical
      // while sparing its date a pointless rewrite
      def effOutcome(raw: Column): Column =
        bySource.zipWithIndex.foldLeft(raw) {
          case (acc, (cl, i)) if cl.action == "update" =>
            val targets = cl.assigns.map(_._1).distinct
            when(raw === lit(matched.length + i) &&
              !col("series").isin(targets: _*), lit(-1)).otherwise(acc)
          case (acc, _) => acc
        }
      // classification pass: per (date, outcome) row counts — bounded
      // at touched dates × (clauses + 1) rows on the driver
      val byDtOutcome: Seq[(String, Int, Long)] =
        if (candidates.isEmpty || (matched.isEmpty && bySource.isEmpty))
          Seq.empty
        else {
          val existing = readFiles(spark, dir, candidates)
          val classified =
            if (bySource.isEmpty)
              existing.join(incSrc, Seq("series", "ts"), "inner")
                .select(col("dt"), outcome.as("__oc"))
            else existing.join(incSrc, Seq("series", "ts"), "left")
              .select(col("dt"),
                when(coalesce(col("__src_matched"), lit(false)), outcome)
                  .otherwise(effOutcome(bsOutcome)).as("__oc"))
          val rows = classified
            .groupBy(col("dt"), col("__oc")).count().collect()
          if (rows.exists(_.isNullAt(0))) throw new IOException(
            s"MERGE into $dir: matching keys exist OUTSIDE the dt= " +
              "partition layout — the per-partition copy-on-write swap " +
              "needs the partitioned layout; compact() the family first")
          rows.toSeq.map(r =>
            (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
        }
      val updated = byDtOutcome.collect {
        case (_, oc, n) if updateIdx.contains(oc) ||
          bsUpdateIdx.contains(oc) => n }.sum
      val deleted = byDtOutcome.collect {
        case (_, oc, n) if deleteIdx.contains(oc) => n }.sum
      val deletedByDt: Map[String, Long] = byDtOutcome
        .filter(r => deleteIdx.contains(r._2))
        .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      // a date rewrites only when some row there takes a non-keep
      // outcome; matched-keep-only dates stay byte-identical
      val rewriteDates: Set[String] = byDtOutcome
        .collect { case (d, oc, _) if oc >= 0 => d }.toSet
      // unmatched incoming rows (the INSERT half) — computed only when
      // a NOT MATCHED clause exists; existing keys come from the same
      // candidate files the classification read
      val unmatched: Option[DataFrame] =
        if (!insertUnmatched) None
        else if (candidates.isEmpty) Some(inc)
        else Some(inc.join(
          readFiles(spark, dir, candidates).select("series", "ts"),
          Seq("series", "ts"), "left_anti"))
      val insertedByDt: Map[String, Long] = unmatched.fold(
        Map.empty[String, Long])(u => u.groupBy(to_date(col("ts")).as("d"))
        .count().collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap)
      val inserted = insertedByDt.values.sum
      val appendDates = insertedByDt.keySet -- rewriteDates
      // the unmatched anti-join reads the PRE-swap candidate files, so
      // the append subset must MATERIALIZE before the swap replaces
      // them (a lazy read after the swap would hit deleted paths); the
      // appended bytes are proportional to the batch's insert half
      if (fs.exists(insStaging)) fs.delete(insStaging, true)
      if (appendDates.nonEmpty)
        unmatched.get.filter(to_date(col("ts")).isin(
          appendDates.toSeq.map(java.sql.Date.valueOf): _*))
          .write.parquet(insStaging.toString)
      if (rewriteDates.nonEmpty) {
        val rewriteFiles = filesOn(files, rewriteDates)
        val expectedKept = footerRowCount(spark, rewriteFiles) -
          deletedByDt.filter(kv => rewriteDates.contains(kv._1)).values.sum +
          insertedByDt.filter(kv => rewriteDates.contains(kv._1)).values.sum
        val isUpdate = updateIdx.foldLeft(lit(false))(
          (acc, i) => acc || col("__oc") === lit(i))
        val isDelete = deleteIdx.foldLeft(lit(false))(
          (acc, i) => acc || col("__oc") === lit(i))
        // existing rows keep their path-derived dt (a mutate verb never
        // migrates a row); unmatched inserts on rewrite dates ride the
        // same swap so the partition flips once, atomically.
        // By-source UPDATE assignments fold over the matched-update
        // base through updateRows' SET machinery, clause by clause.
        val (bsValue, bsAttrs) = bySource.zipWithIndex.foldLeft(
          (when(isUpdate, col("src_value")).otherwise(col("value")),
            when(isUpdate, col("src_attributes"))
              .otherwise(col("attributes")))) {
          case ((v, a), (cl, i)) if cl.action == "update" =>
            applyAssigns(cl.assigns, col("__oc") === lit(matched.length + i),
              v, a)
          case (acc, _) => acc
        }
        val existingMerged = readFiles(spark, dir, rewriteFiles)
          .join(incSrc, Seq("series", "ts"), "left")
          .withColumn("__oc",
            when(coalesce(col("__src_matched"), lit(false)), outcome)
              .otherwise(effOutcome(bsOutcome)))
          .filter(!isDelete)
          .select(col("series"), col("ts"),
            bsValue.as("value"),
            when(isUpdate, col("src_tags")).otherwise(col("tags"))
              .as("tags"),
            bsAttrs.as("attributes"),
            col("dt"))
        val insertsOnRewrite = unmatched.map(_
          .withColumn("dt", to_date(col("ts")))
          .filter(col("dt").isin(
            rewriteDates.toSeq.map(java.sql.Date.valueOf): _*)))
        // a partition whose every row was deleted (and received no
        // insert) has no rewrite output and ends up empty
        rewrite(spark, fs, Verb.Merge, root, domain, family,
          insertsOnRewrite.fold(existingMerged)(existingMerged.unionByName(_)),
          rewriteDates, expectedKept, "existing − deleted + inserted")
      }
      if (appendDates.nonEmpty) {
        append(spark.read.schema(schema)
          .parquet(listDataFiles(fs, insStaging): _*), root, domain, family)
        fs.delete(insStaging, true)
      }
      (updated, deleted, inserted,
        rewriteDates.toSeq.sorted.map(d => s"dt=$d"))
    } finally {
      fs.delete(scratch(root, domain, family, Verb.Merge.staged.head), true)
      fs.delete(insStaging, true)
    }
  }

  /** Crash recovery for the copy-on-write verbs ([[compact]],
    * [[deleteRows]], [[updateRows]], [[upsertRows]], [[mergeRows]],
    * [[refreshDownsample]] and CREATE OR REPLACE FAMILY) — makes a
    * family READABLE again after a crash mid-swap by applying the
    * commit protocol's invariant ([[swapPartitions]]) to every entry of
    * its name table:
    *
    *  - a whole-directory aside (compact's `.{family}__old`, CTAS's
    *    `.{family}__ctas_old`): live dir missing means the crash hit
    *    between the two renames — the aside IS the source, restore it;
    *    live dir present means the swap finished — the aside is a stale
    *    copy, drop it.
    *  - a per-partition aside root (`.{family}__<verb>_old`): a
    *    partition still present under it was either swapped (live dt
    *    exists — drop the aside copy) or mid-swap (live dt missing —
    *    rename it back).
    *  - every rewrite temp and staged incoming batch is dropped —
    *    unswapped rewrite output is rolled back, never half-applied.
    *
    * After recovery the family is consistent but a crashed DELETE /
    * UPDATE may be PARTIALLY applied across partitions (each partition
    * fully, per the invariant). Re-running a DELETE finishes it
    * (survivor rows still match). Re-running an UPDATE is safe only
    * when its predicate excludes already-updated rows (a mask like
    * `SET user = 'REDACTED' WHERE user = '3'` is; an arithmetic
    * rewrite like `SET v = v * 0.5 WHERE v > x` is not — check the
    * returned action log before re-running). Returns one line per
    * action taken; empty = nothing to recover.
    */
  def recover(spark: SparkSession, root: String, domain: String,
      family: String): Seq[String] = {
    val live = new Path(s"$root/$domain/$family")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    // whole-dir asides first: the live dir itself may be gone
    val (wholeDir, perPartition) = Verb.all.partition(_.wholeDir)
    wholeDir.foreach { v =>
      val aside = scratch(root, domain, family, v.aside)
      if (fs.exists(aside)) {
        if (!fs.exists(live)) {
          if (!fs.rename(aside, live)) throw new IOException(
            s"recovery failed: could not restore $live from $aside")
          actions += s"restored $family from the ${v.name} aside"
        } else {
          fs.delete(aside, true)
          actions += s"dropped stale ${v.name} aside (swap had completed)"
        }
      }
    }
    perPartition.foreach { v =>
      val asideRoot = scratch(root, domain, family, v.aside)
      if (fs.exists(asideRoot)) {
        fs.listStatus(asideRoot).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("dt="))
          .sortBy(_.getPath.getName)
          .foreach { st =>
            val d = st.getPath.getName
            val liveDt = new Path(live, d)
            if (fs.exists(liveDt)) {
              fs.delete(st.getPath, true)
              actions += s"dropped swapped ${v.name} aside $d"
            } else {
              if (!fs.rename(st.getPath, liveDt)) throw new IOException(
                s"recovery failed: could not restore $d from the " +
                  s"${v.name} aside")
              actions += s"restored $d from the ${v.name} aside (mid-swap)"
            }
          }
        fs.delete(asideRoot, true)
      }
    }
    // in-flight rewrite temps and staged batches: unswapped output
    // rolls back
    Verb.all.flatMap(_.temps).foreach { t =>
      val tmp = scratch(root, domain, family, t)
      if (fs.exists(tmp)) {
        fs.delete(tmp, true)
        actions += s"dropped in-flight $t temp"
      }
    }
    actions.toSeq
  }

  /** Time-range scan `[start, end)` — the FetchSeries analogue
    * (executor.go:426-478). The `ts` predicate pushes into parquet
    * row-group stats; Spark cannot infer `dt` bounds from a `ts`
    * predicate on its own, so when the frame is partitioned (has `dt`)
    * the equivalent date bounds are added explicitly — that is what
    * turns the scan into a partition-pruned one at 100 TB.
    */
  def timeRange(df: DataFrame, start: Timestamp, end: Timestamp): DataFrame = {
    val base = df.filter(col("ts") >= lit(start) && col("ts") < lit(end))
    if (df.columns.contains("dt"))
      base.filter(col("dt") >= to_date(lit(start)) && col("dt") <= to_date(lit(end)))
    else base
  }

  /** Fetch one series over a time range, time-ordered — the reference's
    * Fetch + k-way merge (boostseriesiterator.go:157-343) is just a sort.
    */
  def fetchSeries(df: DataFrame, series: String, start: Timestamp, end: Timestamp): DataFrame =
    timeRange(df, start, end).filter(col("series") === series).orderBy("ts")

  /** Select the series whose tags carry every given (key, value) — the
    * FetchTagged analogue (m3dbseriesfamily.go:187-224, there a tag-query
    * against the index; here a conjunctive map filter the scan evaluates
    * row-side, prunable via parquet dictionary stats on the tag column).
    */
  def fetchTagged(df: DataFrame, tags: Map[String, String]): DataFrame = {
    require(tags.nonEmpty, "fetchTagged needs at least one tag matcher")
    df.filter(tags.map { case (k, v) => element_at(col("tags"), k) === v }
      .reduce(_ && _))
  }
}

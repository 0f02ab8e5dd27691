package graft.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.util.control.NonFatal

/** Metadata-only reads over a parquet file or directory: column
  * statistics and the schema.
  *
  * The streaming flush seeds need ONE number from the events corpus —
  * `max(ts)`, to place the far-future watermark-flush markers — and
  * were paying a full scan + aggregate Spark job for it on every
  * replay. Parquet footers carry exact min/max column statistics, so
  * the number is a driver-side footer read (guide §6: make readers
  * skip data via metadata); at 100 TB the difference is a corpus scan
  * vs footer reads. Exactness matters only in one direction (the flush
  * marker must land AFTER every real row) and the footer max IS the
  * exact column max, so the derived flush rows are byte-identical to
  * the scan-computed ones.
  */
object ParquetStats {

  /** The Spark schema of a parquet file or directory, read from one
    * footer on the driver. It is what `spark.read.parquet(path).schema`
    * infers, without the Spark job that inference runs: with schema
    * merging off (the default), inference also reads only the first
    * data file's footer in path order. Like Spark's footer reader, it
    * takes the Spark schema a Spark writer stored in the footer, else
    * converts the parquet schema with Spark's converter under the
    * session's conf (so `spark.sql.legacy.parquet.nanosAsLong` applies
    * the same way); like a file relation, every field is nullable. File
    * streams need an explicit schema; this is where they take it.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val files = root.getFileSystem(conf).listFiles(root, true)
    val first = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next().getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .minByOption(_.toString).getOrElse(throw new IllegalArgumentException(
        s"no parquet data file under $path"))
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val meta = try r.getFooter.getFileMetaData finally r.close()
    val stored = Option(meta.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
    nullable(stored.fold[DataType](
      new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))(
      DataType.fromJson)).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Exact max of the events `ts` column as epoch MICROS, served from
    * footer statistics, with the same physical-unit dispatch as
    * [[graft.tables.Tables.normalizeEventsTs]]: INT64/Timestamp(NANOS)
    * (or unannotated INT64 — a round-tripped nanos long) truncates to
    * micros; Timestamp(MICROS)/(MILLIS) converts exactly. Returns None
    * when the path is missing, a file carries no usable `ts` stats, or
    * the physical type is something else — callers fall back to the
    * scan aggregate, so a stats-less writer degrades, never breaks.
    */
  def eventsMaxTsMicros(spark: SparkSession, sfDir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(s"$sfDir/events.parquet")
    try {
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) None
      else {
        val files: Seq[Path] =
          if (fs.getFileStatus(root).isDirectory)
            fs.listStatus(root).toSeq
              .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
              .map(_.getPath)
          else Seq(root)
        val perFile = files.map(fileMaxTsMicros(_, conf))
        if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
        else Some(perFile.flatten.max)
      }
    } catch { case NonFatal(_) => None }
  }

  /** Max ts micros of one file, None when stats are unusable. */
  private def fileMaxTsMicros(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Option[Long] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      if (!schema.containsField("ts")) return None
      val field = schema.getType(Seq("ts"): _*)
      if (!field.isPrimitive) return None
      val prim = field.asPrimitiveType()
      if (prim.getPrimitiveTypeName != PrimitiveTypeName.INT64) return None
      val toMicros: Option[Long => Long] = prim.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.NANOS  => Some(_ / 1000L)
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(identity)
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(_ * 1000L)
          }
        // unannotated INT64: the round-tripped raw-nanos long
        // (normalizeEventsTs' LongType case)
        case null => Some(_ / 1000L)
        case _    => None
      }
      toMicros.flatMap { f =>
        import scala.jdk.CollectionConverters._
        val blockMaxes = footer.getBlocks.asScala.map { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == "ts")
            .flatMap { c =>
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else st.genericGetMax match {
                case l: java.lang.Long => Some(f(l.longValue()))
                case _                 => None
              }
            }
        }
        if (blockMaxes.isEmpty || blockMaxes.exists(_.isEmpty)) None
        else Some(blockMaxes.flatten.max)
      }
    } finally r.close()
  }
}

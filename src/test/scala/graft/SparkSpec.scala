package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite; small
  * shuffle-partition count keeps tiny-data tests fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName(getClass.getSimpleName)
    // plan-shape specs read PushedFilters out of plan strings; the
    // 100-char default truncates them mid-token (set ONCE here — a
    // per-test conf.set would leak into suites sharing this session)
    .config("spark.sql.maxMetadataStringLength", "4000")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` on a fresh temp directory named `<prefix>…`, then delete
    * the directory and everything under it, whether `body` passed or
    * threw. */
  def withTempRoot[T](prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(root.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  /** Run `body` on fresh memory-sink names, `<prefix><uuid>` for each
    * prefix, then drop the sinks' temp views, whether `body` passed or
    * threw. */
  def withSinks[T](prefixes: String*)(body: Seq[String] => T): T = {
    val sinks = prefixes.map(_ + java.util.UUID.randomUUID.toString.replace("-", ""))
    try body(sinks)
    finally sinks.foreach(s => spark.sql(s"DROP VIEW IF EXISTS $s"))
  }

  override def afterAll(): Unit = {
    // SparkSession is shared across suites in one JVM (sbt forks one
    // test JVM); don't stop it here or later suites fail.
    super.afterAll()
  }
}

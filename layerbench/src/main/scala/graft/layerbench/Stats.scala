package graft.layerbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The benchmark's arithmetic, kept free of Spark so the unit specs
  * can pin it: percentile selection, span self time, and the directory
  * diff that measures write amplification.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Geometric mean: every input moves it by the same share, whatever
    * its size, so a k-fold change of one of n inputs moves it k^(1/n)-fold. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Median latency per op class of (class, latency) samples. */
  def classMedians(xs: Seq[(String, Double)]): Map[String, Double] =
    xs.groupBy(_._1).map { case (c, g) => c -> median(g.map(_._2)) }

  /** A tail reading: the value, the percentile it sits at, and the
    * sample count it was taken from. */
  final case class Tail(value: Double, pct: Double, n: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it (nearest rank: the sample at 0-based index n-1-beyond,
    * percentile 100·(index+1)/n). A sample too small to put `beyond`
    * samples above the median reports the median itself at p50, so a
    * tail reading is never below the median.
    */
  def hi(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val idx = n - 1 - beyond
    if (idx <= (n - 1) / 2) Tail(median(s), 50.0, n)
    else Tail(s(idx), 100.0 * (idx + 1) / n, n)
  }

  /** One timed region: `op` ties the spans of one benchmark operation
    * together, `parent` is the enclosing span's id (-1 for the op's
    * root span). Times are System.nanoTime readings. */
  final case class Span(id: Int, parent: Int, op: Int, layer: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of `ivs`, clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per layer in ns: each span's duration minus the part of
    * its interval its direct children cover. Summed per layer name. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        s.durNs - covered(ch, s.startNs, s.endNs)
      }.sum
    }
  }

  /** Time inside op root spans (parent -1) that no child span covers. */
  def unattributedNs(spans: Seq[Span]): Long =
    selfTimes(spans.filter(_.parent == -1).map(_.copy(layer = "op")) ++
      spans.filter(_.parent != -1)).getOrElse("op", 0L)

  /** A file's identity for the diff: a rewrite under the same name
    * shows as a changed size or modification time. */
  final case class FileStat(size: Long, mtime: Long)

  final case class DirDiff(bytesWritten: Long, partitions: Set[String])

  /** Every regular file under `root`, keyed by its path relative to
    * `root` with '/' separators. A missing root is empty. */
  def snapshot(root: Path): Map[String, FileStat] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString.replace('\\', '/') ->
          FileStat(Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally st.close()
    }

  /** What a call changed between two snapshots: bytes of files that are
    * new or changed, and the `dt=` partitions holding any file that was
    * written or removed. */
  def diff(before: Map[String, FileStat], after: Map[String, FileStat]): DirDiff = {
    val written = after.filter { case (k, v) => !before.get(k).contains(v) }
    val removed = before.keySet -- after.keySet
    def dtOf(rel: String): Option[String] =
      rel.split('/').find(_.startsWith("dt="))
    DirDiff(written.values.map(_.size).sum, (written.keySet ++ removed).flatMap(dtOf))
  }
}

package graft.layerbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.layerbench.Stats._

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geomean weighs every class the same") {
    assert(math.abs(geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12)
    // doubling one of four inputs moves it by 2^(1/4), whatever its size
    val base = Seq(4.0, 300.0, 700.0, 3000.0)
    val slow = base.updated(0, 8.0)
    assert(math.abs(geomean(slow) / geomean(base) - math.pow(2, 0.25)) < 1e-12)
    assert(classMedians(Seq("a" -> 1.0, "b" -> 5.0, "a" -> 3.0, "a" -> 2.0)) ==
      Map("a" -> 2.0, "b" -> 5.0))
    assert(mean(Seq(1.0, 2.0, 6.0)) == 3.0)
  }

  test("hi is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    // index 29 (value 30) has samples 31..40 above it: p75
    assert(hi(xs) == Tail(30.0, 75.0, 40))
    val ys = (1 to 100).map(_.toDouble).reverse
    assert(hi(ys) == Tail(90.0, 90.0, 100))
    val zs = (1 to 30).map(_.toDouble)
    val t = hi(zs)
    assert(t.value == 20.0 && math.abs(t.pct - 200.0 / 3) < 1e-9 && t.n == 30)
  }

  test("hi never reads below the median on small samples") {
    assert(hi((1 to 20).map(_.toDouble)) == Tail(10.5, 50.0, 20))
    assert(hi(Seq(5.0, 1.0, 9.0)) == Tail(5.0, 50.0, 3))
    // 22 samples: index 11 has ten above it and sits past the median
    assert(hi((1 to 22).map(_.toDouble)).value == 12.0)
  }

  test("covered is the clipped length of a union of intervals") {
    assert(covered(Seq((10L, 40L), (30L, 60L), (70L, 80L)), 0L, 100L) == 60L)
    assert(covered(Seq((-5L, 20L), (90L, 120L)), 0L, 100L) == 30L)
    assert(covered(Nil, 0L, 100L) == 0L)
    assert(covered(Seq((10L, 20L), (12L, 15L)), 0L, 100L) == 10L)
  }

  test("self time subtracts only direct children, overlap counted once") {
    val spans = Seq(
      Span(1, -1, 7, "op", 0L, 100L),
      Span(2, 1, 7, "boostql.compile", 10L, 40L),
      Span(3, 1, 7, "spark.exec", 30L, 60L),
      Span(4, 2, 7, "sources.open", 15L, 20L))
    val self = selfTimes(spans)
    assert(self("op") == 50L)
    assert(self("boostql.compile") == 25L)
    assert(self("spark.exec") == 30L)
    assert(self("sources.open") == 5L)
    // the op's uncovered time is the unattributed share
    assert(unattributedNs(spans) == 50L)
  }

  test("unattributed sums over ops and ignores layer names of roots") {
    val spans = Seq(
      Span(1, -1, 1, "read", 0L, 10L),
      Span(2, 1, 1, "spark.exec", 2L, 10L),
      Span(3, -1, 2, "write", 20L, 50L),
      Span(4, 3, 2, "sources.delete", 20L, 45L))
    assert(unattributedNs(spans) == 2L + 5L)
  }

  private def write(p: Path, bytes: Int): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](bytes)(1))
  }

  test("the directory diff counts written bytes and touched partitions") {
    val root = Files.createTempDirectory("layerbench-statsspec")
    try {
      write(root.resolve("dt=2024-01-01/part-0.parquet"), 100)
      write(root.resolve("dt=2024-01-02/part-0.parquet"), 200)
      write(root.resolve("dt=2024-01-03/part-0.parquet"), 300)
      val before = snapshot(root)
      assert(before.size == 3)
      // a rewrite of 01-01 under a new name, a new partition, an
      // untouched 01-02, and a dropped 01-03
      Files.delete(root.resolve("dt=2024-01-01/part-0.parquet"))
      write(root.resolve("dt=2024-01-01/part-1.parquet"), 90)
      write(root.resolve("dt=2024-01-04/part-0.parquet"), 50)
      Files.delete(root.resolve("dt=2024-01-03/part-0.parquet"))
      val d = diff(before, snapshot(root))
      assert(d.bytesWritten == 140L)
      assert(d.partitions == Set("dt=2024-01-01", "dt=2024-01-03", "dt=2024-01-04"))
      // same-name rewrite with a new size shows as written
      write(root.resolve("dt=2024-01-02/part-0.parquet"), 201)
      val d2 = diff(snapshot(root).updated("dt=2024-01-02/part-0.parquet",
        FileStat(200L, 0L)), snapshot(root))
      assert(d2.bytesWritten == 201L && d2.partitions == Set("dt=2024-01-02"))
    } finally Main.deleteTree(root)
  }

  test("a missing directory snapshots empty") {
    assert(snapshot(java.nio.file.Paths.get("does-not-exist-layerbench")).isEmpty)
  }
}

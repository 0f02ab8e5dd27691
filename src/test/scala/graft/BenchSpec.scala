package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench harness must never let a broken query improve the total:
  * a throw on any iteration reports the query as failed with its error,
  * contributing no (near-zero) time.
  */
class BenchSpec extends SparkSpec {

  test("a throwing query reports as failed, never as a fast time") {
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(5).toDF()),
      "broken" -> ((_, _) => throw new RuntimeException("boom")))
    val (timed, failed) = Bench.run(spark, sfDir, qs, iters = 2)
    assert(timed.map(_._1) == Seq("ok"))
    assert(failed.map(_._1) == Seq("broken"))
    assert(failed.head._2.contains("boom"))
  }

  test("timings are per-query medians in sorted name order") {
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "b" -> ((s, _) => s.range(3).toDF()),
      "a" -> ((s, _) => s.range(3).toDF()))
    val (timed, failed) = Bench.run(spark, sfDir, qs, iters = 3)
    assert(failed.isEmpty)
    assert(timed.map(_._1) == Seq("a", "b"))
    assert(timed.forall(_._2 > 0))
  }

  test("jstr and jfail write JSON that parses back to the same strings") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val nasty = Seq("say \"hi\"", "C:\\tmp", "line1\nline2", "cr\r", "a\tb",
      "ctl\u0001", "[ANALYSIS] \"x\"\n\tat \\q")
    val mapper = new ObjectMapper
    nasty.foreach { s =>
      assert(mapper.readValue(Bench.jstr(s), classOf[String]) == s)
    }
    val failed = nasty.zipWithIndex.map { case (s, i) => s"q$i\n" -> s }
    val back = mapper.readTree(Bench.jfail(failed))
    assert(back.size == failed.size)
    failed.foreach { case (k, v) => assert(back.get(k).asText == v) }
  }
}

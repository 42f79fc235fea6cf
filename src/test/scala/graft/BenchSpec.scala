package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench never reports a time for a query that threw. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a query that throws gets its error, not a time") {
    val r = Bench.time(3)(() => throw new IllegalStateException("boom"))
    assert(r.fold(_.getMessage, t => s"a time: $t") === "boom")
  }

  test("a query that fails while executing gets its error, not a time") {
    val failing = () => spark.range(10)
      .selectExpr("assert_true(id < 5) AS ok")
    assert(Bench.time(2)(failing).isLeft)
  }

  test("the last line carries every query's time as JSON under 1800 bytes") {
    val timed = (1 to 113).map(i => f"q$i%02d_some_query_name" -> (10000 + i) / 1000.0 * 1.0001)
    val line = Bench.summaryLine(timed.map(_._2).sum, "min-of-3 runs per query",
      Nil, "/" + "d" * 99, timed)
    assert(line.getBytes("UTF-8").length < 1800, line)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText === "total")
    assert(json.get("sf").asText.length === 100)
    assert(json.get("failed").size === 0)
    val q = json.get("q")
    assert(q.size === 113)
    assert(q.get("1").asText === "10.002")
    assert(q.get("113").asDouble === 10.114)
  }

  test("a query that runs gets its min-of-runs time") {
    var calls = 0
    val r = Bench.time(3) { () => calls += 1; spark.range(100).toDF("id") }
    assert(calls === 3)
    assert(r.exists(_ >= 0.0))
  }
}

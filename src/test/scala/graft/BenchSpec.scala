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

  test("a query that runs gets its min-of-runs time") {
    var calls = 0
    val r = Bench.time(3) { () => calls += 1; spark.range(100).toDF("id") }
    assert(calls === 3)
    assert(r.exists(_ >= 0.0))
  }
}

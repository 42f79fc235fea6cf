package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  test("a registry that names a query twice fails to build") {
    val q = Query("q01_x", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Registry(Seq(q, q.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("duplicate query names: q01_x"))
  }
}

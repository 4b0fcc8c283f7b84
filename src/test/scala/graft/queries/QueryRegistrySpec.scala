package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {
  private def spec(name: String): QuerySpec =
    QuerySpec(name, (s, _) => s.range(1).toDF(), () => "SELECT 1")

  test("a duplicate name is rejected at construction") {
    val e = intercept[IllegalArgumentException](
      new QueryRegistry(Seq(spec("a"), spec("b"), spec("a"))))
    assert(e.getMessage.contains("duplicate query names: a"))
  }

  test("a name that is not a safe path segment is rejected") {
    Seq("", "Upper", "a/b", "../x", "a-b").foreach { n =>
      intercept[IllegalArgumentException](new QueryRegistry(Seq(spec(n))))
    }
  }

  test("all 262 declared queries are registered") {
    assert(QueryRegistry.all.specs.size == 262)
  }

  test("every oracle is non-empty") {
    val empty = QueryRegistry.all.specs.filter(_.oracleSql().trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"queries without oracle SQL: $empty")
  }

  test("select keeps registry order, treats blank as everything, and fails on unknown names") {
    val r = new QueryRegistry(Seq(spec("a"), spec("b"), spec("c")))
    assert(r.select(Some("c, a")).map(_.name) == Seq("a", "c"))
    assert(r.select(None).map(_.name) == Seq("a", "b", "c"))
    assert(r.select(Some(" , ")).map(_.name) == Seq("a", "b", "c"))
    intercept[NoSuchElementException](r.select(Some("a,zz")))
  }
}

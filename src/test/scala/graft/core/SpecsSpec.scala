package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The table and mapping specs shared by the CLI, the REST server and
  * the dataset store. */
class SpecsSpec extends AnyFunSuite {

  test("table spec: parse and render round-trip; empty parts ignored") {
    val t = Specs.tables("nation:n_name,n_nationkey||region:r_name,")
    assert(t === Seq("nation" -> Seq("n_name", "n_nationkey"),
      "region" -> Seq("r_name")))
    assert(Specs.renderTables(t) === "nation:n_name,n_nationkey|region:r_name")
    assert(Specs.tables("") === Nil)
  }

  test("mapping spec: parse, trimming each part") {
    assert(Specs.mappings(" a=Person.name, b=Place.name=x ,") ===
      Map("a" -> "Person.name", "b" -> "Place.name=x"))
  }

  test("a malformed part is a client error naming the part") {
    val t = intercept[GraftService.ClientError](
      Specs.tables("nation:n_name|region"))
    assert(t.getMessage.contains("'region'"))
    val m = intercept[GraftService.ClientError](
      Specs.mappings("a=Person.name,b"))
    assert(m.getMessage.contains("'b'"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

class SelectionSpec extends AnyFunSuite {
  private val names = Seq("q01_pricing_summary", "q34_lsh_topk",
    "q34_lsh_served", "q329_label_prop", "etl_pipeline")

  test("an empty selection keeps every entry, in order") {
    assert(Selection.select(names, Seq.empty) == names)
  }

  test("an exact name selects only that entry") {
    assert(Selection.select(names, Seq("q329_label_prop")) == Seq("q329_label_prop"))
  }

  test("a substring pattern selects every entry containing it, in entry order") {
    assert(Selection.select(names, Seq("etl", "q34_lsh")) ==
      Seq("q34_lsh_topk", "q34_lsh_served", "etl_pipeline"))
  }

  test("a name matching nothing throws, naming every unmatched pattern") {
    val e = intercept[IllegalArgumentException](
      Selection.select(names, Seq("q01_pricing_summary", "q999_typo", "q34_lhs")))
    assert(e.getMessage.contains("q999_typo") && e.getMessage.contains("q34_lhs"),
      e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
  }
}

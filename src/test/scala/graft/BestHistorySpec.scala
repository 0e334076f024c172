package graft

import org.scalatest.funsuite.AnyFunSuite

/** `bench/best_history.tsv` is keyed by (query, sf dir, cpus). */
class BestHistorySpec extends AnyFunSuite {

  private val lines = Seq(
    "q01\t/sf0.1\t32\tfpA\t1.5",
    "q01\t/sf0.1\t8\tfpA\t2.5",
    "q02\t/sf0.1\t32\tfpB\t0.7",
    "q01\t/sf0.01\t32\tfpC\t0.2",
    "q03\t/sf0.1\tfpD\t0.9")

  test("parse keeps only the rows of one sf dir and core count") {
    assert(BestHistory.parse(lines, "/sf0.1", "32") ===
      Map("q01" -> (("fpA", 1.5)), "q02" -> (("fpB", 0.7))))
    assert(BestHistory.parse(lines, "/sf0.1", "8") === Map("q01" -> (("fpA", 2.5))))
  }

  test("a legacy row without cpus is never compared") {
    assert(!BestHistory.parse(lines, "/sf0.1", "32").contains("q03"))
    assert(BestHistory.parse(Seq("q03\t/sf0.1\tfpD\t0.9"), "/sf0.1", "fpD").isEmpty)
  }

  test("render replaces one key's rows and passes every other row through") {
    val out = BestHistory.render(lines, "/sf0.1", "32", Map("q01" -> (("fpE", 1.1))))
    assert(out === Seq(
      "q01\t/sf0.01\t32\tfpC\t0.2",
      "q01\t/sf0.1\t32\tfpE\t1.1",
      "q01\t/sf0.1\t8\tfpA\t2.5",
      "q03\t/sf0.1\tfpD\t0.9"))
    assert(BestHistory.parse(out, "/sf0.1", "32") === Map("q01" -> (("fpE", 1.1))))
  }
}

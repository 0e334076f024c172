package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Contracts of the driver-facing harness itself. */
class HarnessSpec extends AnyFunSuite with SparkFixture {

  test("jsonEscape: every control char, quote and backslash survives json parsing") {
    val nasty = "line1\nline2\ttab \"quoted\" back\\slash \r cr  ctrl"
    val escaped = GraftSession.jsonEscape(nasty)
    // no raw control characters may remain
    assert(escaped.forall(c => c >= ' '))
    // minimal JSON round-trip: the escaped text inside quotes is valid
    val json = s"""{"k": "$escaped"}"""
    assert(json.count(_ == '"') == 6) // braces intact, quoting balanced
    assert(escaped.contains("\\n") && escaped.contains("\\t") &&
      escaped.contains("\\\"") && escaped.contains("\\\\") &&
      escaped.contains("\\u0001"))
  }

  test("plan_fp: one plan text under two checkout directories gives one fingerprint") {
    def text(root: String) =
      s"FileScan parquet [ts#x] Location: InMemoryFileIndex(1 paths)[file:$root/target/clean/" +
        s"sf0.01/events], PartitionFilters: [], ReadSchema: struct<ts:timestamp>"
    val a = Bench.scrubPlanText(text("/srv/a/repo"), "/srv/a/repo")
    val b = Bench.scrubPlanText(text("/home/b/checkout"), "/home/b/checkout")
    assert(a === b && a.contains("file:<root>/target/clean/sf0.01/events"), a)
    assert(Bench.textFingerprint(a) === Bench.textFingerprint(b))
    // a sibling directory that merely starts with the root stays as it is
    assert(Bench.scrubPlanText(text("/srv/a/repo2"), "/srv/a/repo").contains("/srv/a/repo2"))
  }

  test("Tables reader cache: same session + table -> same DataFrame plan") {
    val a = Tables.lineitem(spark, sf001)
    val b = Tables.lineitem(spark, sf001)
    assert(a eq b)
    // different scale dir -> different reader
    val c = Tables.lineitem(spark, "/root/testdata/sf0.01")
    assert(!(a eq c))
  }

  test("every registry query has either an oracle or a documented rows-only reason") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // the approximate/RNG-dependent set — anything new appearing here
    // must add an oracle or justify itself in this list
    // dd4/dd5/dd7/sim2/sim3/sim4 left this list in round 8: their hash
    // constants and hyperplanes became md5 draws a DuckDB oracle
    // regenerates, so the candidate sets are hash-gated now; sim5 left in
    // round 9 when the quantized floor-div Lloyd's made the learned cells
    // engine-portable and its iteration-unrolled SQL twin landed
    assert(rowsOnly === Set(
      "sa1_seeded_sample", "sa2_stratified_sample",
      "q29_approx_sketches", // sketch estimates are engine-specific by
                             // nature; accuracy floors vs the exact
                             // twins in SqlTwinsSpec
      "st14_stream_heavy_users", // streaming MG sketch: merge-order-
                                 // dependent estimates; guarantees +
                                 // below-k exactness in StreamingSpec
      "td14_heavy_hitters")) // Misra–Gries estimates are merge-order
                             // dependent; the order-independent
                             // guarantees are asserted vs exact counts
                             // in TextAnalysisSpec
    // and no oracle may exist without a query
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("README serving demo: the documented Pipeline --params command runs end-to-end") {
    // parse the EXACT command out of the README (not a copy of it) so a
    // doc edit that breaks the demo fails here, not on a user's shell
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")))
    val cmd = raw"""runMain graft\.Pipeline (\S+) \S+ \\\s*--params=([^"]+)"""".r
      .findFirstMatchIn(readme)
    assert(cmd.isDefined, "README no longer documents the Pipeline --params demo")
    val (sfDir, paramsFlag) = (cmd.get.group(1), "--params=" + cmd.get.group(2).trim)
    assert(new java.io.File(sfDir).isDirectory, s"README demo sfDir $sfDir is gone")
    // the same calls main() makes, on the fixture session (main owns —
    // and would stop — its own session)
    val out = java.nio.file.Files.createTempDirectory("graft-readme-demo").toString
    val res = Pipeline.run(spark, sfDir, out)
    val p = Pipeline.parseParams(paramsFlag)
    val refresh = graft.operators.Params.typeSummary(Tables.events(spark, sfDir), p)
      .collect()
    assert(refresh.map(_.getString(0)).sorted.toSeq === p.types.sorted,
      "parameterized refresh did not return one row per selected type")
    // every documented feed landed, parquet + JSON twin
    graft.operators.Feeds.feedNames.foreach { name =>
      assert(new java.io.File(s"${res.feedDir}/$name").isDirectory, s"feed $name missing")
      val jsonDir = new java.io.File(s"${res.feedDir}/${name}_json")
      val jsonFiles = Option(jsonDir.listFiles).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".json"))
      assert(jsonFiles.nonEmpty, s"JSON twin for feed $name missing")
    }
    graft.sources.Staging.deleteRecursively(new java.io.File(out))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graphs

class GraphsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("pageRank matches a driver-side replication of the scaled-integer formula") {
    val edgeList = Seq(("a", "b"), ("c", "b"), ("d", "b"), ("b", "a"))
    val edges = edgeList.toDF("src", "dst")
    val iterations = 3
    val got = Graphs.pageRank(edges, iterations).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // replicate the integer arithmetic exactly
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = edgeList.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val r0 = Graphs.Scale / nodes.size
    val teleport = (15L * r0) / 100L
    var rank = nodes.map(_ -> r0).toMap
    (1 to iterations).foreach { _ =>
      val inc = edgeList
        .map { case (s, d) => d -> rank(s) / deg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      rank = nodes.map(v => v -> (teleport + (85L * inc.getOrElse(v, 0L)) / 100L)).toMap
    }
    assert(got === rank)
    // structure sanity: the hub out-ranks its sole target, which
    // out-ranks the leaf sources
    assert(got("b") > got("a") && got("a") > got("c") && got("c") === got("d"))
  }

  test("triangles counts each triangle once; lcc follows 2T/d(d-1)") {
    // K4 on {a,b,c,d} (4 triangles, every node in 3) plus pendant e-a
    // (e: degree 1, 0 triangles; a: degree 4, still 3 triangles).
    // Directed duplicates and a self-loop must not change anything.
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("c", "d"), ("b", "d"),
      ("e", "a"), ("c", "c")).toDF("src", "dst")
    val got = Graphs.triangles(edges).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("e") === ((1L, 0L, 0.0)))
    assert(got("a") === ((4L, 3L, 0.5)))          // 2*3/(4*3)
    Seq("b", "c", "d").foreach { v =>
      assert(got(v) === ((3L, 3L, 1.0)), s"node $v: ${got(v)}") // 2*3/(3*2)
    }
    // global count: sum of participations / 3 = 4 triangles
    assert(got.values.map(_._2).sum === 12L)
  }

  test("q40's registry build runs no job") {
    val q40 = SparkEntry.benchQueries("q40_triangles")
    q40(spark, sf001).collect()
    assert(jobs(q40(spark, sf001)) === 0)
  }

  test("edgesArtifact builds once, serves the same edges, and is reused when fresh") {
    val a = Graphs.edgesArtifact(spark, sf001)
    val root = new java.io.File(
      s"target/graph_edges/${new java.io.File(sf001).getName}")
    val gen = graft.sources.ManifestStore.currentPointer(root)
      .getOrElse(fail("no manifest pointer after build"))._1
    // second call: fresh artifact ⇒ served from the pointed snapshot, no republish
    val b = Graphs.edgesArtifact(spark, sf001)
    assert(graft.sources.ManifestStore.currentPointer(root).map(_._1) ===
      Some(gen), "fresh artifact was republished")
    val direct = Graphs.nationEdges(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(a.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq === direct)
    assert(b.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq === direct)
  }

  test("pageRank is deterministic run-to-run") {
    val edges = Graphs.nationEdges(spark, sf001)
    val a = Graphs.pageRank(edges).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val b = Graphs.pageRank(edges).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("q46 trade blocs: threshold separates components; a strong bridge merges them") {
    // two heavy-trade chains {1,2,3} and {10,11,12} plus weight-1 cross
    // padding; mean = (4·90 + 3·1)/7 ≈ 51.9, so the 90s survive the
    // strictly-above-mean threshold and the padding (including the weak
    // 1→10 bridge) is cut: two blocs labeled by their minimum key
    def nations(ids: Seq[Int]) =
      ids.map(i => (i, s"N$i")).toDF("n_nationkey", "n_name")
    val ns = nations(Seq(1, 2, 3, 10, 11, 12))
    val weak = Seq(
      (1, 2, 90L), (2, 3, 90L), (10, 11, 90L), (11, 12, 90L),
      (1, 10, 1L), (2, 11, 1L), (3, 12, 1L))
      .toDF("src", "dst", "weight")
    val twoBlocs = Graphs.tradeBlocs(weak, ns)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(twoBlocs === Seq(
      ("N1", "N1", 3L), ("N10", "N10", 3L), ("N11", "N10", 3L),
      ("N12", "N10", 3L), ("N2", "N1", 3L), ("N3", "N1", 3L)))
    // strengthen the bridge to cluster weight (mean = (5·90 + 2·1)/7 ≈
    // 64.6 — still below 90): the chains connect through it and min-label
    // propagation crosses the bridge into ONE bloc
    val strong = Seq(
      (1, 2, 90L), (2, 3, 90L), (10, 11, 90L), (11, 12, 90L),
      (1, 10, 90L), (2, 11, 1L), (3, 12, 1L))
      .toDF("src", "dst", "weight")
    val oneBloc = Graphs.tradeBlocs(strong, ns)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(oneBloc === Seq(
      ("N1", "N1", 6L), ("N10", "N1", 6L), ("N11", "N1", 6L),
      ("N12", "N1", 6L), ("N2", "N1", 6L), ("N3", "N1", 6L)))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.Tables
import graft.streaming.VectorIndexStream

/** sim7's streaming-maintenance contract: the index half-built by a
  * checkpointed streaming append serves EXACTLY what a batch build over
  * the same data would — and dd16's SemDeDup prune list is re-derived
  * from first principles. Both also carry DuckDB hash gates in the
  * driver harness; these tests hold the engine-internal equivalences the
  * oracle can't see (stream-vs-batch parity, artifact reuse).
  */
class VectorIndexStreamSpec extends AnyFunSuite with SparkFixture {

  /** The batch twin of the maintained index: assign the FULL corpus under
    * the base-trained frozen centroids, with the same |c|² − 2x·c
    * min-struct (ties to lower cid) the engine and oracle use.
    */
  private def batchAssigned(
      sfDir: String, split: Long): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val path = Similarity.ensureLearnedIvf(spark, sfDir, 16, 5, Some(split))
    val centroidRows = spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec"))
    val x = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val score = Similarity.dot(col("cvec"), col("cvec")) -
      lit(2.0) * Similarity.dot(col("x"), col("cvec"))
    val corpus = x.crossJoin(broadcast(centroidRows))
      .select(col("vec_id"),
        struct(score.as("s"), col("cid").as("c"), col("x").as("v")).as("sc"))
      .groupBy(col("vec_id")).agg(min(col("sc")).as("m"))
      .select(col("vec_id").as("neighbor_id"), col("m.v").as("c_emb"),
        col("m.c").as("cell"))
    (corpus, centroidRows)
  }

  test("sim7: stream-maintained index serves bit-identically to the batch twin, twice") {
    val emb = Tables.embeddings(spark, sf001)
    val split = emb.count() / 2
    val got = VectorIndexStream.sim7StreamIndexMaintain(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(got.size === 100) // 20 queries x k=5
    val (corpus, centroidRows) = batchAssigned(sf001, split)
    val expect = Similarity.serveIvf(corpus, centroidRows, emb, 20, 5, 4)
      .collect().map(_.toSeq).toSeq
    // set-level corpus parity is implied: a delta row lost (or doubled)
    // by the streaming path would change candidates and therefore ranks
    assert(got === expect)
    // re-run: fresh staging + checkpoint, same artifact, same answer
    val again = VectorIndexStream.sim7StreamIndexMaintain(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(again === got)
  }

  test("sim7: base segment holds only the training half; frozen centroids match the base-split artifact spec") {
    val emb = Tables.embeddings(spark, sf001)
    val n = emb.count()
    val split = n / 2
    val path = Similarity.ensureLearnedIvf(spark, sf001, 16, 5, Some(split))
    val baseIds = spark.read.parquet(s"$path/cells")
      .select(col("neighbor_id")).collect().map(_.getLong(0))
    assert(baseIds.length.toLong === split)
    assert(baseIds.forall(_ < split))
    // r16: the spec lives in the manifest pointer line of the artifact
    // ROOT (the returned path is the immutable snapshot under it)
    val root = new java.io.File(Similarity.learnedIvfPath(sf001, 16, 5, Some(split)))
    val spec = graft.sources.ManifestStore.currentPointer(root)
      .map(_._2).getOrElse(fail("no manifest pointer"))
    assert(spec.contains(s"base<$split"))
    // and the FULL-corpus artifact (sim5/dd16's) is a different root —
    // the two never clobber each other
    assert(root.getAbsolutePath !== Similarity.learnedIvfPath(sf001, 16, 5))
  }

  test("sim8: compacted segment is a build-once locked artifact — repeat serve is read-only, one file per cell, bit-identical to sim7") {
    val got = VectorIndexStream.sim8ServeCompacted(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val viaSim7 = VectorIndexStream.sim7StreamIndexMaintain(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(got === viaSim7) // compaction changes layout, never the answer
    // artifact layout contract: exactly ONE data file per cell dir
    val artifactRoot = new java.io.File(
      VectorIndexStream.compactedIndexPath(sf001, 0, 5))
    val cellsDir = new java.io.File(graft.sources.ManifestStore.snapDir(artifactRoot,
      graft.sources.ManifestStore.currentPointer(artifactRoot).get._1), "cells")
    val cellDirs = cellsDir.listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: ${files.length} files — compaction must restore one-file-per-cell")
    }
    // READ-ONLY repeat serve: nothing under the artifact is rewritten
    // (round 9 rewrote the whole segment per call)
    def stamps(f: java.io.File): Map[String, Long] = {
      def walk(x: java.io.File): Seq[java.io.File] =
        if (x.isDirectory)
          Option(x.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(x)
      walk(f).map(x => x.getPath -> x.lastModified()).toMap
    }
    val before = stamps(artifactRoot)
    val again = VectorIndexStream.sim8ServeCompacted(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(again === got)
    assert(stamps(artifactRoot) === before,
      "repeat serve must not rewrite the compacted artifact")
  }

  test("dd16 semantic dedup: prune list re-derived from first principles, deterministic") {
    val tau = 0.4
    val got = Similarity.semanticDedup(spark, sf001).collect()
    assert(got.nonEmpty)
    // every pruned row names a LOWER-id keeper in the SAME cell at
    // cosine >= tau
    got.foreach { r =>
      assert(r.getLong(1) < r.getLong(0))
      assert(r.getDouble(3) >= tau - 1e-6)
    }
    // recompute the full expected answer driver-side (500 vectors):
    // within-cell pairs, unit-vector cosine, argmax lower-id keeper
    val path = Similarity.ensureLearnedIvf(spark, sf001, 16, 5)
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("neighbor_id"), col("c_emb"), col("cell").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      v.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val units = cells.map { case (id, v, c) => (id, unit(v), c) }
    val expected = units.flatMap { case (id, u, c) =>
      val cands = units.filter { case (id2, u2, c2) =>
        c2 == c && id2 < id && dot(u2, u) >= tau
      }
      if (cands.isEmpty) None
      else {
        val (kid, ku, _) = cands.minBy { case (id2, u2, _) => (-dot(u2, u), id2) }
        Some((id, kid, c, dot(ku, u)))
      }
    }.sortBy(_._1)
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (r, (id, kid, c, cos)) =>
      assert(r.getLong(0) === id)
      assert(r.getLong(1) === kid)
      assert(r.getInt(2) === c)
      assert(math.abs(r.getDouble(3) - cos) < 1e-6)
    }
    // deterministic across runs (artifact reused, same plan)
    val again = Similarity.semanticDedup(spark, sf001).collect()
    assert(again.map(_.toSeq).toSeq === got.map(_.toSeq).toSeq)
  }

  test("dd16 reuses sim5's learned-IVF artifact (one clustering serves ANN and dedup)") {
    val root = new java.io.File(Similarity.learnedIvfPath(sf001, 16, 5))
    Similarity.semanticDedup(spark, sf001).collect()
    val genBefore = graft.sources.ManifestStore.currentPointer(root).map(_._1)
    // sim5's serve must find the artifact fresh and NOT republish it
    Similarity.ivfAnnLearned(spark, sf001).collect()
    val genAfter = graft.sources.ManifestStore.currentPointer(root).map(_._1)
    assert(genBefore.isDefined && genBefore === genAfter)
  }
}

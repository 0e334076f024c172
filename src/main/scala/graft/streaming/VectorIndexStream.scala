package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Vector-index MAINTENANCE under streaming ingest — the missing piece
  * between the batch-rebuilt ANN artifacts (sim4/sim5) and the streaming
  * family (st*): a production embedding store cannot retrain and rewrite
  * its index for every arriving batch of vectors, it appends them.
  *
  * The shape here is the standard segment architecture (FAISS/Lucene-
  * style): the COARSE QUANTIZER (k-means centroids) is trained once, in
  * batch, on the base corpus and then FROZEN; streaming ingest evaluates
  * only the frozen quantizer — a map-side nearest-centroid expression
  * over a handful of broadcast-scale constants — and appends each arrival
  * to its cell in a DELTA segment (partitioned parquet behind a
  * checkpointed streaming sink ⇒ exactly-once, resumable). Serving reads
  * base ∪ delta through the same probe-and-serve tail as sim5. At 100 TB
  * the delta is periodically compacted into the base and the quantizer
  * retrained offline when drift warrants — both batch jobs that reuse
  * [[Similarity.ensureLearnedIvf]] as-is.
  *
  * Because the frozen centroids come from the engine-portable quantized
  * Lloyd's ([[Similarity.kmeansCentroids]]) and assignment is the same
  * (|c|² − 2x·c, ties to the lower cell) everywhere, the maintained index
  * is bit-identical to a declarative "assign the full corpus under
  * centroids trained on the base half" — which is exactly what the DuckDB
  * oracle computes, so the WHOLE streaming maintenance path is
  * hash-gated, not rows-only.
  */
object VectorIndexStream {

  /** Streaming source over the embeddings table only — the [[EventStreams
    * .eventStream]] single-file glob trick, schema pinned from the static
    * read so batch and stream see identical rows.
    */
  private def embeddingStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    val p = Tables.path(sfDir, "embeddings")
    val streamPath =
      if (new java.io.File(p).isFile) s"${p.dropRight(1)}[${p.last}]" else p
    // the vector admission screen applies at the streaming door too —
    // same predicate as the batch read, so base and delta share a domain
    spark.readStream.schema(raw.schema).parquet(streamPath)
      .filter(Similarity.isAdmissible(col("embedding")))
  }

  /** Nearest FROZEN centroid as a pure per-row expression: one
    * struct-min over the k (score, cid) pairs, scores via the same
    * codegen'd `vec_dot` and the same |c|² − 2x·c ordering (ties to the
    * lower cid) as the batch [[Similarity.kmeansCentroids]] assignment
    * and the oracle's row_number — so all three agree bit-for-bit. The
    * centroids ride into the plan as literals: no join, no shuffle, no
    * state — a stateless streaming map, which is what lets the ingest
    * run at source throughput.
    */
  private def nearestCellExpr(
      centroids: Seq[(Int, Seq[Double])], x: Column): Column = {
    val scored = centroids.map { case (cid, c) =>
      val cv = typedLit(c)
      struct(
        (Similarity.dot(cv, cv) - lit(2.0) * Similarity.dot(x, cv)).as("s"),
        lit(cid).as("c"))
    }
    array_min(array(scored: _*)).getField("c")
  }

  /** sim7 — serve top-k ANN from a STREAM-MAINTAINED index: ensure the
    * base segment (train + index the `vec_id < n/2` half, batch), then
    * ingest the other half through a checkpointed streaming append that
    * assigns each vector to its frozen cell map-side, and serve queries
    * over base ∪ delta with sim5's probe-and-serve. Output schema and
    * semantics match sim5 exactly; only WHERE the index came from
    * differs — half of it was built by a streaming query.
    */
  /** Run the maintenance (base segment ensure + streaming delta ingest)
    * and return the pieces sim7/sim8 serve from: the maintained corpus
    * (base ∪ delta), the frozen centroid table, and the embeddings.
    */
  private[streaming] def maintainedIndex(
      spark: SparkSession, sfDir: String, kCells: Int, iters: Int):
      (DataFrame, DataFrame, DataFrame) = {
    val emb = Similarity.adm(spark, sfDir)
    // one scalar count to site the base/stream split — metadata-scale
    val splitAt = emb.count() / 2
    val basePath =
      Similarity.ensureLearnedIvf(spark, sfDir, kCells, iters, Some(splitAt))
    val centroidRows = spark.read.parquet(s"$basePath/centroids")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec"))
    // k × dim doubles — the frozen quantizer IS broadcast-scale
    val centroids = centroidRows.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
    val arrivals = embeddingStream(spark, sfDir)
      .filter(col("vec_id") >= splitAt) // pushed to the streaming scan
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("c_emb"))
      .withColumn("cell", nearestCellExpr(centroids, col("c_emb")))
    val delta = EventStreams.runToParquet(
      arrivals, "sim7_delta",
      statePartitions = EventStreams.gateParts(sfDir, "embeddings"),
      partitionCols = Seq("cell"))
    val base = spark.read.parquet(s"$basePath/cells")
    val corpus = base.select(col("neighbor_id"), col("c_emb"), col("cell"))
      .unionByName(delta.select(col("neighbor_id"), col("c_emb"),
        col("cell").cast(base.schema("cell").dataType).as("cell")))
    (corpus, centroidRows, emb)
  }

  def sim7StreamIndexMaintain(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      kCells: Int = 0, iters: Int = 5, nProbe: Int = 4): DataFrame = {
    val (corpus, centroidRows, emb) =
      maintainedIndex(spark, sfDir, kCells, iters)
    Similarity.serveIvf(corpus, centroidRows, emb, nQueries, k, nProbe)
  }

  /** Canonical location of the COMPACTED segment artifact (`kd` = the
    * cell count is derived from the corpus, [[Similarity.deriveKCells]]).
    * Durable under target/ like [[Similarity.learnedIvfPath]] — a serve
    * path must outlive the process-scoped stream staging dirs.
    */
  private[graft] def compactedIndexPath(
      sfDir: String, kCells: Int, iters: Int): String = {
    val kTag = if (kCells > 0) kCells.toString else "d"
    s"${sys.props("user.dir")}/target/ivf/${new java.io.File(sfDir).getName}" +
      s"/compacted_k${kTag}_i$iters"
  }

  /** Build (or reuse) the compacted segment as a snapshot keyed on
    * (params, embeddings source stamp) — the same staleness contract as
    * the base artifact, so a serve against an unchanged corpus is
    * READ-ONLY: no stream drain, no rewrite. Only a stale spec runs the
    * maintenance pipeline (base ensure + streaming delta ingest) and
    * folds base ∪ delta into one cell-partitioned segment: one shuffle on
    * the cell id aligns each cell with one task ⇒ exactly ONE file per
    * cell (asserted in spec), restoring the base segment's read shape.
    * The publish nests the base artifact's own ensure; each store locks
    * its own root, so the nesting never re-enters a lock.
    */
  private def ensureCompactedIndex(
      spark: SparkSession, sfDir: String, kCells: Int, iters: Int): String = {
    val spec = s"sim8-compacted-v2 adm=finite-1e4-nonzero k=$kCells iters=$iters half-split\n" +
      graft.sources.Staging.sourceStamp(
        Seq(new java.io.File(Tables.path(sfDir, "embeddings"))))
    graft.sources.ManifestStore.ensureSnapshot(
        new java.io.File(compactedIndexPath(sfDir, kCells, iters)), spec,
        graft.sources.ManifestStore.IndexReaderGraceMs) { snap =>
      val (corpus, _, _) = maintainedIndex(spark, sfDir, kCells, iters)
      corpus.repartition(col("cell"))
        .write.partitionBy("cell").parquet(s"$snap/cells")
    }.getAbsolutePath
  }

  /** sim8 — COMPACTION of the maintained index: fold the streaming delta
    * back into a single cell-partitioned segment and serve from it. The
    * periodic batch job the segment architecture requires — an unmerged
    * delta grows one file per micro-batch per cell, and at 100 TB scan
    * cost scales with FILE count (the sources/Compaction argument; the
    * delta is a `_spark_metadata` sink dir, which file-level compaction
    * correctly refuses — index compaction is a REWRITE under the index's
    * own layout contract, not a file shuffle). The segment is a
    * build-once snapshot artifact ([[ensureCompactedIndex]]): a repeat
    * serve touches nothing but parquet reads — centroids from the base
    * artifact, cells from the compacted one. The serve tail and
    * therefore the answer are bit-identical to sim7's (same oracle
    * text — the sim3≡sim4 pattern: compaction changes WHERE the cells
    * live, never what they contain).
    */
  def sim8ServeCompacted(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      kCells: Int = 0, iters: Int = 5, nProbe: Int = 4): DataFrame = {
    val emb = Similarity.adm(spark, sfDir)
    val splitAt = emb.count() / 2 // metadata-scale, same split as sim7
    val basePath =
      Similarity.ensureLearnedIvf(spark, sfDir, kCells, iters, Some(splitAt))
    val compactedPath = ensureCompactedIndex(spark, sfDir, kCells, iters)
    val centroidRows = spark.read.parquet(s"$basePath/centroids")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec"))
    val compacted = spark.read.parquet(s"$compactedPath/cells")
      .select(col("neighbor_id"), col("c_emb"), col("cell").cast("int").as("cell"))
    Similarity.serveIvf(compacted, centroidRows, emb, nQueries, k, nProbe)
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim7_stream_index_maintain" ->
      ((s: SparkSession, d: String) => sim7StreamIndexMaintain(s, d)),
    "sim8_ann_compacted_index" ->
      ((s: SparkSession, d: String) => sim8ServeCompacted(s, d)))

  val oracles: Map[String, String] = Map(
    // the maintained base ∪ delta index re-derived declaratively: Lloyd's
    // unrolled over the base half, final assignment over everything;
    // sim8 shares the text verbatim — compaction changes the physical
    // layout, never the cells (the sim3≡sim4 oracle-sharing pattern)
    "sim7_stream_index_maintain" -> Similarity.streamMaintainedIvfSql(),
    "sim8_ann_compacted_index" -> Similarity.streamMaintainedIvfSql())
}

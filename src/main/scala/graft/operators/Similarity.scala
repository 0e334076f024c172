package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[topkExact]] is the brute-force baseline: broadcast the (small)
  *    query set against the corpus — the corpus is never shuffled, the scan
  *    streams through a broadcast-nested-loop with a per-partition top-k
  *    heap (Spark 4's WindowGroupLimit pushes the rank filter down).
  *  - [[lshAnn]] is the scale path: OR-amplified random-hyperplane LSH —
  *    `nBands` independent bands of `nPlanes` sign bits each; a corpus row
  *    is a candidate for a query iff they agree on ALL planes of ANY band
  *    (recall 1−(1−p^r)^b instead of the single-band p^r, which found <30%
  *    of true neighbors). Candidate generation is a hash join on the
  *    (band, bucket) key — O(corpus × bands), never corpus × queries.
  *    Recall ≥ 0.9 vs [[topkExact]] is asserted in `SimilaritySpec`.
  *
  * Vector math runs through the native codegen'd
  * [[graft.functions.DotProduct]] / [[graft.functions.RhpBuckets]]
  * expressions — same sequential left-to-right accumulation as DuckDB's
  * `list_cosine_similarity` on `DOUBLE[]`-cast inputs, so oracle hashes
  * match bit-for-bit.
  */
object Similarity {

  /** Dot product of two array<double> columns — the native codegen'd
    * [[graft.functions.DotProduct]] expression (registered by
    * [[graft.GraftExtensions]]); same left-to-right accumulation as the HOF
    * fold it replaced, so results are bit-identical and ~20× faster.
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** L2 norm squared — identical arithmetic to the elementwise fold. */
  def norm2(a: Column): Column = call_function("vec_dot", a, a)

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (sqrt(norm2(ad)) * sqrt(norm2(bd)))
  }

  // ------------------------------------------------ vector admission

  /** Component-magnitude bound of the vector admission contract.
    *
    * Derivation (BIGINT grid safety): every hash-gated consumer below
    * quantizes dot products / squared distances onto the 1e-6 integer
    * grid before aggregation. With |x| ≤ 1e4 over dim 64, the worst dot
    * is 64·(1e4)² = 6.4e9 and the worst squared L2 distance 4× that =
    * 2.56e10 — on the grid 2.56e16, a 360× headroom under Long.MaxValue.
    * Real embedding components are O(1); anything past this bound is
    * pipeline garbage (an un-normalized logit dump, a corrupted shard),
    * not signal.
    */
  val MaxAbsComponent: Double = 1e4

  /** TRUE iff the vector is inside the index-domain contract: every
    * component present, finite, and |x| ≤ [[MaxAbsComponent]], and the
    * norm nonzero. The engine predicate spells NaN/∞/oversized as
    * `isnan(x) OR abs(x) > bound` (abs(±∞) exceeds any finite bound in
    * both engines) plus an explicit `x IS NULL` arm so a NULL component
    * rejects by rule, not by three-valued-logic accident; a NULL vector
    * itself null-propagates to rejection in both engines.
    */
  def isAdmissible(v: Column): Column = {
    val d = v.cast("array<double>")
    // the norm rides a null→0 sanitized copy: vec_dot's getDouble on a
    // null slot is UNDEFINED (UnsafeArrayData zeroes it, GenericArrayData
    // NPEs), and DuckDB's list_dot_product errors outright — both engines
    // therefore norm the same well-defined array. For null-free vectors
    // (the only ones the first arm lets through) it is the identity.
    val sane = transform(d, x => coalesce(x, lit(0.0)))
    !exists(d, x => x.isNull || isnan(x) || abs(x) > lit(MaxAbsComponent)) &&
      norm2(sane) > lit(0.0)
  }

  /** The vector admission screen — the FAISS posture, adopted after
    * adversarial differential fuzzing (tools/advvectors.py): indexes and
    * cosine math require finite, nonzero input. Without it, ONE zero-norm
    * embedding in a 100 TB corpus kills every cosine consumer with
    * DIVIDE_BY_ZERO under ANSI mode, and one huge-magnitude row overflows
    * the BIGINT grid in the PQ/ADC paths (both observed: 19 of the 21
    * embeddings-backed queries failed on the adversarial corpus before
    * this screen). Every sim/dd-embedding consumer reads the corpus
    * through this filter; the oracle texts read the identical predicate
    * through [[onAdmissible]]; [[vecHygiene]] (sim18) is the REPORTING
    * twin that says which rows the screen rejected and why.
    */
  def admissible(emb: DataFrame): DataFrame =
    emb.filter(isAdmissible(col("embedding")))

  /** Admission-contract version tag, stamped into the staged store's
    * spec: bump `adm-store-v` on any semantic change to the screen that
    * [[graft.sources.Staging.planSpec]] cannot see (the bound and the
    * filter predicate themselves ride in the planSpec, so this is the
    * belt for the braces).
    */
  private val AdmStoreContract: String =
    s"adm-store-v1 maxAbs=$MaxAbsComponent rule=all-components-finite-nonnull norm>0"

  private def admPath(sfDir: String): String =
    s"${sys.props("user.dir")}/target/adm/${new java.io.File(sfDir).getName}/embeddings"

  /** The ADMITTED-VECTOR CORPUS, staged ONCE per scale dir — the read
    * path of every registry entry in this family (sim18, the screen's
    * reporting twin, is the one deliberate exception: it reads raw).
    *
    * Why staged rather than screened inline: [[isAdmissible]] is two
    * array passes per row, and ~21 family consumers each re-ran it over
    * the FULL raw corpus at every scan — at 100 TB that is ~42 petabyte-
    * scale array traversals per dashboard refresh for a predicate whose
    * verdict never changes between corpus versions. The CleanStore
    * posture applies exactly: admit at staging time, let every consumer
    * scan the admitted table with no filter at all. Consumers' plans now
    * contain NO admission predicate (audited in `SimilaritySpec`), and
    * the staged scan prunes columns/pushes consumer filters like any
    * parquet read.
    *
    * Staleness contract ([[graft.sources.Staging]] lock + stamps, the
    * CleanStore scheme): the spec records (a) [[AdmStoreContract]] — the
    * versioned admission rule, (b) the build plan's
    * [[graft.sources.Staging.planSpec]] — so ANY edit to the screen's
    * predicate restages, and (c) the raw source's (mtime, length) stamp —
    * so a re-staged corpus restages the admitted table. The write is
    * repartitioned to the session's default parallelism: the admitted
    * table's file count is what gives every downstream CPU-heavy scan
    * (brute-force cosine, PQ encode, LSH banding) its parallelism — the
    * single-file testdata layout would otherwise serialize them (the
    * documentsRebalanced lesson, solved at the LAYOUT level this time
    * because we own the staged table's layout).
    *
    * The DuckDB oracle texts are UNCHANGED: they still compute the
    * admission predicate in the `adm` CTE over the raw table
    * ([[onAdmissible]]) — engine reads the staged materialization, the
    * oracle recomputes the definition, and the hash gate proves them
    * equal on every run: the staged store can never silently drift from
    * the contract.
    */
  def adm(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = admPath(sfDir)
    val source = new java.io.File(Tables.path(sfDir, "embeddings"))
    val built = admissible(Tables.embeddings(spark, sfDir))
    val spec = AdmStoreContract + "\n" +
      graft.sources.Staging.planSpec(built) + "\n" +
      graft.sources.Staging.sourceStamp(Seq(source))
    // pointer-swap snapshots (r16): the adm store is the READ PATH of the
    // whole vector family, so a restage racing an in-flight probe scan is
    // the family's most likely abort — a probe pinned to the previous
    // snapshot now completes instead (ServeUnderRefreshSpec's index soak)
    graft.sources.ManifestStore.serve(spark, new java.io.File(dir), spec, built.schema,
      graft.sources.ManifestStore.IndexReaderGraceMs)(
      p => built.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(p))
  }

  /** The admission predicate as a DuckDB view body over the raw table —
    * single source for every oracle text via [[onAdmissible]]. The
    * `x IS NULL` arm matters: DuckDB's `list_filter` silently DROPS
    * elements whose lambda yields NULL, so without it a NULL component
    * would pass the oracle while the engine rejects it.
    */
  private val AdmissibleVectorsSql: String =
    s"""SELECT vec_id, embedding, label FROM embeddings
      |  WHERE len(list_filter(CAST(embedding AS DOUBLE[]),
      |          x -> x IS NULL OR isnan(x) OR abs(x) > $MaxAbsComponent)) = 0
      |    AND list_dot_product(
      |          list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 0.0)),
      |          list_transform(CAST(embedding AS DOUBLE[]), x -> coalesce(x, 0.0))) > 0""".stripMargin

  /** Rewrite an oracle text to read the admitted corpus: every table
    * reference `embeddings` becomes the `adm` CTE (regex on the word, so
    * aliased joins `FROM embeddings q JOIN embeddings c` rewrite too),
    * prepended as one CTE. The replace-then-prepend order keeps the CTE
    * body's own `FROM embeddings` (the raw table — correct) untouched.
    *
    * Invariants this rewrite assumes of the family's oracle texts — both
    * asserted, because a violation would produce syntactically valid but
    * WRONG SQL the hash gate might not catch cheaply: (1) no
    * `WITH RECURSIVE` prefix (prepending a plain CTE before RECURSIVE is
    * a syntax error in DuckDB, and re-ordering would change scoping);
    * (2 — UNASSERTED caveat, syntactically undetectable without a real
    * SQL lexer) the word `embeddings` must appear only as a table
    * reference — an occurrence inside a string literal or SQL comment
    * would be rewritten too; no oracle in the family writes one.
    */
  private def onAdmissible(sql: String): String = {
    require(!sql.startsWith("WITH RECURSIVE"),
      "onAdmissible: cannot prepend the adm CTE before WITH RECURSIVE — " +
        "restructure the oracle to read a plain WITH chain")
    val swapped = sql.replaceAll("\\bembeddings\\b", "adm")
    val cte = s"adm AS ($AdmissibleVectorsSql)"
    if (swapped.startsWith("WITH ")) s"WITH $cte,\n${swapped.stripPrefix("WITH ")}"
    else s"WITH $cte\n$swapped"
  }

  /** sim18 — the per-vector hygiene report: the admission screen's
    * reporting twin. For every raw row: how many components are broken
    * (NULL / NaN / |x| > [[MaxAbsComponent]], one `size(filter(...))`
    * pass), whether the norm is zero, and the resulting admission
    * verdict. At 100 TB this is the monitor a corpus owner reads before
    * asking why the index shrank — map-only, no shuffle, no join, and
    * the one place the REJECTED rows are visible (every other operator
    * in the family reads through the screen by contract).
    */
  def vecHygiene(emb: DataFrame): DataFrame = {
    val d = col("embedding").cast("array<double>")
    // same null→0 sanitization as [[isAdmissible]]'s norm arm — here it
    // is LOAD-BEARING: this operator reads raw rows, so null components
    // genuinely reach the norm (contract: they contribute zero; an
    // all-null or empty vector reports zero_norm = true)
    val sane = transform(d, x => coalesce(x, lit(0.0)))
    emb.select(
        col("vec_id"),
        coalesce(size(filter(d, x =>
          x.isNull || isnan(x) || abs(x) > lit(MaxAbsComponent))), lit(-1))
          .cast("long").as("n_bad_components"),
        coalesce(norm2(sane) === lit(0.0), lit(false)).as("zero_norm"),
        coalesce(isAdmissible(col("embedding")), lit(false)).as("admitted"))
      .orderBy(col("vec_id"))
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id < nQueries
    * marks the query set). Self-matches excluded.
    */
  def topkExact(emb: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_n", norm2(col("q_emb")))
    val c = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("c_emb"))
      .withColumn("c_n", norm2(col("c_emb")))
    // identical arithmetic to cosine(q, c) — the float→double casts and
    // the two self-dots are just FACTORED to once per row instead of
    // once per (query, corpus) pair (the cast alone allocates per call);
    // values are bit-identical, only the evaluation count drops
    val sim = dot(col("q_emb"), col("c_emb")) /
      (sqrt(col("q_n")) * sqrt(col("c_n")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_raw").desc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_raw", sim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), r6(col("sim_raw")).as("cosine"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** sim12 — hard-negative mining for contrastive embedding training:
    * for each query vector, the k most-similar corpus vectors whose
    * LABEL differs from the query's — the "hard negatives" a
    * contrastive/triplet objective needs (the easy negatives are
    * random; the informative ones are the near-misses that sit close
    * in embedding space but belong to another class). Self-pairs are
    * excluded for free: a vector shares its own label.
    *
    * Plan shape is sim1's exact-scan baseline with the label predicate
    * fused into the broadcast join condition — the corpus side streams
    * once, never shuffles, and the per-query top-k is the same
    * window-over-candidates cut. At billion-vector scale the same
    * label-mismatch filter drops into sim2's LSH candidate stream or
    * sim10's probed-cell ADC verify (the predicate composes with any
    * candidate generator); this operator is the exact-semantics member
    * the approximate variants are graded against.
    */
  def hardNegatives(emb: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_n", norm2(col("q_emb")))
    val c = emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"),
        col("embedding").cast("array<double>").as("c_emb"))
      .withColumn("c_n", norm2(col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_raw").desc, col("neighbor_id"))
    // per-row factored casts/norms — see topkExact; values bit-identical
    c.join(broadcast(q), col("n_label") =!= col("q_label"))
      .withColumn("sim_raw", dot(col("q_emb"), col("c_emb")) /
        (sqrt(col("q_n")) * sqrt(col("c_n"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("q_label").cast("long").as("q_label"),
        col("neighbor_id"), col("n_label").cast("long").as("n_label"),
        r6(col("sim_raw")).as("cosine"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** sim13 defaults — the SINGLE source for the engine signature AND the
    * generated oracle SQL (the HeadVocabSize/sa9 pattern: a drifted
    * literal would hash-mismatch loudly, never silently).
    */
  val RangeNQueries: Int = 20
  val RangeTau: Double = 0.3

  /** sim13 — cosine RANGE search (the τ-ball query): for every query
    * vector, ALL corpus vectors with cosine ≥ `tau` — the other half of
    * the vector-retrieval API surface (top-k answers "the best k
    * whatever their quality"; range answers "everything at least this
    * similar, however many" — FAISS ships it as `range_search` beside
    * `search`, and retrieval-dedup / recall-bounded RAG callers want
    * exactly these semantics). dd6/dd7 are the pair-grain cousins over
    * one corpus; this is the query-set-vs-corpus member, and the τ
    * predicate composes unchanged with sim2's LSH candidates or
    * sim3/sim5's probed cells when the corpus outgrows the exact scan
    * (a τ-ball never needs cells whose centroid-distance bound already
    * fails τ — the same pruning the top-k family uses).
    *
    * The threshold compares the RAW double (the dd6 rule): both engines
    * compute the identical sequential dot (`vec_dot` ≡
    * `list_dot_product`) and the same two single-IEEE-op sqrt/divide
    * steps, so the unrounded predicate admits the same pair set; only
    * the EMITTED cosine is r6-rounded. Result rows are data-dependent
    * per query — a query with no τ-neighbor emits nothing (the dd3
    * convention), which is itself signal (an isolated query).
    *
    * Plan: broadcast the bounded query set against the streaming corpus
    * scan — no corpus shuffle, no window (range search has no rank), the
    * only exchange is the verify-order sort over the bounded hit set.
    */
  def rangeSearch(
      emb: DataFrame,
      nQueries: Int = RangeNQueries,
      tau: Double = RangeTau): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_n", norm2(col("q_emb")))
    val c = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("c_emb"))
      .withColumn("c_n", norm2(col("c_emb")))
    // per-row factored casts/norms — see topkExact; values bit-identical
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_raw", dot(col("q_emb"), col("c_emb")) /
        (sqrt(col("q_n")) * sqrt(col("c_n"))))
      .filter(col("sim_raw") >= tau)
      .select(col("query_id"), col("neighbor_id"), r6(col("sim_raw")).as("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** Array of `nBands` bucket ids (one per independent band of `nPlanes`
    * sign bits); position in the array is the band id. Native
    * [[graft.functions.RhpBuckets]] expression — the plane matrix lives in
    * an executor-side cache instead of ~nBands×nPlanes giant array literals
    * in the plan (which cost seconds of fixed analysis/codegen time per
    * query). Plane components are md5 draws ([[planesSql]] regenerates
    * them in DuckDB), so bucket ids hash-match cross-engine.
    */
  def lshBuckets(
      vec: Column, nBands: Int, nPlanes: Int, dim: Int, seed: Long = 42L): Column =
    call_function("rhp_buckets",
      vec.cast("array<double>"), lit(nBands), lit(nPlanes), lit(dim), lit(seed))

  /** Approximate top-k: explode each row into its `nBands` (band, bucket)
    * keys, hash-join corpus keys against the broadcast query keys, dedup
    * candidate pairs, rank by exact cosine within the candidate set. The
    * corpus side never shuffles for candidate generation; the only shuffle
    * carries deduped candidate pairs. Raising `nBands` raises recall at
    * linear cost (the multi-probe knob); `nPlanes` controls bucket
    * selectivity at scale.
    */
  /** The shared ANN tail: attach the broadcast query vectors to a
    * (query_id, neighbor_id, c_emb) candidate stream, verify each
    * candidate with one exact dot, keep the per-query top-k.
    */
  private[graft] def verifyAndRank(cands: DataFrame, qEmb: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_raw").desc, col("neighbor_id"))
    cands
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("sim_raw", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), r6(col("sim_raw")).as("cosine"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  def lshAnn(
      emb: DataFrame, nQueries: Int = 20, k: Int = 5,
      nBands: Int = 24, nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val banded = emb.select(
      col("vec_id"), col("embedding"),
      posexplode(lshBuckets(col("embedding"), nBands, nPlanes, dim))
        .as(Seq("band", "bucket")))
    val qKeys = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cands = banded
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("band"), col("bucket"))
      .join(broadcast(qKeys), Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("c_emb")).as("c_emb"))
    verifyAndRank(cands, qEmb, k)
  }

  /** sim3 — IVF-style ANN via single-cell indexing + query-directed
    * multi-probe (Lv et al. 2007): each corpus vector is indexed under
    * exactly ONE cell (its `nPlanes` sign bits — the memory-optimal index:
    * one entry per vector, vs `nBands` copies in [[lshAnn]]), and each
    * query inspects the `nProbe` most-likely cells, ordered by hyperplane
    * margin (native [[graft.functions.RhpProbes]]). Candidate generation
    * is a broadcast hash join of the tiny (query × probe) key set against
    * the corpus cell stream — the corpus never shuffles and never
    * replicates; recall is bought at query time (probes), not index time
    * (memory). Pairs are unique by construction (one cell per corpus row),
    * so no dedup stage is needed before the exact-cosine verify.
    *
    * Recall vs [[topkExact]] is asserted in `SimilaritySpec`. Same
    * near-orthogonal-corpus caveat as dd7: the synthetic corpus is the
    * worst-case regime for hyperplane LSH; on clustered production
    * embeddings the same parameters concentrate much faster.
    */
  def ivfAnn(
      emb: DataFrame, nQueries: Int = 20, k: Int = 5,
      nPlanes: Int = 4, dim: Int = 64, nProbe: Int = 8,
      seed: Long = 42L): DataFrame = {
    val cell = element_at(lshBuckets(col("embedding"), 1, nPlanes, dim, seed), 1)
    val corpus = emb.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      cell.as("bucket"))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(call_function("rhp_probes",
          col("embedding").cast("array<double>"),
          lit(nPlanes), lit(dim), lit(seed), lit(nProbe))).as("bucket"))
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cands = corpus
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("c_emb"))
    verifyAndRank(cands, qEmb, k)
  }

  // ------------------------------------------------------- persisted IVF

  /** Canonical location of the persisted IVF cell index for a scale dir
    * (same repo-local staging area as the CSV dim and the clean tables).
    * The build parameters are part of the path: an index is only valid for
    * the exact (nPlanes, dim, seed) that hashed it — a probe in a
    * different bucket space against stale cells would silently return
    * wrong candidates, so different parameters get different artifacts.
    */
  def ivfIndexPath(sfDir: String, nPlanes: Int, dim: Int, seed: Long): String =
    s"${sys.props("user.dir")}/target/ivf/${new java.io.File(sfDir).getName}" +
      s"/cells_p${nPlanes}_d${dim}_s$seed"

  /** Build the IVF cell index as a PERSISTED artifact: one row per corpus
    * vector — (cell, id, vector) — written parquet PARTITIONED BY the cell
    * id. This is the real IVF deployment shape: the index is built once
    * (one linear pass over the corpus, one shuffle on the cell key for the
    * writer), and every later ANN query probes it without re-hashing the
    * corpus. Partitioning by cell means a probe touches only its cells'
    * files — with a broadcast probe join Spark's dynamic partition pruning
    * skips every unprobed cell at the SCAN (audited in PlanSpec).
    *
    * The vector is stored cast to `array<double>` — exactly the value
    * [[cosine]] would cast at query time (float→double is exact), so
    * probe results are bit-identical to the rebuild-per-query [[ivfAnn]]
    * (asserted in SimilaritySpec).
    */
  /** The LAZY index frame — one row per corpus vector, keyed by its cell.
    * Split out so the build-logic spec can fingerprint it (the bucket
    * expression carries the hashing parameters).
    */
  private def ivfIndexFrame(
      emb: DataFrame, nPlanes: Int, dim: Int, seed: Long): DataFrame = {
    val cell = element_at(lshBuckets(col("embedding"), 1, nPlanes, dim, seed), 1)
    emb.select(
      col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("c_emb"),
      cell.as("bucket"))
  }

  def buildIvfIndex(
      emb: DataFrame, path: String,
      nPlanes: Int = 4, dim: Int = 64, seed: Long = 42L): Unit =
    ivfIndexFrame(emb, nPlanes, dim, seed)
      .repartition(col("bucket")) // one writer task per cell → one file per cell
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** sim4 — ANN over the PERSISTED index: ensure the cell index artifact
    * exists (build-once, marker-and-mtime staleness like the clean
    * tables), read it back, and serve the same margin-ranked multiprobe
    * query [[ivfAnn]] runs — but against the stored cells, so the query
    * plan never touches the corpus embeddings except for the `nQueries`
    * query vectors themselves. Candidate generation is a broadcast join of
    * the tiny (query × probe) key set against the cell-partitioned scan;
    * results are bit-identical to [[ivfAnn]].
    */
  def ivfAnnIndexed(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      nPlanes: Int = 4, dim: Int = 64, nProbe: Int = 8,
      seed: Long = 42L): DataFrame = {
    val emb = adm(spark, sfDir)
    val path = ivfIndexPath(sfDir, nPlanes, dim, seed)
    val source = new java.io.File(Tables.path(sfDir, "embeddings"))
    // pointer-swap snapshots (r16, replacing the in-place overwrite +
    // lock-captured listing): probes racing a rebuild read the previous
    // immutable snapshot — zero aborts under refresh. The plane FORMULA
    // version rides in the spec: the canonicalized plan prints
    // rhp_buckets(...) identically across derivation changes, so without
    // it a formula change would serve stale cells.
    val index = ivfIndexFrame(emb, nPlanes, dim, seed)
    val spec = graft.sources.Staging.planSpec(index) +
      "|" + graft.functions.RhpBuckets.FormulaVersion +
      "\n" + graft.sources.Staging.sourceStamp(Seq(source))
    // the cell column is left to the directory names, which type it by
    // the values written, as the probe-side cast below expects
    val corpus = graft.sources.ManifestStore.serve(
      spark, new java.io.File(path), spec, index.drop("bucket").schema,
      graft.sources.ManifestStore.IndexReaderGraceMs)(
      snapPath => buildIvfIndex(emb, snapPath, nPlanes, dim, seed))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(call_function("rhp_probes",
          col("embedding").cast("array<double>"),
          lit(nPlanes), lit(dim), lit(seed), lit(nProbe))).as("bucket_l"))
      // cast the tiny probe side to whatever type partition-column
      // inference actually gave the read-back (int today, but a wider
      // parameterization could infer long — a hardcoded int would then
      // truncate and silently empty the join); the cast lives in a
      // separate projection (a generator can't nest inside a cast),
      // keeping the scan's partition column bare so dynamic partition
      // pruning can latch onto it
      .select(col("query_id"),
        col("bucket_l").cast(corpus.schema("bucket").dataType).as("bucket"))
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cands = corpus
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("c_emb"))
    verifyAndRank(cands, qEmb, k)
  }

  // --------------------------------------------------- learned IVF (sim5)

  /** Deterministic Lloyd's k-means over the embedding corpus — the cell
    * TRAINER for learned IVF (the production ANN shape: cells follow the
    * data distribution instead of random hyperplanes, so the same probe
    * budget finds more true neighbors).
    *
    * Determinism contract — and since round 9, full ENGINE PORTABILITY
    * (the q36 scaled-integer discipline applied to Lloyd's, which is what
    * lets sim5 be hash-gated by a DuckDB oracle): init = the k
    * lowest-`vec_id` vectors (a production run swaps in k-means||, same
    * plan shape); assignment ties break on the lower cell id via a
    * lexicographic min-struct; centroid updates quantize each component
    * to the 1e-12 grid with the portable [[qround]] (exact IEEE ops, both
    * engines identical), sum those integers exactly as DECIMAL(38,0), and
    * take the FLOOR-division mean — every step is integer arithmetic or
    * a single identically-ordered IEEE op, so the centroids are
    * bit-identical across partitionings, JVMs, re-runs AND engines. A
    * decimal-sum/DECIMAL128-divide formulation was deterministic
    * in-engine but NOT cross-engine: DuckDB promotes decimal division to
    * DOUBLE, which disagreed with BigDecimal's 34-digit quotient in the
    * last ulp for ~half of all means (measured) — the quantized
    * floor-div kills that entire class. The 1e-12 grid perturbs
    * centroids by ≤ 5e-13 per component, noise relative to k-means'
    * own approximation; objective descent is still asserted in
    * SimilaritySpec.
    *
    * Scale per iteration: the corpus cross-joins the BROADCAST k-row
    * centroid table map-side, and the min-struct aggregation's map-side
    * partial collapse means the shuffle carries ONE row per vector, not
    * k; the component-mean aggregation shuffles (k × dim) partial rows
    * and collects k × dim values to the driver — centroid-scale, never
    * data-scale. Iterations are driver-looped like dd8's rounds.
    */
  /** SemDeDup/IVF's scaling contract is k ∝ n — cells stay ~bounded at
    * `targetCellSize` vectors however big the corpus grows, so the
    * within-cell quadratic (dd16) and the per-probe scan (sim5/sim7)
    * stay constant-cost. A FIXED k breaks that silently: at 100× the
    * corpus every cell is 100× bigger and the "bounded" scans aren't.
    * These two defaults are part of every derived-k oracle text
    * ([[lloydCellsSql]] re-derives k with the same integer ceil-div in
    * SQL), so they cannot drift between engines.
    */
  val DefaultTargetCellSize = 1024L
  val DefaultMinKCells = 16

  /** k = max(minK, ⌈n / targetCellSize⌉) — exact integer ceil-division,
    * identical in both engines (`greatest(minK, (count(*)+t-1) // t)`).
    */
  def deriveKCells(
      n: Long, targetCellSize: Long = DefaultTargetCellSize,
      minK: Int = DefaultMinKCells): Int =
    math.max(minK.toLong, (n + targetCellSize - 1) / targetCellSize).toInt

  def kmeansCentroids(
      emb: DataFrame, k: Int = 16, iters: Int = 5): Seq[(Int, Seq[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val x = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    var centroids: Seq[(Int, Seq[Double])] = x.orderBy(col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1) }.toSeq
    var it = 0
    while (it < iters) {
      // component sums on the 1e-12 integer grid: qround(comp·1e12) is an
      // exact integral double (|comp| ≲ 3 ⇒ |scaled| < 2^53), the
      // DECIMAL(38,0) cast is exact, and the sum is exact integer
      // arithmetic — order-independent AND engine-portable
      val sums = assignCells(x, centroids)
        .select(col("cell"), posexplode(col("x")).as(Seq("pos", "comp")))
        .groupBy(col("cell"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(qround(col("comp") * lit(1e12))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        .collect()
        .groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, prev) =>
        sums.get(cid) match {
          case Some(rows) =>
            val byPos = rows.map { r =>
              // floor-division mean on the grid, then the one double
              // division by the exact constant 1e12 — the same two steps
              // the SQL oracle runs ((s − pmod)/n via `//`, CAST AS
              // DOUBLE, / 1e12), so the doubles agree bit-for-bit
              val q = r.getDecimal(3)
                .divide(new java.math.BigDecimal(r.getLong(2)), 0,
                  java.math.RoundingMode.FLOOR)
                .doubleValue()
              r.getInt(1) -> q / 1e12
            }.toMap
            cid -> prev.indices.map(p => byPos(p))
          case None => cid -> prev // empty cell keeps its centroid
        }
      }
      it += 1
    }
    centroids
  }

  /** (cell, x) — each vector labeled with its nearest centroid. The
    * |c|² − 2x·c score orders identically to the L2 distance (|x|² is
    * constant per row); the min-struct carries the vector through the
    * aggregation so no second corpus join is needed.
    */
  private[graft] def assignCells(
      x: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = x.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec")))
    val score = dot(col("cvec"), col("cvec")) - lit(2.0) * dot(col("x"), col("cvec"))
    x.crossJoin(cdf)
      .select(col("vec_id"),
        struct(score.as("s"), col("cid").as("c"), col("x").as("v")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.c").as("cell"), col("m.v").as("x"))
  }

  /** Sum of squared distances to the assigned centroids (the k-means
    * objective), decimal-summed so it is deterministic — SimilaritySpec
    * asserts it never increases with more Lloyd iterations.
    */
  def kmeansObjective(
      emb: DataFrame, centroids: Seq[(Int, Seq[Double])]): Double = {
    val x = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val spark = emb.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec")))
    val d2 = dot(col("x"), col("x")) + dot(col("cvec"), col("cvec")) -
      lit(2.0) * dot(col("x"), col("cvec"))
    x.crossJoin(cdf)
      .groupBy(col("vec_id")).agg(min(d2).as("d2"))
      .agg(sum(col("d2").cast(org.apache.spark.sql.types.DecimalType(38, 18))))
      .head.getDecimal(0).doubleValue()
  }

  /** Canonical location of the LEARNED IVF artifact: trained centroids +
    * the corpus index partitioned by learned cell. Training parameters
    * are part of the path; a spec tag records the algorithm
    * version so a trainer change invalidates the artifact.
    */
  def learnedIvfPath(
      sfDir: String, k: Int, iters: Int, baseSplit: Option[Long] = None): String =
    s"${sys.props("user.dir")}/target/ivf/${new java.io.File(sfDir).getName}" +
      s"/learned_k${k}_i$iters" + baseSplit.map(s => s"_b$s").getOrElse("")

  /** Build (or reuse, under the staging lock + source-stamped spec) the
    * LEARNED IVF artifact and return its path: `centroids/` (the trained
    * k-row table) and `cells/` (the indexed corpus partitioned by learned
    * cell). With `baseSplit = Some(s)` only vectors `vec_id < s` are
    * trained on AND indexed — the BASE SEGMENT of a maintained index,
    * whose frozen centroids sim7's streaming ingest assigns new arrivals
    * against (the production coarse-quantizer freeze: training is a batch
    * job, ingest only evaluates the frozen quantizer map-side).
    */
  private[graft] def ensureLearnedIvf(
      spark: SparkSession, sfDir: String, kCells: Int, iters: Int,
      baseSplit: Option[Long] = None,
      targetCellSize: Long = DefaultTargetCellSize): String = {
    val emb0 = adm(spark, sfDir)
    val emb = baseSplit.map(s => emb0.filter(col("vec_id") < s)).getOrElse(emb0)
    // kCells <= 0 ⇒ derive k from the TRAINING subset's cardinality so
    // cell sizes stay ~targetCellSize at any corpus scale (one
    // metadata-scale count; the oracle derives the identical k in SQL)
    val k =
      if (kCells > 0) kCells
      else deriveKCells(emb.count(), targetCellSize)
    val path = learnedIvfPath(sfDir, k, iters, baseSplit)
    val source = new java.io.File(Tables.path(sfDir, "embeddings"))
    // v4: the index row carries the vector's LABEL payload beside the
    // embedding — the payload-in-index design real vector stores use
    // (metadata filters evaluate on the index row itself, sim19), paid
    // by one build-time join instead of a per-query label attach
    val spec = "kmeans-lloyd-v4 adm=finite-1e4-nonzero init=lowest-ids ties=cid means=qfloor-1e12 payload=label" +
      baseSplit.map(s => s" base<$s").getOrElse("") +
      "\n" + graft.sources.Staging.sourceStamp(Seq(source))
    // pointer-swap snapshots (r16): the in-place overwrite this replaces
    // kept ServeUnderRefreshSpec's documented abort window — a probe's
    // file listing racing a rebuild's delete. Snapshots are immutable and
    // GC keeps {current, previous}, so probes running through a retrain
    // never abort (the vector family's retrain-under-traffic posture).
    graft.sources.ManifestStore.ensureSnapshot(new java.io.File(path), spec,
        graft.sources.ManifestStore.IndexReaderGraceMs) { snap =>
      import spark.implicits._
      val centroids = kmeansCentroids(emb, k, iters)
      centroids.toDF("cid", "cvec")
        .write.mode("overwrite").parquet(s"$snap/centroids")
      assignCells(
          emb.select(col("vec_id"), col("embedding").cast("array<double>").as("x")),
          centroids)
        // payload attach (one build-time shuffle, never a query-time
        // one): label rides in the index row so filtered serving is a
        // map-side predicate on the probe scan (sim19)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .select(col("vec_id").as("neighbor_id"), col("x").as("c_emb"),
          col("label"), col("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$snap/cells")
      // oversized-cell guard: derived k bounds the MEAN cell at
      // targetCellSize, but a degenerate corpus (all vectors alike) can
      // still concentrate mass in one cell. Surface it loudly — the
      // remedy at scale is retraining with a larger k or splitting the
      // hot cell, both batch jobs over this same entry point. One
      // centroid-scale aggregate over the just-written index.
      val maxCell = spark.read.parquet(s"$snap/cells")
        .groupBy(col("cell")).count()
        .agg(max(col("count"))).head.getLong(0)
      if (kCells <= 0 && maxCell > 4 * targetCellSize)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[graft] learned IVF $snap: largest cell $maxCell > " +
            s"4x targetCellSize $targetCellSize — corpus is skewed; " +
            "retrain with larger k or split the hot cell")
    }.getAbsolutePath
  }

  /** Shared probe-and-serve tail over a cell-indexed corpus: nProbe
    * nearest centroids per query (tiny cross join), broadcast the (query
    * × probe) key set against the indexed corpus — partition pruning
    * skips unprobed cells on a partitioned scan — exact-cosine verify on
    * the candidates. The serving half of sim5, reused verbatim by sim7
    * over its base ∪ delta maintained index; with `sameLabel` the probe
    * set also carries the query's label and the candidate filter gains
    * the map-side label predicate — sim19's filtered serve, ONE text for
    * both so the probe tie-break/score/cast can never drift between the
    * filtered and unfiltered paths.
    */
  private[graft] def serveIvf(
      corpus: DataFrame, centroidsDf: DataFrame, emb: DataFrame,
      nQueries: Int, k: Int, nProbe: Int,
      sameLabel: Boolean = false): DataFrame = {
    val qCols = Seq(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qx")) ++
      (if (sameLabel) Seq(col("label").as("q_label")) else Nil)
    val q = emb.filter(col("vec_id") < nQueries).select(qCols: _*)
    val score = dot(col("cvec"), col("cvec")) - lit(2.0) * dot(col("qx"), col("cvec"))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("ps"), col("cid"))
    val probeCols = Seq(col("query_id")) ++
      (if (sameLabel) Seq(col("q_label")) else Nil) ++
      Seq(col("cid").cast(corpus.schema("cell").dataType).as("cell"))
    val probes = q.crossJoin(broadcast(centroidsDf))
      .select((Seq(col("query_id")) ++
        (if (sameLabel) Seq(col("q_label")) else Nil) ++
        Seq(col("cid"), score.as("ps"))): _*)
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select(probeCols: _*)
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val candFilter =
      if (sameLabel)
        col("neighbor_id") =!= col("query_id") && col("label") === col("q_label")
      else col("neighbor_id") =!= col("query_id")
    val cands = corpus
      .join(broadcast(probes), Seq("cell"))
      .filter(candFilter)
      .select(col("query_id"), col("neighbor_id"), col("c_emb"))
    verifyAndRank(cands, qEmb, k)
  }

  /** sim5 — ANN over LEARNED cells: ensure the k-means artifact (train
    * once under the staging lock, persist centroids + the cell-partitioned
    * corpus index), then serve queries by probing the `nProbe` nearest
    * centroids — a broadcast join of the tiny (query × probe) key set
    * against the partitioned scan, dynamic partition pruning skipping
    * every unprobed cell, exact cosine verify on the candidates. Fully
    * deterministic AND engine-portable end-to-end (see
    * [[kmeansCentroids]]), so since round 9 the driver check is a full
    * hash gate: the DuckDB oracle re-runs Lloyd's with one generated CTE
    * pair per iteration (the q36 pattern — constants can never drift
    * because the SQL is generated from the same parameters) and
    * reproduces the identical cells, probes, candidates and cosines.
    * SimilaritySpec additionally holds the determinism,
    * objective-descent and recall floors.
    */
  def ivfAnnLearned(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      kCells: Int = 0, iters: Int = 5, nProbe: Int = 4,
      targetCellSize: Long = DefaultTargetCellSize): DataFrame = {
    val emb = adm(spark, sfDir)
    val path = ensureLearnedIvf(spark, sfDir, kCells, iters,
      targetCellSize = targetCellSize)
    val corpus = spark.read.parquet(s"$path/cells")
    val centroidsDf = spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec"))
    serveIvf(corpus, centroidsDf, emb, nQueries, k, nProbe)
  }

  /** sim19 shared constant: filtered search probes MORE cells than the
    * unfiltered sim5 default — the standard selectivity compensation
    * (with labels ~uniform over L classes, a probed cell contributes
    * ~1/L of its members, so matching sim5's candidate depth needs more
    * cells; doubling 4 → 8 is the measured-sufficient setting for this
    * corpus's 10 labels, and SimilaritySpec holds the recall floor
    * against the exact filtered scan).
    */
  val FilteredNProbe: Int = 8

  /** sim19 — FILTERED vector search (metadata-constrained ANN): each
    * query retrieves its top-k among corpus vectors sharing the QUERY'S
    * OWN label — the constrained-retrieval shape every production
    * vector store serves ("nearest products in the same category",
    * "nearest passages from the same source"), and the feature that
    * separates an index from a toy: a post-filter over unfiltered top-k
    * silently returns FEWER than k (or nothing) for selective filters,
    * so the filter must participate in candidate generation.
    *
    * Design — payload-in-index (the Qdrant/Weaviate/Vespa attribute
    * store): [[ensureLearnedIvf]] writes the label INTO each index row,
    * so the filtered probe is sim5's probe plus ONE codegen'd map-side
    * predicate on the already-pruned cell scan — no query-time label
    * join, no second corpus pass, identical shuffle structure to the
    * unfiltered serve. Selectivity is compensated by probing
    * [[FilteredNProbe]] cells (see constant); the exact-cosine verify
    * tail and ranking are shared ([[verifyAndRank]]).
    *
    * Same artifact as sim5/sim7/sim15 (one index serves filtered and
    * unfiltered traffic — the operational point of payload-in-index),
    * spec-stamped v4 for the payload column.
    */
  def filteredAnnLearned(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      kCells: Int = 0, iters: Int = 5, nProbe: Int = FilteredNProbe,
      targetCellSize: Long = DefaultTargetCellSize): DataFrame = {
    val emb = adm(spark, sfDir)
    val path = ensureLearnedIvf(spark, sfDir, kCells, iters,
      targetCellSize = targetCellSize)
    val corpus = spark.read.parquet(s"$path/cells")
    val centroidsDf = spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec"))
    serveIvf(corpus, centroidsDf, emb, nQueries, k, nProbe, sameLabel = true)
  }

  /** dd16 — SEMANTIC DEDUPLICATION (the SemDeDup shape, Abbas et al.
    * 2023, arXiv:2303.09540): cluster the embedding corpus with k-means,
    * then search for near-duplicates ONLY within each cluster — the
    * clustering turns the O(n²) all-pairs cosine scan into k independent
    * within-cell scans, which is the entire scaling trick of
    * embedding-level dedup at LAION/100 TB scale — and since round 10 k
    * actually GROWS with the corpus: k = max(16, ⌈n/1024⌉) derived from
    * one metadata-scale count ([[deriveKCells]]; 16 at the staged test
    * scales, ~98 at the 50× rehearsal), so cells stay ~1024 vectors and
    * the within-cell quadratic stays constant-cost at any scale. A
    * vector is
    * PRUNED when a lower-id member of its own cell sits at cosine ≥ τ;
    * the emitted row names the closest such keeper (ties to the lower
    * id), its cell, and the cosine — the drop-list a corpus emit
    * anti-joins away (dd9's shape).
    *
    * Reuses sim5's learned-IVF artifact verbatim (same centroids, same
    * cell assignment, built once under the staging lock) — dedup and ANN
    * serving sharing one index is exactly how a production vector store
    * amortizes the clustering. Fully oracle-HASHED: cells come from the
    * portable quantized Lloyd's ([[kmeansCentroids]]), the within-cell
    * join is id-ordered, and the cosine is the same unit-vector dot dd6/
    * dd7 already hash-gate — the DuckDB twin re-runs the unrolled Lloyd's
    * (deriving the identical k from the identical count) and reproduces
    * every pruned row bit-for-bit.
    *
    * Plan shape: cells artifact (partitioned scan) → unitize → self-join
    * on cell (k keys; each side shuffles once on the cell id, cell sizes
    * ≈ targetCellSize by construction) → per-pair dot → per-pruned-vector
    * argmax — no all-pairs stage anywhere; the within-cell quadratic is
    * bounded because k scales with the corpus, with the oversized-cell
    * guard in [[ensureLearnedIvf]] flagging degenerate skew.
    */
  def semanticDedup(
      spark: SparkSession, sfDir: String, tau: Double = 0.4,
      kCells: Int = 0, iters: Int = 5,
      targetCellSize: Long = DefaultTargetCellSize): DataFrame = {
    val path = ensureLearnedIvf(spark, sfDir, kCells, iters,
      targetCellSize = targetCellSize)
    val cells = spark.read.parquet(s"$path/cells")
    // unitize the indexed vectors (norm materialized once — see unitized)
    val u = cells
      .select(col("cell"), col("neighbor_id").as("vec_id"),
        col("c_emb").as("v"))
      .select(col("cell"), col("vec_id"), col("v"),
        sqrt(norm2(col("v"))).as("nrm"))
      .select(col("cell"), col("vec_id"),
        transform(col("v"), x => x / col("nrm")).as("unit"))
    val a = u.select(col("cell"), col("vec_id").as("keep_id"), col("unit").as("ua"))
    val b = u.select(col("cell"), col("vec_id").as("vec_id"), col("unit").as("ub"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_raw").desc, col("keep_id"))
    a.join(b, Seq("cell"))
      .filter(col("keep_id") < col("vec_id"))
      .withColumn("cos_raw", dot(col("ua"), col("ub")))
      .filter(col("cos_raw") >= tau) // unrounded threshold, matching dd6/dd7
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("keep_id").as("dup_of"),
        col("cell").cast("int").as("cell"), r6(col("cos_raw")).as("cosine"))
      .orderBy(col("vec_id"))
  }

  /** (vec_id, unit) — L2-normalized double vectors, norm materialized FIRST
    * so it is computed once per row (an inline `x / sqrt(norm2(v))` inside
    * the transform lambda would re-evaluate the norm per ELEMENT: no
    * subexpression sharing in expression lambdas). After this, cosine of a
    * pair is a single dot product.
    */
  def unitized(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), sqrt(norm2(col("v"))).as("nrm"))
      .select(col("vec_id"),
        transform(col("v"), x => x / col("nrm")).as("unit"))

  /** The deterministic vector subset dd6's exact baseline runs on: the
    * `k` vectors with the smallest salted-md5 uniform draw (sa7's
    * bottom-k sampler shape — `TakeOrderedAndProject`, corpus never
    * shuffles, same rows from every engine/layout/re-run). The all-pairs
    * ground truth only has to EXIST on a statistically fair subset to
    * gate dd7's recall; it must not cost O(corpus²). With the cap, dd6
    * is O(k²) = constant work regardless of corpus size — at the test
    * scales (500 vectors) k=1000 covers everything, at sf0.1 (2000) it
    * already binds, and at 100 TB it is the only honest way to keep an
    * exact-cosine baseline alive at all.
    */
  def sampledVectors(
      emb: DataFrame, k: Int = 1000,
      salt: String = "graft-dd6-sample-v1"): DataFrame = {
    // ids-FIRST: the bottom-k runs over the NARROW (vec_id, u) pair so
    // it plans as TakeOrderedAndProject (per-partition k-row heaps, no
    // corpus shuffle); sorting with the embedding attached invites the
    // optimizer to push downstream wide projections (the unitize
    // transform) between the sort and the limit, which demotes the
    // top-k into a RANGE-PARTITIONED GLOBAL SORT of the corpus — the
    // exact plan this operator exists to avoid (caught by the dd24 plan
    // audit in round 11; dd6 had carried the sort since r8). The k-row
    // id set then broadcast-joins back to fetch its vectors: one extra
    // bounded join beats a corpus sort at any scale.
    val ids = emb
      .select(col("vec_id"), saltedUniform(salt, col("vec_id")).as("u"))
      .orderBy(col("u"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"))
    emb.join(broadcast(ids), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
  }

  /** dd6 — embedding-cosine near-duplicate pairs, EXACT baseline: every
    * pair with cosine ≥ threshold, via an all-pairs broadcast-nested-loop
    * over unit vectors (one dot per pair) — on the BOUNDED
    * [[sampledVectors]] subset, never the full corpus (r8's verdict: the
    * unbounded all-pairs was the repo's one cartesian scale-killer).
    * The honest exact answer on the sample, oracle-checked;
    * [[embedNearDupsLsh]] (dd7) is the sub-quadratic scale path whose
    * recall is measured against THIS, restricted to sampled endpoints.
    * The bottom-k result is a single partition, so the pair side is
    * re-spread across the cluster before the O(k²) dot loop.
    */
  def embedNearDupsExact(
      emb: DataFrame, minCosine: Double = 0.4, sampleK: Int = 1000): DataFrame = {
    val u = unitized(sampledVectors(emb, sampleK))
    val a = u.select(col("vec_id").as("vec_a"), col("unit").as("ua"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
    val b = u.select(col("vec_id").as("vec_b"), col("unit").as("ub"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos_raw", dot(col("ua"), col("ub")))
      // threshold on the UNROUNDED value — the oracle's WHERE does the
      // same; filtering on the rounded column would admit pairs that
      // round up across the boundary
      .filter(col("cos_raw") >= minCosine)
      .select(col("vec_a"), col("vec_b"), r6(col("cos_raw")).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** sim15 — ANN EVALUATION as a first-class operator: per query, the
    * recall@5 of the LSH index (sim2) against the exact scan (sim1) —
    * the number every production vector-serving stack monitors
    * continuously (an index that silently degrades — skewed inserts, a
    * stale quantizer — shows up HERE first, not in latency). Both sides
    * are deterministic hash-gated operators, so the METRIC itself is
    * hash-gated: the oracle wraps the two existing oracle texts as CTEs
    * and replays the same membership count — the evaluation can never
    * drift from the operators it evaluates.
    *
    * Scale: both inputs are the already-bounded query-set plans
    * (nQueries × k rows each); the join and rollup are metric-scale.
    * Swapping sim2 for sim3/sim5/sim10 as the candidate side gives the
    * same monitor for any index in the family.
    */
  def annRecall(emb: DataFrame, k: Int = AnnK): DataFrame = {
    // k feeds BOTH sides and the denominator — recall@k is only
    // meaningful when the exact list, the candidate list, and the
    // divisor agree on the depth
    val exact = topkExact(emb, k = k).select(col("query_id"), col("neighbor_id"))
    val ann = lshAnn(emb, k = k)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    exact.join(ann,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("n2")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        r6(col("n_hits").cast("double") / lit(k.toDouble)).as("recall"))
      .orderBy(col("query_id"))
  }

  /** The ANN family's top-k depth — single source for [[annRecall]]'s
    * default AND the sim15 oracle's recall denominator (the
    * HeadVocabSize pattern); must match the rank<=5 contract the sim1/
    * sim2 oracle texts encode, which the sim15 CTE wrap inherits.
    */
  val AnnK: Int = 5

  /** Index-health REFRESH THRESHOLDS — the ARTIFACTS.md triad's named
    * trigger values, as constants so the monitors, the ops runbook and
    * the drift test read ONE set of numbers. The triad is
    * complementary by design: a drifted corpus can COLLAPSE into few
    * cells (imbalance spikes, recall often survives — every neighbor is
    * in the one fat cell you probe, but tail latency dies) or SCATTER
    * across stale cell boundaries (recall dies at fixed nProbe while
    * imbalance looks fine); distortion attributes either to the
    * quantizer no longer fitting the data. `SimilaritySpec` proves both
    * drift modes trip their thresholds against a frozen
    * (base-half-trained) quantizer and that a full retrain restores all
    * three.
    */
  val HealthRecallFloor: Double = 0.8
  val HealthImbalanceMax: Double = 2.0
  val HealthDistortionGrowthMax: Double = 2.0

  /** dd24 shared constants — single source for the engine defaults AND
    * the generated oracle literals (the HeadVocabSize pattern).
    */
  val DecontTau: Double = 0.4
  val DecontEvalK: Int = 100
  val DecontSalt: String = "graft-dd24-eval-v1"

  /** dd24 — EMBEDDING-level decontamination: flag every training vector
    * whose cosine to ANY held-out eval vector clears `tau` — the
    * SEMANTIC companion of dd10/dd13's n-gram overlap screens
    * (paraphrased or lightly-rewritten eval items share no 8-gram but
    * sit right next to the eval point in embedding space; modern data
    * cards report exactly this screen beside the lexical one). One row
    * per contaminated training vector naming its closest eval neighbor
    * (ties on eval_id) — a manifest that scales with CONTAMINATION, not
    * corpus.
    *
    * Eval side = the deterministic salted bottom-k draw (its own salt,
    * bounded at `evalK` by construction — eval suites are bounded in
    * production too, the dd10 broadcast posture); the corpus side
    * anti-joins those ids out (an eval member must not screen itself)
    * and STREAMS against the broadcast eval set: one dot per (train,
    * eval) pair, no corpus shuffle, the τ cut on the raw double (the
    * dd6 rule), then the per-train argmax over the RARE surviving
    * candidates as a WindowGroupLimit. At 100 TB: corpus-linear scan
    * work × |eval|, and the candidate stream composes with sim2/sim5
    * probes when |eval| grows.
    */
  def embeddingDecontaminate(
      emb: DataFrame, tau: Double = DecontTau,
      evalK: Int = DecontEvalK): DataFrame = {
    val evalSet = unitized(sampledVectors(emb, evalK, DecontSalt))
      .select(col("vec_id").as("eval_id"), col("unit").as("ue"))
    val train = unitized(emb)
      .join(broadcast(evalSet.select(col("eval_id"))),
        col("vec_id") === col("eval_id"), "left_anti")
    val w = Window.partitionBy(col("train_id"))
      .orderBy(col("cos_raw").desc, col("eval_id"))
    train.select(col("vec_id").as("train_id"), col("unit"))
      .crossJoin(broadcast(evalSet))
      .withColumn("cos_raw", dot(col("unit"), col("ue")))
      .filter(col("cos_raw") >= tau)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("train_id"), col("eval_id"), r6(col("cos_raw")).as("cosine"))
      .orderBy(col("train_id"))
  }

  /** sim14 — mutual k-NN GRAPH construction: each vector's exact top-k
    * cosine neighbors, kept only where the relation is RECIPROCAL (a in
    * b's top-k AND b in a's top-k) — the graph substrate of NN-descent,
    * HNSW layer seeding and mutual-kNN clustering, and a sharper
    * near-dup signal than a raw threshold (a hub vector is top-k OF
    * many vectors without them being top-k of IT; mutuality prunes
    * hubs structurally). One row per unordered mutual pair with the
    * cosine and BOTH directed ranks.
    *
    * Runs on the bounded [[sampledVectors]] subset (the dd6 contract —
    * same salt, so the sample artifact is shared): the directed top-k
    * is the sim1 window-over-candidates cut per source, the mutual
    * filter is a self-join of two ≤ sample·k edge lists — pair-bounded,
    * never corpus-scaled. At 100 TB the exact scan swaps for sim2's
    * LSH candidates or sim10's probed-cell ADC as the directed-edge
    * generator; the mutuality join is unchanged (edge lists scale with
    * corpus·k, not corpus²).
    */
  def knnGraph(emb: DataFrame, sampleK: Int = 1000, k: Int = 4): DataFrame = {
    val u = unitized(sampledVectors(emb, sampleK))
    val a = u.select(col("vec_id").as("src"), col("unit").as("ua"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
    val b = u.select(col("vec_id").as("dst"), col("unit").as("ub"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_raw").desc, col("dst"))
    val knn = a.join(broadcast(b), col("src") =!= col("dst"))
      .withColumn("cos_raw", dot(col("ua"), col("ub")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("cos_raw"), col("rank"))
    // mutual = the low-id orientation joined against its reverse edge
    val fwd = knn.filter(col("src") < col("dst"))
    val rev = knn.filter(col("src") > col("dst"))
      .select(col("dst").as("src"), col("src").as("dst"),
        col("rank").as("rank_back"))
    fwd.join(rev, Seq("src", "dst"))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"),
        r6(col("cos_raw")).as("cosine"),
        col("rank").cast("long").as("rank_ab"),
        col("rank_back").cast("long").as("rank_ba"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** dd7 — the LSH near-dup path: multi-band hyperplane buckets, NARROW
    * candidate stream ((band, bucket, vec_id) only — carrying vectors
    * through the bucket join would multiply the shuffle by the vector
    * width), pair dedup, then unit vectors re-attach and one exact dot
    * verifies each candidate. False positives are impossible; recall is
    * 1−(1−p^r)^b with p = 1−θ/π. NOTE the synthetic corpus is
    * near-orthogonal, so at the test threshold 0.4 the margin over
    * background is thin (p≈0.63, recall ≈ 0.98 at r=4, b=24, but ~80% of
    * ALL pairs become candidates); at production near-dup thresholds
    * (cos ≥ 0.8, p ≥ 0.8) the same bands give recall > 0.9999 with
    * sharply bounded candidate volume — the regime this operator targets.
    */
  /** The (band, bucket) posting lists dd7 emits pairs from — shared with
    * the cap-headroom probe [[maxLshBucket]] so the guard audits the
    * exact pipeline that runs.
    */
  private def lshBucketLists(
      emb: DataFrame, nBands: Int, nPlanes: Int, dim: Int): DataFrame = {
    val banded = emb.select(
      col("vec_id"),
      posexplode(lshBuckets(col("embedding"), nBands, nPlanes, dim))
        .as(Seq("band", "bucket")))
    banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("vec_id"), lit(0L)))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("ds"))
  }

  /** Largest LSH bucket over `emb` — the dd7 cap-divergence probe (see
    * [[graft.operators.Dedup.maxBandBucket]]'s rationale): oracle-gated
    * scales must sit below the hub-and-spoke cap with headroom, asserted
    * per gated sf in SimilaritySpec.
    */
  private[graft] def maxLshBucket(
      emb: DataFrame, nBands: Int = 24, nPlanes: Int = 4,
      dim: Int = 64): Long =
    lshBucketLists(emb, nBands, nPlanes, dim)
      .agg(coalesce(max(size(col("ds"))), lit(0))).head.getInt(0).toLong

  /** dd7's bucket cap — ONE source for the engine default AND the
    * generated oracle literal (the HeadVocabSize pattern): above it a
    * bucket emits the hub-and-spoke star, and since r16 the oracle text
    * replicates that semantics instead of assuming every oracle-gated
    * scale sits under the cap (sf1 does not: ~50k vectors over 16
    * buckets/band put EVERY typical bucket past 1024, which is also
    * exactly what made the naive all-pairs oracle quadratic there).
    */
  val Dd7MaxBucket = 1024

  def embedNearDupsLsh(
      emb: DataFrame, minCosine: Double = 0.4,
      nBands: Int = 24, nPlanes: Int = 4, dim: Int = 64,
      maxBucket: Int = Dd7MaxBucket): DataFrame = {
    // Same linear shape as the dd3/dd4/dd5 candidate generators: bucket
    // posting lists (one shuffle) + map-side pair_combs emission — a
    // banded self-join would compute the signature subtree twice and
    // shuffle both sides.
    val lists = lshBucketLists(emb, nBands, nPlanes, dim)
    // Skew guard (dd3's maxDf idea at the bucket level): a bucket larger
    // than maxBucket — millions of identical vectors all hashing to one
    // (band, bucket) — emits a hub-and-spoke star over its minimum
    // vec_id instead of all B²/2 combinations, so one adversarial bucket
    // can neither OOM an executor nor emit quadratic candidates. Since
    // r16 the ORACLE text replicates the same cap semantics (star over
    // min vec_id above Dd7MaxBucket), so the hash gate holds at every
    // scale — sf1's typical bucket is ~3k and the old below-cap-only
    // oracle was both wrong there and quadratic (the r15 timeout);
    // SimilaritySpec's cap-headroom gate remains as the record of which
    // scales exercise which path; the cluster stays connected through the hub for
    // downstream collapse.
    val pairs = lists
      .select(explode(call_function("pair_combs", col("ds"), lit(maxBucket))).as("p"))
      .select(col("p.doc_a").as("vec_a"), col("p.doc_b").as("vec_b"))
      .distinct()
    val u = unitized(emb)
    pairs
      .join(u.select(col("vec_id").as("vec_a"), col("unit").as("ua")), Seq("vec_a"))
      .join(u.select(col("vec_id").as("vec_b"), col("unit").as("ub")), Seq("vec_b"))
      .withColumn("cos_raw", dot(col("ua"), col("ub")))
      .filter(col("cos_raw") >= minCosine) // unrounded, matching dd6
      .select(col("vec_a"), col("vec_b"), r6(col("cos_raw")).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Engine-portable round-half-away-from-zero: `sign(x)·⌊|x| + 0.5⌋` —
    * abs and floor are EXACT IEEE ops and the one rounding (+0.5) is
    * identical everywhere, so the result is bit-identical in Spark and
    * DuckDB even on knife-edge halves. Spark's own `round()` goes through
    * BigDecimal's shortest-string representation (the r6 pitfall) and
    * cannot be trusted at .5 boundaries.
    */
  private def qround(x: Column): Column = signum(x) * floor(abs(x) + lit(0.5))

  /** sim6 — INT8 SCALAR QUANTIZATION for similarity search: each vector
    * stored as 64 small integers (round(127·x/maxabs)) plus one scale —
    * the 4-8× memory/bandwidth reduction every production embedding store
    * takes (the SQ stage of FAISS/ScaNN) — and searched by integer dot
    * products rescaled by the two scales. The scan side at 100 TB reads
    * a quarter of the bytes and the dot is integer arithmetic.
    *
    * Fully oracle-HASHABLE, unlike the hash-based ANN family: the
    * quantized components are integers (portable via [[qround]]), the
    * 64-term integer dot is exact in a double at ANY accumulation order
    * (|q|≤127 ⇒ |dot| ≤ 64·127² ≪ 2^53), and the rescale is two IEEE
    * multiplications applied in a fixed order. Ranking uses the
    * UNDIVIDED `dot·m₁·m₂` (division by the constant 127² cannot change
    * order; it is applied only to the displayed score). Zero vectors are
    * guarded by `greatest(m, 1e-30)` → quantize to zeros, never NaN.
    *
    * Plan shape: sim1's — broadcast query set × corpus stream,
    * WindowGroupLimit top-k, linear in the corpus.
    */
  def quantizedTopk(emb: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val e = col("embedding").cast("array<double>")
    val m = greatest(array_max(transform(e, x => abs(x))), lit(1e-30))
    val base = emb
      .withColumn("m", m)
      .withColumn("qv", transform(e, x => qround(x * lit(127.0) / col("m"))))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("m").as("qm"))
    val c = base.select(col("vec_id").as("neighbor_id"), col("qv").as("c_qv"), col("m").as("cm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ord").desc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("ord", dot(col("q_qv"), col("c_qv")) * col("qm") * col("cm"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        r6(col("ord") / lit(16129.0)).as("approx_dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- sim9

  /** Canonical location of the PQ codebook artifact (tiny: m × ks
    * centroid rows). Durable under target/ like [[learnedIvfPath]].
    */
  def pqCodebookPath(sfDir: String, m: Int, ks: Int, iters: Int): String =
    s"${sys.props("user.dir")}/target/pq/${new java.io.File(sfDir).getName}" +
      s"/cb_m${m}_ks${ks}_i$iters"

  /** Build (or reuse, under the staging lock + source-stamped spec) the
    * per-subspace PQ codebooks and return them collected: `m` independent
    * runs of the engine-portable quantized Lloyd's ([[kmeansCentroids]]),
    * each over the corpus's `j`-th `dim/m`-component slice. Codebook
    * training is the INDEX-BUILD batch job of a PQ store (the FAISS
    * `train()` step) — a serve must never retrain, so the artifact
    * carries the same freshness contract as the IVF index. The collect is
    * m × ks × (dim/m) = dim × ks doubles — centroid-scale, never
    * corpus-scale.
    */
  private[graft] def ensurePqCodebooks(
      spark: SparkSession, sfDir: String, m: Int, ks: Int, iters: Int,
      dim: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val sub = dim / m
    val path = pqCodebookPath(sfDir, m, ks, iters)
    val source = new java.io.File(Tables.path(sfDir, "embeddings"))
    val spec = s"pq-codebooks-v2 adm=finite-1e4-nonzero m=$m ks=$ks sub=$sub " +
      "init=lowest-ids ties=cid means=qfloor-1e12\n" +
      graft.sources.Staging.sourceStamp(Seq(source))
    // pointer-swap snapshots (r16): retrain publishes a NEW codebook dir
    // and swaps — a serve loading codebooks mid-retrain reads one intact
    // generation, never a torn or deleted one
    val snap = graft.sources.ManifestStore.ensureSnapshot(
        new java.io.File(path), spec,
        graft.sources.ManifestStore.IndexReaderGraceMs) { p =>
      import spark.implicits._
      val x = adm(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
      trainPqCodebooks(x, m, ks, iters, sub)
        .toDF("j", "code", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/codebooks")
    }
    loadPqCodebooks(spark, s"$snap/codebooks", m)
  }

  /** m independent runs of the portable Lloyd's, one per `sub`-component
    * slice of the input vectors — the shared training step of sim9 (raw
    * vectors) and sim10 (coarse-cell residuals).
    */
  private def trainPqCodebooks(
      x: DataFrame, m: Int, ks: Int, iters: Int,
      sub: Int): Seq[(Int, Int, Seq[Double])] =
    (0 until m).flatMap { j =>
      val subDf = x.select(col("vec_id"),
        slice(col("x"), j * sub + 1, sub).as("embedding"))
      kmeansCentroids(subDf, ks, iters).map { case (cid, c) => (j, cid, c) }
    }

  private def loadPqCodebooks(
      spark: SparkSession, path: String, m: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val loaded = spark.read.parquet(path)
      .collect() // m × ks rows — codebook-scale by construction
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1)
    (0 until m).map(j =>
      loaded(j).map(t => t._2 -> t._3).sortBy(_._1).toSeq)
  }

  /** Nearest codebook entry for the `j`-th `sub`-component slice of
    * `xCol` — the deterministic PQ encode (ties to the lower code), a
    * pure per-row expression over codebook literals.
    */
  private def pqCodeExpr(
      xCol: Column, cbs: Seq[Seq[(Int, Seq[Double])]], j: Int,
      sub: Int): Column = {
    val xj = slice(xCol, j * sub + 1, sub)
    val scored = cbs(j).map { case (cid, c) =>
      val cv = typedLit(c)
      struct((dot(cv, cv) - lit(2.0) * dot(xj, cv)).as("s"), lit(cid).as("c"))
    }
    array_min(array(scored: _*)).getField("c")
  }

  /** sim9 — PRODUCT QUANTIZATION top-k (Jégou et al. 2011, the PQ stage
    * of FAISS/ScaNN — THE 100 TB ANN representation): split each vector
    * into `m` subspaces, learn a `ks`-entry codebook per subspace
    * ([[ensurePqCodebooks]], a build-once locked artifact), store each
    * corpus vector as `m` small codes (dim doubles → m bytes: a 64× cut
    * in scan bandwidth beyond even sim6's int8), and score
    * query–candidate pairs ASYMMETRICALLY — the query stays exact; each
    * candidate's approximate dot is Σⱼ LUTⱼ[codeⱼ], a table lookup per
    * subspace instead of a `dim`-term dot product. Top-`nCand` by
    * approximate score are re-ranked with exact cosines, so the output
    * contract (and schema) is sim1's.
    *
    * Fully oracle-HASHED despite being an approximation — the same
    * discipline that graduated sim5: codebooks come from the portable
    * quantized Lloyd's run per subspace (the oracle unrolls m × iters
    * Lloyd steps keyed by the subspace id in ONE CTE chain), encoding is
    * the deterministic argmin (ties to the lower code), and each LUT
    * entry is quantized to the 1e-6 integer grid ([[qround]]) so the
    * per-candidate score is a SUM OF INTEGERS — exact at any
    * accumulation order in both engines, which is what makes the
    * candidate ranking (iscore DESC, neighbor_id) bit-reproducible.
    * Without that quantization a 4-double sum would be
    * association-order-dependent and the rank-`nCand` boundary could
    * flip between engines.
    *
    * Plan shape, scan side: encode is a stateless map over the corpus
    * (codebook literals, the sim7 frozen-quantizer discipline — no join,
    * no shuffle); scoring joins the m-exploded codes against a BROADCAST
    * (query × m × ks) LUT and partial-aggregates map-side, so the
    * shuffle carries one row per (query, vector); the `nCand` cut is a
    * rank filter Spark rewrites to WindowGroupLimit (per-partition
    * top-nCand before the exchange); verify touches only nQueries ×
    * nCand rows. Linear in the corpus, candidate-bounded verify — the
    * PQ scan contract.
    */
  def pqTopk(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      m: Int = 4, ks: Int = 16, pqIters: Int = 3, nCand: Int = 40,
      dim: Int = 64): DataFrame = {
    val sub = dim / m
    val cbs = ensurePqCodebooks(spark, sfDir, m, ks, pqIters, dim)
    val emb = adm(spark, sfDir)
    val x = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    // encode: per-subspace argmin over ks codebook literals — pure
    // per-row expressions, the frozen quantizer rides into the plan
    val codes = x.select(col("vec_id").as("neighbor_id"),
      posexplode(array((0 until m).map(j =>
        pqCodeExpr(col("x"), cbs, j, sub)): _*)).as(Seq("j", "code")))
    // LUT: one integer-quantized partial dot per (query, subspace, code)
    val spark2 = spark; import spark2.implicits._
    val cbDf = broadcast(
      cbs.zipWithIndex.flatMap { case (cs, j) =>
        cs.map { case (cid, c) => (j, cid, c) }
      }.toDF("j", "code", "cvec"))
    val q = x.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("x").as("qx"))
    val lut = q.crossJoin(cbDf)
      .select(col("query_id"), col("j"), col("code"),
        qround(dot(slice(col("qx"), col("j") * lit(sub) + lit(1), lit(sub)),
          col("cvec")) * lit(1e6)).cast("long").as("ipdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("iscore").desc, col("neighbor_id"))
    val cand = codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("ipdot")).as("iscore"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCand)
      .select(col("query_id"), col("neighbor_id"))
    val cEmb = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    verifyAndRank(
      cEmb.join(broadcast(cand), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("c_emb")),
      qEmb, k)
  }

  /** sim16 — PQ QUANTIZATION-DISTORTION monitor: per subspace, the mean
    * squared error between each vector slice and its nearest codebook
    * entry — the codebook-staleness signal that pairs with sim15's
    * recall monitor (ARTIFACTS.md rule 3): recall tells you the END
    * effect of a stale quantizer, distortion tells you WHICH subspace's
    * codebook drifted and by how much, before recall visibly degrades.
    * Production vector stores track exactly this pair (FAISS's
    * imbalance/quantization-error stats).
    *
    * Hash-gated like sim9: the per-(vector, subspace) error
    * ‖xⱼ − c‖² = xⱼ·xⱼ + (c·c − 2·xⱼ·c) is quantized to the 1e-6
    * integer grid ([[qround]]) BEFORE aggregation, so the per-subspace
    * sum is a SUM OF INTEGERS — exact at any accumulation order in both
    * engines; the mean divides once at the end (r6). The argmin reuses
    * the encode's score expression, so the monitored distortion is BY
    * CONSTRUCTION the one the sim9 index actually incurs.
    *
    * Scale: one stateless map pass over the corpus (codebook literals,
    * no join) + one m-row aggregate — map-side-combined, shuffle
    * carries m rows per partition. Linear, skew-free, artifact-bounded.
    */
  def pqDistortion(
      spark: SparkSession, sfDir: String, m: Int = 4, ks: Int = 16,
      pqIters: Int = 3, dim: Int = 64): DataFrame = {
    val sub = dim / m
    val cbs = ensurePqCodebooks(spark, sfDir, m, ks, pqIters, dim)
    val x = adm(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val errs = (0 until m).map { j =>
      val xj = slice(col("x"), j * sub + 1, sub)
      val scored = cbs(j).map { case (cid, c) =>
        val cv = typedLit(c)
        struct((dot(cv, cv) - lit(2.0) * dot(xj, cv)).as("s"),
          lit(cid).as("c"))
      }
      val best = array_min(array(scored: _*)).getField("s")
      qround((dot(xj, xj) + best) * lit(1e6)).cast("long")
    }
    x.select(posexplode(array(errs: _*)).as(Seq("j", "e")))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("e")).as("sum_err_q"))
      .select(col("j"), col("n_vecs"), col("sum_err_q"),
        r6(col("sum_err_q").cast("double") / col("n_vecs") / lit(1e6))
          .as("mean_sq_err"))
      .orderBy(col("j"))
  }

  /** sim16's oracle: the shared [[pqLloydSqlPrefix]] codebook chain,
    * then the same min-score + grid-quantize + integer-sum arithmetic.
    * The error expression parenthesizes EXACTLY as the engine's
    * `xx + (cc − 2xc)` — double addition is not associative, and the
    * grid quantization happens per row in both engines, so the sums
    * compare as integers.
    */
  private def pqDistortionSql(
      m: Int = 4, ks: Int = 16, iters: Int = 3, dim: Int = 64): String = {
    val err = "(list_dot_product(v, v) + s)"
    s"""${pqLloydSqlPrefix(m, ks, iters, dim)},
       |sc AS (SELECT sv.vec_id, sv.j, sv.v,
       |    min(list_dot_product(c.c, c.c) - 2 * list_dot_product(sv.v, c.c)) AS s
       |  FROM sv JOIN c$iters c ON c.j = sv.j
       |  GROUP BY sv.vec_id, sv.j, sv.v),
       |er AS (SELECT j, CAST(${qrSql(err, "1000000.0")} AS BIGINT) AS e
       |  FROM sc)
       |SELECT j, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(e) AS BIGINT) AS sum_err_q,
       |  round((CAST(sum(e) AS DOUBLE) / count(*) / 1000000.0) * 1e6) / 1e6
       |    AS mean_sq_err
       |FROM er GROUP BY j ORDER BY j""".stripMargin
  }

  /** sim17 — IVF CELL-IMBALANCE monitor: FAISS's imbalance factor
    * `k · Σ nᶜ² / N²` over the learned-IVF assignment — 1.0 is perfect
    * balance, and every unit above it multiplies the EXPECTED probe
    * cost (a probe lands in a cell with probability nᶜ/N and then scans
    * nᶜ rows, so expected scan = Σ nᶜ²/N = imbalance · N/k). This is
    * the TAIL-LATENCY signal beside sim15 (recall) and sim16
    * (distortion): a skewing corpus fattens hot cells long before
    * recall moves, and the fix — retrain with larger k or split the hot
    * cell — is a batch job over the same [[ensureLearnedIvf]] entry
    * point (whose oversized-cell guard is the alarm form of this
    * monitor; this is the continuous, hash-gated metric form).
    *
    * Exact and hash-gated: counts are integers, Σ nᶜ² is a BIGINT sum
    * (fits as long as cells stay within ~10⁶× of the derived target —
    * comfortably at any realistic skew), and the single division
    * happens once at the end (r6, identical parenthesization in the
    * twin). One aggregate over the cell-partitioned index — k-scale
    * work, no corpus scan (the partition column is all it reads).
    */
  def cellImbalance(
      spark: SparkSession, sfDir: String, kCells: Int = 0,
      iters: Int = 5): DataFrame = {
    val path = ensureLearnedIvf(spark, sfDir, kCells, iters)
    val k = spark.read.parquet(s"$path/centroids").count()
    val cs = spark.read.parquet(s"$path/cells")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val kd = lit(k).cast("double")
    cs.agg(count(lit(1)).as("nonempty_cells"), sum(col("n")).as("n_vecs"),
        sum(col("n") * col("n")).as("sum_sq"))
      .select(lit(k).as("k_cells"), col("nonempty_cells"), col("n_vecs"),
        col("sum_sq"),
        r6((kd * col("sum_sq").cast("double") / col("n_vecs").cast("double"))
          / col("n_vecs").cast("double")).as("imbalance"))
  }

  /** sim17's oracle: the shared unrolled-Lloyd chain re-derives the
    * full-corpus assignment (`a6`), then the same integer cell counts
    * and the identical ((k·Σn²/N)/N) parenthesization.
    */
  private def cellImbalanceSql(iters: Int = 5, dim: Int = 64): String =
    s"""${lloydCellsSql(0, iters, dim, "")},
       |cs AS (SELECT cell, count(*) AS n FROM a${iters + 1} GROUP BY cell),
       |kk AS (SELECT count(*) AS k FROM c$iters)
       |SELECT CAST(kk.k AS BIGINT) AS k_cells,
       |  CAST((SELECT count(*) FROM cs) AS BIGINT) AS nonempty_cells,
       |  CAST((SELECT sum(n) FROM cs) AS BIGINT) AS n_vecs,
       |  CAST((SELECT sum(n * n) FROM cs) AS BIGINT) AS sum_sq,
       |  round(((CAST(kk.k AS DOUBLE)
       |      * (SELECT CAST(sum(n * n) AS DOUBLE) FROM cs)
       |      / (SELECT CAST(sum(n) AS DOUBLE) FROM cs))
       |    / (SELECT CAST(sum(n) AS DOUBLE) FROM cs)) * 1e6) / 1e6
       |    AS imbalance
       |FROM kk""".stripMargin

  /** sim20 split-phase iteration count — single source for the engine
    * AND the generated oracle text (the sim17 pattern).
    */
  val Sim20SplitIters: Int = 3

  /** Core of the sim20 hot-cell split, factored over a plain
    * (vec_id, x, cell) assignment so the skew drill in SimilaritySpec
    * can drive it on a staged-hot corpus: cells holding more than 1.25×
    * the mean mass (the exact integer test `4·k·n > 5·N` — no doubles,
    * engine-portable) get a per-cell 2-MEANS over their own members
    * (init = the two lowest vec_ids, the lowest-ids convention;
    * assignment ties break to the lower sub id, the ties=cid
    * convention; means on the same qfloor-1e12 grid as
    * [[kmeansCentroids]], so every arithmetic step is the trainer's).
    * Returns the post-split assignment (vec_id, cell, sub) of the hot
    * cells' members only — reassignment touches NOTHING outside the
    * hot cells, which is the point: at 100 TB this is a
    * partition-local rewrite of exactly the oversized partitions, not
    * a full retrain.
    */
  private[graft] def splitHotCells(
      cells: DataFrame, splitIters: Int = Sim20SplitIters): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val t = counts.agg(sum(col("n")), count(lit(1))).head
    val (nn, kk) = (t.getLong(0), t.getLong(1))
    val hot = counts.filter(col("n") * lit(4L) * lit(kk) > lit(5L) * lit(nn))
    val members = cells.join(broadcast(hot.select(col("cell"))), Seq("cell"))
    val iw = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    var cent = members
      .withColumn("rn", row_number().over(iw)).filter(col("rn") <= 2)
      .select(col("cell"), (col("rn") - lit(1)).cast("int").as("sub"),
        col("x").as("cvec"))
    def assigned(c: DataFrame): DataFrame = {
      val score =
        dot(col("cvec"), col("cvec")) - lit(2.0) * dot(col("x"), col("cvec"))
      members.join(broadcast(c), Seq("cell"))
        .withColumn("arn", row_number().over(
          Window.partitionBy(col("cell"), col("vec_id"))
            .orderBy(score, col("sub"))))
        .filter(col("arn") === 1)
        .select(col("cell"), col("sub"), col("vec_id"), col("x"))
    }
    var it = 0
    while (it < splitIters) {
      // the kmeansCentroids update verbatim, keyed by (cell, sub):
      // component sums on the 1e-12 integer grid, floor-division mean,
      // one double division by the exact constant — the oracle runs the
      // same two steps, so the doubles agree bit-for-bit
      val sums = assigned(cent)
        .select(col("cell"), col("sub"),
          posexplode(col("x")).as(Seq("pos", "comp")))
        .groupBy(col("cell"), col("sub"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(qround(col("comp") * lit(1e12))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      // bounded collect: (hot cells × 2 × dim) centroid components — the
      // kmeansCentroids posture (the distributed work is the aggregate)
      val next = cent.collect().map { r =>
        val key = (r.getInt(0), r.getInt(1))
        sums.get(key) match {
          case Some(rows) =>
            val byPos = rows.map { g =>
              val q = g.getDecimal(4)
                .divide(new java.math.BigDecimal(g.getLong(3)), 0,
                  java.math.RoundingMode.FLOOR)
                .doubleValue()
              g.getInt(2) -> q / 1e12
            }.toMap
            (key._1, key._2, r.getSeq[Double](2).indices.map(p => byPos(p)))
          case None => (key._1, key._2, r.getSeq[Double](2))
        }
      }.toSeq
      cent = next.toDF("cell", "sub", "cvec")
      it += 1
    }
    assigned(cent).select(col("cell"), col("sub"), col("vec_id"))
  }

  /** sim20 — HOT-CELL SPLIT, the maintenance job sim17's alarm names:
    * when the imbalance monitor (or [[ensureLearnedIvf]]'s
    * oversized-cell guard) flags mass concentration, the remedy is NOT
    * a full retrain — it is a 2-means over exactly the hot cells'
    * members, leaving every healthy cell (and therefore the serving
    * hashes of every query that never probes a split cell) untouched.
    * This registry query is the split PLAN + verdict report: one row
    * per hot cell with its mass and the two post-split sub-cell sizes —
    * what an index operator reviews before committing the
    * partition-local rewrite. The threshold here is deliberately LOW
    * (1.25× mean mass) so the machinery is exercised and hash-gated on
    * every staged corpus; the production guard (4× target cell size)
    * and the health-restoration claim — a skew-staged corpus trips
    * [[HealthImbalanceMax]], the split restores it below threshold —
    * are drilled in SimilaritySpec over the same [[splitHotCells]]
    * core.
    *
    * Scale: member reassignment is per-hot-cell local (the broadcast
    * side is 2 centroids per hot cell); the only corpus-scale work is
    * the partition-pruned scan of the hot cells themselves.
    */
  def hotCellSplit(
      spark: SparkSession, sfDir: String, kCells: Int = 0,
      iters: Int = 5, splitIters: Int = Sim20SplitIters): DataFrame = {
    val path = ensureLearnedIvf(spark, sfDir, kCells, iters)
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("neighbor_id").as("vec_id"),
        col("c_emb").cast("array<double>").as("x"),
        col("cell").cast("int").as("cell"))
    splitHotCells(cells, splitIters)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("sub") === 0, 1L).otherwise(0L)).as("n_sub0"),
        sum(when(col("sub") === 1, 1L).otherwise(0L)).as("n_sub1"))
      .orderBy(col("cell"))
  }

  /** sim20's oracle: the shared unrolled-Lloyd chain re-derives the
    * full-corpus assignment, the same exact integer hot test, then the
    * per-cell 2-means unrolled with the trainer's conventions
    * (lowest-ids init, (dist, sub) ties, qfloor-grid means) and the
    * final per-cell sub sizes.
    */
  private def hotCellSplitSql(
      iters: Int = 5, dim: Int = 64,
      splitIters: Int = Sim20SplitIters): String = {
    def qr(e: String) =
      s"sign($e * 1000000000000.0) * floor(abs($e * 1000000000000.0) + 0.5)"
    val steps = (1 to (splitIters + 1)).map { j =>
      // MATERIALIZED: each level is referenced by both the next assign
      // and the next update — inlined CTEs would re-evaluate the whole
      // Lloyd prefix once per reference (exponential in splitIters)
      val assign =
        s"""t$j AS MATERIALIZED (
           |  SELECT cell, vec_id, v, sub FROM (
           |    SELECT h.cell, h.vec_id, h.v, s.sub,
           |      row_number() OVER (PARTITION BY h.cell, h.vec_id ORDER BY
           |        list_dot_product(s.c, s.c) - 2 * list_dot_product(h.v, s.c),
           |        s.sub) AS rn
           |    FROM hm h JOIN s${j - 1} s ON s.cell = h.cell) WHERE rn = 1)""".stripMargin
      if (j > splitIters) assign
      else
        s"""$assign,
           |u$j AS (
           |  SELECT cell, sub, p, count(*) AS n,
           |    sum(CAST(${qr("v[p]")} AS HUGEINT)) AS s
           |  FROM t$j, range(1, ${dim + 1}) r(p) GROUP BY cell, sub, p),
           |s$j AS MATERIALIZED (
           |  SELECT pc.cell, pc.sub, coalesce(nc.c, pc.c) AS c
           |  FROM s${j - 1} pc LEFT JOIN (
           |    SELECT cell, sub, list(comp ORDER BY p) AS c FROM (
           |      SELECT cell, sub, p,
           |        CAST((s - ((s % n) + n) % n) // n AS DOUBLE)
           |          / 1000000000000.0 AS comp
           |      FROM u$j) GROUP BY cell, sub) nc
           |    ON nc.cell = pc.cell AND nc.sub = pc.sub)""".stripMargin
    }.mkString(",\n")
    s"""${lloydCellsSql(0, iters, dim, "")},
       |cz AS (SELECT cell, count(*) AS n FROM a${iters + 1} GROUP BY cell),
       |tz AS (SELECT sum(n) AS nn, count(*) AS kk FROM cz),
       |hz AS (SELECT cz.cell FROM cz, tz WHERE cz.n * 4 * tz.kk > 5 * tz.nn),
       |hm AS MATERIALIZED (SELECT a.vec_id, a.v, a.cell
       |       FROM a${iters + 1} a JOIN hz ON a.cell = hz.cell),
       |s0 AS MATERIALIZED (SELECT cell, CAST(rn - 1 AS INT) AS sub, v AS c FROM (
       |    SELECT cell, vec_id, v,
       |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
       |    FROM hm) WHERE rn <= 2),
       |$steps
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_before,
       |  CAST(sum(CASE WHEN sub = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sub0,
       |  CAST(sum(CASE WHEN sub = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sub1
       |FROM t${splitIters + 1} GROUP BY cell ORDER BY cell""".stripMargin
  }

  // --------------------------------------------------------------- sim10

  /** Canonical location of the IVFPQ index artifact: residual codebooks
    * (`codebooks/`) + the PQ-encoded cell-partitioned corpus (`enc/`).
    * Keyed on the coarse params it was built over (`kd` = derived k).
    */
  def ivfPqIndexPath(
      sfDir: String, iters: Int, m: Int, ks: Int, pqIters: Int): String =
    s"${sys.props("user.dir")}/target/ivfpq/${new java.io.File(sfDir).getName}" +
      s"/enc_kd_i${iters}_m${m}_ks${ks}_p$pqIters"

  /** Build (or reuse) the IVFPQ index over the coarse learned-IVF
    * artifact: compute each indexed vector's RESIDUAL against its coarse
    * centroid, train per-subspace codebooks ON THE RESIDUALS (the
    * Jégou et al. refinement that makes IVFPQ beat flat PQ — residuals
    * concentrate near 0, so the same ks entries quantize far finer), and
    * store the corpus as (cell, m codes): the full-precision vectors
    * leave the index entirely — at 100 TB this is what turns a
    * petabyte-scale scan into cell-local table lookups over a few bytes
    * per vector. Returns (codebooks, encPath). Lock order is strictly
    * ivfpq → base (never the reverse), the sim8 discipline.
    */
  private[graft] def ensureIvfPqIndex(
      spark: SparkSession, sfDir: String, kCells: Int, iters: Int,
      m: Int, ks: Int, pqIters: Int, dim: Int,
      targetCellSize: Long = DefaultTargetCellSize):
      (Seq[Seq[(Int, Seq[Double])]], String) = {
    val sub = dim / m
    val coarsePath = ensureLearnedIvf(spark, sfDir, kCells, iters,
      targetCellSize = targetCellSize)
    val path = ivfPqIndexPath(sfDir, iters, m, ks, pqIters)
    val source = new java.io.File(Tables.path(sfDir, "embeddings"))
    // coarse=$coarsePath now carries the coarse SNAPSHOT id — a coarse
    // retrain (new snapshot, new path) invalidates this artifact by spec,
    // the dependency the old constant-path spec only caught via the stamp
    val spec = s"ivfpq-v2 adm=finite-1e4-nonzero m=$m ks=$ks sub=$sub pqIters=$pqIters " +
      s"coarse=$coarsePath init=lowest-ids ties=cid means=qfloor-1e12\n" +
      graft.sources.Staging.sourceStamp(Seq(source))
    // pointer-swap snapshots (r16): same retrain-under-traffic posture as
    // the coarse artifact — probes pinned to the previous generation
    // complete; the swap is atomic
    val snap = graft.sources.ManifestStore.ensureSnapshot(
        new java.io.File(path), spec,
        graft.sources.ManifestStore.IndexReaderGraceMs) { snapPath =>
      {
        import spark.implicits._
        val centroids = broadcast(spark.read.parquet(s"$coarsePath/centroids")
          .select(col("cid").as("cell"),
            col("cvec").cast("array<double>").as("cvec")))
        // residual = vector − its coarse centroid (element-wise exact)
        // persisted for the build only: the m × pqIters Lloyd jobs and
        // the encode pass all re-read the residuals
        val resid = spark.read.parquet(s"$coarsePath/cells")
          .join(centroids, Seq("cell"))
          .select(col("neighbor_id").as("vec_id"), col("cell"),
            zip_with(col("c_emb").cast("array<double>"), col("cvec"),
              (a, b) => a - b).as("x"))
          .persist()
        trainPqCodebooks(resid.select(col("vec_id"), col("x")),
            m, ks, pqIters, sub)
          .toDF("j", "code", "cvec")
          .coalesce(1).write.mode("overwrite").parquet(s"$snapPath/codebooks")
        val cbs = loadPqCodebooks(spark, s"$snapPath/codebooks", m)
        resid.select(col("vec_id").as("neighbor_id"), col("cell"),
            array((0 until m).map(j =>
              pqCodeExpr(col("x"), cbs, j, sub)): _*).as("codes"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$snapPath/enc")
        resid.unpersist()
        ()
      }
    }
    (loadPqCodebooks(spark, s"$snap/codebooks", m), snap.getAbsolutePath)
  }

  /** sim10 — IVF + PQ (the FAISS `IVFPQ` index, the configuration that
    * actually serves billion-vector corpora): sim5's learned coarse
    * quantizer routes each query to its `nProbe` nearest cells, and
    * WITHIN those cells candidates are scored from sim9's product codes
    * — computed on COARSE RESIDUALS — via per-(query, cell) lookup
    * tables: ‖q − (c + ê)‖² decomposes exactly per subspace, so each
    * candidate costs m integer adds, over only the probed slice of the
    * corpus. Top-`nCand` by quantized distance re-rank with exact
    * cosines (sim1's output contract; the full-precision vectors live
    * outside the index, fetched only for the nQueries × nCand finalists
    * — at 100 TB that is the difference between scanning petabytes and
    * scanning megabytes).
    *
    * Hash-gated by composition of the two disciplines that gated its
    * parents: every quantizer is the portable Lloyd's (coarse: sim5's
    * chain; residual: sim9's per-subspace chain seeded and updated the
    * same way), the LUT entries are 1e-6-grid integers (order-free
    * sums), and every tie breaks on ids. The oracle replays coarse
    * train → residuals → residual-PQ train → encode → probe → LUT →
    * integer-distance cut → exact verify, entirely from the query's own
    * parameters.
    *
    * Plan shape: probes and LUT are broadcast-scale (nQueries × nProbe ×
    * m × ks rows); the enc scan joins them on (cell, j, code) so DPP
    * prunes unprobed cell partitions; partial aggregation ships one row
    * per (query, candidate); WindowGroupLimit cuts to nCand before the
    * final exchange; verify is candidate-bounded.
    */
  def ivfpqTopk(
      spark: SparkSession, sfDir: String, nQueries: Int = 20, k: Int = 5,
      kCells: Int = 0, iters: Int = 5, nProbe: Int = 4, m: Int = 4,
      ks: Int = 16, pqIters: Int = 3, nCand: Int = 40,
      dim: Int = 64): DataFrame = {
    val sub = dim / m
    val (cbs, encPath) = ensureIvfPqIndex(spark, sfDir, kCells, iters,
      m, ks, pqIters, dim)
    val coarsePath = ensureLearnedIvf(spark, sfDir, kCells, iters)
    val emb = adm(spark, sfDir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qx"))
    val centroidsDf = broadcast(spark.read.parquet(s"$coarsePath/centroids")
      .select(col("cid"), col("cvec").cast("array<double>").as("cvec")))
    // nProbe nearest coarse cells per query, centroid vector kept — the
    // LUT is built on the residual target q − c of each probed cell
    val pscore = dot(col("cvec"), col("cvec")) -
      lit(2.0) * dot(col("qx"), col("cvec"))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("ps"), col("cid"))
    val probes = q.crossJoin(centroidsDf)
      .select(col("query_id"), col("qx"), col("cid"), col("cvec"), pscore.as("ps"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cid").as("cell"), col("qx"), col("cvec"))
    // LUT: ‖(q_j − c_j) − e_{j,code}‖² on the 1e-6 integer grid, one row
    // per (query, probed cell, subspace, code) — broadcast-scale
    val spark2 = spark; import spark2.implicits._
    val cbDf = broadcast(
      cbs.zipWithIndex.flatMap { case (cs, j) =>
        cs.map { case (cid, c) => (j, cid, c) }
      }.toDF("j", "code", "ecvec"))
    val target = zip_with(
      slice(col("qx"), col("j") * lit(sub) + lit(1), lit(sub)),
      slice(col("cvec"), col("j") * lit(sub) + lit(1), lit(sub)),
      (a, b) => a - b)
    val lut = probes.crossJoin(cbDf)
      .withColumn("dv", zip_with(target, col("ecvec"), (a, b) => a - b))
      .select(col("query_id"), col("cell"), col("j"), col("code"),
        qround(dot(col("dv"), col("dv")) * lit(1e6)).cast("long").as("ipd"))
    // ADC scan: probed cells only (DPP via the broadcast join on cell),
    // m integer adds per candidate, partial agg before the one shuffle
    val enc = spark.read.parquet(s"$encPath/enc")
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("idist"), col("neighbor_id"))
    val cand = enc.join(broadcast(lut), Seq("cell", "j", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("ipd")).as("idist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCand)
      .select(col("query_id"), col("neighbor_id"))
    val cEmb = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    verifyAndRank(
      cEmb.join(broadcast(cand), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("c_emb")),
      qEmb, k)
  }

  // ----------------------------------------------------------------- sim11

  /** λ and 1−λ are both spelled as LITERALS (the BM25 discipline — a
    * derived `1.0 - 0.7` lands on a different double than the parsed
    * `0.3`), so Scala and the generated SQL multiply by the exact same
    * constants.
    */
  val MmrLambda = 0.7
  val MmrOneMinusLambda = 0.3

  /** sim11 — MMR (Maximal Marginal Relevance) diversity re-rank: the
    * serving-stack step AFTER retrieval. From each query's top-`m` exact
    * candidates, greedily select `k` results maximizing
    *
    *   λ·sim(q,c) − (1−λ)·max_{s ∈ selected} sim(c,s)
    *
    * — relevance minus redundancy, so near-duplicate neighbors (which the
    * corpus is full of — see dd6/dd16) stop crowding out distinct results.
    * Step 1 is the plain-relevance argmax (empty selected set ⇒ no
    * penalty term); ties break on neighbor_id at every step.
    *
    * The greedy recurrence is sequential PER QUERY but queries are
    * independent, so the scale shape mirrors sa9's packing: every float
    * the decision depends on (query-candidate and candidate-candidate
    * cosines) is computed DISTRIBUTED by the same codegen'd
    * [[cosine]]/vec_dot path the sim1/dd6 oracles hash-match, and only
    * the k-scale greedy walk — comparisons, max(), two multiplies by
    * literal constants per score — runs inside a `cogroup` over the
    * per-query candidate set (m rows) and pair matrix (m·(m−1)/2 rows,
    * one orientation: cosine is bit-commutative — per-index products and
    * the norm product each commute exactly). No corpus shuffle: candidate
    * generation is sim1's broadcast top-m; the cogroup moves m+m²/2 rows
    * per query. A 10⁶-query batch fans the groups across the cluster
    * unchanged.
    *
    * Oracle: the identical greedy unrolled one CTE pair per step
    * (penalty-join + argmax pick), generated from the same
    * (nQueries, m, k, λ) — the q36/sim5 generated-SQL pattern.
    */
  def mmrRerank(
      emb: DataFrame, nQueries: Int = 10, m: Int = 12, k: Int = 5): DataFrame = {
    require(m >= k, "mmrRerank: candidate pool smaller than selection")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("simq").desc, col("neighbor_id"))
    val cand = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("simq", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(col("query_id"), col("neighbor_id"), col("c_emb"),
        col("simq"), col("rn"))
    val pair = cand.select(col("query_id"), col("neighbor_id").as("na"),
        col("c_emb").as("ea"))
      .join(cand.select(col("query_id").as("qb"), col("neighbor_id").as("nb"),
        col("c_emb").as("eb")),
        col("query_id") === col("qb") && col("na") < col("nb"))
      .withColumn("simc", cosine(col("ea"), col("eb")))
      .select(col("query_id"), col("na"), col("nb"), col("simc"))
    val candK = cand.select(col("query_id"), col("neighbor_id"), col("simq"),
        col("rn"))
      .as[(Long, Long, Double, Int)].groupByKey(_._1)
    val pairK = pair.as[(Long, Long, Long, Double)].groupByKey(_._1)
    val picked = candK.cogroup(pairK) { (qid, cit, pit) =>
      // k-scale state: m candidates + the symmetric pair map
      val cs = cit.toArray.sortBy(_._4)
      val sims = new scala.collection.mutable.HashMap[(Long, Long), Double]
      pit.foreach { case (_, na, nb, s) =>
        sims((na, nb)) = s; sims((nb, na)) = s
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val remaining = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      cs.foreach { case (_, nid, simq, rn) =>
        if (rn == 1) { selected += nid; out += ((qid, nid, 1L, MmrLambda * simq)) }
        else remaining += ((nid, simq))
      }
      var step = 2L
      while (step <= k && remaining.nonEmpty) {
        var bestId = -1L; var bestScore = 0.0; var first = true
        remaining.foreach { case (nid, simq) =>
          var pen = Double.NegativeInfinity
          selected.foreach { s =>
            val v = sims((nid, s)); if (v > pen) pen = v
          }
          val score = MmrLambda * simq - MmrOneMinusLambda * pen
          if (first || score > bestScore ||
              (score == bestScore && nid < bestId)) {
            bestId = nid; bestScore = score; first = false
          }
        }
        selected += bestId
        out += ((qid, bestId, step, bestScore))
        remaining --= remaining.filter(_._1 == bestId)
        step += 1L
      }
      out.iterator
    }
    picked.toDF("query_id", "neighbor_id", "step", "mmr_score")
      .withColumn("mmr_score", r6(col("mmr_score")))
      .orderBy(col("query_id"), col("step"))
  }

  /** sim11's oracle: candidate pool + pair matrix via
    * `list_cosine_similarity` (the sim1-established bit-match for the
    * engine's vec_dot cosine), then the greedy selection unrolled one
    * (penalty, pick, selected-set) CTE triple per step.
    */
  private[graft] def mmrOracleSql(
      nQueries: Int = 10, m: Int = 12, k: Int = 5): String = {
    val steps = (2 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT c.query_id, c.neighbor_id, c.simq, max(pp.simc) AS pen
         |  FROM cand c
         |  JOIN sel${i - 1} s ON s.query_id = c.query_id
         |  JOIN pr pp ON pp.query_id = c.query_id
         |    AND ((pp.na = c.neighbor_id AND pp.nb = s.neighbor_id)
         |      OR (pp.na = s.neighbor_id AND pp.nb = c.neighbor_id))
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
         |    WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
         |  GROUP BY c.query_id, c.neighbor_id, c.simq),
         |s$i AS (SELECT query_id, neighbor_id, CAST($i AS BIGINT) AS step, score
         |  FROM (SELECT query_id, neighbor_id,
         |      $MmrLambda * simq - $MmrOneMinusLambda * pen AS score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $MmrLambda * simq - $MmrOneMinusLambda * pen DESC,
         |          neighbor_id) AS pk
         |    FROM p$i) WHERE pk = 1),
         |sel$i AS MATERIALIZED (SELECT query_id, neighbor_id FROM sel${i - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |cs AS MATERIALIZED (SELECT q.query_id, c.vec_id AS neighbor_id, c.v AS cv,
       |    list_cosine_similarity(c.v, q.qv) AS simq,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rn
       |  FROM e c JOIN q ON c.vec_id <> q.query_id),
       |cand AS MATERIALIZED (SELECT query_id, neighbor_id, cv, simq FROM cs WHERE rn <= $m),
       |pr AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,
       |    list_cosine_similarity(a.cv, b.cv) AS simc
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id),
       |s1 AS (SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS step,
       |    $MmrLambda * simq AS score
       |  FROM cs WHERE rn = 1),
       |sel1 AS (SELECT query_id, neighbor_id FROM s1),
       |$steps
       |SELECT query_id, neighbor_id, step,
       |  round(score * 1e6) / 1e6 AS mmr_score
       |FROM ($unionAll) ORDER BY query_id, step""".stripMargin
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim11_mmr_rerank" -> ((s: SparkSession, d: String) => mmrRerank(adm(s, d))),
    "sim9_pq_topk" -> ((s: SparkSession, d: String) => pqTopk(s, d)),
    "sim16_pq_distortion" ->
      ((s: SparkSession, d: String) => pqDistortion(s, d)),
    "sim17_cell_imbalance" ->
      ((s: SparkSession, d: String) => cellImbalance(s, d)),
    "sim20_hot_cell_split" ->
      ((s: SparkSession, d: String) => hotCellSplit(s, d)),
    "sim10_ivfpq_topk" -> ((s: SparkSession, d: String) => ivfpqTopk(s, d)),
    "sim6_quantized_topk" -> ((s: SparkSession, d: String) =>
      quantizedTopk(adm(s, d))),
    "sim1_topk_exact" -> ((s: SparkSession, d: String) => topkExact(adm(s, d))),
    "sim15_ann_recall" -> ((s: SparkSession, d: String) => annRecall(adm(s, d))),
    "sim12_hard_negatives" -> ((s: SparkSession, d: String) => hardNegatives(adm(s, d))),
    "sim13_range_search" -> ((s: SparkSession, d: String) => rangeSearch(adm(s, d))),
    "sim14_knn_graph" -> ((s: SparkSession, d: String) => knnGraph(adm(s, d))),
    "dd24_embedding_decontaminate" -> ((s: SparkSession, d: String) =>
      embeddingDecontaminate(adm(s, d))),
    "sim2_ann_lsh" -> ((s: SparkSession, d: String) => lshAnn(adm(s, d))),
    "sim3_ann_ivf" -> ((s: SparkSession, d: String) => ivfAnn(adm(s, d))),
    "sim4_ann_ivf_indexed" -> ((s: SparkSession, d: String) => ivfAnnIndexed(s, d)),
    "sim5_ann_ivf_learned" -> ((s: SparkSession, d: String) => ivfAnnLearned(s, d)),
    "sim19_filtered_ann" -> ((s: SparkSession, d: String) => filteredAnnLearned(s, d)),
    // dd6's all-pairs BNLJ is CPU-bound with no shuffle to restore
    // parallelism — it used the rebalanced raw read for that; the staged
    // adm store is written at default parallelism, so the plain staged
    // scan now supplies the same fan-out with no extra exchange
    "dd6_embed_neardup" -> ((s: SparkSession, d: String) => embedNearDupsExact(adm(s, d))),
    "dd7_embed_neardup_lsh" -> ((s: SparkSession, d: String) => embedNearDupsLsh(adm(s, d))),
    "dd16_semantic_dedup" -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    // sim18 reads the RAW table by design — it reports what the screen
    // rejects, so it must see the rejected rows
    "sim18_vec_hygiene" ->
      ((s: SparkSession, d: String) => vecHygiene(Tables.embeddings(s, d))))

  /** The DuckDB twin of [[graft.functions.RhpBuckets.planes]]: a `pl`
    * CTE body regenerating the identical hyperplane matrix — component
    * (band, p, d) = md5-52-bit-prefix("rhp:seed:band:p:d") / 2^52 − 0.5,
    * assembled into a dim-ordered list so `list_dot_product` accumulates
    * in the same left-to-right order as the engine's dot loop (doubles
    * bit-identical ⇒ sign bits, buckets, and candidate sets identical).
    */
  private def planesSql(nBands: Int, nPlanes: Int, dim: Int, seed: Long): String =
    s"""SELECT band, p, list(
       |    ('0x' || substring(md5('rhp:$seed:' || band || ':' || p || ':' || d), 1, 13))::BIGINT
       |      / CAST(4503599627370496 AS DOUBLE) - 0.5 ORDER BY d) AS w
       |  FROM range($nBands) bb(band), range($nPlanes) pp(p), range($dim) dd(d)
       |  GROUP BY band, p""".stripMargin

  /** Shared verify-and-rank tail of every ANN oracle — the SQL twin of
    * [[verifyAndRank]] (exact cosine, top-k by (cosine DESC, neighbor_id),
    * r6 rounding), applied to a `cand(query_id, neighbor_id)` CTE over the
    * `e(vec_id, v)` double-cast embeddings.
    */
  private val verifyRankSql: String =
    """sims AS (SELECT cand.query_id, cand.neighbor_id,
      |    list_cosine_similarity(ce.v, qe.v) AS s
      |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
      |            JOIN e ce ON ce.vec_id = cand.neighbor_id),
      |r AS (SELECT query_id, neighbor_id, s,
      |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, neighbor_id, round(s * 1e6) / 1e6 AS cosine,
      |  CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** sim3's full probe-and-serve pipeline in SQL — also sim4's oracle
    * verbatim (the persisted index changes WHERE the cells live, not what
    * they contain; bit-identity is asserted in SimilaritySpec).
    */
  private val ivfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pl AS (${planesSql(1, 4, 64, 42L)}),
       |dots AS (SELECT e.vec_id, pl.p, list_dot_product(e.v, pl.w) AS s
       |  FROM e CROSS JOIN pl),
       |cells AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id),
       |qm AS (SELECT vec_id, p, s FROM dots WHERE vec_id < 20),
       |fl AS (
       |  SELECT vec_id, 0.0 AS score, CAST(0 AS BIGINT) AS mask
       |  FROM cells WHERE vec_id < 20
       |  UNION ALL
       |  SELECT vec_id, abs(s), CAST(1::BIGINT << p AS BIGINT) FROM qm
       |  UNION ALL
       |  SELECT a.vec_id, abs(a.s) + abs(b.s),
       |    CAST((1::BIGINT << a.p) | (1::BIGINT << b.p) AS BIGINT)
       |  FROM qm a JOIN qm b ON a.vec_id = b.vec_id AND a.p < b.p),
       |pr AS (SELECT vec_id, mask,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY score, mask) AS rn
       |  FROM fl),
       |probes AS (SELECT c.vec_id AS query_id, xor(c.bucket, p.mask) AS bucket
       |  FROM cells c JOIN pr p ON p.vec_id = c.vec_id AND p.rn <= 8
       |  WHERE c.vec_id < 20),
       |cand AS (SELECT pb.query_id, c.vec_id AS neighbor_id
       |  FROM cells c JOIN probes pb ON c.bucket = pb.bucket
       |  WHERE c.vec_id <> pb.query_id),
       |$verifyRankSql""".stripMargin

  val oracles: Map[String, String] = (baseOracles +
    // sim15's oracle WRAPS the two oracle texts it evaluates as CTEs
    // (DuckDB accepts nested WITH in a CTE body) and replays the same
    // membership count — the evaluation metric can never drift from the
    // operators it measures; the /5 matches sim1's rank<=5 contract
    ("sim15_ann_recall" ->
      s"""WITH x AS (${baseOracles("sim1_topk_exact")}),
         |a AS (${baseOracles("sim2_ann_lsh")})
         |SELECT x.query_id,
         |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
         |  round((CAST(count(a.neighbor_id) AS DOUBLE) / $AnnK) * 1e6) / 1e6
         |    AS recall
         |FROM x LEFT JOIN a
         |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin))
    // every oracle in the family reads the admitted corpus, exactly like
    // the engine side — the ONE exception is sim18, the screen's
    // reporting twin, whose whole point is the raw rows
    .map { case (k, sql) => k -> onAdmissible(sql) } +
    ("sim18_vec_hygiene" ->
      s"""WITH s AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |                   x -> coalesce(x, 0.0)) AS sane
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(coalesce(len(list_filter(v,
        |      x -> x IS NULL OR isnan(x) OR abs(x) > $MaxAbsComponent)), -1) AS BIGINT)
        |    AS n_bad_components,
        |  coalesce(list_dot_product(sane, sane) = 0, false) AS zero_norm,
        |  coalesce(len(list_filter(v,
        |      x -> x IS NULL OR isnan(x) OR abs(x) > $MaxAbsComponent)) = 0
        |    AND list_dot_product(sane, sane) > 0, false) AS admitted
        |FROM s ORDER BY vec_id""".stripMargin)

  private lazy val baseOracles: Map[String, String] = Map(
    // the greedy MMR recurrence unrolled per step — candidate/pair
    // cosines via the sim1-established list_cosine_similarity bit-match
    "sim11_mmr_rerank" -> mmrOracleSql(),
    // the OR-amplified multi-band pipeline re-derived: identical md5
    // hyperplanes, per-band sign-bit buckets, (band, bucket) equi-join,
    // pair dedup, exact-cosine verify — the candidate SET hash-matches,
    // not just a recall floor
    "sim2_ann_lsh" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pl AS MATERIALIZED (${planesSql(24, 4, 64, 42L)}),
         |bk AS MATERIALIZED (SELECT e.vec_id, pl.band,
         |    CAST(sum(CASE WHEN list_dot_product(e.v, pl.w) >= 0
         |             THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.band),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         |$verifyRankSql""".stripMargin,
    "sim3_ann_ivf" -> ivfOracleSql,
    "sim4_ann_ivf_indexed" -> ivfOracleSql,
    // dd7's multi-band near-dup pairs: sim2's bucketing at the same
    // parameters, pair dedup, then dd6's unit-vector dot and threshold
    "dd7_embed_neardup_lsh" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pl AS MATERIALIZED (${planesSql(24, 4, 64, 42L)}),
         |bk AS MATERIALIZED (SELECT e.vec_id, pl.band,
         |    CAST(sum(CASE WHEN list_dot_product(e.v, pl.w) >= 0
         |             THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.band),
         |grp AS MATERIALIZED (SELECT band, bucket, count(*) AS n, min(vec_id) AS hub
         |  FROM bk GROUP BY band, bucket HAVING count(*) > 1),
         |pairs AS MATERIALIZED (SELECT DISTINCT vec_a, vec_b FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN grp g ON g.band = a.band AND g.bucket = a.bucket
         |  WHERE g.n <= $Dd7MaxBucket
         |  UNION ALL
         |  SELECT g.hub, b.vec_id
         |  FROM grp g JOIN bk b
         |    ON b.band = g.band AND b.bucket = g.bucket AND b.vec_id > g.hub
         |  WHERE g.n > $Dd7MaxBucket)),
         |u AS MATERIALIZED (SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[])))) AS unit
         |  FROM embeddings)
         |SELECT p.vec_a, p.vec_b,
         |  round(list_dot_product(ua.unit, ub.unit) * 1e6) / 1e6 AS cosine
         |FROM pairs p JOIN u ua ON ua.vec_id = p.vec_a
         |             JOIN u ub ON ub.vec_id = p.vec_b
         |WHERE list_dot_product(ua.unit, ub.unit) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    // the m-subspace Lloyd chain, deterministic encode, integer LUT sums,
    // top-nCand cut and exact verify — see pqTopkSql
    "sim9_pq_topk" -> pqTopkSql(),
    // the shared Lloyd prefix + the engine's exact (xx + (cc - 2xc))
    // parenthesization, grid-quantized per row, integer sums per subspace
    "sim16_pq_distortion" -> pqDistortionSql(),
    // the shared Lloyd chain re-derives the assignment; integer counts,
    // one r6 division with the engine's parenthesization
    "sim17_cell_imbalance" -> cellImbalanceSql(),
    "sim20_hot_cell_split" -> hotCellSplitSql(),
    // coarse chain + residual-PQ chain + probed-cell integer ADC — see
    // ivfPqTopkSql
    "sim10_ivfpq_topk" -> ivfPqTopkSql(),
    // identical quantize-dot-rescale formulation: sign·floor(|x|+0.5)
    // rounding, integer dots exact in doubles, rank on the undivided
    // dot·m1·m2 (dividing by the 127² constant cannot reorder)
    "sim6_quantized_topk" ->
      """WITH b AS (SELECT vec_id,
        |  greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                                   x -> abs(x))), 1e-30) AS m,
        |  CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |z AS (SELECT vec_id, m,
        |  list_transform(e, x -> sign(x * 127.0 / m)
        |    * floor(abs(x * 127.0 / m) + 0.5)) AS qv
        |  FROM b),
        |p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  list_dot_product(q.qv, n.qv) * q.m * n.m AS ord
        |  FROM z q JOIN z n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20),
        |r AS (SELECT query_id, neighbor_id, ord,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY ord DESC, neighbor_id) AS rank
        |  FROM p)
        |SELECT query_id, neighbor_id,
        |  round(ord / 16129.0 * 1e6) / 1e6 AS approx_dot,
        |  CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // sim1's exact scan with the label-mismatch predicate in the join —
    // self-pairs drop for free (a vector shares its own label)
    "sim12_hard_negatives" ->
      """SELECT query_id, q_label, neighbor_id, n_label, cosine, rank FROM (
        |  SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS q_label,
        |    c.vec_id AS neighbor_id, CAST(c.label AS BIGINT) AS n_label,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(q.embedding AS DOUBLE[])) * 1e6) / 1e6 AS cosine,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])) DESC,
        |      c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.label != q.label
        |  WHERE q.vec_id < 20) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "sim1_topk_exact" ->
      """SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(q.embedding AS DOUBLE[])), 6) AS cosine,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])) DESC,
        |      c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 20) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // The oracle mirrors the ENGINE's float path exactly — the same
    // bottom-k salted-md5 sample first (sampledVectors' draw regenerated
    // from the shared constants), then unit vectors
    // the engine's cosine path mirrored op-for-op (sequential dot ≡
    // list_dot_product, sqrt·sqrt then one divide), raw-double τ
    // predicate, r6 only on the emitted value; literals generated from
    // RangeNQueries/RangeTau so the defaults cannot drift
    "sim13_range_search" ->
      s"""SELECT query_id, neighbor_id, round(s * 1e6) / 1e6 AS cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(CAST(q.embedding AS DOUBLE[]),
         |                     CAST(c.embedding AS DOUBLE[]))
         |    / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
         |                             CAST(q.embedding AS DOUBLE[])))
         |     * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
         |                             CAST(c.embedding AS DOUBLE[])))) AS s
         |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < $RangeNQueries) t
         |WHERE s >= $RangeTau ORDER BY query_id, neighbor_id""".stripMargin,
    // (x / sqrt(dot(v,v))), then a sequential dot — so the raw doubles
    // agree bit-for-bit and the unrounded threshold admits the same pair
    // set in both engines.
    "dd6_embed_neardup" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
         |  ORDER BY ${saltedUniformSql("graft-dd6-sample-v1", "vec_id")}, vec_id
         |  LIMIT 1000),
         |u AS (SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[])))) AS unit
         |  FROM s)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.unit, b.unit) * 1e6) / 1e6 AS cosine
         |FROM u a JOIN u b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.unit, b.unit) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    // the same salted bottom-k eval draw, NOT-IN anti filter, broadcast
    // pair dots with the raw-double τ cut, and the (cos DESC, eval_id)
    // argmax — all literals from the shared dd24 constants
    "dd24_embedding_decontaminate" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
         |  ORDER BY ${saltedUniformSql(DecontSalt, "vec_id")}, vec_id
         |  LIMIT $DecontEvalK),
         |ue AS (SELECT vec_id AS eval_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[])))) AS unit
         |  FROM s),
         |ut AS (SELECT vec_id AS train_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[])))) AS unit
         |  FROM embeddings
         |  WHERE vec_id NOT IN (SELECT eval_id FROM ue)),
         |c AS (SELECT t.train_id, e.eval_id,
         |    list_dot_product(t.unit, e.unit) AS cos_raw
         |  FROM ut t CROSS JOIN ue e
         |  WHERE list_dot_product(t.unit, e.unit) >= $DecontTau),
         |r AS (SELECT train_id, eval_id, cos_raw, row_number() OVER (
         |    PARTITION BY train_id ORDER BY cos_raw DESC, eval_id) AS rnk
         |  FROM c)
         |SELECT train_id, eval_id, round(cos_raw * 1e6) / 1e6 AS cosine
         |FROM r WHERE rnk = 1 ORDER BY train_id""".stripMargin,
    // the dd6 sample + unitizing verbatim, the same windowed directed
    // top-k (ties on (cos DESC, dst)) and the same reciprocal self-join
    // of the low-id orientation against its reverse edge
    "sim14_knn_graph" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
         |  ORDER BY ${saltedUniformSql("graft-dd6-sample-v1", "vec_id")}, vec_id
         |  LIMIT 1000),
         |u AS (SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                   CAST(embedding AS DOUBLE[])))) AS unit
         |  FROM s),
         |d AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |    list_dot_product(a.unit, b.unit) AS cos_raw,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_dot_product(a.unit, b.unit) DESC, b.vec_id) AS rnk
         |  FROM u a JOIN u b ON a.vec_id != b.vec_id),
         |k AS (SELECT * FROM d WHERE rnk <= 4)
         |SELECT f.src AS vec_a, f.dst AS vec_b,
         |  round(f.cos_raw * 1e6) / 1e6 AS cosine,
         |  CAST(f.rnk AS BIGINT) AS rank_ab, CAST(r.rnk AS BIGINT) AS rank_ba
         |FROM k f JOIN k r ON f.src = r.dst AND f.dst = r.src
         |WHERE f.src < f.dst
         |ORDER BY vec_a, vec_b""".stripMargin,
    "sim5_ann_ivf_learned" -> learnedIvfSql(),
    // the same Lloyd's text with the label-constrained candidate set;
    // labels re-read from the (admitted) corpus by key, matching the
    // payload the engine's v4 index row carries by construction
    "sim19_filtered_ann" -> filteredIvfSql(),
    // dd16 rides the same unrolled-Lloyd's text (lloydCellsSql), so the
    // cells the pair scan runs over are the hash-gated sim5 cells
    "dd16_semantic_dedup" -> semanticDedupSql())
  // With sim5's oracle above, the whole ANN family is hash-gated: the
  // md5-derived hyperplanes made the hash-based candidate sets
  // engine-portable, and the quantized floor-div Lloyd's (see
  // kmeansCentroids) made the LEARNED cells portable too.

  /** sim5's oracle: Lloyd's k-means unrolled one CTE pair per iteration
    * (assignment under c{i-1}, quantized floor-div means → c{i}) — the
    * q36 generated-SQL pattern, so the constants (grid, k, iterations,
    * probe budget) are written from the SAME parameters the engine runs.
    * Every arithmetic step is either exact integer work (HUGEINT sums of
    * the 1e-12-grid components, positive-mod floor division) or a single
    * identically-ordered IEEE op (`list_dot_product` ≡ the engine's
    * sequential `vec_dot`), so cells, probes and cosines hash-match
    * bit-for-bit.
    */
  /** The CTE chain from raw embeddings to the final cell index: `e` (full
    * corpus as doubles), `et` (the TRAINING subset — `trainWhere` empty ⇒
    * the whole corpus), `c0..c{iters}` (one assignment + quantized
    * floor-div centroid-update pair per Lloyd iteration, over `et` only),
    * and `a{iters+1}` — the FINAL assignment of the FULL corpus under the
    * trained centroids, which is exactly what the engine's persisted
    * index holds (sim5: everything trained and indexed; sim7: base half
    * trained+indexed batch-side, streamed half assigned under the same
    * frozen centroids — both are "assign all of `e` under `c{iters}`").
    * Shared by the sim5/sim7/dd16 oracles so the Lloyd's text exists once.
    */
  private def lloydCellsSql(
      kCells: Int, iters: Int, dim: Int, trainWhere: String,
      targetCellSize: Long = DefaultTargetCellSize,
      minK: Int = DefaultMinKCells): String = {
    // qround(y) = sign(y)·⌊|y|+0.5⌋ on the 1e-12-scaled component — the
    // shared portable rounding (see qround's scaladoc)
    def qr(e: String) =
      s"sign($e * 1000000000000.0) * floor(abs($e * 1000000000000.0) + 0.5)"
    // kCells <= 0 ⇒ the oracle derives k from the SAME training-subset
    // count with the SAME integer ceil-division as deriveKCells — the
    // parameters stay locked because this text is generated from them
    val kExpr =
      if (kCells > 0) kCells.toString
      else
        s"(SELECT greatest($minK, (count(*) + ${targetCellSize - 1}) // " +
          s"$targetCellSize) FROM et)"
    // every chain CTE is MATERIALIZED: DuckDB re-inlines a CTE per
    // reference, and each Lloyd level references the previous one twice
    // (the assignment cross join and the centroid carry-forward), so the
    // un-materialized chain re-evaluated the whole prefix 2^iters times —
    // the dominant term of the r15 sf1 oracle timeouts for this family
    val base =
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |et AS MATERIALIZED (SELECT vec_id, v FROM e $trainWhere),
         |c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    v AS c
         |  FROM (SELECT vec_id, v,
         |      row_number() OVER (ORDER BY vec_id) AS krn FROM et)
         |  WHERE krn <= $kExpr)""".stripMargin
    // one assignment + one centroid-update CTE pair per Lloyd iteration
    // (training rows only); the (i = iters+1) assignment is the full
    // corpus under the FINAL centroids
    val steps = (1 to (iters + 1)).map { i =>
      val src = if (i > iters) "e" else "et"
      val assign =
        s"""a$i AS MATERIALIZED (
           |  SELECT vec_id, v, cid AS cell FROM (
           |    SELECT e.vec_id, e.v, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_dot_product(c.c, c.c) - 2 * list_dot_product(e.v, c.c),
           |        c.cid) AS rn
           |    FROM $src e CROSS JOIN c${i - 1} c) WHERE rn = 1)""".stripMargin
      if (i > iters) assign
      else
        s"""$assign,
           |m$i AS MATERIALIZED (
           |  SELECT cell, p, count(*) AS n,
           |    sum(CAST(${qr("v[p]")} AS HUGEINT)) AS s
           |  FROM a$i, range(1, ${dim + 1}) t(p) GROUP BY cell, p),
           |c$i AS MATERIALIZED (
           |  SELECT pc.cid, coalesce(nc.c, pc.c) AS c
           |  FROM c${i - 1} pc LEFT JOIN (
           |    SELECT cell, list(comp ORDER BY p) AS c FROM (
           |      SELECT cell, p,
           |        CAST((s - ((s % n) + n) % n) // n AS DOUBLE)
           |          / 1000000000000.0 AS comp
           |      FROM m$i) GROUP BY cell) nc ON nc.cell = pc.cid)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  /** The probe-and-serve tail shared by the sim5 and sim7 oracles —
    * [[serveIvf]]'s SQL twin over the [[lloydCellsSql]] prefix.
    */
  /** With `sameLabel` the candidate set gains the label-equality joins —
    * sim19's filtered serve; the probes CTE is ONE text for both paths
    * (the engine-side serveIvf mirror).
    */
  private def ivfServeSql(
      iters: Int, nQueries: Int, nProbe: Int,
      sameLabel: Boolean = false): String = {
    val cand =
      if (sameLabel)
        s"""cand AS (
           |  SELECT pb.query_id, af.vec_id AS neighbor_id
           |  FROM a${iters + 1} af
           |  JOIN probes pb ON af.cell = pb.cell
           |  JOIN lab nl ON nl.vec_id = af.vec_id
           |  JOIN lab ql ON ql.vec_id = pb.query_id
           |  WHERE af.vec_id <> pb.query_id AND nl.label = ql.label)""".stripMargin
      else
        s"""cand AS (
           |  SELECT pb.query_id, af.vec_id AS neighbor_id
           |  FROM a${iters + 1} af JOIN probes pb ON af.cell = pb.cell
           |  WHERE af.vec_id <> pb.query_id)""".stripMargin
    val lab = if (sameLabel) "lab AS (SELECT vec_id, label FROM embeddings),\n" else ""
    s"""probes AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT q.vec_id AS query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(c.c, c.c) - 2 * list_dot_product(q.v, c.c),
       |        c.cid) AS pr
       |    FROM (SELECT vec_id, v FROM e WHERE vec_id < $nQueries) q
       |    CROSS JOIN c$iters c) WHERE pr <= $nProbe),
       |$lab$cand,
       |$verifyRankSql""".stripMargin
  }

  private def learnedIvfSql(
      kCells: Int = 0, iters: Int = 5, dim: Int = 64, nQueries: Int = 20,
      k: Int = 5, nProbe: Int = 4, trainWhere: String = ""): String =
    s"""${lloydCellsSql(kCells, iters, dim, trainWhere)},
       |${ivfServeSql(iters, nQueries, nProbe)}""".stripMargin

  /** sim19's oracle: the shared Lloyd's prefix + the shared serve text
    * with the label-constrained candidate set — the filter participates
    * in candidate generation, exactly as the engine's map-side index
    * predicate does.
    */
  private def filteredIvfSql(
      kCells: Int = 0, iters: Int = 5, dim: Int = 64, nQueries: Int = 20,
      nProbe: Int = FilteredNProbe): String =
    s"""${lloydCellsSql(kCells, iters, dim, "")},
       |${ivfServeSql(iters, nQueries, nProbe, sameLabel = true)}""".stripMargin

  /** sim7's oracle: identical Lloyd's + serve text, but the training
    * subset is the BASE HALF of the corpus (`vec_id < n/2`, the split the
    * engine's streaming maintenance uses) while the final assignment
    * covers everything — the maintained base ∪ delta index re-derived
    * declaratively.
    */
  private[graft] def streamMaintainedIvfSql(
      kCells: Int = 0, iters: Int = 5, dim: Int = 64, nQueries: Int = 20,
      k: Int = 5, nProbe: Int = 4): String =
    // wrapped here, not at the VectorIndexStream registration, so the
    // split-point subquery counts the ADMITTED corpus — exactly what the
    // engine's `adm(...).count() / 2` counts
    onAdmissible(learnedIvfSql(kCells, iters, dim, nQueries, k, nProbe,
      trainWhere = "WHERE vec_id < (SELECT count(*) // 2 FROM embeddings)"))

  /** dd16's oracle: the same unrolled Lloyd's reproduces the cells, then
    * the within-cell id-ordered pair scan with the dd6/dd7 unit-vector
    * cosine, and one row per pruned vector naming its closest lower-id
    * keeper (ties to the lower id).
    */
  /** sim9's oracle: the m per-subspace Lloyd runs unrolled in ONE CTE
    * chain keyed by the subspace id `j` (assignment partitions by
    * (vec_id, j), the centroid update groups by (j, cell, p) — the same
    * math per subspace as m independent [[kmeansCentroids]] runs), then
    * deterministic encoding, the 1e-6-integer LUT, the integer-summed
    * approximate scores, the (iscore DESC, neighbor_id) top-nCand cut,
    * and the shared exact-cosine verify tail.
    */
  /** The sim9 oracle helper: round-half-away-from-zero on a scaled
    * value — the SQL twin of [[qround]].
    */
  private def qrSql(e: String, scale: String): String =
    s"sign($e * $scale) * floor(abs($e * $scale) + 0.5)"

  /** The per-subspace quantized-Lloyd CTE chain (e/sv/c0 + one
    * (assign, means, update) triple per iteration, leaving `c$iters` as
    * the trained codebooks) — shared by the sim9 oracle and sim16's
    * distortion-monitor oracle, the oracle-side mirror of
    * [[ensurePqCodebooks]] being shared on the engine side.
    */
  private def pqLloydSqlPrefix(
      m: Int, ks: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sv AS (SELECT e.vec_id, CAST(t.j AS INT) AS j,
         |    list_slice(e.v, t.j * $sub + 1, t.j * $sub + $sub) AS v
         |  FROM e CROSS JOIN range(0, $m) t(j)),
         |c0 AS (SELECT j, CAST(krn - 1 AS INT) AS cid, v AS c FROM (
         |    SELECT j, v, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS krn
         |    FROM sv) WHERE krn <= $ks)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, j, v, cid AS cell FROM (
         |    SELECT sv.vec_id, sv.j, sv.v, c.cid,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(c.c, c.c) - 2 * list_dot_product(sv.v, c.c),
         |        c.cid) AS rn
         |    FROM sv JOIN c${i - 1} c ON c.j = sv.j) WHERE rn = 1),
         |m$i AS (SELECT j, cell, p, count(*) AS n,
         |    sum(CAST(${qrSql("v[p]", "1000000000000.0")} AS HUGEINT)) AS s
         |  FROM a$i, range(1, ${sub + 1}) t(p) GROUP BY j, cell, p),
         |c$i AS (SELECT pc.j, pc.cid, coalesce(nc.c, pc.c) AS c
         |  FROM c${i - 1} pc LEFT JOIN (
         |    SELECT j, cell, list(comp ORDER BY p) AS c FROM (
         |      SELECT j, cell, p,
         |        CAST((s - ((s % n) + n) % n) // n AS DOUBLE)
         |          / 1000000000000.0 AS comp
         |      FROM m$i) GROUP BY j, cell) nc
         |    ON nc.j = pc.j AND nc.cell = pc.cid)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  private def pqTopkSql(
      m: Int = 4, ks: Int = 16, iters: Int = 3, dim: Int = 64,
      nQueries: Int = 20, nCand: Int = 40): String = {
    val sub = dim / m
    def qr(e: String, scale: String) = qrSql(e, scale)
    s"""${pqLloydSqlPrefix(m, ks, iters, dim)},
       |codes AS (SELECT vec_id, j, cid AS code FROM (
       |    SELECT sv.vec_id, sv.j, c.cid,
       |      row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
       |        list_dot_product(c.c, c.c) - 2 * list_dot_product(sv.v, c.c),
       |        c.cid) AS rn
       |    FROM sv JOIN c$iters c ON c.j = sv.j) WHERE rn = 1),
       |lut AS (SELECT query_id, j, code,
       |    CAST(${qr("d", "1000000.0")} AS BIGINT) AS ipdot
       |  FROM (SELECT q.vec_id AS query_id, cb.j, cb.cid AS code,
       |      list_dot_product(q.v, cb.c) AS d
       |    FROM sv q JOIN c$iters cb ON cb.j = q.j
       |    WHERE q.vec_id < $nQueries)),
       |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id, sum(l.ipdot) AS iscore
       |  FROM codes cd JOIN lut l ON l.j = cd.j AND l.code = cd.code
       |  WHERE cd.vec_id <> l.query_id
       |  GROUP BY l.query_id, cd.vec_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY iscore DESC, neighbor_id) AS rn
       |    FROM sc) WHERE rn <= $nCand),
       |$verifyRankSql""".stripMargin
  }

  /** Rewrites every CTE head in an oracle text to `AS MATERIALIZED (`.
    *
    * DuckDB inlines a CTE at each reference site; in a chain where CTE
    * `c_i` is read by both `a_{i+1}` and `c_{i+1}` the inlined copies
    * multiply per iteration, so a two-quantizer chain like sim10's
    * (coarse Lloyd's feeding a residual-PQ Lloyd's feeding ADC scoring)
    * re-evaluates its prefix combinatorially — measured 452 s / OOM at
    * sf0.01's 500 vectors, vs 1.6 s for the single-quantizer sim7 text.
    * Forcing materialization evaluates each CTE once, restoring the
    * linear cost the chain was written for. Safe as a text rewrite
    * because the generated oracles use ` AS (` ONLY at CTE heads
    * (subqueries appear as `FROM (`, aliases as `AS name` with no
    * paren); semantics are unchanged, only evaluation strategy.
    */
  private def materializeCtes(sql: String): String =
    sql.replace(" AS (", " AS MATERIALIZED (")

  /** sim10's oracle: the coarse derived-k Lloyd chain ([[lloydCellsSql]],
    * shared verbatim with sim5/dd16), residuals re-derived per position
    * (ORDER BY p list assembly — the house pattern for element-wise
    * math that must accumulate left-to-right), the residual-PQ chain
    * (sim9's joint-subspace unroll under `p`-prefixed CTE names),
    * deterministic encode, per-(query, probed-cell) integer LUTs, the
    * ascending integer-distance cut, and the shared exact verify tail.
    * The emitted text is [[materializeCtes]]-rewritten — the two-layer
    * quantizer chain is exactly the shape DuckDB's CTE inlining blows
    * up on.
    */
  private def ivfPqTopkSql(
      iters: Int = 5, m: Int = 4, ks: Int = 16, pqIters: Int = 3,
      dim: Int = 64, nQueries: Int = 20, nProbe: Int = 4,
      nCand: Int = 40): String = {
    val sub = dim / m
    def qr(e: String, scale: String) =
      s"sign($e * $scale) * floor(abs($e * $scale) + 0.5)"
    val af = s"a${iters + 1}"
    val cf = s"c$iters"
    val resid =
      s"""rv AS (SELECT a.vec_id, a.cell,
         |    list(a.v[p] - cc.c[p] ORDER BY p) AS r
         |  FROM $af a JOIN $cf cc ON cc.cid = a.cell
         |  CROSS JOIN range(1, ${dim + 1}) t(p)
         |  GROUP BY a.vec_id, a.cell),
         |prsv AS (SELECT rv.vec_id, rv.cell, CAST(t.j AS INT) AS j,
         |    list_slice(rv.r, t.j * $sub + 1, t.j * $sub + $sub) AS v
         |  FROM rv CROSS JOIN range(0, $m) t(j)),
         |pc0 AS (SELECT j, CAST(krn - 1 AS INT) AS cid, v AS c FROM (
         |    SELECT j, v, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS krn
         |    FROM prsv) WHERE krn <= $ks)""".stripMargin
    val steps = (1 to pqIters).map { i =>
      s"""pa$i AS (SELECT vec_id, j, v, cid AS cell FROM (
         |    SELECT s.vec_id, s.j, s.v, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
         |        list_dot_product(c.c, c.c) - 2 * list_dot_product(s.v, c.c),
         |        c.cid) AS rn
         |    FROM prsv s JOIN pc${i - 1} c ON c.j = s.j) WHERE rn = 1),
         |pm$i AS (SELECT j, cell, p, count(*) AS n,
         |    sum(CAST(${qr("v[p]", "1000000000000.0")} AS HUGEINT)) AS s
         |  FROM pa$i, range(1, ${sub + 1}) t(p) GROUP BY j, cell, p),
         |pc$i AS (SELECT pc.j, pc.cid, coalesce(nc.c, pc.c) AS c
         |  FROM pc${i - 1} pc LEFT JOIN (
         |    SELECT j, cell, list(comp ORDER BY p) AS c FROM (
         |      SELECT j, cell, p,
         |        CAST((s - ((s % n) + n) % n) // n AS DOUBLE)
         |          / 1000000000000.0 AS comp
         |      FROM pm$i) GROUP BY j, cell) nc
         |    ON nc.j = pc.j AND nc.cell = pc.cid)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""pcodes AS (SELECT vec_id, cell, j, code FROM (
         |    SELECT s.vec_id, s.cell, s.j, c.cid AS code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
         |        list_dot_product(c.c, c.c) - 2 * list_dot_product(s.v, c.c),
         |        c.cid) AS rn
         |    FROM prsv s JOIN pc$pqIters c ON c.j = s.j) WHERE rn = 1),
         |probes AS (SELECT query_id, cid AS cell, c FROM (
         |    SELECT q.vec_id AS query_id, c.cid, c.c,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_dot_product(c.c, c.c) - 2 * list_dot_product(q.v, c.c),
         |        c.cid) AS pr
         |    FROM (SELECT vec_id, v FROM e WHERE vec_id < $nQueries) q
         |    CROSS JOIN $cf c) WHERE pr <= $nProbe),
         |qt AS (SELECT pb.query_id, pb.cell, CAST(t.j AS INT) AS j,
         |    list(q.v[t.j * $sub + p] - pb.c[t.j * $sub + p] ORDER BY p) AS tv
         |  FROM probes pb JOIN e q ON q.vec_id = pb.query_id
         |  CROSS JOIN range(0, $m) t(j) CROSS JOIN range(1, ${sub + 1}) r(p)
         |  GROUP BY pb.query_id, pb.cell, t.j),
         |ld AS (SELECT qt.query_id, qt.cell, qt.j, cb.cid AS code,
         |    list(qt.tv[p] - cb.c[p] ORDER BY p) AS dv
         |  FROM qt JOIN pc$pqIters cb ON cb.j = qt.j
         |  CROSS JOIN range(1, ${sub + 1}) r(p)
         |  GROUP BY qt.query_id, qt.cell, qt.j, cb.cid),
         |lut AS (SELECT query_id, cell, j, code,
         |    CAST(${qr("d", "1000000.0")} AS BIGINT) AS ipd
         |  FROM (SELECT query_id, cell, j, code,
         |      list_dot_product(dv, dv) AS d FROM ld)),
         |sc AS (SELECT l.query_id, pc.vec_id AS neighbor_id, sum(l.ipd) AS idist
         |  FROM pcodes pc JOIN lut l
         |    ON l.cell = pc.cell AND l.j = pc.j AND l.code = pc.code
         |  WHERE pc.vec_id <> l.query_id
         |  GROUP BY l.query_id, pc.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY idist, neighbor_id) AS rn
         |    FROM sc) WHERE rn <= $nCand),
         |$verifyRankSql""".stripMargin
    materializeCtes(
      s"${lloydCellsSql(0, iters, dim, "")},\n$resid,\n$steps,\n$tail")
  }

  private def semanticDedupSql(
      tau: Double = 0.4, kCells: Int = 0, iters: Int = 5,
      dim: Int = 64): String =
    s"""${lloydCellsSql(kCells, iters, dim, "")},
       |u AS (SELECT vec_id,
       |  list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                   CAST(embedding AS DOUBLE[])))) AS unit
       |  FROM embeddings),
       |p AS (SELECT b.vec_id, a.vec_id AS keep_id, a.cell,
       |    list_dot_product(ua.unit, ub.unit) AS cos_raw
       |  FROM a${iters + 1} a JOIN a${iters + 1} b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN u ua ON ua.vec_id = a.vec_id
       |  JOIN u ub ON ub.vec_id = b.vec_id
       |  WHERE list_dot_product(ua.unit, ub.unit) >= $tau),
       |r AS (SELECT vec_id, keep_id, cell, cos_raw,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_raw DESC, keep_id) AS rn
       |  FROM p)
       |SELECT vec_id, keep_id AS dup_of, CAST(cell AS INT) AS cell,
       |  round(cos_raw * 1e6) / 1e6 AS cosine
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
}

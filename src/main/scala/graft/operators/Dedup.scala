package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.GraftSession
import graft.functions._
import graft.sources.Tables

/** Deduplication family for training-data pipelines, graded from exact to
  * approximate:
  *
  *  - exact: hash-groupBy on the raw text — one shuffle on a 16-byte key;
  *  - fingerprint: bag-of-words md5 (word-order-insensitive exact);
  *  - n-gram Jaccard: exact set-similarity over 3-word shingles via an
  *    inverted-index join, with a document-frequency cap on shingles so one
  *    hot shingle (boilerplate, a common phrase) can never make a posting
  *    list — and therefore the per-shingle pair blowup — quadratic;
  *  - MinHash/LSH: banded signatures so candidate generation shuffles on
  *    (band, bandHash) buckets only — the 100 TB path: cost is
  *    O(docs × k) map-side + a bucket-sized shuffle, never O(docs²);
  *  - SimHash: 64-bit near-dup candidates via combinatorial block-banding
  *    with a Hamming-distance verify (exact for the default radius, see
  *    [[simhashCandidates]]).
  *
  * All three LSH-family queries share ONE plan shape: explode band keys →
  * bucket posting lists (a single shuffle on the bucket key) → map-side
  * pair emission via the native [[graft.functions.PairCombs]] expression →
  * verify/aggregate. Signature math is built-in expressions plus the
  * native [[graft.functions.SimHash60]] — no UDFs, fully codegen'd.
  * dd4/dd5 recall/exactness is asserted against dd3/brute force in
  * `DedupSpec` (ScalaTest), and — because every hash constant is an md5
  * draw both engines can compute — their candidate SETS are additionally
  * hash-checked against DuckDB oracles.
  */
object Dedup {

  /** The dd11 batch-split convention, shared by the incremental-dedup
    * family here and EVERY streaming admission gate (st16–st25): the
    * last [[ArrivalWindow]] doc ids stand in for "today's batch" at any
    * scale — history is `doc_id < max(doc_id) − (ArrivalWindow − 1)`,
    * arrivals the rest. Single source for the engine splits AND the
    * generated oracle texts (the HeadVocabSize pattern): changing the
    * window here changes both sides together, so they cannot silently
    * diverge until a hash gate trips.
    */
  val ArrivalWindow: Long = 50L

  /** Oracle-side literal for the split: `max(doc_id) - 49`. */
  val ArrivalOffsetSql: String = s"max(doc_id) - ${ArrivalWindow - 1}"

  /** The split threshold: ids ≥ this are arrivals. The max-id probe is a
    * metadata-scale scalar, not a data collect. Guarded: an empty
    * documents table has a NULL max (a bare `getLong` would NPE) — fail
    * with a named contract error instead, matching the gates' fail-closed
    * posture.
    */
  def arrivalSplit(docs: DataFrame): Long = {
    val m = docs.agg(max(col("doc_id"))).head
    require(!m.isNullAt(0),
      "arrivalSplit: empty documents table — max(doc_id) is NULL, no batch split exists")
    m.getLong(0) - (ArrivalWindow - 1L)
  }

  // ------------------------------------------------------------ exact

  /** Exact duplicate groups by content hash (md5 to match the oracle). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("text_hash"))

  /** Word-order-insensitive duplicate groups via [[TextAnalysis.fingerprint]]. */
  def fingerprintGroups(docs: DataFrame): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("fp"))

  // ------------------------------------------------------------ shingles

  /** Distinct n-word shingles via the native
    * [[graft.functions.WordShingles]] expression (one codegen'd sliding
    * pass; short texts ⇒ empty set, matching DuckDB's empty `range()`).
    * The previous HOF tree (sequence→transform→slice→concat_ws) ran
    * interpreted per shingle and its analysis/codegen dominated the dedup
    * family's cold start.
    */
  def shinglesOf(toks: Column, n: Int): Column =
    call_function("word_shingles", toks, lit(n))

  /** Convenience for single-use contexts (tests, candidates pre-filter). */
  def shingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** (doc_id, s) — one row per DISTINCT n-gram shingle per document: the
    * shared front of every shingle-family plan (dd3's inverted index,
    * dd10's overlap screen, td8's frequency report). Defined once so a
    * tokenizer or distinctness change cannot silently diverge them.
    */
  def explodedShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(shinglesOf(tokens(col("text")), n)).as("s"))

  // ------------------------------------------------------------ jaccard

  /** Exact n-gram Jaccard similarity over DISCRIMINATIVE shingles: shingles
    * appearing in more than `maxDf` documents are dropped from every
    * document's set first (the standard stop-shingle cap). This bounds each
    * posting list at `maxDf`, so per-shingle pair generation is ≤ maxDf²/2
    * — it can never go quadratic in the corpus no matter how skewed the
    * shingle distribution is. The DuckDB oracle applies the identical cap,
    * so results hash-match exactly.
    *
    * Plan: explode shingles → skew-immune groupBy-count of document
    * frequencies → broadcast ANTI-join of the tiny hot-shingle list →
    * one shuffle on the shingle building a capped posting list
    * (`collect_list`, memory bounded by maxDf) → pairs emitted MAP-SIDE
    * from each list by the native pair_combs expression → pair-count
    * shuffle. An earlier formulation self-joined the exploded shingles
    * (recomputed the subtree four times, round-1's most expensive query);
    * a second one computed df with `count over (partition by s)`, which
    * funneled every occurrence of a hot shingle through one reducer
    * before filtering — bounded output, unbounded skew. This shape pays
    * for skew-immunity with one recompute of the explode lineage (the df
    * branch), all of it map-side CPU.
    */
  /** (doc_id, s, n_sh) — each doc's DF-capped shingle stream with the
    * surviving-set size attached: dd3's verification substrate, shared
    * with dd15's candidates-then-verify pipeline so the cap statistics
    * can never diverge between the exact and the LSH-screened paths.
    *
    * The DF cap must be SKEW-PROOF: an earlier formulation annotated each
    * exploded row with `count over (partition by s)`, which shuffles every
    * occurrence of a hot shingle (10M rows of boilerplate at 100 TB) to
    * ONE reducer before the filter drops it — the filter bounded the
    * output, not the shuffle. Instead: compute document frequency with a
    * groupBy count (map-side partial aggregation is skew-immune — each
    * mapper emits one partial row per distinct shingle), keep only the
    * HOT list (df > maxDf — tiny by construction: at most |corpus
    * shingles| / maxDf entries, in practice boilerplate phrases), and
    * anti-join it against the exploded stream. Same semantics
    * (`df <= maxDf` survives), same oracle, no skewed shuffle anywhere:
    * downstream posting lists only ever see lists <= maxDf.
    *
    * No broadcast HINT on the hot list, deliberately: in a healthy corpus
    * it is tiny (boilerplate phrases) and AQE's runtime stats broadcast
    * the anti-join anyway (asserted on the executed plan in PlanSpec) —
    * but a pathologically duplicate-heavy corpus (the very input dedup
    * ingests) can make MOST shingles hot, and a forced broadcast would
    * die on Spark's broadcast limits where a shuffle anti-join just runs.
    */
  private def cappedShingles(docs: DataFrame, n: Int, maxDf: Int): DataFrame = {
    val ex = explodedShingles(docs, n)
    val hot = ex.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("s"))
    ex.join(hot, Seq("s"), "left_anti")
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
  }

  def ngramJaccardPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.2,
      maxDf: Int = 50): DataFrame = {
    val kept = cappedShingles(docs, n, maxDf)
    // posting list per shingle with sizes inline; sorted so pair emission
    // yields doc_a < doc_b deterministically
    val lists = kept.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh")))).as("ds"))
      .select(col("ds"))
    // all (a < b) combinations within each bounded list, generated map-side
    // by the native pair_combs expression (the HOF nested-lambda version
    // allocated an interpreted closure dispatch per emitted pair and was
    // the query's hottest stage)
    val inter = lists
      .select(explode(call_function("pair_combs", col("ds"))).as("p"))
      .select(col("p.*"))
      .groupBy(col("doc_a"), col("na"), col("doc_b"), col("nb"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c") * lit(1.0) / (col("na") + col("nb") - col("c"))
    inter
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), r6(jac).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dd19 — one-sided CONTAINMENT near-dup pairs (Broder's containment
    * coefficient): C(A→B) = |S_A ∩ S_B| / |S_A| over the same DF-capped
    * shingle sets as dd3. Symmetric Jaccard misses the asymmetric case a
    * training corpus cares about most — a short document wholly embedded
    * in a longer one (quote farms, mirrored excerpts, boilerplate-wrapped
    * copies) scores low Jaccard (the union is big) but containment ≈ 1
    * from the short side. One row per DIRECTED pair at `threshold`:
    * `doc_id`'s capped shingle set is ≥ threshold contained in
    * `container_id`'s.
    *
    * Plan: identical substrate to dd3 (capped posting lists, map-side
    * `pair_combs` emission, one pair-count shuffle) — the intersection
    * count is computed ONCE per unordered pair and both directions are
    * derived from it arithmetically (c/na, c/nb), so the asymmetric
    * measure costs nothing beyond dd3's plan. Same 100 TB posture: the
    * DF cap bounds posting lists, nothing goes quadratic in the corpus.
    */
  def containmentPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = 50): DataFrame = {
    val kept = cappedShingles(docs, n, maxDf)
    val lists = kept.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh")))).as("ds"))
      .select(col("ds"))
    val inter = lists
      .select(explode(call_function("pair_combs", col("ds"))).as("p"))
      .select(col("p.*"))
      .groupBy(col("doc_a"), col("na"), col("doc_b"), col("nb"))
      .agg(count(lit(1)).as("c"))
    val dirs = inter.select(col("doc_a").as("doc_id"),
        col("doc_b").as("container_id"),
        (col("c") * lit(1.0) / col("na")).as("containment"))
      .unionAll(inter.select(col("doc_b").as("doc_id"),
        col("doc_a").as("container_id"),
        (col("c") * lit(1.0) / col("nb")).as("containment")))
    dirs.filter(col("containment") >= threshold)
      .select(col("doc_id"), col("container_id"), r6(col("containment")).as("containment"))
      .orderBy(col("doc_id"), col("container_id"))
  }

  // ------------------------------------------------------------ minhash

  /** doc_id → array of k MinHash values over n-gram shingles, via the
    * native [[graft.functions.MinHashSig]] expression: each shingle hashed
    * ONCE into the 31-bit domain (52-bit md5 prefix mod P — the
    * engine-portable draw), k running minima of (a·h + b) mod P with
    * md5-derived (a, b) — one codegen'd pass, no shuffle, and a DuckDB
    * oracle regenerates the identical signatures (parity with the
    * column-level md5 formulation asserted in DedupSpec).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 32, n: Int = 3): DataFrame =
    docs.select(
      col("doc_id"),
      call_function("minhash_sig", shinglesOf(tokens(col("text")), n), lit(k))
        .as("sig"))

  /** LSH candidate pairs: split the k-long signature into `bands` bands,
    * hash each band, group docs by (band, bandHash). Docs sharing any band
    * bucket become candidates — the shuffle key is the bucket, so the plan
    * scales with bucket sizes, not docs². Candidate recall against dd3's
    * exact Jaccard pairs is asserted in `DedupSpec`.
    */
  /** The banded posting lists dd4 emits pairs from — shared with the
    * cap-headroom probe [[maxBandBucket]] so the guard audits the exact
    * pipeline that runs. Same linear shape as dd3/dd5: bucket posting
    * lists + map-side pair emission instead of a banded self-join (which
    * would compute the signature subtree twice and shuffle both sides).
    * The bucket key is the band's CONTENT (the `rows` minima,
    * comma-joined — ~40 bytes), not a hash of it: two docs share a band
    * iff their minima actually agree (no collision false-positives), and
    * a SQL oracle reproduces the key without needing Spark's xxhash64.
    */
  /** (doc_id, band, band_hash) — each doc's `bands` LSH band keys, the
    * map-side front of every banded-MinHash consumer: [[bandBucketLists]]
    * groups it into posting lists for dd4's pair emission, and the
    * streaming gate (`StreamDedup.st16`) joins an arrival's keys against
    * a historical key table. Pure per-row expressions over the native
    * signature — no shuffle, usable verbatim on a streaming frame.
    */
  private[graft] def bandedKeys(
      docs: DataFrame, k: Int, n: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sigs = minhashSignatures(docs.filter(size(tokens(col("text"))) >= n), k, n)
    sigs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  private def bandBucketLists(
      docs: DataFrame, k: Int, n: Int, bands: Int): DataFrame = {
    bandedKeys(docs, k, n, bands).groupBy(col("band"), col("band_hash"))
      .agg(sort_array(collect_list(struct(col("doc_id"), lit(0L)))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("ds"))
  }

  /** Largest band bucket over `docs` — the dd4 cap-divergence probe.
    * Above `maxBucket` the hub-and-spoke cap intentionally changes
    * output semantics (non-hub pairs dropped) while the DuckDB oracle
    * still computes the full combination set, so every ORACLE-GATED
    * scale must sit below the cap with headroom; DedupSpec asserts it
    * per gated sf, making a corpus that outgrows the cap a loud spec
    * failure instead of a mysterious hash mismatch.
    */
  private[graft] def maxBandBucket(
      docs: DataFrame, k: Int = 32, n: Int = 3, bands: Int = 8): Long =
    bandBucketLists(docs, k, n, bands)
      .agg(coalesce(max(size(col("ds"))), lit(0))).head.getInt(0).toLong

  /** Thrown by the output-budget circuit breaker on the UNCAPPED pair
    * contracts — the fail-soft alternative to what actually happened in
    * r17: uncapped dd5 at sf10 emitted 22.5 M pairs and KILLED the
    * SparkContext from memory pressure (bench/r17_capped_100x.json).
    * The message names the capped variant to switch to.
    */
  final class PairBudgetExceeded(message: String)
    extends RuntimeException(message)

  /** Default pair-emission budget for the uncapped contracts (dd5/dd15).
    * Sized between the proven-good and the proven-fatal scales, with the
    * guard's own measured projections (stderr `[budget]` lines, r18):
    * dd5 projects 40 k at sf0.1, 4.45 M at sf1 (oracle-verified
    * hash-exact at both), and 467.6 M at sf10 — the run that killed the
    * JVM in r17 (the oft-quoted 22.5 M was the post-Hamming-filter
    * OUTPUT; the emission executors must materialize is 21× that).
    * dd15 projects 1.8 k / 1.65 M on the same corpora. 8 M clears sf1
    * with 1.8× headroom and trips an order of magnitude before the
    * fatal regime; a corpus between those scales SHOULD trip — that is
    * the contract genuinely exploding, and the error names both the
    * capped variant and the override (SPARK_GRAFT_MAX_PAIR_BUDGET) for
    * clusters sized to take it.
    */
  val MaxPairBudget: Long = sys.env.get("SPARK_GRAFT_MAX_PAIR_BUDGET")
    .map(_.toLong).getOrElse(8_000_000L)

  /** Fail-soft budget check (r17 verdict item 4): ONE aggregate over the
    * banded posting lists — the exact frame the pair emission explodes —
    * projects the emission count before any pair is materialized
    * (below-cap bucket of size s emits C(s,2) combinations, above-cap
    * emits the s−1 hub-and-spoke star). Above the budget the query
    * aborts with [[PairBudgetExceeded]] naming the capped variant,
    * context alive. The pre-count is one extra linear pass over the
    * shingle/signature pipeline — the price the exact-pair escape
    * hatches pay for being safe to point at an arbitrary corpus; the
    * capped primary variants (dd5b/dd15b) never run it.
    */
  /** Drop the storage blocks behind a `localCheckpoint(true)`'d frame —
    * the guard-abort cleanup (r19 advisor, low): an eagerly checkpointed
    * posting-list frame abandoned by a thrown [[PairBudgetExceeded]]
    * stays pinned in executor storage until the frame is GC'd, and
    * repeated guarded aborts in a long serving session accumulate.
    */
  private def dropLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  private def guardPairBudget(
      lists: DataFrame, query: String, cappedVariant: String,
      maxBucket: Long, budget: Long): Unit = {
    val s = size(col("ds")).cast("long")
    // `/` on longs is DOUBLE division in Spark SQL — cast back (exact:
    // counts sit far under 2^53)
    val perBucket = when(s <= lit(maxBucket),
      (s * (s - 1) / 2).cast("long")).otherwise(s - 1)
    val projected = lists.agg(coalesce(sum(perBucket), lit(0L)))
      .head().getLong(0)
    // the pass-side margin is part of the record (how far a corpus sits
    // from its budget is what an operator tunes against)
    System.err.println(
      s"[budget] $query projects $projected candidate pairs (budget $budget)")
    if (projected > budget)
      throw new PairBudgetExceeded(
        s"$query would emit $projected candidate pairs > budget $budget " +
          s"(SPARK_GRAFT_MAX_PAIR_BUDGET): the corpus has dup groups too " +
          s"large for the exact-pair contract — use $cappedVariant " +
          "(hub-and-spoke above-cap emission, linear output) or raise the " +
          "budget if the cluster is sized for the full pair set")
  }

  def minhashCandidates(
      docs: DataFrame, k: Int = 32, n: Int = 3, bands: Int = 8,
      maxBucket: Int = 1024): DataFrame =
    // Filter BEFORE the signature on the cheap equivalent predicate
    // (≥ n tokens ⟺ non-empty shingle set). Filtering on size(sig) after
    // the fact looks identical but is a trap: predicate pushdown moves it
    // below the projections and re-inlines the whole k-permutation
    // signature expression into the Filter condition — doubling the
    // dominant per-row cost.
    minhashCandidatesFromLists(bandBucketLists(docs, k, n, bands), maxBucket)

  /** The emission half of [[minhashCandidates]] over prebuilt posting
    * lists — split out so dd15 can feed the SAME materialized lists to
    * the budget pre-count and the emission (one signature pass, not two).
    */
  private def minhashCandidatesFromLists(
      lists: DataFrame, maxBucket: Int): DataFrame =
    // Skew guard: a band bucket larger than maxBucket (a megacluster of
    // near-identical docs) emits a hub-and-spoke star instead of all
    // B²/2 combinations — connectivity for the downstream cluster
    // collapse is preserved, emission stays linear, and below the cap
    // (every benign corpus at the tested scales — PROVED per gated
    // scale by DedupSpec's cap-headroom gate, since above it the
    // DuckDB oracle's full combination set would diverge) output is
    // identical.
    lists.select(explode(call_function("pair_combs", col("ds"), lit(maxBucket))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** dd15 — the PRODUCTION dedup pipeline end-to-end: MinHash/LSH
    * candidate generation (dd4) followed by an EXACT Jaccard verify over
    * the DF-capped shingle sets (dd3's arithmetic, via the shared
    * [[cappedShingles]] substrate) — candidates-then-verify, the shape
    * every at-scale near-dup system runs. Output is exactly dd3's pair
    * set RESTRICTED to the LSH candidates (asserted in DedupSpec), and
    * every stage is md5-portable, so the whole pipeline hash-matches its
    * DuckDB twin.
    *
    * Scale: the verify never goes all-pairs — each candidate pair costs
    * |capped shingles(doc_a)| probe rows into a (doc, shingle) hash join,
    * so cost is candidates × avg-set-size, with candidates bounded by the
    * banding (bucket-sized shuffles) and set sizes bounded by the DF cap.
    * Against dd3: same output up to LSH recall (≥ 0.95 measured), but
    * pair GENERATION cost is banded-bucket-sized instead of
    * posting-list-combination-sized — the trade every MinHash deployment
    * makes.
    */
  /** dd15b's candidate-bucket cap — ONE source for the engine literal
    * AND the generated oracle text (the Dd7MaxBucket pattern; see
    * [[Dd5MaxBucket]] for why it is far tighter than dd4's 1024): above
    * it a band bucket contributes hub-and-spoke candidates only, so the
    * candidate set — r16's 100× run measured it growing 106,000× on a
    * 99%-dup corpus (dd15 exponent 1.01, intermediate-bound) — stays
    * linear in corpus size, and so does the exact-Jaccard verify fed by
    * it. Below the cap dd15b ≡ dd15.
    */
  val Dd15MaxBucket = 64

  def minhashVerifiedPairs(
      docs: DataFrame, k: Int = 32, n: Int = 3, bands: Int = 8,
      threshold: Double = 0.2, maxDf: Int = 50,
      maxBucket: Int = 1024, pairBudget: Long = MaxPairBudget): DataFrame = {
    // Budget breaker on the UNCAPPED escape hatch only (dd15): the capped
    // primary dd15b (maxBucket = Dd15MaxBucket) has linear emission by
    // construction and never pays the pre-count pass. The guarded path
    // MATERIALIZES the posting lists once (localCheckpoint — compact
    // (doc_id, hash) longs, never shingle text) so the pre-count and the
    // emission share one signature pass: the first cut re-ran the whole
    // scan→shingle→minhash→band→shuffle pipeline for the guard, doubling
    // the dominant cost at every scale (guide §1.2 — remove duplicate
    // passes before tuning anything else). Blocks are reclaimed by the
    // ContextCleaner once the query's frames are dropped.
    val cands = (if (maxBucket > Dd15MaxBucket) {
      val lists = bandBucketLists(docs, k, n, bands).localCheckpoint(true)
      // guard-abort path drops the checkpoint blocks before rethrowing:
      // PairBudgetExceeded is the EXPECTED outcome on a megacluster
      // corpus, and repeated guarded aborts in a long session would
      // otherwise pin one orphaned block set each (r19 advisor, low)
      try guardPairBudget(lists,
        "dd15_minhash_verified", "dd15b_minhash_capped", maxBucket, pairBudget)
      catch { case t: Throwable => dropLocalCheckpoint(lists); throw t }
      minhashCandidatesFromLists(lists, maxBucket)
    } else minhashCandidates(docs, k, n, bands, maxBucket))
      .select(col("doc_a"), col("doc_b"))
    val kept = cappedShingles(docs, n, maxDf)
    val inter = kept
      .select(col("doc_id").as("doc_a"), col("s"), col("n_sh").as("na"))
      .join(cands, Seq("doc_a"))
      .join(kept.select(col("doc_id").as("doc_b"), col("s"), col("n_sh").as("nb")),
        Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c") * lit(1.0) / (col("na") + col("nb") - col("c"))
    inter
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), r6(jac).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------ simhash

  /** Single-pass 60-bit SimHash over whitespace tokens via the native
    * [[graft.functions.SimHash60]] expression (registered by
    * [[graft.GraftExtensions]]): each token hashed ONCE (60-bit md5
    * prefix — engine-portable, so dd5's pair set is oracle-HASHED), 60
    * counter votes — replaces the old nested-aggregate formulation that
    * re-folded (and re-hashed) the token array per bit.
    */
  def simhashExpr(textCol: String): Column =
    call_function("simhash60", tokens(col(textCol)))

  /** Pigeonhole blocks for Hamming radius 3: split the 60-bit signature
    * into 5 blocks of 12 bits. With ≤3 bit errors at most 3 blocks are
    * dirty, so ≥2 blocks are clean and at least one of the C(5,2) = 10
    * block PAIRS matches — every pair within the radius is guaranteed to
    * share a band. 10 exploded rows per doc (the minimum the pigeonhole
    * argument allows for r=3 via pairs), with 24-bit keys giving ample
    * per-bucket selectivity at corpus scale.
    */
  private val blockOffsets = Array(0, 12, 24, 36, 48)
  private val blockMasks = Array(4095L, 4095L, 4095L, 4095L, 4095L)
  private val blockPairs: Seq[(Int, Int)] =
    for { i <- 0 until 5; j <- (i + 1) until 5 } yield (i, j)

  /** (band, offset_i, offset_j) VALUES rows for the dd5b oracle text —
    * generated from the SAME block literals the engine bands with, so a
    * scheme retune regenerates both sides (the shared-literal rule).
    */
  private[graft] val simhashBandsSql: String = blockPairs.zipWithIndex
    .map { case ((i, j), b) => s"($b, ${blockOffsets(i)}, ${blockOffsets(j)})" }
    .mkString(", ")

  /** SimHash near-dup candidates, exact for the default radius: band each
    * 60-bit signature into the 10 combinatorial (blockPair → 24-bit key)
    * buckets above, bucket-join, verify with `bit_count(a XOR b)`. The
    * pigeonhole guarantee means the post-verify output is EXACTLY the set
    * of pairs with Hamming distance ≤ 3 (asserted against a brute-force
    * cross join in `DedupSpec`, and hash-checked against a DuckDB oracle
    * that regenerates the md5-prefix signatures and brute-forces the
    * radius — banding is a pure execution strategy, invisible in the
    * output). Band-key domain is 10 × 2^24 ≈ 1.7×10^8 buckets — at
    * billions of docs buckets stay tiny, and the shuffle key is still the
    * bucket, never docs².
    */
  /** The banded posting lists dd5/dd5b emit pairs from: (band id | two
    * block contents) fused into ONE long key so the plan is a single
    * linear lineage — explode keys → bucket posting lists (the structs
    * carry the signature so the Hamming verify is map-side) — shared so
    * the capped variant audits the exact pipeline dd5 runs. A banded
    * self-join would compute the scan+signature subtree twice and
    * shuffle both sides. (The 60-bit signature is always positive, so
    * the arithmetic shifts never sign-extend; the masks alone isolate
    * each block.)
    */
  private def simhashBucketLists(docs: DataFrame): DataFrame =
    bucketListsFromSigs(docs.select(col("doc_id"), simhashExpr("text").as("sig")))

  /** The banding is SIGNATURE-AGNOSTIC: any 60-bit fingerprint with the
    * bits-little-endian layout (SimHash60, PHash60 for mm14's image
    * near-dup) bands into the same 10 combinatorial (blockPair → 24-bit
    * key) buckets with the same radius-3 pigeonhole guarantee — factored
    * so the image pipeline reuses the exact machinery dd5/dd5b proved.
    */
  /** The per-row banding alone — (doc_id, sig, key), 10 rows per doc,
    * pure map-side expression work (explode of 10 literal-offset
    * shift/mask keys). Shared by the batch posting-list path below and
    * the STREAMING binary door (st27), whose arrival side must band
    * map-side with no shuffle before the history join.
    */
  private[graft] def bandKeysFromSigs(sigs: DataFrame): DataFrame = {
    val bandKeys = blockPairs.zipWithIndex.map { case ((i, j), b) =>
      lit(b.toLong << 24) +
        (shiftright(col("sig"), blockOffsets(i)).bitwiseAND(blockMasks(i)) * 4096) +
        shiftright(col("sig"), blockOffsets(j)).bitwiseAND(blockMasks(j))
    }
    sigs.select(col("doc_id"), col("sig"),
      explode(array(bandKeys: _*)).as("key"))
  }

  private[operators] def bucketListsFromSigs(sigs: DataFrame): DataFrame = {
    val keyed = bandKeysFromSigs(sigs)
    keyed.groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("ds"))
  }

  /** Largest simhash band bucket over `docs` — dd5b's cap-bite probe.
    * Unlike dd4/dd7, an above-cap bucket never diverges dd5b from its
    * oracle (the oracle replicates the cap); the probe only documents
    * which side of the cap a corpus exercises (DedupSpec info lines).
    */
  private[graft] def maxSimhashBucket(docs: DataFrame): Long =
    simhashBucketLists(docs)
      .agg(coalesce(max(size(col("ds"))), lit(0))).head.getInt(0).toLong

  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
      pairBudget: Long = MaxPairBudget): DataFrame = {
    // The C(5,2) pair-banding is exhaustive ONLY for radius <= 3 (with 4
    // dirty blocks no clean PAIR is guaranteed). Fail loudly rather than
    // silently dropping pairs for a wider radius — a caller needing r >= 4
    // must widen the scheme (C(6,2) blocks for r=4, etc.), not this one.
    require(maxHamming <= 3,
      s"simhashCandidates: the 5-block pair banding is exact only for " +
        s"maxHamming <= 3, got $maxHamming")
    // dd5 is uncapped by contract — every run pays the budget pre-count
    // (one aggregate over the posting lists) so a megacluster corpus
    // aborts soft instead of killing the JVM (the r17 sf10 wound). The
    // lists are MATERIALIZED once (localCheckpoint — (doc_id, sig) longs)
    // and shared by the pre-count and the emission: the first cut re-ran
    // the whole scan→tokenize→md5-sig→band→shuffle pipeline for the
    // guard, doubling the dominant per-row cost (guide §1.2).
    val lists = simhashBucketLists(docs).localCheckpoint(true)
    // guard-abort path drops the checkpoint blocks (r19 advisor — see
    // minhashVerifiedPairs)
    try guardPairBudget(lists,
      "dd5_simhash_candidates", "dd5b_simhash_capped", Long.MaxValue, pairBudget)
    catch { case t: Throwable => dropLocalCheckpoint(lists); throw t }
    lists
      .select(explode(call_function("pair_combs", col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        bit_count(col("p.na").bitwiseXOR(col("p.nb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dd5b's bucket cap — ONE source for the engine default AND the
    * generated oracle literal (the Dd7MaxBucket pattern). Deliberately
    * much tighter than dd4/dd7's 1024: the capped variants exist to
    * BOUND the pair contract, and a 99%-dup corpus forms identical-doc
    * groups in the hundreds, where the cap must bite for the output to
    * stay linear.
    */
  val Dd5MaxBucket = 64

  /** dd5b — dd5's near-dup pairs under a BOUNDED output contract: a
    * band bucket larger than [[Dd5MaxBucket]] emits the hub-and-spoke
    * star over its minimum doc_id instead of all B²/2 combinations (the
    * dd4/dd7 skew-guard move, here as the PRIMARY contract). dd5's
    * "all pairs within Hamming radius 3" promise is exact but UNBOUNDED:
    * on a 99%-dup corpus the output itself grows k² per dup group
    * (r16's 100× run measured 22.5M pairs from 512 — exponent 1.24,
    * output-bound by the contract, not the plan), which at 100 TB is an
    * unbounded sink no plan shape can fix. The capped contract keeps
    * what downstream dedup actually needs: in the megacluster case the
    * cap targets (a bucket of near-identical docs) every member is
    * within radius of the hub, so the star preserves connectivity for
    * cluster collapse (dd8) while emission stays linear. The recall
    * trade is explicit: a spoke farther than the radius from the hub
    * drops its pairs — acceptable for dedup (those docs keep their own
    * buckets in the other 9 bands), fatal only for an exact-pair-set
    * consumer, which should use dd5.
    * Below the cap (every benign corpus) output is identical to dd5;
    * the oracle replicates the cap semantics from the shared literal,
    * so the hash gate holds at every scale on BOTH sides of the cap.
    */
  def simhashCandidatesCapped(
      docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = Dd5MaxBucket): DataFrame =
    bandedHammingPairsCapped(
      docs.select(col("doc_id"), simhashExpr("text").as("sig")),
      maxHamming, maxBucket, "simhashCandidatesCapped")

  /** The dd5b pipeline over an arbitrary (doc_id, 60-bit sig) frame:
    * pigeonhole band → bucket posting lists → capped map-side pair
    * emission → exact Hamming verify. Shared by dd5b (SimHash over
    * text) and mm14 (PHash over image/binary payloads).
    */
  private[operators] def bandedHammingPairsCapped(
      sigs: DataFrame, maxHamming: Int, maxBucket: Int,
      caller: String): DataFrame = {
    require(maxHamming <= 3,
      s"$caller: the 5-block pair banding is exact only " +
        s"for maxHamming <= 3, got $maxHamming")
    bucketListsFromSigs(sigs)
      .select(explode(call_function("pair_combs", col("ds"), lit(maxBucket))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        bit_count(col("p.na").bitwiseXOR(col("p.nb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------ clusters

  /** dd8 — near-duplicate CLUSTER representatives: connected components
    * over the dd3 pair graph, each doc labeled with the minimum doc_id of
    * its component (the canonical "keep one representative per dup
    * cluster" step that turns candidate pairs into an actual deduplicated
    * corpus). Only docs appearing in at least one pair are emitted;
    * everything else is trivially its own representative.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * adopts the minimum label in its closed neighborhood (one join + one
    * groupBy-min per round, both shuffling on node id), converging in at
    * most the component diameter rounds. Near-dup clusters are
    * shallow (duplicates of a common source), so rounds stay single-digit;
    * the per-round plan is the standard distributed-CC shape (the
    * large-star/small-star family) — no collect of the graph, only a
    * scalar convergence count per round. Each round's labels are persisted
    * and the previous round unpersisted so lineage stays one round deep
    * (at production scale, checkpoint every few rounds to truncate it
    * fully).
    *
    * Deep components (a pathological chain corpus) would need diameter
    * one-hop rounds — so after `escalateAfter` rounds without convergence
    * the round body ADDS pointer doubling (label-of-label: `lbl(id) ←
    * min(..., lbl(lbl(id)))`, one extra self-join of the label table),
    * which halves the remaining label-chain depth every round ⇒ O(log
    * diameter) rounds total. Shallow corpora — the normal case — converge
    * before the escalation and never pay for the extra join.
    *
    * `broadcastLabels` pins the label table as each round's broadcast
    * build side, for callers whose graph is known to be tiny. Left to
    * AQE, the side depends on whether the label cache has materialized
    * (its statistics read unknown until then), which varies between runs.
    */
  def dupClusters(
      pairs: DataFrame, maxIter: Int = 20, escalateAfter: Int = 6,
      checkpointDir: Option[String] = None, broadcastLabels: Boolean = false): DataFrame = {
    // Lineage truncation strategy, caller-selectable: localCheckpoint is
    // right for single-JVM runs (no filesystem round-trip) but dies with
    // an executor; a production cluster passes `checkpointDir` and gets
    // reliable checkpoint() — round state survives executor loss. Either
    // way truncation (not persist) is required: persist caches the DATA
    // but every round's plan still carries (and re-analyzes) the full
    // upstream pair lineage — for a dd3 input that tripled the cold time.
    // The local branch returns an explicit release: unpersist() on a
    // localCheckpoint'd frame is a no-op (it is not in the CacheManager),
    // so superseded rounds' MEMORY_AND_DISK blocks would otherwise wait
    // for GC; the underlying RDD is captured from the LogicalRDD leaf and
    // unpersisted directly. Reliable-checkpoint files are owned by the
    // caller's dir (delete it when done — per-round cleanup would need
    // spark.cleaner.referenceTracking.cleanCheckpoints).
    val truncate: DataFrame => (DataFrame, () => Unit) = checkpointDir match {
      case Some(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => (df.checkpoint(), () => ())
      case None =>
        df => {
          val cp = df.localCheckpoint(true)
          val rdds = cp.queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
          }
          (cp, () => rdds.foreach(_.unpersist(false)))
        }
    }
    // Both edge directions in ONE pass over the pair stream (a
    // fwd.union(fwd.reversed) would evaluate the upstream pair pipeline's
    // post-shuffle stages twice when the checkpoint materializes). Edges
    // stay alive for the whole iteration: every persisted (non-truncated)
    // round's lineage roots here, so they are never released early.
    val (edges, _) = truncate(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // GRAPH-SCALE round parallelism (r19, guide §2): the rounds run on the
    // aggregated pair graph, not the corpus, and at graph scales the
    // session's fact parallelism schedules dozens of near-empty tasks per
    // round (r19 Profile: dd8 = 26 jobs / 500 tasks / 41 s summed task
    // time for a sub-second graph; q46's 25-node bloc graph the same).
    // One shuffle partition per 100k directed edges, clamped to
    // [1, defaultParallelism] — a fact-scale pair graph saturates to the
    // session value and loses nothing. The count is one tiny job over the
    // just-materialized checkpoint. The rounds run on a fork at that
    // parallelism; the returned frame is rebound to the caller's session
    // and planned by the caller's action, so only round internals change —
    // the fixpoint is partition-invariant and every consumer stays
    // hash-gated.
    val spark = pairs.sparkSession
    val nEdges = edges.count()
    val roundParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1L)).toInt
    val edgesF = GraftShim.rebind(edges, GraftSession.fork(spark,
      "spark.sql.shuffle.partitions" -> roundParts.toString))
    var labels = edgesF.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).persist()
    // releases the frame holding this round's cache/checkpoint blocks
    // (labels is a select OVER it from round 2 on — releasing the select
    // would miss the cached plan and leak one frame per round)
    var releasePrev: () => Unit = { val p = labels; () => { p.unpersist(); () } }
    var it = 0
    var converged = false
    // maxIter bounds the PROPAGATION rounds; convergence detection needs
    // one extra no-change round, hence <= (a diameter-maxIter chain
    // finishes changing on round maxIter and confirms on maxIter + 1)
    while (!converged && it <= maxIter) {
      val nbrMin = edgesF.join(if (broadcastLabels) broadcast(labels) else labels,
          col("src") === col("id"))
        .select(col("dst").as("id"), col("lbl"))
      // pointer doubling once the one-hop phase has overstayed its welcome:
      // adopt the label OF my label too (labels ⋈ labels on lbl = id)
      val hops =
        if (it < escalateAfter) nbrMin
        else nbrMin.union(
          labels.select(col("id").as("via"), col("lbl"))
            .join(labels.select(col("id"), col("lbl").as("ll")), col("lbl") === col("id"))
            .select(col("via").as("id"), col("ll").as("lbl")))
      // Convergence detection folded into the round's OWN aggregation: the
      // self row carries the previous label (each id contributes exactly
      // one), so min-over-self IS prev and the round's single groupBy
      // yields both the new label and the change flag — no second join
      // over the full label set per round (which at production scale cost
      // as much as the propagation itself).
      val nextCore = labels.select(col("id"), col("lbl"), col("lbl").as("prev"))
        .union(hops.select(col("id"), col("lbl"), lit(null).cast("long").as("prev")))
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"), min(col("prev")).as("prev"))
      // Pre-escalation: persist + release keeps exactly one cached label
      // table alive. Once pointer doubling references the label table
      // THREE times per round, persist is not enough — the logical plan
      // triples per round (plan-string construction alone OOMed at depth
      // ~10), so the round result must be CHECKPOINTED to a flat plan.
      val (next, releaseNext) =
        if (it + 1 >= escalateAfter) truncate(nextCore)
        else { val p = nextCore.persist(); (p, () => { p.unpersist(); () }) }
      // one action: materializes next into cache AND counts changes
      val changed = next.filter(col("lbl") =!= col("prev")).count()
      releasePrev()
      releasePrev = releaseNext
      labels = next.select(col("id"), col("lbl"))
      converged = changed == 0
      it += 1
    }
    // LOUD on non-convergence: returning partially-propagated labels would
    // silently leave one duplicate cluster with several "representatives".
    // With pointer doubling active past escalateAfter, reaching maxIter
    // means diameter > ~2^(maxIter - escalateAfter) — raise maxIter.
    // Release before throwing: the caller may catch and keep the session.
    if (!converged) {
      releasePrev()
      throw new IllegalStateException(
        s"dupClusters: min-label propagation did not converge in $maxIter rounds; " +
          "component diameter exceeds maxIter")
    }
    // rounds-to-convergence on stderr (r17 verdict item 3): the loop's
    // cost is round count × per-round fixed cost, so the count is the
    // number every tuning decision needs — observable in any bench/verify
    // stderr without a profiler
    System.err.println(
      s"[cc] dupClusters converged in $it rounds" +
        (if (it > escalateAfter) " (pointer doubling engaged)" else ""))
    // the final labels stay persisted: the result's lineage is the whole
    // iteration and would otherwise recompute from round 0 at action time
    GraftShim.rebind(labels, spark)
      .select(col("id").as("doc_id"), col("lbl").as("rep_id"))
      .orderBy(col("doc_id"))
  }

  /** Canonical location of the persisted cluster-label artifact for a
    * scale dir (same repo-local staging area as the clean tables and the
    * IVF cell index). The dedup parameters are part of the path: labels
    * computed under one (n, threshold, maxDf) are meaningless under
    * another, so different parameterizations get different artifacts.
    */
  def clusterLabelsPath(
      sfDir: String, n: Int, threshold: Double, maxDf: Int,
      upTo: Long = Long.MaxValue): String =
    s"${sys.props("user.dir")}/target/dedup/${new java.io.File(sfDir).getName}" +
      s"/clusters_n${n}_t${threshold}_df$maxDf" +
      (if (upTo == Long.MaxValue) "" else s"_upto$upTo")

  /** The (doc_id, rep_id) cluster labels as a BUILD-ONCE persisted
    * artifact: at 100 TB nobody re-runs shingling + pair generation +
    * label propagation to emit a manifest — the clustering runs once per
    * corpus version and every downstream consumer (dd9's manifest, audit
    * joins, incremental re-dedup) reads the parquet back. Published as a
    * [[graft.sources.ManifestStore]] snapshot keyed on build logic +
    * source stamp.
    */
  def clusterLabels(
      spark: SparkSession, sfDir: String, n: Int = 3,
      threshold: Double = 0.2, maxDf: Int = 50,
      upTo: Long = Long.MaxValue): DataFrame = {
    // `upTo` bounds the clustered corpus (doc_id < upTo) — the
    // "yesterday's corpus" artifact dd11 deduplicates new batches
    // against; the DF cap statistics are the bounded corpus's own.
    // The LAZY pair pipeline's plan fingerprints the build logic
    // (tokenizer, shingling, DF cap, jaccard filter): a code change
    // invalidates the artifact even when the corpus file did not move.
    // The eager propagation downstream of it is not in the spec —
    // a labeling-algorithm change must also bump this tag:
    val pairs = ngramJaccardPairs(
      Tables.documentsRebalanced(spark, sfDir).filter(col("doc_id") < upTo),
      n, threshold, maxDf)
    val spec = "min-label-cc-v1\n" + graft.sources.Staging.planSpec(pairs) +
      "\n" + graft.sources.Staging.sourceStamp(
        Seq(new java.io.File(Tables.path(sfDir, "documents"))))
    // dupClusters' (doc_id, rep_id), both of the pairs' doc id type
    val id = pairs.schema("doc_a").dataType
    graft.sources.ManifestStore.serve(spark,
      new java.io.File(clusterLabelsPath(sfDir, n, threshold, maxDf, upTo)), spec,
      StructType(Seq(StructField("doc_id", id), StructField("rep_id", id))))(
      dupClusters(pairs).write.parquet(_))
  }

  /** dd9 — the step every training-data pipeline runs after clustering:
    * emit the actual DEDUPLICATED corpus. Every doc that belongs to a dup
    * cluster but is not its representative is dropped; cluster
    * representatives and all unclustered docs survive. Output is (doc_id,
    * text_hash) — id plus content hash, the manifest a downstream
    * tokenizer run consumes.
    *
    * Scale: the drop list is only the NON-representative cluster members —
    * a small fraction of the corpus by construction (it is exactly the
    * data being removed) — so AQE broadcasts the anti-join and the corpus
    * never shuffles. The md5 is a map-side projection on the survivors.
    */
  def dedupCorpus(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs
      .join(
        clusters.filter(col("doc_id") =!= col("rep_id")).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .orderBy(col("doc_id"))

  /** dd22 — SOFT dedup: instead of dropping non-representative cluster
    * members (dd9's hard drop), keep every document and DOWNWEIGHT it by
    * its duplicate-cluster size — `weight = 1 / cluster_size` — so a
    * training run over the weighted corpus sees each near-duplicate
    * GROUP contribute one document's worth of gradient regardless of how
    * many copies crawled in. This is the standard softer alternative to
    * hard dedup when duplicates carry signal (popular pages ARE worth
    * slightly more, capped at cluster mass 1): the sampler (sa4's
    * weighted draw, td18's DSIR scores) consumes these weights directly.
    *
    * Scale: reuses the build-once [[clusterLabels]] artifact (no
    * re-shingling); cluster sizes aggregate the label table at rep_id
    * grain (bounded by the duplicate subset); the corpus then LEFT-joins
    * the labels on doc_id — the labeled side is exactly the duplicate
    * subset, a small fraction by construction, so AQE broadcasts it and
    * the corpus never shuffles. Singletons coalesce to their own id at
    * weight 1. The division is one IEEE op on exact longs, r6-rounded
    * at the edge like every ratio output.
    */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("rep_id")).agg(count(lit(1)).as("cluster_size"))
    val weighted = clusters.join(sizes, Seq("rep_id"))
    docs.select(col("doc_id"))
      .join(weighted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        r6(lit(1.0) / coalesce(col("cluster_size"), lit(1L))).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** dd11 — INCREMENTAL dedup: label a NEW batch of documents against the
    * existing corpus WITHOUT re-clustering it — the daily-ingest step the
    * persisted cluster artifact exists for. At 100 TB the corpus's own
    * pair graph and label propagation ran once (dd8, persisted); a new
    * day's batch only needs (new ↔ corpus) and (new ↔ new) candidate
    * pairs plus a BATCH-SIZED connected-components pass.
    *
    * Semantics (the standard frozen-history contract): existing cluster
    * assignments never change — an old document's edge contributes its
    * REPRESENTATIVE as the node, so a new doc joining an old cluster
    * adopts that cluster's rep, and a new doc bridging two old clusters
    * takes the minimum rep without retroactively merging them. Output is
    * (doc_id, rep_id) for the new batch only; unmatched new docs are
    * their own representative.
    *
    * Scale: the candidate join BROADCASTS the batch's shingles — the
    * corpus side streams through a broadcast hash join and never
    * shuffles for candidates (dd10's decontamination shape). The two
    * corpus-linear aggregations (DF cap + per-doc shingle counts over
    * the post-ingest corpus) are map-side partial and skew-immune; the
    * mini-CC input scales with the batch, not the corpus.
    */
  /** The lazy candidate/edge stage of [[incrementalDedupLabels]] — split
    * out so its plan (batch-side broadcast, artifact-served old labels)
    * is auditable before the mini-CC's eager rounds consume it.
    */
  def incrementalDedupEdges(
      docs: DataFrame, oldLabels: DataFrame, newFrom: Long,
      n: Int = 3, threshold: Double = 0.2, maxDf: Int = 50): DataFrame = {
    val ex = explodedShingles(docs, n)
    // DF cap over the POST-INGEST corpus (today's statistics govern
    // today's candidates; yesterday's clustering used yesterday's —
    // that is what the artifact froze)
    val hot = ex.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("s"))
    val kept = ex.join(hot, Seq("s"), "left_anti")
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val newSh = kept.filter(col("doc_id") >= newFrom)
      .select(col("doc_id").as("new_id"), col("s"))
    // batch side broadcast; doc_id < new_id keeps each pair once (new ids
    // are the largest ids, so old↔new pairs always land here too)
    val inter = kept
      .join(broadcast(newSh), Seq("s"))
      .filter(col("doc_id") < col("new_id"))
      .groupBy(col("doc_id").as("doc_a"), col("new_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c") * lit(1.0) / (col("na") + col("nb") - col("c"))
    val pairs = inter
      .join(sizes.select(col("doc_id").as("ia"), col("n_sh").as("na")),
        col("doc_a") === col("ia"))
      .join(sizes.select(col("doc_id").as("ib"), col("n_sh").as("nb")),
        col("doc_b") === col("ib"))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // an old endpoint contributes its cluster REPRESENTATIVE as the node
    // (docs absent from the label table are their own rep)
    val reps = oldLabels.select(col("doc_id").as("o_id"), col("rep_id").as("o_rep"))
    pairs
      .join(reps, col("doc_a") === col("o_id"), "left")
      .select(coalesce(col("o_rep"), col("doc_a")).as("doc_a"), col("doc_b"))
  }

  def incrementalDedupLabels(
      docs: DataFrame, oldLabels: DataFrame, newFrom: Long,
      n: Int = 3, threshold: Double = 0.2, maxDf: Int = 50): DataFrame = {
    val edges = incrementalDedupEdges(docs, oldLabels, newFrom, n, threshold, maxDf)
    val mini = dupClusters(edges)
      .select(col("doc_id"), col("rep_id").as("r"))
    docs.filter(col("doc_id") >= newFrom).select(col("doc_id"))
      .join(mini, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("r"), col("doc_id")).as("rep_id"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- dd18

  /** dd18 — corpus SNAPSHOT DIFF (dataset versioning): given two corpus
    * snapshots, classify every document whose membership or content
    * changed — `added` (new snapshot only), `removed` (old only),
    * `changed` (both, text differs by content hash) — and emit ONLY the
    * delta. This is the audit step between two training-corpus releases:
    * at 100 TB you cannot eyeball what a refresh did; the diff manifest
    * (tiny — proportional to churn, not corpus size) is what reviewers
    * and reproducibility records consume.
    *
    * Plan: one full-outer join on the document key over two
    * hash-projected scans — each side reduces to (doc_id, md5(text))
    * before the shuffle, so the join ships 16-byte digests, never text.
    * Unchanged docs (the overwhelming mass) are filtered right after the
    * join; output scales with churn.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_hash"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") =!= col("new_hash"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"), col("old_hash"), col("new_hash"))
      .orderBy(col("doc_id"))
  }

  /** The dd18 registry instantiation: the driver stages ONE corpus, so
    * the two snapshots are derived from it deterministically — the old
    * release is the corpus minus every `doc_id % 10 == 7` (those are the
    * refresh's additions) with every `doc_id % 10 == 3` at a prior
    * revision (`text || ' rev0'`), and the new release is the corpus
    * minus every `doc_id % 10 == 4` (those were retired). The DuckDB
    * oracle applies the identical derivation, so the classification is
    * hash-gated end-to-end; a real deployment passes two actual snapshot
    * reads to [[snapshotDiff]].
    */
  def snapshotDiffQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text",
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(" rev0")))
          .otherwise(col("text")))
    val neu = docs.filter(col("doc_id") % 10 =!= 4)
    snapshotDiff(old, neu)
  }

  /** Canonicalize a URL column — the normalization every web-corpus
    * pipeline runs BEFORE its first dedup stage (RefinedWeb/CCNet-style
    * URL-level dedup): strip the fragment, strip the query string
    * (tracking params make one page infinitely many URLs), force the
    * scheme to https, drop a leading `www.`, lowercase the HOST ONLY
    * (paths are case-significant per RFC 3986), and trim trailing
    * slashes. Every step is an anchored single-match regex or plain
    * string op, spelled identically in the DuckDB twin (anchored
    * patterns make Spark's replace-all vs DuckDB's replace-first
    * equivalent; case-insensitivity is spelled as explicit ASCII
    * classes because Java's `(?i)` is ASCII-only while RE2's applies
    * Unicode simple folding — see the inline note).
    *
    * URLs that are not http(s) at all — ftp:, mailto:, data:,
    * protocol-relative `//host` — PASS THROUGH VERBATIM: they are not
    * web pages, so "canonicalizing" them could only merge unrelated
    * resources into one dedup group (the failure mode the guard
    * prevents: without it every non-http URL normalized to the single
    * string `https:` and all such docs silently collapsed). The scheme
    * test and the scheme/www strips are case-insensitive, because
    * crawlers emit `HTTP://HOST/...` and RFC 3986 §3.1 makes the scheme
    * case-insensitive.
    */
  def canonicalizeUrl(u: Column): Column = {
    // (?s) + no '$': strip from the first marker to the ABSOLUTE end.
    // Java's '$' matches before a FINAL LINE TERMINATOR while RE2's is
    // end-of-text, so a '$'-anchored strip diverges between engine and
    // oracle — and is non-idempotent — on URLs ending in '\n' (found by
    // the TextParserProps fuzz property; crawl frontiers do carry such
    // garbage). Dotall '.*' with no anchor reads "leftmost marker to end
    // of input" identically in both engines.
    val noFrag = regexp_replace(u, "(?s)#.*", "")
    val noQuery = regexp_replace(noFrag, "(?s)\\?.*", "")
    // explicit ASCII case classes, not (?i): RE2's (?i) applies Unicode
    // simple folding (U+017F 'ſ' folds to 's') while Java's is
    // ASCII-only without UNICODE_CASE — a scheme like "httpſ://" would
    // canonicalize in the oracle and pass through in the engine. The
    // spelled-out classes read identically in both.
    val https = regexp_replace(noQuery, "^[Hh][Tt][Tt][Pp][Ss]?://", "https://")
    val noWww = regexp_replace(https, "^https://[Ww][Ww][Ww]\\.", "https://")
    val host = asciiLower(regexp_extract(noWww, "^https://([^/]*)", 1))
    val path = regexp_extract(noWww, "(?s)^https://[^/]*(.*)", 1)
    when(u.rlike("^[Hh][Tt][Tt][Pp][Ss]?://"),
      rtrim(concat(lit("https://"), host, path), "/"))
      .otherwise(u)
  }

  /** The [[canonicalizeUrl]] steps as DuckDB SQL over a url expression —
    * generated beside the Column form so the two can't drift (DuckDB
    * standard strings pass backslashes through to RE2 unprocessed, so
    * the pattern text is byte-identical to the Java regex source).
    */
  private[graft] def canonicalizeUrlSql(expr: String): String = {
    val stripped = s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"$expr, '(?s)#.*', ''), '(?s)\\?.*', ''), '^[Hh][Tt][Tt][Pp][Ss]?://', 'https://'), " +
      "'^https://[Ww][Ww][Ww]\\.', 'https://')"
    val canon =
      s"rtrim('https://' || ${asciiLowerSql(
        s"regexp_extract($stripped, '^https://([^/]*)', 1)")}" +
        s" || regexp_extract($stripped, '(?s)^https://[^/]*(.*)', 1), '/')"
    // non-http(s) URLs pass through verbatim — mirror of the Column form
    s"(CASE WHEN regexp_matches($expr, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN $canon ELSE $expr END)"
  }

  /** dd20 — URL-level dedup: group by canonical URL, keep the smallest
    * doc_id, report group sizes — the CHEAPEST dedup stage (no content
    * reads at all) that removes the bulk of crawl duplication before
    * the content stages (dd1 exact, dd4 MinHash, dd6 embedding) run.
    * Plan: map-only canonicalization, one count-min aggregate
    * (map-side combined), output scales with distinct pages.
    *
    * Registry instantiation: the driver corpus has no URL column, so a
    * crawl frontier is DERIVED deterministically (the dd18 pattern —
    * production passes a real url column): 9 consecutive doc_ids share
    * a page (`doc_id div 9`), and `doc_id % 9` picks the duplication
    * mode crawlers actually produce — plain, http://, www., uppercased
    * host, trailing slash, ?utm tracking params, #fragment, UPPERCASE
    * scheme (`HTTP://`). The canonicalizer must collapse the first 8
    * variants of each 9-doc run to ONE page; mode 8 is an `ftp://` link
    * to the same page, which must PASS THROUGH untouched and form its
    * own group (the non-http guard: merging it — or worse, merging ALL
    * ftp URLs corpus-wide into one — is the bug this mode pins down).
    */
  def urlDedup(docs: DataFrame): DataFrame = {
    // host keyed by the PAGE (div 9), not by `source` — source rotates
    // per doc, so a source-derived host would make every URL unique and
    // the canonicalizer would have nothing to collapse
    val host = concat(lit("site-"),
      expr("CAST((doc_id div 9) % 20 AS STRING)"), lit(".example.com"))
    val path = concat(lit("/doc/"), expr("CAST(doc_id div 9 AS STRING)"))
    val base = concat(host, path)
    val url = when(col("doc_id") % 9 === 0, concat(lit("https://"), base))
      .when(col("doc_id") % 9 === 1, concat(lit("http://"), base))
      .when(col("doc_id") % 9 === 2, concat(lit("https://www."), base))
      // host case-folds, the PATH must stay case-significant — only the
      // host is uppercased in this duplication mode
      .when(col("doc_id") % 9 === 3, concat(lit("https://"), upper(host), path))
      .when(col("doc_id") % 9 === 4, concat(lit("https://"), base, lit("/")))
      .when(col("doc_id") % 9 === 5,
        concat(lit("https://"), base, lit("?utm_source=feed&ref=rss")))
      .when(col("doc_id") % 9 === 6, concat(lit("https://"), base, lit("#section-2")))
      .when(col("doc_id") % 9 === 7, concat(lit("HTTP://"), base))
      .otherwise(concat(lit("ftp://"), base))
    docs.select(col("doc_id"), url.as("url"))
      .withColumn("canonical_url", canonicalizeUrl(col("url")))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_doc"),
        count(lit(1)).as("n_variants"))
      .orderBy(col("canonical_url"))
  }

  /** dd21 — FUZZY RECORD LINKAGE: match dirty entity names against a
    * clean reference dimension under an edit-distance budget — the
    * data-cleaning counterpart of the content-dedup family (dd1–dd5
    * dedup documents; this reconciles KEYS — vendor names, geo labels,
    * user-typed fields — against the dimension they should have been).
    * Candidate generation is BLOCKED exactly like dd4's banding, but
    * for strings, with TWO blocking passes (standard record-linkage
    * practice — one block key misses exactly the typos that corrupt
    * that key): (first char, length ±1) and (last char, length ±1).
    * A single first-char block can never recover "Xrance" → "FRANCE";
    * the last-char rescue block can. Candidates from the two passes are
    * unioned and deduped on the (dirty, clean) pair, each pass a hash
    * join on its block key, so the 100 TB dirty side streams against
    * the BROADCAST clean dimension and never self-joins; `levenshtein`
    * (identical integer DP in Spark and DuckDB) then scores the block
    * survivors and a (distance, name) argmin picks each dirty row's
    * best match. Unmatched rows (nothing within the budget in EITHER
    * block — e.g. a typo corrupting both end chars) surface with a
    * NULL match — fail loud, the V9 accounting posture.
    *
    * Distance contract: BYTE-edit levenshtein over UTF-8 (see the
    * `bytes1` note below) — engine-portable where code-point distance is
    * not, identical to code-point distance on ASCII names, and an upper
    * bound on it otherwise (a multi-byte typo just "costs more", which
    * only tightens the budget).
    *
    * Registry instantiation derives the dirty feed deterministically
    * from the nation dim (key % 3 picks the corruption: verbatim, one
    * char dropped, one char doubled — the classic typo classes);
    * production passes any (id, dirty_name) frame.
    */
  def fuzzyLinkage(dirty: DataFrame, clean: DataFrame,
      maxDist: Int = 2): DataFrame = {
    // one blocked candidate pass: hash-join dirty→broadcast(clean) on a
    // single block key (a char extracted by `key`), length-gated
    def pass(key: Column => Column): DataFrame = {
      val d = dirty.select(col("dirty_id"), col("dirty_name"),
        key(col("dirty_name")).as("blk"),
        length(col("dirty_name")).as("dlen"))
      val c = clean.select(col("clean_name"),
        key(col("clean_name")).as("blk"),
        length(col("clean_name")).as("clen"))
      d.join(broadcast(c), Seq("blk"))
        .filter(abs(col("dlen") - col("clen")) <= 1)
        .select(col("dirty_id"), col("dirty_name"), col("clean_name"))
    }
    val first = pass(s => substring(s, 1, 1))
    val last = pass(s => s.substr(length(s), lit(1)))
    val w = Window.partitionBy(col("dirty_id"))
      .orderBy(col("dist"), col("clean_name"))
    // The distance CONTRACT is BYTE-edit levenshtein over the UTF-8
    // encoding — locale-independent and engine-portable: DuckDB's
    // levenshtein counts byte edits while Spark's counts code points
    // (found by probing before the adversarial-dimension replay: DuckDB
    // levenshtein('café','cafe') = 2). Decoding the UTF-8 bytes as
    // ISO-8859-1 yields a string with exactly one char per byte, so
    // Spark's code-point distance over THAT equals the byte distance —
    // identity for ASCII names (hashes unchanged), well-defined for
    // dirty unicode ones; byte distance upper-bounds code-point
    // distance, so the budget stays conservative.
    def bytes1(c: Column): Column = decode(encode(c, "UTF-8"), "ISO-8859-1")
    val matched = first.unionByName(last)
      .distinct() // a pair can surface from both blocks — score it once
      .withColumn("dist",
        levenshtein(bytes1(col("dirty_name")), bytes1(col("clean_name"))))
      .filter(col("dist") <= maxDist)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("dirty_id"), col("dirty_name"), col("clean_name"),
        col("dist").cast("long").as("dist"))
    dirty.select(col("dirty_id"), col("dirty_name"))
      .join(matched.select(col("dirty_id"), col("clean_name"), col("dist")),
        Seq("dirty_id"), "left")
      .select(col("dirty_id"), col("dirty_name"), col("clean_name"),
        col("dist"))
      .orderBy(col("dirty_id"))
  }

  /** The dd21 registry instantiation: the dirty feed derived from the
    * nation dim by key-mod typo classes.
    */
  def fuzzyLinkageQ(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir)
    val dirty = n.select(col("n_nationkey").as("dirty_id"),
      when(col("n_nationkey") % 3 === 0, col("n_name"))
        .when(col("n_nationkey") % 3 === 1,
          concat(substring(col("n_name"), 1, 1), expr("substring(n_name, 3)")))
        .otherwise(concat(substring(col("n_name"), 1, 3),
          expr("substring(n_name, 3)")))
        .as("dirty_name"))
    fuzzyLinkage(dirty, n.select(col("n_name").as("clean_name")))
  }

  /** dd10 — benchmark DECONTAMINATION: flag training documents sharing at
    * least `minShared` n-gram shingles with any held-out evaluation
    * document (the GPT-3 §C / PaLM-style n-gram overlap screen — published
    * methodology, re-expressed over this corpus; docs below `nEval` stand
    * in for the benchmark set). Output is the contaminated (train, eval)
    * pair list with its overlap count — the audit artifact a training run
    * stores next to the corpus manifest.
    *
    * Scale: the eval side is BOUNDED BY CONSTRUCTION (benchmarks are a few
    * thousand documents no matter how big the training corpus grows), so
    * its exploded shingle list is broadcast — the 100 TB training side
    * streams through a broadcast hash join and shuffles only the matched
    * (train, eval) pairs into the overlap count, whose map-side partial
    * aggregation bounds skew exactly as in dd3. A real 13-gram screen is
    * the same plan with n=13; the synthetic small-vocabulary corpus needs
    * n=3 to produce any matches at all.
    */
  def decontaminate(
      docs: DataFrame, nEval: Long = 20, n: Int = 3,
      minShared: Int = 3): DataFrame = {
    val ex = explodedShingles(docs, n)
    val evalSh = ex.filter(col("doc_id") < nEval)
      .select(col("doc_id").as("eval_id"), col("s"))
    ex.filter(col("doc_id") >= nEval)
      .join(broadcast(evalSh), Seq("s")) // eval set bounded ⇒ hint is safe
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_id"), col("eval_id"))
  }

  // ------------------------------------------------------------- dd14

  /** dd14 — QUALITY-AWARE representative selection: for each duplicate
    * cluster, keep the LONGEST member (ties to the smallest id) instead
    * of dd8's arbitrary min-id label — what production dedup actually
    * does: near-duplicates usually differ by truncation/boilerplate, and
    * the longest copy is the best training document. Served from the
    * persisted cluster-label artifact (no re-clustering); the argmax is
    * `max(struct(n_tokens, -doc_id))` — one mergeable aggregate per
    * cluster, no window over the membership, so a million-member cluster
    * costs one partial-agg cell. Reports the choice beside the cluster
    * size so the swap against dd8's representative is auditable.
    */
  def bestRepresentative(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = clusterLabels(spark, sfDir)
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    labels.join(lens, Seq("doc_id"))
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("rep_id"), col("n_members"),
        (-col("m.neg_id")).as("best_doc_id"),
        col("m.n_tokens").as("best_tokens"))
      .orderBy(col("rep_id"))
  }

  // ------------------------------------------------------------- dd13

  /** Bloom geometry for [[bloomDecontaminate]]: m bits, k hash positions
    * per shingle. At the driver corpus's eval size the filter is ~4%
    * full ⇒ per-probe false-positive rate ≈ 0.04⁵ — effectively zero;
    * the spec measures it against the exact overlap.
    */
  val BloomBits: Long = 1L << 18
  val BloomHashes: Int = 5

  /** The k salted-md5 bit positions of one shingle — engine-portable (the
    * sa3 hex-prefix construction), so the bloom PROBE itself is
    * oracle-exact, not just its guarantees.
    */
  private[graft] def bloomPositions(s: Column): Column =
    array((0 until BloomHashes).map(i =>
      pmod(conv(substring(md5(concat(lit(s"bloom$i:"), s)), 1, 15), 16, 10)
        .cast("long"), lit(BloomBits))): _*)

  /** dd13 — BLOOM-membership decontamination: dd10's n-gram screen with
    * the eval side compressed to BIT POSITIONS instead of shingle
    * strings — the broadcast shrinks from O(total eval text) to O(m)
    * regardless of how large the eval suite grows (the scale knob dd10
    * lacks: its broadcast grows with the eval set). A training shingle is
    * flagged iff ALL k of its positions appear in the eval position set —
    * classic bloom semantics expressed as a broadcast position join +
    * count, no bitset type and no UDF needed. No false negatives by
    * construction (a genuinely shared shingle's positions are all
    * present); false positives are the bloom trade, measured in DedupSpec
    * against the exact overlap. Fully deterministic (portable md5
    * positions) ⇒ oracle-HASHABLE, unusual for a sketch-family operator.
    */
  def bloomDecontaminate(
      docs: DataFrame, nEval: Long = 20, n: Int = 3): DataFrame = {
    val ex = explodedShingles(docs, n)
    val evalPos = ex.filter(col("doc_id") < nEval)
      .select(explode(bloomPositions(col("s"))).as("p")).distinct()
      .withColumn("present", lit(1))
    // ONE corpus-scale pass: a left join marks present positions, the
    // (doc, shingle) rollup counts hits, and the per-doc rollup derives
    // BOTH the shingle total and the flagged count from the same stream
    // (a second `ex.filter` branch would tokenize + shingle the training
    // corpus twice)
    ex.filter(col("doc_id") >= nEval)
      .select(col("doc_id"), col("s"), explode(bloomPositions(col("s"))).as("p"))
      .join(broadcast(evalPos), Seq("p"), "left") // ≤ m positions ⇒ hint is safe
      .groupBy(col("doc_id"), col("s"))
      .agg(count(col("present")).as("hits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("hits") === BloomHashes, 1)).as("n_flagged"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- dd12

  /** `docs`' ids beside their token array `toks`, projected once. A lambda
    * body is outside subexpression elimination, so a `tokens(...)` inside
    * the span `transform` would re-split the whole document per span
    * start.
    */
  private def withTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  /** The md5 hash of every k-token span of `toks`, in start order; empty
    * for a document shorter than k tokens.
    */
  private def spanHashes(k: Int): Column = {
    val toks = col("toks")
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => md5(array_join(slice(toks, i, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** EXACT-SUBSTRING duplication (the suffix-array dedup family from the
    * published training-data dedup literature, approximated by hashing):
    * every k-token rolling span is hashed; a span hash occurring in ≥ 2
    * DISTINCT documents marks both occurrences as duplicated text. Per
    * document: span count, duplicated-span count, duplicated fraction —
    * the "how much of this doc is copied from elsewhere" signal that
    * document-level near-dup (dd3/dd4) structurally cannot give (a doc
    * that is 20% boilerplate is no one's near-duplicate). Plan shape is
    * the dd3 posting-list family: spans explode linearly (one row per
    * token position), the dup set is a distinct + count ≥ 2 aggregate,
    * and the per-doc rollup joins on the span hash — no pairwise
    * expansion anywhere. The md5 span hash is engine-portable, so the
    * whole operator is oracle-hashable.
    */
  def substringDups(docs: DataFrame, k: Int = 16): DataFrame = {
    // explode_outer keeps zero-span (short) docs with a null hash so the
    // rollup still emits their row
    val ex = withTokens(docs).select(col("doc_id"), explode_outer(spanHashes(k)).as("h"))
    val dup = ex.filter(col("h").isNotNull)
      .select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("isdup"))
    ex.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_spans"), count(col("isdup")).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          r6(col("n_dup_spans").cast("double") / col("n_spans"))))
      .orderBy(col("doc_id"))
  }

  /** dd17 — exact-substring SCRUB: dd12 turned into the TRANSFORMATION
    * the published exact-substring dedup pipeline actually applies
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): every token covered by a k-token span that appears in ≥ 2
    * DISTINCT documents is REMOVED, and the cleaned text emitted beside
    * before/after token counts. dd12 reports the damage; dd17 repairs it.
    *
    * Pipeline: dd12's rolling md5 span hashes WITH their 1-based start
    * positions → cross-doc duplicate hash set (distinct-doc count ≥ 2) →
    * per-doc sorted duplicated-start list (bounded by the doc's own span
    * count) → one HOF pass drops every token position covered by any
    * duplicated start (`s ≤ p < s+k`). Linear end-to-end: spans explode
    * once, the dup set is a hash-keyed aggregate, the scrub is map-side
    * expression work — no pairwise anything. The md5 spans and the
    * position arithmetic are engine-portable, so the SCRUBBED TEXT
    * hash-matches the DuckDB twin byte-for-byte.
    */
  def scrubDupSpans(docs: DataFrame, k: Int = 16): DataFrame = {
    val ex = withTokens(docs).select(col("doc_id"), posexplode(spanHashes(k)).as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("h"))
    val dup = ex.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val dupStarts = ex.join(dup, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("start"))).as("starts"))
    docs.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        // p is filter's 0-based element index; spans start 1-based
        filter(col("toks"), (_, p) =>
          !exists(col("starts"), s => s <= p + 1 && p + 1 < s + k)).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ registry

  // ------------------------------------------------------------- pl1

  /** pl1 — the CORPUS GAUNTLET: the whole pretraining-admission pipeline
    * as ONE declarative DAG, hash-gated end-to-end. Every document gets
    * the verdict of each stage it must survive — dd20's URL
    * canonicalization (is this doc the kept copy of its page?), td6's
    * Gopher/C4 quality rules, dd9's near-dup cluster manifest (is it the
    * representative of its content?), dd10's eval-overlap
    * decontamination — plus `admitted`, the conjunction: the per-doc
    * accounting a real pipeline logs (V9's sequential attribution at
    * corpus scale, "which gate killed this doc"). Each stage is the
    * REGISTRY operator itself (same functions, same persisted artifacts
    * — dd9's labels come from the build-once cluster artifact, nothing
    * recomputes), so the composition can never drift from the stages it
    * composes; the oracle WRAPS the four stage oracle texts as CTEs (the
    * sim15 discipline) and replays the same left joins.
    *
    * Scale: four already-audited plans joined on doc_id — the joins add
    * two data-scaled hash shuffles over (id, flag)-width rows; at
    * 100 TB each stage manifest is also exactly what the pipeline
    * would persist between stages, making this the read-side audit
    * query over those manifests.
    */
  def corpusGauntlet(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val url = urlDedup(Tables.documents(spark, sfDir))
      .select(col("keep_doc").as("doc_id")).distinct()
      .withColumn("u_keep", lit(true))
    val quality = graft.operators.TextAnalysis
      .qualityFilter(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("keep").as("q_keep"))
    val deduped = dedupCorpus(Tables.documents(spark, sfDir),
        clusterLabels(spark, sfDir))
      .select(col("doc_id")).distinct().withColumn("d_keep", lit(true))
    val flagged = decontaminate(Tables.documentsRebalanced(spark, sfDir))
      .select(col("doc_id")).distinct().withColumn("c_flag", lit(true))
    docs
      .join(url, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .join(deduped, Seq("doc_id"), "left")
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("u_keep"), lit(false)).as("url_keep"),
        coalesce(col("q_keep"), lit(false)).as("quality_keep"),
        coalesce(col("d_keep"), lit(false)).as("dedup_keep"),
        col("c_flag").isNull.as("decont_ok"))
      .withColumn("admitted",
        col("url_keep") && col("quality_keep") && col("dedup_keep") &&
          col("decont_ok"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd12_substring_dups" -> ((s: SparkSession, d: String) =>
      substringDups(Tables.documentsRebalancedDense(s, d))),
    "dd17_scrub_dup_spans" -> ((s: SparkSession, d: String) =>
      scrubDupSpans(Tables.documentsRebalancedDense(s, d))),
    "dd1_exact_dups" -> ((s: SparkSession, d: String) => exactGroups(Tables.documents(s, d))),
    "dd2_fingerprint_dups" -> ((s: SparkSession, d: String) => fingerprintGroups(Tables.documents(s, d))),
    "dd3_ngram_jaccard" -> ((s: SparkSession, d: String) => ngramJaccardPairs(Tables.documentsRebalanced(s, d))),
    "dd19_containment" -> ((s: SparkSession, d: String) => containmentPairs(Tables.documentsRebalanced(s, d))),
    "pl1_corpus_gauntlet" -> (corpusGauntlet _),
    "dd20_url_dedup" -> ((s: SparkSession, d: String) => urlDedup(Tables.documents(s, d))),
    "dd21_fuzzy_linkage" -> (fuzzyLinkageQ _),
    "dd18_snapshot_diff" -> (snapshotDiffQ _),
    "dd4_minhash_candidates" -> ((s: SparkSession, d: String) => minhashCandidates(Tables.documentsRebalanced(s, d))),
    "dd15_minhash_verified" -> ((s: SparkSession, d: String) => minhashVerifiedPairs(Tables.documentsRebalanced(s, d))),
    "dd15b_minhash_capped" -> ((s: SparkSession, d: String) =>
      minhashVerifiedPairs(Tables.documentsRebalanced(s, d), maxBucket = Dd15MaxBucket)),
    "dd5_simhash_candidates" -> ((s: SparkSession, d: String) => simhashCandidates(Tables.documents(s, d))),
    "dd5b_simhash_capped" -> ((s: SparkSession, d: String) =>
      simhashCandidatesCapped(Tables.documents(s, d))),
    "dd8_dup_clusters" -> ((s: SparkSession, d: String) =>
      dupClusters(ngramJaccardPairs(Tables.documentsRebalanced(s, d)))),
    "dd9_dedup_corpus" -> ((s: SparkSession, d: String) =>
      dedupCorpus(Tables.documents(s, d), clusterLabels(s, d))),
    "dd22_soft_dedup_weights" -> ((s: SparkSession, d: String) =>
      softDedupWeights(Tables.documents(s, d), clusterLabels(s, d))),
    "dd10_decontaminate" -> ((s: SparkSession, d: String) =>
      decontaminate(Tables.documentsRebalanced(s, d))),
    "dd13_bloom_decontaminate" -> ((s: SparkSession, d: String) =>
      bloomDecontaminate(Tables.documentsRebalanced(s, d))),
    "dd14_best_representative" -> (bestRepresentative _),
    "dd11_incremental_dedup" -> ((s: SparkSession, d: String) => {
      val docs = Tables.documentsRebalanced(s, d)
      val newFrom = arrivalSplit(docs)
      incrementalDedupLabels(docs, clusterLabels(s, d, upTo = newFrom), newFrom)
    }))

  /** DuckDB token-array expression over `text` — same tokenizer spec as
    * the engine's [[graft.functions.tokens]] (see
    * [[graft.functions.tokensSql]]).
    */
  private val toksSql = tokensSql("text")

  /** Relax+compress rounds in the unrolled connected-components oracle
    * text ([[ccSql]]). Each round at least doubles the hop distance a
    * component's min label has traveled (measured: 17 rounds converge a
    * 100,000-node path), so 20 covers diameters past 10^6 — absurdly
    * beyond any shingle-overlap dup cluster (near-cliques, diameter
    * single digits). An UNCONVERGED label would differ from the
    * engine's fixpoint and fail the hash gate loudly, so the bound can
    * never pass silently-wrong; the cost is linear — `rounds` hash
    * joins over the edge list.
    */
  val CcRounds = 20

  /** BOUNDED connected-components oracle text: unrolled pointer-doubling
    * min-label propagation over an `edges` CTE (src, dst — both
    * directions present), replacing the `WITH RECURSIVE reach` closure
    * the r15 sf1 cycle timed out on. The recursive text enumerated every
    * (node, reachable-label) pair — O(Σ cluster²) rows deduplicated by
    * UNION per step (dd11 burned 80+ CPU-minutes and ~50 GB at sf1) —
    * where the engine's pointer-doubling CC (`dupClusters`) is
    * O(E · log diameter). This text is the SAME algorithm as the engine,
    * declaratively: round k relaxes one hop (min over neighbors' labels)
    * then compresses (label := label's label), and every CTE is
    * MATERIALIZED so a round is evaluated once (DuckDB re-inlines
    * multiply-referenced CTEs otherwise, which would re-evaluate the
    * whole chain per reference). Emits CTEs prefixed `<p>_` plus the
    * final `<p>` with (id, lbl) — one row per node appearing in edges,
    * lbl = min doc_id of its component, exactly the recursive text's
    * `SELECT id, min(lbl) … GROUP BY id`.
    */
  private[graft] def ccSql(edges: String, p: String): String = {
    val init = s"${p}_c0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM $edges)"
    val rounds = (1 to CcRounds).flatMap { k =>
      val prev = s"${p}_c${k - 1}"
      Seq(
        s"""${p}_r$k AS MATERIALIZED (SELECT l.id, least(l.lbl, coalesce(n.m, l.lbl)) AS lbl
           |  FROM $prev l LEFT JOIN (SELECT e.src AS id, min(l2.lbl) AS m
           |    FROM $edges e JOIN $prev l2 ON l2.id = e.dst GROUP BY e.src) n USING (id))""".stripMargin,
        s"${p}_c$k AS MATERIALIZED (SELECT l.id, q.lbl FROM ${p}_r$k l JOIN ${p}_r$k q ON q.id = l.lbl)")
    }
    (init +: rounds :+ s"$p AS (SELECT id, lbl FROM ${p}_c$CcRounds)").mkString(",\n")
  }

  val oracles: Map[String, String] = baseOracles +
    // pl1's oracle wraps the four STAGE oracle texts as CTEs (the sim15
    // discipline — the composition can never drift from the stages) and
    // replays the same left joins and conjunction
    ("pl1_corpus_gauntlet" ->
      s"""WITH s1 AS (${baseOracles("dd20_url_dedup")}),
         |s2 AS (${graft.operators.TextAnalysis.oracles("td6_quality_filter")}),
         |s3 AS (${baseOracles("dd9_dedup_corpus")}),
         |s4 AS (${baseOracles("dd10_decontaminate")}),
         |d AS (SELECT doc_id FROM documents)
         |SELECT d.doc_id,
         |  u.keep_doc IS NOT NULL AS url_keep,
         |  coalesce(q.keep, false) AS quality_keep,
         |  k.doc_id IS NOT NULL AS dedup_keep,
         |  c.doc_id IS NULL AS decont_ok,
         |  (u.keep_doc IS NOT NULL AND coalesce(q.keep, false)
         |   AND k.doc_id IS NOT NULL AND c.doc_id IS NULL) AS admitted
         |FROM d
         |LEFT JOIN (SELECT DISTINCT keep_doc FROM s1) u ON u.keep_doc = d.doc_id
         |LEFT JOIN s2 q ON q.doc_id = d.doc_id
         |LEFT JOIN (SELECT DISTINCT doc_id FROM s3) k ON k.doc_id = d.doc_id
         |LEFT JOIN (SELECT DISTINCT doc_id FROM s4) c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin)

  private lazy val baseOracles: Map[String, String] = Map(
    // the same frontier derivation (doc_id div/% 7 modes), the same
    // canonicalization chain (canonicalizeUrlSql), the same keep rule
    "dd20_url_dedup" -> {
      val host = "'site-' || CAST((doc_id // 9) % 20 AS VARCHAR) || '.example.com'"
      val base = s"$host || '/doc/' || CAST(doc_id // 9 AS VARCHAR)"
      val hostUp = s"upper($host) || '/doc/' || CAST(doc_id // 9 AS VARCHAR)"
      s"""WITH u AS (SELECT doc_id,
         |  CASE doc_id % 9
         |    WHEN 0 THEN 'https://' || $base
         |    WHEN 1 THEN 'http://' || $base
         |    WHEN 2 THEN 'https://www.' || $base
         |    WHEN 3 THEN 'https://' || $hostUp
         |    WHEN 4 THEN 'https://' || $base || '/'
         |    WHEN 5 THEN 'https://' || $base || '?utm_source=feed&ref=rss'
         |    WHEN 6 THEN 'https://' || $base || '#section-2'
         |    WHEN 7 THEN 'HTTP://' || $base
         |    ELSE 'ftp://' || $base END AS url
         |  FROM documents)
         |SELECT ${canonicalizeUrlSql("url")} AS canonical_url,
         |  min(doc_id) AS keep_doc, count(*) AS n_variants
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // same key-mod typo derivation, same two blocking passes
    // (first-char and last-char, length±1) unioned + deduped, same
    // integer-DP levenshtein, same (dist, name) argmin
    "dd21_fuzzy_linkage" ->
      """WITH dirty AS (SELECT n_nationkey AS dirty_id,
        |  CASE CAST(n_nationkey % 3 AS INTEGER)
        |    WHEN 0 THEN n_name
        |    WHEN 1 THEN substring(n_name, 1, 1) || substring(n_name, 3)
        |    ELSE substring(n_name, 1, 3) || substring(n_name, 3) END AS dirty_name
        |  FROM nation),
        |c AS (SELECT n_name AS clean_name FROM nation),
        |cand AS (
        |  SELECT d.dirty_id, d.dirty_name, c.clean_name
        |    FROM dirty d JOIN c
        |    ON substring(d.dirty_name, 1, 1) = substring(c.clean_name, 1, 1)
        |    AND abs(length(d.dirty_name) - length(c.clean_name)) <= 1
        |  UNION
        |  SELECT d.dirty_id, d.dirty_name, c.clean_name
        |    FROM dirty d JOIN c
        |    ON substring(d.dirty_name, length(d.dirty_name), 1)
        |         = substring(c.clean_name, length(c.clean_name), 1)
        |    AND abs(length(d.dirty_name) - length(c.clean_name)) <= 1),
        |m AS (SELECT dirty_id, dirty_name, clean_name, dist,
        |    row_number() OVER (PARTITION BY dirty_id
        |      ORDER BY dist, clean_name) AS rk
        |  FROM (SELECT dirty_id, dirty_name, clean_name,
        |      levenshtein(dirty_name, clean_name) AS dist
        |    FROM cand)
        |  WHERE dist <= 2)
        |SELECT d.dirty_id, d.dirty_name, m.clean_name,
        |  CAST(m.dist AS BIGINT) AS dist
        |FROM dirty d LEFT JOIN (SELECT dirty_id, clean_name, dist FROM m
        |  WHERE rk = 1) m USING (dirty_id)
        |ORDER BY d.dirty_id""".stripMargin,
    "dd12_substring_dups" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |sp AS (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 16
         |    THEN list_transform(generate_series(1, len(toks) - 15),
         |         i -> md5(array_to_string(toks[i:i+15], ' ')))
         |    ELSE CAST([] AS VARCHAR[]) END) AS h
         |  FROM t),
         |d AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM sp)
         |      GROUP BY h HAVING count(*) >= 2),
         |j AS (SELECT sp.doc_id, sp.h, CASE WHEN d.h IS NOT NULL THEN 1 END AS isdup
         |      FROM sp LEFT JOIN d ON sp.h = d.h),
         |p AS (SELECT t.doc_id, count(j.h) AS n_spans, count(j.isdup) AS n_dup_spans
         |      FROM t LEFT JOIN j ON t.doc_id = j.doc_id GROUP BY t.doc_id)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  CASE WHEN n_spans > 0
         |       THEN round(CAST(n_dup_spans AS DOUBLE) / n_spans * 1e6) / 1e6 END AS dup_frac
         |FROM p ORDER BY doc_id""".stripMargin,
    // dd12's span hashes with positions, the cross-doc dup set, then the
    // identical index-lambda scrub (DuckDB's list_filter index is 1-based
    // — the span-start base — where Spark's is 0-based, hence p+1 there).
    // A fully-scrubbed doc's empty kept list stringifies to NULL in
    // DuckDB (string_agg over zero rows) where Spark's concat_ws gives
    // '' — coalesced to the engine's contract
    "dd17_scrub_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |st AS (SELECT doc_id, toks,
         |    unnest(CASE WHEN len(toks) >= 16
         |      THEN generate_series(1, len(toks) - 15)
         |      ELSE CAST([] AS BIGINT[]) END) AS i
         |  FROM t),
         |sp AS (SELECT doc_id, i,
         |    md5(array_to_string(toks[i:i+15], ' ')) AS h FROM st),
         |d AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM sp)
         |      GROUP BY h HAVING count(*) >= 2),
         |ds AS (SELECT sp.doc_id, list_sort(list(sp.i)) AS starts
         |  FROM sp JOIN d USING (h) GROUP BY sp.doc_id),
         |o AS (SELECT t.doc_id, t.toks,
         |    coalesce(ds.starts, CAST([] AS BIGINT[])) AS starts
         |  FROM t LEFT JOIN ds USING (doc_id)),
         |kp AS (SELECT doc_id, toks,
         |    list_filter(toks, (tok, p) ->
         |      len(list_filter(starts, s -> s <= p AND p < s + 16)) = 0) AS kept
         |  FROM o)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  coalesce(array_to_string(kept, ' '), '') AS clean_text
         |FROM kp ORDER BY doc_id""".stripMargin,
    // NULLS FIRST: md5(NULL) keeps a NULL-hash group in BOTH engines —
    // the content-missing census row, NOT a merge instruction (dedup of
    // unknown content is V4's null-routing, never dd1's) — and Spark
    // sorts it first where DuckDB sorts it last (the advevents ORDER BY
    // class, reached here by the first NULL-text corpus)
    "dd1_exact_dups" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,
    "dd2_fingerprint_dups" ->
      // coalesce: DuckDB's array_to_string([]) is NULL where Spark's
      // concat_ws is '' — zero-token docs must fingerprint identically
      s"""SELECT md5(coalesce(array_to_string(list_sort(${tokensSql(asciiLowerSql("text"))}), ' '), '')) AS fp,
         |count(*) AS n_copies, min(doc_id) AS keep_id
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd3_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
        |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // dd3's capped substrate verbatim, both directed divisions from the
    // single symmetric intersection count
    "dd19_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ann AS (SELECT doc_a, doc_b, c, sa.n_sh AS na, sb.n_sh AS nb
        |        FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id),
        |dirs AS (SELECT doc_a AS doc_id, doc_b AS container_id, c * 1.0 / na AS containment FROM ann
        |         UNION ALL
        |         SELECT doc_b, doc_a, c * 1.0 / nb FROM ann)
        |SELECT doc_id, container_id, round(containment * 1e6) / 1e6 AS containment
        |FROM dirs WHERE containment >= 0.8
        |ORDER BY doc_id, container_id""".stripMargin,
    // the same %10 membership/revision derivation as snapshotDiffQ, then
    // the hash-compare full-outer classification
    "dd18_snapshot_diff" ->
      """WITH old AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 3 THEN text || ' rev0' ELSE text END) AS old_hash
        |  FROM documents WHERE doc_id % 10 <> 7),
        |neu AS (SELECT doc_id, md5(text) AS new_hash
        |  FROM documents WHERE doc_id % 10 <> 4),
        |j AS (SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id, old_hash, new_hash
        |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id)
        |SELECT doc_id,
        |  CASE WHEN old_hash IS NULL THEN 'added'
        |       WHEN new_hash IS NULL THEN 'removed'
        |       WHEN old_hash <> new_hash THEN 'changed' END AS status,
        |  old_hash, new_hash
        |FROM j
        |WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash
        |ORDER BY doc_id""".stripMargin,
    // dd3's pair pipeline verbatim as CTEs, then connected components by
    // the BOUNDED unrolled propagation ([[ccSql]]) — the declarative twin
    // of the engine's pointer-doubling, replacing the recursive closure
    // whose reach-set blowup timed out the r15 sf1 cycle
    "dd8_dup_clusters" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |          WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccSql("edges", "cc")}
        |SELECT id AS doc_id, lbl AS rep_id FROM cc
        |ORDER BY doc_id""".stripMargin,
    // dd8's bounded components + cluster sizes + a LEFT join back onto
    // the full corpus — singletons coalesce to themselves at weight 1
    "dd22_soft_dedup_weights" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
        |sz0 AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sz0 sa ON doc_a = sa.doc_id JOIN sz0 sb ON doc_b = sb.doc_id
        |          WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccSql("edges", "cc")},
        |lab AS (SELECT id AS doc_id, lbl AS rep_id FROM cc),
        |csz AS (SELECT rep_id, count(*) AS cluster_size FROM lab GROUP BY rep_id)
        |SELECT d.doc_id, coalesce(lab.rep_id, d.doc_id) AS rep_id,
        |  coalesce(csz.cluster_size, 1) AS cluster_size,
        |  round(1.0 / coalesce(csz.cluster_size, 1) * 1e6) / 1e6 AS weight
        |FROM documents d
        |LEFT JOIN lab USING (doc_id)
        |LEFT JOIN csz ON lab.rep_id = csz.rep_id
        |ORDER BY d.doc_id""".stripMargin,
    // dd8's transitive closure + the NOT IN drop of non-representative
    // cluster members — the declarative twin of dedupCorpus
    "dd9_dedup_corpus" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |          WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccSql("edges", "cc")},
        |reps AS (SELECT id AS doc_id, lbl AS rep_id FROM cc)
        |SELECT d.doc_id, md5(d.text) AS text_hash FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM reps WHERE doc_id != rep_id)
        |ORDER BY doc_id""".stripMargin,
    // The frozen-history incremental contract, declaratively: yesterday's
    // labels from yesterday's corpus (its own DF cap), today's candidate
    // pairs from the post-ingest corpus's statistics, old endpoints
    // mapped to their representatives, transitive closure over the
    // batch-sized mini graph only.
    "dd11_incremental_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |nf AS (SELECT $ArrivalOffsetSql AS v FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |ex_old AS (SELECT * FROM ex WHERE doc_id < (SELECT v FROM nf)),
         |dfc_old AS (SELECT s FROM ex_old GROUP BY s HAVING count(*) <= 50),
         |kept_old AS (SELECT ex_old.doc_id, ex_old.s FROM ex_old JOIN dfc_old USING (s)),
         |sz_old AS (SELECT doc_id, count(*) AS n_sh FROM kept_old GROUP BY doc_id),
         |inter_old AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |  FROM kept_old a JOIN kept_old b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs_old AS (SELECT doc_a, doc_b
         |  FROM inter_old JOIN sz_old sa ON doc_a = sa.doc_id JOIN sz_old sb ON doc_b = sb.doc_id
         |  WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2),
         |old_edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs_old
         |  UNION ALL SELECT doc_b, doc_a FROM pairs_old),
         |${ccSql("old_edges", "occ")},
         |old_reps AS (SELECT id AS doc_id, lbl AS rep_id FROM occ),
         |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |inter_new AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
         |  WHERE b.doc_id >= (SELECT v FROM nf) GROUP BY 1, 2),
         |pairs_new AS (SELECT doc_a, doc_b
         |  FROM inter_new JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |  WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2),
         |edges0 AS (SELECT coalesce(r.rep_id, p.doc_a) AS src, p.doc_b AS dst
         |  FROM pairs_new p LEFT JOIN old_reps r ON p.doc_a = r.doc_id),
         |mini_edges AS (SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0),
         |${ccSql("mini_edges", "mcc")},
         |mini_reps AS (SELECT id, lbl AS rep FROM mcc)
         |SELECT d.doc_id, coalesce(m.rep, d.doc_id) AS rep_id
         |FROM documents d LEFT JOIN mini_reps m ON d.doc_id = m.id
         |WHERE d.doc_id >= (SELECT v FROM nf)
         |ORDER BY doc_id""".stripMargin,
    // dd8's transitive closure extended with token lengths; the argmax is
    // spelled as row_number over (n_tokens DESC, doc_id) — equivalent to
    // the engine's max(struct(n_tokens, -doc_id)) including ties
    "dd14_best_representative" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
        |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |          WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccSql("edges", "cc")},
        |reps AS (SELECT id AS doc_id, lbl AS rep_id FROM cc),
        |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        |j AS (SELECT r.rep_id, r.doc_id, l.n_tokens
        |      FROM reps r JOIN lens l USING (doc_id)),
        |rk AS (SELECT rep_id, doc_id, n_tokens,
        |  row_number() OVER (PARTITION BY rep_id
        |    ORDER BY n_tokens DESC, doc_id) AS rn FROM j),
        |agg AS (SELECT rep_id, count(*) AS n_members FROM j GROUP BY rep_id)
        |SELECT agg.rep_id, agg.n_members,
        |  rk.doc_id AS best_doc_id, rk.n_tokens AS best_tokens
        |FROM agg JOIN rk ON agg.rep_id = rk.rep_id AND rk.rn = 1
        |ORDER BY agg.rep_id""".stripMargin,
    // the identical position arithmetic (k salted-md5 hashes mod m) in
    // SQL — the bloom probe is deterministic, so even this sketch-family
    // operator hash-matches
    "dd13_bloom_decontaminate" -> {
      val posList = (0 until BloomHashes).map(i =>
        s"('0x' || substring(md5('bloom$i:' || s), 1, 15))::BIGINT % $BloomBits")
        .mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |ep AS (SELECT DISTINCT p FROM
         |  (SELECT unnest($posList) AS p FROM ex WHERE doc_id < 20)),
         |tp AS (SELECT doc_id, s, unnest($posList) AS p FROM ex WHERE doc_id >= 20),
         |hits AS (SELECT doc_id, s, count(*) AS h
         |  FROM tp JOIN ep USING (p) GROUP BY 1, 2),
         |fl AS (SELECT doc_id, count(*) AS n_flagged FROM hits
         |  WHERE h = $BloomHashes GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM ex
         |  WHERE doc_id >= 20 GROUP BY 1)
         |SELECT tot.doc_id, tot.n_shingles,
         |  coalesce(fl.n_flagged, 0) AS n_flagged
         |FROM tot LEFT JOIN fl ON tot.doc_id = fl.doc_id
         |ORDER BY tot.doc_id""".stripMargin
    },
    // the engine's MinHash pipeline re-derived from first principles:
    // identical base hash (52-bit md5 prefix mod P), identical md5-drawn
    // (a_i, b_i), the same k=32 minima split into 8 bands of 4 — so the
    // candidate SET (and shared-band counts) hash-match exactly. Docs with
    // < 3 tokens have no shingles and are excluded in both engines.
    "dd4_minhash_candidates" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)])) AS s
         |  FROM t WHERE len(toks) >= 3),
         |h AS (SELECT doc_id,
         |  ('0x' || substring(md5(s), 1, 13))::BIGINT % 2147483647 AS h FROM sh),
         |perm AS (SELECT i,
         |  ('0x' || substring(md5('mh-a:' || i), 1, 13))::BIGINT % 2147483646 + 1 AS a,
         |  ('0x' || substring(md5('mh-b:' || i), 1, 13))::BIGINT % 2147483647 AS b
         |  FROM range(32) r(i)),
         |sig AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS m
         |  FROM h CROSS JOIN perm GROUP BY doc_id, i),
         |band AS (SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, i // 4)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
         |FROM band a JOIN band b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    // dd4's candidate chain + dd3's capped-Jaccard verify composed in
    // SQL — the candidates-then-verify pipeline replayed end-to-end
    "dd15_minhash_verified" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |msh AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)])) AS s
         |  FROM t WHERE len(toks) >= 3),
         |h AS (SELECT doc_id,
         |  ('0x' || substring(md5(s), 1, 13))::BIGINT % 2147483647 AS h FROM msh),
         |perm AS (SELECT i,
         |  ('0x' || substring(md5('mh-a:' || i), 1, 13))::BIGINT % 2147483646 + 1 AS a,
         |  ('0x' || substring(md5('mh-b:' || i), 1, 13))::BIGINT % 2147483647 AS b
         |  FROM range(32) r(i)),
         |sig AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS m
         |  FROM h CROSS JOIN perm GROUP BY doc_id, i),
         |band AS (SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |sh AS (SELECT doc_id,
         |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS c
         |  FROM cand c JOIN kept a ON a.doc_id = c.doc_a
         |              JOIN kept b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
         |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // dd15 with the CAPPED candidate contract: the cand CTE replicates
    // pair_combs' hub-and-spoke semantics from the shared Dd15MaxBucket
    // literal (the dd7 r16 oracle pattern) — full combinations at or
    // below the cap, star over the bucket's min doc_id above it
    "dd15b_minhash_capped" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |msh AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)])) AS s
         |  FROM t WHERE len(toks) >= 3),
         |h AS (SELECT doc_id,
         |  ('0x' || substring(md5(s), 1, 13))::BIGINT % 2147483647 AS h FROM msh),
         |perm AS (SELECT i,
         |  ('0x' || substring(md5('mh-a:' || i), 1, 13))::BIGINT % 2147483646 + 1 AS a,
         |  ('0x' || substring(md5('mh-b:' || i), 1, 13))::BIGINT % 2147483647 AS b
         |  FROM range(32) r(i)),
         |sig AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS m
         |  FROM h CROSS JOIN perm GROUP BY doc_id, i),
         |band AS MATERIALIZED (SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, i // 4),
         |grp AS MATERIALIZED (SELECT band, key, count(*) AS n, min(doc_id) AS hub
         |  FROM band GROUP BY band, key HAVING count(*) > 1),
         |cand AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  JOIN grp g ON g.band = a.band AND g.key = a.key
         |  WHERE g.n <= $Dd15MaxBucket
         |  UNION ALL
         |  SELECT g.hub AS doc_a, b.doc_id AS doc_b
         |  FROM grp g JOIN band b
         |    ON b.band = g.band AND b.key = g.key AND b.doc_id > g.hub
         |  WHERE g.n > $Dd15MaxBucket)),
         |sh AS (SELECT doc_id,
         |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |dfc AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS c
         |  FROM cand c JOIN kept a ON a.doc_id = c.doc_a
         |              JOIN kept b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
         |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the engine's SimHash re-derived: per-token 60-bit md5 prefix,
    // majority vote per bit, then a BRUTE-FORCE Hamming-radius join — the
    // engine's pigeonhole banding is a pure execution strategy whose
    // output is exactly the radius-3 pair set, so the small-scale brute
    // force is the honest declarative twin. sum() is cast back to BIGINT
    // (DuckDB widens to HUGEINT); tokenless docs vote nothing ⇒ sig 0,
    // restored by the LEFT JOIN.
    "dd5_simhash_candidates" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |hh AS (SELECT doc_id,
         |  ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM hh CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
         |sig0 AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
         |  FROM bits GROUP BY doc_id),
         |sig AS (SELECT t.doc_id, coalesce(s.sig, 0) AS sig
         |  FROM t LEFT JOIN sig0 s USING (doc_id))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // dd5b: the same md5-derived signatures, but the BANDING is now part
    // of the contract (not just an execution strategy as in dd5) — the
    // bands CTE regenerates the engine's fused (band | block_i | block_j)
    // keys from the shared block-offset literals, and pairs replicates
    // pair_combs' hub-and-spoke cap from the shared Dd5MaxBucket literal:
    // full per-bucket combinations at or below the cap, star over the
    // bucket's min doc_id above it, Hamming-verified either way
    "dd5b_simhash_capped" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |hh AS (SELECT doc_id,
         |  ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM hh CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
         |sig0 AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
         |  FROM bits GROUP BY doc_id),
         |sig AS MATERIALIZED (SELECT t.doc_id, coalesce(s.sig, 0) AS sig
         |  FROM t LEFT JOIN sig0 s USING (doc_id)),
         |bands(b, oi, oj) AS (VALUES $simhashBandsSql),
         |bk AS MATERIALIZED (SELECT s.doc_id, s.sig,
         |    CAST(b.b AS BIGINT) * 16777216
         |      + ((s.sig >> b.oi) & 4095) * 4096
         |      + ((s.sig >> b.oj) & 4095) AS key
         |  FROM sig s CROSS JOIN bands b),
         |grp AS MATERIALIZED (SELECT key, count(*) AS n, min(doc_id) AS hub
         |  FROM bk GROUP BY key HAVING count(*) > 1),
         |pairs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id
         |  JOIN grp g ON g.key = a.key
         |  WHERE g.n <= $Dd5MaxBucket
         |  UNION ALL
         |  SELECT g.hub AS doc_a, b.doc_id AS doc_b
         |  FROM grp g JOIN bk b ON b.key = g.key AND b.doc_id > g.hub
         |  WHERE g.n > $Dd5MaxBucket))
         |SELECT p.doc_a, p.doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM pairs p JOIN sig a ON a.doc_id = p.doc_a
         |             JOIN sig b ON b.doc_id = p.doc_b
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd10_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i+1:i+3], ' ') FOR i IN range(len(toks)-2)]) AS shingles FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
        |SELECT a.doc_id, b.doc_id AS eval_id, count(*) AS n_shared
        |FROM ex a JOIN ex b ON a.s = b.s
        |WHERE a.doc_id >= 20 AND b.doc_id < 20
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY 1, 2""".stripMargin)
  // dd4/dd5 candidate sets hash-match their oracles above (every hash
  // constant is an md5 draw both engines compute); dd4 recall vs dd3 and
  // dd5 radius-exactness are additionally asserted in
  // src/test/scala/graft/DedupSpec.scala.
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  * Each query is fully executed via `queryExecution.toRdd.count()` — an
  * RDD-level count over the df's own physical plan, which (unlike a
  * Dataset `count()`, which Catalyst rewrites to an aggregate that can
  * skip projections and UDF-free scans) evaluates every operator and
  * every row, while keeping the adaptive plan handle that gets
  * fingerprinted identical to the one that ran.
  *
  * Methodology: each query runs once COLD, then `SPARK_GRAFT_BENCH_RUNS−1`
  * more times (default 2 more), and `queries`/`value` report the BEST
  * post-cold run — a single-shot number charges one-time JIT and
  * plan-compile cost to whichever query hits a code path first (round 2's
  * official q01 was 27 s cold vs 2.9 s in isolation), and a single warm
  * run still inherits JVM-wide noise from its 119 neighbors (round 7's
  * record showed td4 at 2.8 s vs 0.77 s isolated — GC/compile contention,
  * not a plan change). Min-of-warm-runs is the standard noise floor.
  * The cold first-run times are kept honestly as `cold_queries`/
  * `cold_total`. Query order is the fixed registry sort, so rounds run
  * the same schedule.
  *
  * Failures are LOUD: a query that throws is excluded from `queries` and
  * recorded under `errors` with its exception — never a fake wall time.
  * Unknown query names in args are an immediate error, not a silent
  * empty run.
  *
  * Per-query independence: the catalog cache is cleared between queries so
  * an operator that persists (pf1's dashboard cache) cannot donate its
  * InMemoryRelation to later queries via plan-fragment matching — each
  * number measures the operator over parquet. (Within a query the runs
  * share whatever the operator itself caches — that IS its warm behavior.)
  *
  * Besides stdout (which log capturers have truncated in past rounds,
  * losing every per-query number), the full record is WRITTEN to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench/last_run.json`) including a
  * PLAN FINGERPRINT per query, so a plan regression (lost broadcast, new
  * exchange) diffs loudly between rounds even when timings are noisy.
  * `tools/benchdiff.py` compares two records.
  *
  * FINGERPRINT SCHEME 9 (fp_scheme in the record; 9 scrubs the checkout
  * directory (`user.dir`) from paths: plans that scan a store under the
  * checkout's `target/` print its absolute path, so two checkouts of one
  * commit disagreed; 8 scrubs ManifestStore
  * snapshot counters — `snap=<n>` — from artifact paths: the counter is
  * run-history state (a fresh checkout builds snap=1 where an
  * incremented store reads snap=2), so any store republish flipped
  * every snapshot-served query's fingerprint with zero plan change —
  * caught in r16 when pf5's layout-version bump republished the z-store;
  * 7 fixes the scheme-6
  * scrub's blind spot found by the r15 advisor: the scheme-6 regex tail
  * `[^\]]*\]` required a closing `]`, but a width-TRUNCATED Location
  * value — the exact case the scrub targeted — has none, so the match
  * ran through the first `]` of the NEXT metadata entry and deleted the
  * whole `PartitionFilters: [...]` list from the fingerprinted text,
  * leaving the plan-regression gate blind to partition-filter changes
  * on any truncated-Location FileScan. Two-layer fix: the session now
  * sets spark.sql.maxMetadataStringLength high (GraftSession — metadata
  * is never truncated, so the scrub is purely structural), and the
  * regex tail is bounded to the Location value itself (lazy, stopping
  * at the abbreviation ellipsis or the closing bracket) as defense in
  * depth. Fingerprints of formerly-truncated plans change ⇒ scheme
  * bump; 6 normalized the
  * width-truncated FileScan `Location: InMemoryFileIndex(…)[…]` metadata
  * to its path-list head — Spark truncates that string at
  * maxMetadataStringLength BEFORE scrubbing, and session-global exprId
  * digit counts shift the cut point, so the chopped tail flip-flopped
  * same-code fingerprints (r15: st7); 5 adds the
  * whole-stage-codegen stage-id scrub — `*(3)` numbering is assigned at
  * subtree PREPARATION and independent subtrees prepare concurrently,
  * so scheme-4 hashes flip-flopped run-to-run on identical code
  * (q41/td11/td20 in r13); 4 added the session-counter scrubs —
  * `_common_expr_<n>`/`lambda x_<n>` carry JVM-global counters, so
  * scheme-3 hashes depended on how many common-subexpression rewrites
  * ran earlier in the session): the md5
  * is taken over
  * the canonicalized FINAL adaptive plan of the DataFrame's OWN
  * QueryExecution, which is also the execution the clock times — the run
  * drives `df.queryExecution.toRdd.count()` (full evaluation of every
  * partition through the df's own `AdaptiveSparkPlanExec`, so the
  * adaptive loop finalizes THAT handle) instead of a `noop` sink save.
  * Scheme 2 claimed finality but never had it: `df.write.format("noop")
  * .save()` builds a SEPARATE QueryExecution over the write command, so
  * `df.queryExecution`'s adaptive plan was never executed and unwrapped
  * to the still-initial plan — the exact regression class the scheme
  * existed to catch (an AQE-decided broadcast lost at runtime) stayed
  * invisible (the r9 plan dumps showed raw Exchange nodes and no
  * finalized query stages for multi-shuffle queries). With AQE on (this
  * project relies on it), runtime strategy changes never touch the
  * initial plan, so only a truly-executed handle can see them.
  * `toRdd.count()` evaluates rows per-partition and returns only
  * per-partition counts — no driver-side materialization — and is the
  * same "execute the whole plan, discard the rows" contract the noop
  * sink had. Fingerprinting happens OUTSIDE the timed region, so
  * canonicalization/digest cost is not charged to any reported number.
  * Canonicalization normalizes exprIds
  * but NOT run-local state — [plan_id=N] tags, cached-RDD ids inside
  * InMemoryRelation, AQE query-stage ids, artifact/checkpoint paths under
  * the run dir, lambda identities — all of which vary across JVMs while
  * the plan SHAPE is identical, so those are scrubbed before hashing
  * (r8's record had 7 artifact-backed queries whose fingerprints churned
  * on every run, burying real PLAN diffs in noise).
  *
  * Environment sentinel: the record carries `env` (system load average
  * and available processors at start) and per-query `gc_sec` (JVM GC time
  * observed across that query's runs). r8's driver record looked like a
  * uniform 1.5× timing regression that cost a judging session to refute;
  * load + GC in the record let `benchdiff.py` print an "environment
  * differs" banner instead of letting contention masquerade as
  * regression. Since r11 the sentinel is also a GATE: load_avg_start
  * above SPARK_GRAFT_BENCH_MAX_LOAD (default 2.0) stamps the record
  * `"contended":true` with loud banners at start and end, and
  * SPARK_GRAFT_BENCH_REFUSE_LOAD=1 makes Bench exit 3 instead of
  * recording at all — a contended record can never silently become a
  * round's comparison base. Since r13 a contended START first DRAINS:
  * Bench sleeps in 15 s polls until the load average drops under the
  * threshold or SPARK_GRAFT_BENCH_DRAIN_SEC (default 300, 0 disables)
  * is exhausted, and only then applies the stamp-or-refuse verdict —
  * a harness that doesn't set REFUSE_LOAD (the round driver's doesn't)
  * self-heals through transient neighbors instead of recording a
  * useless contended run; `env.load_avg_pre_drain` keeps the original
  * reading so a drained record is visibly drained. Since r18 the gate
  * also runs PER QUERY (the r17 verdict's mid-run hole: two driver
  * records in a row passed the start gate and were then inflated 2–3×
  * by neighbors arriving mid-take): each query's post-run FOREIGN-load sample
  * is stamped into its record entry (`foreign_load` — system minus
  * own-process CPU, in cores, so the bench's own 32-thread work never
  * self-flags), a query sampling above the gate
  * drains (take-global budget SPARK_GRAFT_BENCH_MIDRUN_DRAIN_SEC,
  * default 300 s) and re-runs once, and one that stays contended is
  * stamped `"contended":true` + listed in the root `contended_mid_run`
  * array — benchdiff suppresses exactly those queries' TIME lines, so
  * a take self-demotes per-query instead of lying or being discarded.
  * Since r19 a BEST-OF-HISTORY gate closes the remaining hole (the
  * fs/page-cache "slow window" — foreign_load ≈ 0, canaries clean, yet
  * the take reads 1.5× a same-code clean window): each query's best
  * warm per (sf dir, cpus, plan fingerprint) is kept in a committed TSV
  * (`bench/best_history.tsv`, SPARK_GRAFT_BENCH_HISTORY, monotone-min);
  * a warm run > SPARK_GRAFT_BENCH_SLOWK (default 1.5) × that best on an
  * IDENTICAL fingerprint drains, clears cache, re-runs once, keeps the
  * better warm (the original cold is always kept — a retry's cold reads
  * a freshly-warmed page cache), and if unhealed stamps
  * `"slow_window":true` + the root `slow_window` array, which benchdiff
  * suppresses exactly like contended queries. A fingerprint change
  * resets the reference, so code changes are never mistaken for slow
  * windows, and an inflated take can never raise the bar on itself.
  *
  * STAGING DISCLOSURE (r19 verdict item 4): the record carries
  * `staging_sec` / `staging_rebuilds` / `staged_fresh` — the seconds
  * spent and the number of build-once staging rebuilds (every
  * ManifestStore snapshot publish, plus the in-place CleanStore tables)
  * that ran INSIDE this take's timed region.
  * Those substrates re-lay inputs once per source stamp and serve the
  * copy forever after, so a take with `staged_fresh:true` paid amortized
  * layout cost in its cold numbers that later takes will not pay, and a
  * take with `staging_sec:0` served pre-built copies — either way the
  * record now says which it was instead of leaving cold-time provenance
  * to the reader.
  *
  * Set SPARK_GRAFT_BENCH_PLAN_DIR to also dump each query's scrubbed
  * canonical plan text to `<dir>/<query>.plan.txt` — the supported way to
  * inspect what the fingerprint hashes (ad-hoc shell redirects produced
  * the r8 `null-*.txt` debris).
  *
  * Optional args: query names to restrict the run to (iteration aid);
  * no args = the full registry.
  */
object Bench {

  /** The plan AQE actually ran: unwrap AdaptiveSparkPlanExec to its final
    * physical plan (valid only after the query has executed). Non-AQE
    * plans pass through.
    */
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other                    => other
  }

  // FileScan filter lists (PartitionFilters/DataFilters/PushedFilters)
  // print in a nondeterministic order when DPP rewrites them (r8: sim5's
  // two partition filters swapped between same-commit runs). Sort the
  // entries so ordering churn never changes the hash.
  private val FilterList = "(PartitionFilters|DataFilters|PushedFilters): \\[([^\\]]*)\\]".r

  /** Canonical plan text with run-local noise scrubbed — same plan shape
    * must hash identically across runs, JVMs, and machines.
    */
  def scrubbedPlanText(p: SparkPlan): String = scrubPlanText(finalPlan(p).canonicalized.toString)

  /** [[scrubbedPlanText]] over a plan's text; `root` (the checkout
    * directory) prints as `<root>`.
    */
  private[graft] def scrubPlanText(
      planText: String, root: String = sys.props("user.dir")): String = {
    val raw = planText
      .replaceAll(java.util.regex.Pattern.quote(root) + "(?=[/\\]\\s,]|$)", "<root>")
      // Canonicalization normalizes exprIds only in the top-level tree;
      // nested AdaptiveSparkPlanExec and DPP subquery nodes stringify
      // with their ORIGINAL per-JVM exprIds (q46/sim4 in r8). Plan shape
      // lives in operator names and structure, not id numbers — flatten
      // them all.
      .replaceAll("#\\d+", "#x")
    FilterList.replaceAllIn(raw, m =>
      scala.util.matching.Regex.quoteReplacement(
        m.group(1) + ": [" + m.group(2).split(", ").sorted.mkString(", ") + "]"))
      .replaceAll("\\[plan_id=\\d+\\]", "")
      // AQE wrapper ids: "ShuffleQueryStage 3", "BroadcastQueryStage 1",
      // "TableCacheQueryStage 0" — stage numbering depends on runtime
      // completion order, not plan shape.
      .replaceAll("(QueryStage) \\d+", "$1 <n>")
      // Cached-plan state: InMemoryRelation prints its CachedRDDBuilder
      // (rddId, per-JVM object hashes) and storage-level object.
      .replaceAll("CachedRDDBuilder\\([^)]*\\)", "CachedRDDBuilder(<state>)")
      .replaceAll("rddId=\\d+", "rddId=<n>")
      // Checkpointed/imported RDD scans carry per-run RDD ids.
      .replaceAll("(ExistingRDD|LogicalRDD|Scan ExistingRDD)\\[(\\d+)\\]", "$1[<n>]")
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[<n>]")
      .replaceAll("ReliableCheckpointRDD\\[\\d+\\]", "ReliableCheckpointRDD[<n>]")
      // Run-local artifact paths: anything under java.io.tmpdir (locked
      // artifact stores, checkpoint dirs, stream staging) plus the
      // historical patterns.
      .replaceAll("file:/[^\\]\\s,]*/(tmp|T)/[^\\]\\s,]*", "<artifact>")
      .replaceAll("/tmp/[^\\]\\s,]*", "<artifact>")
      .replaceAll("[-0-9a-f]{8,}\\.(parquet|json)", "<file>")
      .replaceAll("(target/streams|checkpoint)[^\\],\\s]*", "<rundir>")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("\\$\\$Lambda@[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{6,}", "@<id>")
      .replaceAll("graft_stream/p\\d+", "graft_stream/p<pid>")
      // Common-subexpression aliases minted by the with()/ConditionalExpr
      // rewrite carry a JVM-GLOBAL counter ("_common_expr_53"): the same
      // plan hashes differently depending on how many such rewrites ran
      // EARLIER in the session (caught in r11 — registry growth shifted
      // ~13 fingerprints of unchanged queries). Same story for the
      // lambda-variable counter ("lambda x_17").
      .replaceAll("_common_expr_\\d+", "_common_expr_<n>")
      .replaceAll("\\blambda ([A-Za-z]+)_\\d+", "lambda $1_<n>")
      // FileScan Location metadata ("InMemoryFileIndex(1 paths)[file:…,
      // isnotnull(ts#x), isnotnu…") was WIDTH-TRUNCATED by Spark's
      // maxMetadataStringLength BEFORE any scrub ran, and the raw text
      // carries session-global exprIds whose digit COUNT shifts the
      // truncation point — so the chopped tail differed between
      // same-code runs (caught in r15: st7 flip-flopped two
      // fingerprints). The plan-shape content is the path list head +
      // count; the rest of the value is noise — drop it. GraftSession
      // now sets maxMetadataStringLength high so truncation never
      // happens; the tail match is still BOUNDED to the Location value
      // (lazy, ending at the abbreviation "..." or the value's own "]")
      // because the scheme-6 greedy tail `[^\]]*\]` ran through a
      // truncated (bracketless) value into the NEXT metadata entry and
      // deleted the PartitionFilters list from the hashed text — the
      // r15 advisor's blind-gate finding. (scheme 7)
      .replaceAll("InMemoryFileIndex\\((\\d+) paths?\\)\\[([^\\],]*)[^\\]]*?(?:\\.\\.\\.|\\])",
        "InMemoryFileIndex($1 paths)[$2]")
      // ManifestStore snapshot counters inside artifact paths
      // ("…/events/snap=2"): the counter is RUN-HISTORY state — a fresh
      // checkout builds snap=1 where an incremented store reads snap=2,
      // same code, same plan shape. r16's pf5 layout-version bump
      // republished the store and flipped pf5's fingerprint with zero
      // plan change, exposing the class: any republish (new source
      // data, spec bump) would churn every snapshot-served query's
      // fingerprint and bury real plan diffs. The path HEAD (which
      // store) stays in the text; only the generation number goes.
      // The scrub is ANCHORED to the path separator (r16 advisor): a
      // bare `snap=\d+` would also normalize a genuine plan difference
      // in a string literal or pushed filter that happens to contain
      // "snap=<digits>", letting two different plans share a
      // fingerprint. Snapshot directories are always a path SEGMENT
      // ("…/events/snap=2"), so "/snap=" captures every store path and
      // nothing else; current plans carry no bare snap= outside paths,
      // so anchoring changes no existing hash — scheme stays 8.
      // VERIFIED r18 against the archived scheme-8 plan dumps (the r17
      // advisor flagged the invariant as unverified): all six r17 takes
      // (plans_t1–t5, tf — 200 plans each) plus the td27/pf5 dumps carry
      // 356 "snap=" occurrences, every one path-anchored ("/snap="),
      // zero bare in digit or scrubbed form — the anchored scrub hashes
      // identically to the unanchored one on every archived plan.
      // (scheme 8)
      .replaceAll("/snap=\\d+", "/snap=<n>")
      // Whole-stage-codegen stage ids ("*(3) HashAggregate"): numbering
      // is assigned when a subtree is PREPARED, and independent subtrees
      // (scalar subqueries, broadcast sides) prepare concurrently — the
      // same plan flips ids run-to-run (caught in r13: q41/td11/td20
      // flip-flopped between two fingerprints on identical code). The
      // codegen-span STRUCTURE stays in the text (the "*(" markers and
      // their nesting); only the order-dependent number goes.
      .replaceAll("\\*\\(\\d+\\)", "*(<n>)")
  }

  def fingerprint(p: SparkPlan): String = textFingerprint(scrubbedPlanText(p))

  private[graft] def textFingerprint(canon: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  /** HOST-SPEED CANARY (fixed-size, in-memory): the load gate measures
    * CONTENTION, not absolute host speed — r16's record passed the gate
    * on a boot whose same-code takes ran ~1.3–2× slower than r15's
    * host, and the resulting +34% driver record cost a judging session
    * to refute with within-boot evidence only. Two same-work yardsticks
    * recorded per take make host speed a diffable fact:
    * `canary_cpu_sec` (single-thread xorshift-mix loop — JVM + clock
    * speed) and `canary_spark_sec` (fixed spark.range hash aggregate
    * over all cores — scheduler + codegen + parallel throughput).
    * benchdiff refuses wall-time comparison (fingerprints-only mode)
    * when either canary differs >25% between records. Min-of-3 after a
    * discarded JIT pass; the accumulator equality check is the
    * dead-code sink AND a determinism assert.
    */
  private[graft] def canaryCpu(): Double = {
    def pass(): (Double, Long) = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0
      while (i < 200_000_000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
      }
      ((System.nanoTime() - t0) / 1e9, acc)
    }
    val rs = (0 until 4).map(_ => pass())
    require(rs.map(_._2).distinct.size == 1, "canary loop nondeterministic")
    rs.drop(1).map(_._1).min
  }

  private[graft] def canarySpark(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    def pass(): Double = {
      val t0 = System.nanoTime()
      // decimal sum: a bigint sum of 64M xxhash64 values overflows, and
      // the session runs ANSI (the fingerprint helper makes the same move)
      val s = spark.range(0L, 64_000_000L, 1L, 32)
        .select(sum(xxhash64(col("id"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)
      require(s != null && s.signum != 0, "canary aggregate sank to zero")
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-5 with settle gaps: the first take of this canary used
    // min-of-3 back-to-back and still read 2.7x high when warmup GC /
    // residual neighbor work overlapped all three passes (r17 take 2,
    // same boot as the 0.43 s takes) — the parallel canary inherits
    // scheduler noise in a way the single-thread one does not, so it
    // earns more passes and a looser benchdiff threshold.
    pass() // JIT/codegen warm, discarded
    (0 until 5).map { _ => Thread.sleep(200); pass() }.min
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(2)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_run.json")
    val planDir = sys.env.get("SPARK_GRAFT_BENCH_PLAN_DIR").filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    val registry = SparkEntry.benchQueries
    val unknown = args.filterNot(registry.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadAvgStart = osBean.getSystemLoadAverage // -1.0 if unsupported
    val nProcs = Runtime.getRuntime.availableProcessors
    // Environment GATE (not just a sentinel): a record taken on a
    // contended machine must never silently become a round's comparison
    // base (the r10 driver record ran at load 6.43/32 and read as a
    // uniform 1.2x regression). Above the threshold the record is
    // stamped contended + a loud banner; SPARK_GRAFT_BENCH_REFUSE_LOAD=1
    // upgrades that to a refusal for official re-records.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0").toDouble
    // Bounded DRAIN before the gate verdict (r12 lesson: the driver's
    // harness doesn't set REFUSE_LOAD, so its contended run produced a
    // record that was useless as a comparison base — self-healing beats
    // refusing when the contention is a transient neighbor). Poll the
    // 1-min load average until it drops under the threshold or the
    // budget (default 300 s, SPARK_GRAFT_BENCH_DRAIN_SEC; 0 disables)
    // runs out; only THEN stamp-or-refuse. The load average is a ~1-min
    // EWMA, so polling faster than ~15 s reads the same signal.
    val drainBudgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_DRAIN_SEC", "300").toInt
    var loadNow = loadAvgStart
    if (loadNow > maxLoad && drainBudgetSec > 0) {
      System.err.println(
        s"[bench] load_avg $loadNow > $maxLoad — draining up to ${drainBudgetSec}s " +
          "for the machine to go idle before recording")
      val deadline = System.nanoTime() + drainBudgetSec * 1_000_000_000L
      while (loadNow > maxLoad && System.nanoTime() < deadline) {
        Thread.sleep(15000)
        loadNow = osBean.getSystemLoadAverage
      }
      System.err.println(
        if (loadNow <= maxLoad) s"[bench] drained: load_avg now $loadNow — recording clean"
        else s"[bench] drain budget exhausted at load_avg $loadNow — applying the gate")
    }
    val contended = loadNow > maxLoad
    if (contended) {
      System.err.println(
        s"[bench] ENVIRONMENT CONTENDED: load_avg $loadNow > " +
          s"$maxLoad on $nProcs cpus — timings will NOT be comparable " +
          "across records; the record is stamped \"contended\":true")
      if (sys.env.get("SPARK_GRAFT_BENCH_REFUSE_LOAD").contains("1")) {
        System.err.println("[bench] SPARK_GRAFT_BENCH_REFUSE_LOAD=1 — refusing to record on a contended machine")
        spark.stop()
        sys.exit(3)
      }
    }
    // Warm the JVM/codegen paths once so per-query numbers measure the
    // query, not first-call classloading.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // Canaries run once, post-warmup, OUTSIDE every timed region —
    // ~3 s of fixed work that stamps absolute host speed into the
    // record (see canaryCpu scaladoc).
    val cpuCanary = canaryCpu()
    val sparkCanary = canarySpark(spark)
    System.err.println(
      f"[bench] host canary: cpu ${cpuCanary}%.3fs spark ${sparkCanary}%.3fs")
    val selected = registry.toSeq.sortBy(_._1)
      .filter { case (name, _) => args.isEmpty || args.contains(name) }
    // MID-RUN CONTENTION GATE (r17 verdict item 1): the start-of-take
    // load gate cannot see contention that ARRIVES during the take —
    // r16's and r17's driver records both passed the start gate and were
    // then inflated 2–3× on every streaming query by neighbors landing
    // mid-run (r17: load 1.75 at start → 12.9 at end). So the load
    // average is now SAMPLED after every query: a query whose sample
    // exceeds the gate drains (bounded by a take-global budget,
    // SPARK_GRAFT_BENCH_MIDRUN_DRAIN_SEC, default 300 s total) and
    // re-runs ONCE; if the retry's sample is clean it replaces the
    // contended numbers wholesale (cold included — both were polluted),
    // otherwise the better warm is kept and the query is stamped
    // "contended":true. The record root carries "contended_mid_run"
    // (the stamped names) so benchdiff can demote exactly the affected
    // queries instead of trusting or discarding the whole take.
    // The mid-run signal is FOREIGN load, not the load average: a
    // local[32] bench generates load averages of 2–4 all by itself (the
    // first cut gated on loadavg and self-flagged every query on an
    // idle box), and the 1-min EWMA lags the take by a minute anyway.
    // com.sun.management's OS bean gives recent SYSTEM cpu usage and
    // recent OWN-PROCESS cpu usage over the same since-last-call window;
    // (system − self) × cores ≈ busy cores that are NOT this bench —
    // DuckDB oracles, another sbt JVM, a noisy neighbor — sampled over
    // exactly the query's own span. Falls back to the load average
    // (minus nothing) when the platform bean is unavailable.
    val sunOs = osBean match {
      case s: com.sun.management.OperatingSystemMXBean => Some(s)
      case _ => None
    }
    sunOs.foreach { s => s.getCpuLoad; s.getProcessCpuLoad } // prime the window
    def foreignCores(): Double = sunOs.map { s =>
      val sys = s.getCpuLoad; val self = s.getProcessCpuLoad
      if (sys.isNaN || self.isNaN) osBean.getSystemLoadAverage
      else math.max(0.0, sys - self) * nProcs
    }.getOrElse(osBean.getSystemLoadAverage)
    val midrunBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MIDRUN_DRAIN_SEC", "300").toInt
    var midrunDrainLeft = midrunBudgetSec
    def drainMidRun(): Unit = {
      var f = foreignCores()
      while (f > maxLoad && midrunDrainLeft > 0) {
        Thread.sleep(15000); midrunDrainLeft -= 15
        f = foreignCores()
      }
    }
    // SLOW-WINDOW GATE (r18 verdict item 1 — the last way a judged record
    // could lie): three driver records in a row read 1.5× the same-code
    // clean-window takes with foreign_load ≈ 0 and canaries inside
    // thresholds — the fs/page-cache "slow window" class that no
    // CPU-side signal can see (the canaries measure compute and
    // scheduler, not page-cache state, so the take self-certifies clean
    // while being uniformly slow). The detector that CAN see it is the
    // query's own history: a warm time > SLOWK × the best this query
    // ever recorded ON AN IDENTICAL PLAN FINGERPRINT is either a code
    // regression (fingerprint would differ), genuine data growth (sf dir
    // is part of the history key), or a slow window. Same plan + same
    // data + K× slower ⇒ drain once, clear cache, re-run, keep the
    // better take; if still above K× the query self-stamps
    // "slow_window":true and lands in the root `slow_window` array, and
    // benchdiff suppresses exactly those TIME lines — the same
    // self-demotion contract as the contention gate. History lives in a
    // committed TSV ([[BestHistory]]: query, sf dir, cpus, plan_fp,
    // best_warm), monotone-min per (query, sf, cpus, fingerprint), so a
    // take at one core count is never judged against another's. Any
    // clean take only lowers it, a fingerprint change resets it, so the reference is
    // always "the best this exact plan has ever done on this data" —
    // an inflated take can never raise the bar on itself. The original
    // cold is always kept (the retry's "cold" reads a page cache the
    // first attempt just warmed — the r18 advisor's non-comparable-cold
    // point, applied here from the start).
    val slowK = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOWK", "1.5").toDouble
    val historyPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench/best_history.tsv")
    val historyLines: Seq[String] = {
      val p = java.nio.file.Paths.get(historyPath)
      if (historyPath.isEmpty || !java.nio.file.Files.exists(p)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(p).asScala.toSeq
      }
    }
    val bestHistory = BestHistory.parse(historyLines, sfDir, cpus)
    case class QRun(cold: Either[String, Double],
        warm: Either[String, (Double, SparkPlan)], gcSec: Double, load: Double)
    def runQuery(name: String, fn: (SparkSession, String) => DataFrame): QRun = {
      // Timed region = query construction + full execution driven through
      // the df's OWN QueryExecution (toRdd.count() — every partition fully
      // evaluated, nothing shipped to the driver but counts), so the
      // adaptive plan that gets fingerprinted is the one that actually
      // ran (see FINGERPRINT SCHEME 3 above). The handle is returned for
      // fingerprinting AFTER the clock stops — digest cost must not
      // pollute the number.
      def timed(): Either[String, (Double, SparkPlan)] = {
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          val qe = df.queryExecution
          qe.toRdd.count()
          val secs = (System.nanoTime() - t0) / 1e9
          Right((secs, qe.executedPlan))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Left(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
      val gc0 = gcMillis()
      val cold = timed()
      val rest = if (cold.isRight) (1 until runs).map(_ => timed()) else Seq(cold)
      val gcSec = (gcMillis() - gc0) / 1e3
      val warm = rest.collectFirst { case Left(e) => Left(e) }
        .getOrElse(Right(rest.collect { case Right(r) => r }.minBy(_._1)))
      QRun(cold.map(_._1), warm, gcSec, foreignCores())
    }
    // STAGING TRANSPARENCY (r19 verdict item 4): the build-once staging
    // substrates (every ManifestStore snapshot publish, plus the
    // in-place CleanStore tables) re-lay inputs ONCE per source stamp;
    // every later take — including a judged "cold" — serves the
    // pre-staged copy and never pays the layout cost. The ledger below is drained here (warmup staging is not the
    // take's) and again after the loop, so the record discloses exactly
    // how many serving copies this take (re)built and how long that
    // took: staging_sec > 0 means the cold numbers INCLUDE amortized
    // layout work that later takes will not pay; 0 means all artifacts
    // were served fresh-checked.
    graft.sources.Staging.drainRebuildLedger()
    val results = selected.map { case (name, fn) =>
      val first = runQuery(name, fn)
      val (fin0, retried) =
        if (first.load <= maxLoad || first.warm.isLeft) (first, false)
        else {
          System.err.println(
            f"[bench] $name: foreign load ${first.load}%.2f cores > $maxLoad mid-run — " +
              f"draining (${midrunDrainLeft}s budget left) and re-running once")
          drainMidRun()
          // no cache/persist residue from the contended attempt may leak
          // into the retry — the retry's cold replaces the first's cold
          // wholesale on a clean sample, so it must actually be cold
          // (r18 advisor, low)
          spark.catalog.clearCache()
          val second = runQuery(name, fn)
          // a clean retry replaces the contended take entirely; a retry
          // still contended keeps the better warm (both are upper bounds
          // on the true cost) and the contended stamp below. A retry that
          // ERRORED while the first run succeeded must NOT replace it —
          // the first's contended timing is a usable upper bound, the
          // error (e.g. OOM under the same contention) is not
          // (r18 advisor, medium).
          val keep =
            if (second.warm.isLeft) first
            else if (second.load <= maxLoad) second
            else Seq(first, second)
              .minBy(_.warm.toOption.map(_._1).getOrElse(Double.MaxValue))
          (keep, true)
        }
      // slow-window check: same plan fingerprint + same sf dir, warm
      // > K × recorded best ⇒ one drain + cache-clear + re-run, keep
      // the better WARM (original cold always kept — see gate scaladoc)
      val fpNow = fin0.warm.toOption.map { case (_, p) => fingerprint(p) }
      val bestRef = bestHistory.get(name).collect {
        case (bfp, bwarm) if fpNow.contains(bfp) => bwarm
      }
      val slowSuspect =
        bestRef.exists(b => fin0.warm.toOption.exists(_._1 > slowK * b))
      val (fin, slowRetried) =
        if (!slowSuspect) (fin0, false)
        else {
          System.err.println(
            f"[bench] $name: warm ${fin0.warm.toOption.map(_._1).getOrElse(0.0)}%.3fs " +
              f"> $slowK× recorded best ${bestRef.get}%.3fs on an identical plan " +
              "— slow-window suspect; draining and re-running once")
          drainMidRun()
          spark.catalog.clearCache()
          val second = runQuery(name, fn)
          val keep =
            if (second.warm.isLeft) fin0
            else Seq(fin0, second)
              .minBy(_.warm.toOption.map(_._1).getOrElse(Double.MaxValue))
          (keep.copy(cold = fin0.cold), true)
        }
      val slowWindowQ = slowRetried &&
        bestRef.exists(b => fin.warm.toOption.exists(_._1 > slowK * b))
      if (slowWindowQ) System.err.println(
        f"[bench] $name: still > $slowK× best after re-run — stamping slow_window")
      val contendedQ = fin.load > maxLoad && fin.warm.isRight
      // fingerprint + optional plan dump OUTSIDE every timed region
      val warmOut: Either[String, (Double, String)] = fin.warm.map { case (s, p) =>
        planDir.foreach { d =>
          val dir = java.nio.file.Paths.get(d)
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.writeString(
            dir.resolve(s"$name.plan.txt"), scrubbedPlanText(p))
        }
        (s, fingerprint(p))
      }
      spark.catalog.clearCache() // no cross-query cache donation
      (name, fin.cold, warmOut, fin.gcSec, fin.load, contendedQ, retried,
        slowWindowQ, slowRetried, bestRef)
    }
    case class QOk(k: String, cold: Double, warm: Double, fp: String,
        gc: Double, load: Double, contendedQ: Boolean, retried: Boolean,
        slowWindow: Boolean, slowRetried: Boolean, bestRef: Option[Double])
    val ok = results.collect {
      case (k, Right(c), Right((w, fp)), gc, ld, cq, rt, sw, sr, br) =>
        QOk(k, c, w, fp, gc, ld, cq, rt, sw, sr, br)
    }
    val contendedMidRun = ok.collect { case q if q.contendedQ => q.k }
    val slowWindow = ok.collect { case q if q.slowWindow => q.k }
    if (slowWindow.nonEmpty)
      System.err.println(
        s"[bench] SLOW WINDOW: ${slowWindow.size} queries stayed > ${slowK}x their " +
          s"recorded plan-identical best after a drained re-run — " +
          slowWindow.mkString(", ") +
          " — stamped \"slow_window\":true and self-demoted in benchdiff")
    // history update: monotone min per (query, sf, cpus, fingerprint); a
    // fingerprint change RESETS the entry (new plan = new reference).
    // Rows of another sf dir or core count pass through untouched.
    if (historyPath.nonEmpty) {
      val p = java.nio.file.Paths.get(historyPath)
      import scala.jdk.CollectionConverters._
      val mine: Map[String, (String, Double)] = ok.map { q =>
        val kept = bestHistory.get(q.k) match {
          case Some((bfp, bw)) if bfp == q.fp && bw <= q.warm => (bfp, bw)
          case _                                              => (q.fp, q.warm)
        }
        q.k -> kept
      }.toMap
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        BestHistory.render(historyLines, sfDir, cpus, bestHistory ++ mine).asJava)
    }
    if (contendedMidRun.nonEmpty)
      System.err.println(
        s"[bench] MID-RUN CONTENTION: ${contendedMidRun.size} queries sampled " +
          s"load > $maxLoad and could not be re-run clean — " +
          contendedMidRun.mkString(", ") +
          " — their timings are stamped \"contended\":true and self-demote in benchdiff")
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Left(e), _, _, _, _, _, _, _) =>
      "\"" + k + "\":\"" + GraftSession.jsonEscape(e.take(300)) + "\""
    }.mkString("{", ",", "}")
    val warmTotal = ok.map(_.warm).sum
    val coldTotal = ok.map(_.cold).sum
    val (stagingSec, stagingRebuilds) = graft.sources.Staging.drainRebuildLedger()
    if (stagingRebuilds > 0)
      System.err.println(
        f"[bench] staging: $stagingRebuilds rebuild(s) took $stagingSec%.2fs " +
          "inside this take (disclosed as staging_sec — cold numbers include " +
          "amortized layout work later takes will not pay)")
    val loadAvgEnd = osBean.getSystemLoadAverage
    // load_avg_start = the post-drain value the gate judged (what the
    // run actually started under); the pre-drain reading is kept so a
    // drained record is visibly a drained record
    // TAKE ID stamped inside the record AND the headline line: r13's
    // NOTES quoted a different take than the committed JSON (107.3 vs
    // 120.3 s) with nothing tying text to record — any prose quoting a
    // number must now quote the take_id beside it, so notes and records
    // agree by construction.
    val takeId = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now()) + "-p" + ProcessHandle.current().pid()
    // Engine-behavior env knobs stamped into the record (r17 advisor,
    // medium): SPARK_GRAFT_CONF and the gate-partition/pair-budget/cpu
    // overrides silently change engine behavior, so two records
    // taken under different tuning were indistinguishable and benchdiff
    // attributed the delta to code — the same provenance failure class
    // the host-speed canary closes for hardware. Every knob is recorded
    // (empty string = unset), and benchdiff prints a TUNING DIFFERS
    // banner + suppresses wall-time comparison when they mismatch. The
    // local filesystem's class and whether libhadoop loaded are stamped
    // beside them: without either fix, every local write forks `chmod`.
    val localFs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val tuningJson = (Seq("SPARK_GRAFT_CONF", "SPARK_GRAFT_GATE_PARTITIONS",
      "SPARK_GRAFT_JOIN_GATE_PARTITIONS", "SPARK_GRAFT_MAX_PAIR_BUDGET",
      "SPARK_GRAFT_CPUS").map(k => k -> sys.env.getOrElse(k, "")) ++ Seq(
      "fs_file_impl" -> localFs.getClass.getName,
      "native_io" -> org.apache.hadoop.io.nativeio.NativeIO.isAvailable.toString))
      .map { case (k, v) => "\"" + k + "\":\"" + GraftSession.jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")
    val envJson =
      s"""{"take_id":"$takeId",""" +
        s""""load_avg_start":$loadNow,"load_avg_pre_drain":$loadAvgStart,""" +
        s""""load_avg_end":$loadAvgEnd,""" +
        s""""available_processors":$nProcs,""" +
        s""""canary_cpu_sec":$cpuCanary,"canary_spark_sec":$sparkCanary,""" +
        s""""max_load":$maxLoad,"contended":$contended,""" +
        s""""tuning":$tuningJson}"""
    if (contended)
      System.err.println(
        s"[bench] ENVIRONMENT CONTENDED (load_avg_start $loadNow > " +
          s"$maxLoad): this record's timings are environment, not code")
    println(
      s"""{"metric":"total","value":$warmTotal,"unit":"sec",""" +
        s""""queries":${obj(ok.map(r => r.k -> r.warm))},""" +
        s""""cold_total":$coldTotal,""" +
        s""""cold_queries":${obj(ok.map(r => r.k -> r.cold))},""" +
        s""""methodology":"queries/value = best of ${runs - 1} post-cold runs per query; cold_queries/cold_total = first run",""" +
        s""""errors":$errs,"n_failed":${results.size - ok.size},"sf":"$sfDir"}""")
    // Durable per-query record — the stdout line above can exceed a log
    // capturer's tail window (round 7's official record lost every
    // per-query number that way); this file is the committable history.
    val recJson =
      s"""{"sf":"$sfDir","runs":$runs,"fp_scheme":9,"env":$envJson,""" +
        s""""n_failed":${results.size - ok.size},""" +
        s""""total_warm":$warmTotal,"total_cold":$coldTotal,""" +
        s""""contended_mid_run":${
          contendedMidRun.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""slow_window":${
          slowWindow.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""slowk":$slowK,""" +
        s""""staging_sec":$stagingSec,"staging_rebuilds":$stagingRebuilds,""" +
        s""""staged_fresh":${stagingRebuilds > 0},""" +
        s""""errors":$errs,"queries":{""" +
        ok.map { q =>
          s""""${q.k}":{"cold":${q.cold},"warm":${q.warm},"plan_fp":"${q.fp}","gc_sec":${q.gc},""" +
            s""""foreign_load":${q.load}""" +
            q.bestRef.map(b => s""","best_ref":$b""").getOrElse("") +
            (if (q.retried) ""","retried":true""" else "") +
            (if (q.slowRetried) ""","slow_retried":true""" else "") +
            (if (q.slowWindow) ""","slow_window":true""" else "") +
            (if (q.contendedQ) ""","contended":true""" else "") + "}"
        }.mkString(",") + "}}"
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, recJson)
    // Truncation-proof headline: a second, SHORT, totals-only line printed
    // LAST survives any tail capture; a consumer that parses the final
    // JSON line of stdout always gets the headline numbers.
    println(
      s"""{"metric":"total","value":$warmTotal,"unit":"sec",""" +
        s""""cold_total":$coldTotal,"n_queries":${ok.size},""" +
        s""""n_failed":${results.size - ok.size},"sf":"$sfDir",""" +
        s""""n_contended_mid_run":${contendedMidRun.size},""" +
        s""""n_slow_window":${slowWindow.size},""" +
        s""""staging_sec":$stagingSec,"staging_rebuilds":$stagingRebuilds,""" +
        s""""take_id":"$takeId","record":"$outPath"}""")
    spark.stop()
  }
}

/** `bench/best_history.tsv`: one row per (query, sf dir, cpus) —
  * `query <tab> sfDir <tab> cpus <tab> plan_fp <tab> best_warm`. A row
  * of the older four-column form (no cpus) is never compared against and
  * is kept in the file as it is.
  */
object BestHistory {

  /** The best warm and its fingerprint per query, for one sf dir and
    * core count.
    */
  def parse(lines: Seq[String], sfDir: String, cpus: String): Map[String, (String, Double)] =
    lines.map(_.split("\t")).collect {
      case Array(q, sf, c, fp, w) if sf == sfDir && c == cpus => q -> ((fp, w.toDouble))
    }.toMap

  /** The file after a take at (sfDir, cpus): `best` replaces that key's
    * rows, every other row passes through. Sorted, so the file diffs well.
    */
  def render(lines: Seq[String], sfDir: String, cpus: String,
      best: Map[String, (String, Double)]): Seq[String] = {
    val others = lines.filter(l => l.nonEmpty && (l.split("\t") match {
      case Array(_, sf, c, _, _) => sf != sfDir || c != cpus
      case _ => true
    }))
    (best.toSeq.map { case (q, (fp, w)) => s"$q\t$sfDir\t$cpus\t$fp\t$w" } ++ others).sorted
  }
}

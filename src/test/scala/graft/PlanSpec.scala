package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.operators.{Analytics, CleanStore, Dedup, Params, Similarity, TextAnalysis}
import graft.sources.Tables

/** Physical-plan audits — the scale-posture invariants (SURVEY.md §4) as
  * assertions, so a regression that silently drops a pushdown or flips a
  * broadcast to a shuffle fails CI, not the 100 TB run.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** A session whose one-partition limit is 1 byte: a served clean store
    * is over it, so it is read from files, not from the in-memory
    * snapshot a small store is served from. The file-scan audits run here.
    */
  private lazy val overLimit = GraftSession.fork(spark,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")

  test("q16: filter AND projection reach the parquet scan") {
    val p = plan(Analytics.q16Projection(spark, sf001))
    assert(p.contains("PushedFilters:") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate[^\\]]*\\].*"),
      s"shipdate predicate not pushed:\n$p")
    // column pruning: the scan must read only the 4 projected columns
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .forall(read.contains), s"pruned schema wrong: $read")
    assert(!read.contains("l_extendedprice"), s"scan reads unprojected columns: $read")
  }

  test("q02: cleaning rules collapse into ONE conjunctive pushed filter stage") {
    val p = plan(Analytics.q02CleanLineitem(spark, sf001, ordered = false))
    assert(p.contains("PushedFilters:"), "no pushdown at all")
    // a single Filter node, not one per rule
    assert(p.linesIterator.count(_.matches("\\s*\\+- Filter.*|\\(\\d+\\) Filter")) <= 1,
      s"cleaning did not fuse to one Filter:\n$p")
  }

  test("q05: the part dimension joins via broadcast, never a shuffle") {
    val p = plan(Analytics.q05TopParts(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"dim join is not broadcast:\n$p")
  }

  test("q05: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Analytics.q05TopParts(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to full sort:\n$p")
  }

  test("q09: the dim joins broadcast at runtime (nation hinted, rest stats-driven)") {
    val df = Analytics.q09TopRoutes(spark, sf001)
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"expected >=2 broadcast joins (nation roles), got $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), "accidental cross join")
  }

  test("dd3: DF cap is skew-proof — no window over the shingle partition, hot list anti-joined via broadcast") {
    val df = Dedup.ngramJaccardPairs(Tables.documents(spark, sf001))
    // every remaining window must partition by doc_id (bounded by document
    // length); a window partitioned by the shingle would funnel all
    // occurrences of a hot shingle through one reducer at 100 TB
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the per-doc set-size window")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).distinct
      assert(parts === Seq("doc_id"), s"skew-unsafe window partitioned by $parts")
    }
    // The hot list carries no broadcast HINT (a forced broadcast would die
    // on a pathologically duplicate-heavy corpus) — AQE's runtime stats
    // must still broadcast it. Two traps this test must avoid: the driver
    // corpus has NO hot shingle at the default cap (AQE then eliminates
    // the empty anti-join entirely), and executedPlan.toString appends the
    // '== Initial Plan ==' section, where a naive contains() always
    // matches. So: a crafted corpus with a genuinely hot phrase, and the
    // assertion restricted to the FINAL adaptive plan section.
    import spark.implicits._
    // 8 docs share the hot prefix (df=8 > cap); docs 1-2 also share a
    // distinctive tail (df=2 <= cap) so ONE pair survives — an
    // all-pruned-away result would itself collapse to EmptyRelation
    val hotDocs = ((1L to 2L).map(i => (i, "common hot phrase here alpha beta gamma delta")) ++
      (3L to 8L).map(i => (i, s"common hot phrase here tail$i x$i y$i")))
      .toDF("doc_id", "text")
    val hot = Dedup.ngramJaccardPairs(hotDocs, maxDf = 3)
    hot.collect()
    val full = hot.queryExecution.executedPlan.toString
    val finalPlan = full.split("== Initial Plan ==").head
    assert(finalPlan.contains("LeftAnti"),
      s"hot-shingle cap is not an anti-join in the final plan:\n$full")
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"hot-shingle anti-join did not broadcast at runtime:\n$full")
  }

  test("sim3: corpus is never replicated — one Generate (query probes), probe join broadcasts") {
    val p = plan(Similarity.ivfAnn(Tables.embeddings(spark, sf001)))
    // exactly one explode: the tiny query-side probe list; a Generate on
    // the corpus side would mean the index stores multiple entries per
    // vector (the sim2 shape, not the IVF shape)
    val generates = p.linesIterator.count(l => l.contains(") Generate"))
    assert(generates === 1, s"expected 1 Generate (query probes), got $generates:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe join is not broadcast:\n$p")
  }

  test("pf3: the F1 date range prunes the clean events table at the scan") {
    val df = Params.pf3ParamFilterClean(overLimit, sf001)
    // static pruning is decided at planning — read it off the pre-AQE
    // physical plan (AQE query stages are leaves; collect can't see
    // through them after execution)
    val scan = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"F1 not applied as a partition filter: ${scan.metadata("PartitionFilters")}")
    val total = new java.io.File(CleanStore.stagePath(sf001, "events"))
      .listFiles().count(_.getName.startsWith("event_date="))
    val selected = scan.selectedPartitions.partitionCount
    assert(selected < total,
      s"partition pruning ineffective: $selected of $total date partitions read")
    // the pruned scan still carries the precise pushed ts predicate for
    // row-level filtering within the selected dates
    assert(scan.metadata("PushedFilters").contains("ts"),
      s"ts bounds not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("pf4: the manifest-served scan prunes partitions and pushes ts bounds like pf3") {
    val df = Params.pf4ParamFilterManifest(spark, sf001)
    val scan = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"F1 not a partition filter on the snapshot scan: ${scan.metadata("PartitionFilters")}")
    val root = new java.io.File(
      s"${sys.props("user.dir")}/target/cleanm/sf0.001/events")
    val snap = graft.sources.ManifestStore.currentPointer(root)
      .map(p => graft.sources.ManifestStore.snapDir(root, p._1))
      .getOrElse(fail("no manifest pointer after serve"))
    val total = snap.listFiles().count(_.getName.startsWith("event_date="))
    val selected = scan.selectedPartitions.partitionCount
    assert(selected < total,
      s"partition pruning ineffective on the snapshot: $selected of $total")
    assert(scan.metadata("PushedFilters").contains("ts"),
      s"ts bounds not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("pf5: the z-ordered layout pushes BOTH box predicates and reads strictly fewer rows than the date layout") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    // sf0.01, not the usual sf0.001: the audit needs the user box to be a
    // genuine minority of the user domain (3..9 of 0..149 here vs half of
    // 0..14 at sf0.001, where ANY layout must read most files)
    val sfA = "/root/testdata/sf0.01"
    val p = Params.defaultParams
    // the (user ∧ time) box, applied identically to both layouts
    def box(df: org.apache.spark.sql.DataFrame) = df.filter(
      col("user_id").between(Params.Pf5UserLo, Params.Pf5UserHi) &&
        col("ts").between(lit(p.tsLo).cast("timestamp"), lit(p.tsHi).cast("timestamp")))
    // rows the scan DELIVERS after parquet row-group/file stats skipping —
    // executed metric, not a plan string (the whole audit: fewer rows out
    // of the scan node means row groups were actually skipped)
    def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val zScan = box(CleanStore.eventsZOrdered(spark, sfA))
    // the date layout gets its BEST case: partition pruning on F1 applied,
    // exactly as pf3 serves it
    val dScan = box(CleanStore.events(overLimit, sfA)
        .filter(col("event_date").between(
          to_date(lit(p.tsLo).cast("timestamp")),
          to_date(lit(p.tsHi).cast("timestamp")))))
      .drop("event_date")
    // both predicates reach the z-store's parquet scan as pushed filters
    val zMeta = zScan.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.metadata("PushedFilters")
    assert(zMeta.contains("user_id") && zMeta.contains("ts"),
      s"box predicates not pushed to the z-store scan: $zMeta")
    // identical content from both layouts (order-insensitive)
    val zRows = zScan.collect().map(_.toString).sorted.toSeq
    val dRows = dScan.collect().map(_.toString).sorted.toSeq
    assert(zRows === dRows, "layouts must serve identical clean content")
    // THE claim: the z-layout's two-dimensional clustering skips what the
    // one-dimensional date layout must read — strictly fewer rows leave
    // the scan for the same predicate and the same result
    val zRead = scannedRows(box(CleanStore.eventsZOrdered(spark, sfA)))
    val dRead = scannedRows(box(CleanStore.events(overLimit, sfA)
      .filter(col("event_date").between(
        to_date(lit(p.tsLo).cast("timestamp")),
        to_date(lit(p.tsHi).cast("timestamp"))))))
    assert(zRead < dRead,
      s"z-order skipping ineffective: z-layout read $zRead rows, " +
        s"date layout read $dRead under the same (user ∧ time) box")
    // and the skipping is real, not just relative: the z-scan delivers
    // well under the store's full row count
    val total = CleanStore.eventsZOrdered(spark, sfA).count()
    assert(zRead < total / 2,
      s"z-scan read $zRead of $total rows — stats skipping not engaged")
  }

  test("pf5: the z-layout key is TOTAL over the full long domain (r16 adversarial-events regression)") {
    // The r16 adversarial-events replay overflowed the first layout-key
    // cut three ways on user_id ∈ {negative, Long.MaxValue}: the ANSI
    // subtract/multiply threw, and the Scala-side range divisor wrapped
    // silently negative. The publish-time analyze pass sees ingest
    // garbage BEFORE any screen can be retuned, so the key must be
    // total: every (user_id, ts) in the physical domain maps to a
    // bucket, no exception, bucket in range.
    import org.apache.spark.sql.functions.{col, expr}
    val rows = for {
      u <- Seq(Long.MinValue, -1L, 0L, 42L, Long.MaxValue)
      us <- Seq(-1L, 0L, 9214646400000000L /* 2262, the int64-ns ceiling */)
    } yield (u, us)
    import spark.implicits._
    val df = rows.toDF("user_id", "us")
      .select(col("user_id"), expr("timestamp_micros(us)").as("ts"))
    // min-max bounds computed here exercise the RETAINED zLayoutKey
    // path (the overflow-regression pin) — since the equidepth switch,
    // writeZOrdered derives approxQuantile bounds via layoutBounds, not
    // this min-max aggregate
    val b = df.agg(
      org.apache.spark.sql.functions.min(col("user_id")),
      org.apache.spark.sql.functions.max(col("user_id")),
      org.apache.spark.sql.functions.min(expr("unix_micros(ts) div 3600000000")),
      org.apache.spark.sql.functions.max(expr("unix_micros(ts) div 3600000000"))).head()
    val keys = df.select(CleanStore.zLayoutKey(
        b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)).as("z"))
      .collect().map(_.getLong(0))
    val maxKey = (1L << (2 * CleanStore.ZOrderBits)) - 1
    assert(keys.length === rows.length)
    assert(keys.forall(k => k >= 0 && k <= maxKey),
      s"layout key escaped [0, $maxKey]: ${keys.mkString(",")}")
    // extremes land at opposite ends of the normalized grid, so the
    // decimal bucketing is a real normalization, not a constant
    assert(keys.distinct.length > 1, "all extremes collapsed to one key")
    // and the full write path round-trips the content unchanged
    val dir = java.nio.file.Files.createTempDirectory("graft_ztotal").toFile
    try {
      CleanStore.writeZOrdered(df, dir.getAbsolutePath)
      val back = spark.read.parquet(dir.getAbsolutePath)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(back === rows.toSet)
      // empty build: the guard publishes an empty store instead of
      // dividing by a degenerate range
      CleanStore.writeZOrdered(df.filter(col("user_id").isNull), dir.getAbsolutePath)
      assert(spark.read.parquet(dir.getAbsolutePath).count() === 0L)
    } finally graft.sources.Staging.deleteRecursively(dir)
  }

  test("pf5: equidepth layout normalization survives outlier skew where min-max collapses") {
    // AFTER the overflow fix, min-max normalization kept one 100 TB
    // hazard: a single sentinel outlier (Long.MaxValue user_id)
    // stretches the range so far that every REAL user ranks into bucket
    // 0 — total, no error, and the z-layout silently degenerates to a
    // plain time sort (zero user skipping). Equidepth buckets by data
    // rank, so the outlier costs one bucket, not the whole grid.
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val rows = (0 until 990).map(i =>
      ((i % 99).toLong, 1704067200000000L + (i % 240) * 3600000000L)) :+
      ((Long.MaxValue, 1704067200000000L))
    val df = rows.toDF("user_id", "us")
      .select(col("user_id"), expr("timestamp_micros(us)").as("ts"))
    // the OLD min-max x-bucket (zLayoutKey's formula, isolated): collapses
    val b = df.agg(
      org.apache.spark.sql.functions.min(col("user_id")),
      org.apache.spark.sql.functions.max(col("user_id"))).head()
    val range = (BigInt(b.getLong(1)) - BigInt(b.getLong(0)) + 1).toString
    val minmaxBuckets = df.selectExpr(
        s"((cast(user_id as decimal(38,0)) - (${b.getLong(0)})) * 256) div $range as x")
      .collect().map(_.getLong(0)).distinct
    assert(minmaxBuckets.length <= 2,
      s"expected min-max to collapse under the outlier, got ${minmaxBuckets.length} buckets")
    // the equidepth x-bucket: the 99 real users spread across the grid
    val (uB, _) = CleanStore.layoutBounds(df)
    val eqBuckets = df.selectExpr(CleanStore.rankBucketSql("user_id", uB) + " as x")
      .collect().map(_.getLong(0)).distinct
    assert(eqBuckets.length >= 50,
      s"equidepth should spread the 99 real users, got ${eqBuckets.length} buckets")
    // NULL stays NULL (never colliding with tile 0)
    val nullBucket = Seq((null.asInstanceOf[java.lang.Long], 0L)).toDF("user_id", "us")
      .selectExpr(CleanStore.rankBucketSql("user_id", uB) + " as x").head()
    assert(nullBucket.isNullAt(0), "NULL user must rank to NULL, not bucket 0")
    // and the full equidepth write path round-trips with extremes present
    val dir = java.nio.file.Files.createTempDirectory("graft_zeq").toFile
    try {
      CleanStore.writeZOrdered(df, dir.getAbsolutePath)
      assert(spark.read.parquet(dir.getAbsolutePath).count() === rows.length.toLong)
    } finally graft.sources.Staging.deleteRecursively(dir)
  }

  test("sim4: probes the persisted cell index via broadcast with dynamic partition pruning") {
    val df = Similarity.ivfAnnIndexed(spark, sf001)
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), s"probe join is not broadcast:\n$p")
    // the index scan must be pruned DYNAMICALLY to the probed cells — the
    // probe keys are only known at run time, so static pruning can't apply
    assert(finalPlan.contains("dynamicpruning") || p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the cell index scan:\n$p")
  }

  test("sim5: probes the learned cells via broadcast with dynamic partition pruning") {
    val df = Similarity.ivfAnnLearned(spark, sf001)
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), s"probe join is not broadcast:\n$p")
    assert(finalPlan.contains("dynamicpruning") || p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the learned-cell scan:\n$p")
  }

  test("dd9: serves from the persisted cluster-label artifact — no shingle recompute") {
    val clusters = Dedup.clusterLabels(spark, sf001) // build-once artifact
    val p = plan(Dedup.dedupCorpus(Tables.documents(spark, sf001), clusters))
    // the manifest must anti-join a SCAN of the stored labels; any
    // word_shingles / pair generation in this plan means dd9 is
    // re-running the whole dedup pipeline inline again
    assert(!p.contains("word_shingles"),
      s"dd9 recomputes shingles instead of reading the artifact:\n$p")
    val generates = p.linesIterator.count(l => l.contains(") Generate"))
    assert(generates === 0, s"unexpected Generate in the manifest plan:\n$p")
    assert(p.contains("clusters_n3_t0.2_df50"),
      s"no scan of the cluster-label artifact in the plan:\n$p")
  }

  test("dd11: batch shingles broadcast — corpus never shuffles for candidates; old labels from the artifact") {
    val docs = Tables.documentsRebalanced(spark, sf001)
    val newFrom = docs.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("doc_id"))).head.getLong(0) - 49L
    val labels = Dedup.clusterLabels(spark, sf001, upTo = newFrom)
    // audit the lazy candidate/edge stage: the mini-CC that follows is
    // iterative (eager) and consumes this plan before the result exists
    val p = plan(Dedup.incrementalDedupEdges(docs, labels, newFrom))
    assert(p.contains("BroadcastHashJoin"),
      s"batch-side candidate join is not broadcast:\n$p")
    assert(p.contains(s"clusters_n3_t0.2_df50_upto$newFrom"),
      s"old labels are not served from the persisted artifact:\n$p")
  }

  test("td8: n-gram frequency top-k plans as TakeOrderedAndProject over a partial-agg shuffle") {
    val p = plan(TextAnalysis.ngramFreq(Tables.documents(spark, sf001)))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to full sort:\n$p")
    // partial aggregation before the exchange — the skew-immunity claim.
    // TWO HashAggregate nodes (partial + final): a single occurrence is
    // what any grouped plan shows and would make this check vacuous
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs:\n$p")
  }

  test("dd12/dd17: each document is tokenized once, not once per span start") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    for (name <- Seq("dd12_substring_dups", "dd17_scrub_dup_spans")) {
      val optimized = SparkEntry.benchQueries(name)(spark, sf001).queryExecution.optimizedPlan
      val splitInLambda = optimized.exists(_.expressions.exists(_.exists {
        case l: LambdaFunction => l.function.exists(_.isInstanceOf[StringSplit])
        case _ => false
      }))
      assert(!splitInLambda, s"$name splits its text inside a lambda:\n$optimized")
    }
  }

  test("dd10: the eval shingle side broadcasts — the training corpus never shuffles for candidates") {
    val p = plan(Dedup.decontaminate(Tables.documents(spark, sf001)))
    assert(p.contains("BroadcastHashJoin"), s"eval join is not broadcast:\n$p")
  }

  test("td9: script language ID is map-only — two native counting passes, no shuffle before the sort") {
    val p = plan(TextAnalysis.langIdScript(Tables.documents(spark, sf001)))
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 1, s"td9 should be map-only pre-sort:\n$p")
    assert(p.contains("script_counts") && p.contains("stop_counts"),
      s"native counting expressions missing from the plan:\n$p")
  }

  test("sa3: hash split is map-only and prunes the scan to doc_id") {
    val p = plan(Params.sa3HashSplit(Tables.documents(spark, sf001)))
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 1, s"sa3 should be map-only pre-sort:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("doc_id") && !read.contains("text"),
      s"scan not pruned to doc_id: $read")
  }

  test("q20: the as-of join is ONE window pass — a user_id shuffle plus the final sort") {
    val p = plan(Analytics.q20AsofAnchor(spark, sf001))
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"as-of window should shuffle once on user_id:\n$p")
    assert(p.contains("Window"), s"no window operator in the as-of plan:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), s"as-of fell back to a cartesian:\n$p")
  }

  test("td6: quality filter reads only doc_id and text, no shuffle before the sort") {
    val df = TextAnalysis.qualityFilter(Tables.documents(spark, sf001))
    val p = plan(df)
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"),
      s"scan not pruned to doc_id+text: $read")
    // map-only until the presentation orderBy: no Exchange other than the
    // final range partitioning for the sort
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 1, s"quality filter should be map-only pre-sort:\n$p")
  }

  test("q21: per-group top-k plans as WindowGroupLimit — no group ever materializes fully") {
    val p = plan(Analytics.q21TopPerGroup(spark, sf001))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not rewritten to WindowGroupLimit:\n$p")
  }

  test("q22: the three funnel stages share ONE user_id shuffle") {
    val p = plan(Analytics.q22Funnel(spark, sf001))
    // one user_id exchange feeding the window chain + the final single-row
    // aggregate's exchange — the per-user rollup rides the window
    // partitioning, and no stage re-shuffles the fact table
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges === 2, s"funnel should shuffle exactly twice, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window chain does not partition by user_id:\n$p")
    val windows = p.linesIterator.count(_.contains(") Window"))
    assert(windows === 3, s"expected 3 chained window stages, got $windows:\n$p")
  }

  test("q24: JSON extraction prunes the scan to event_type + props") {
    // cache isolation: if pf1's cachedEvents ran first in this shared
    // session, the cache manager substitutes the FULL-column
    // InMemoryRelation into any plan containing the events subtree and the
    // audit would read the cached table's schema instead of the parquet
    // scan's (the cached read still prunes columns batch-side — this audit
    // is about the UNCACHED scan shape)
    spark.catalog.clearCache()
    val p = plan(Analytics.q24JsonExtract(spark, sf001))
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("event_type") && read.contains("props") && !read.contains("value"),
      s"scan not pruned to event_type+props: $read")
  }

  test("q30: co-located bucketed join — both scans bucketed, ZERO exchange below the SMJ") {
    val p = plan(Analytics.q30BucketedJoin(spark, sf001))
    assert(p.contains("SortMergeJoin"), s"bucketed join is not a sort-merge join:\n$p")
    assert("SelectedBucketsCount: 8 out of 8".r.findAllIn(p).size === 2,
      s"expected both sides to scan bucketed files:\n$p")
    // the formatted details section numbers operators leaf-first, so every
    // Exchange must appear AFTER the join: the only shuffles in this plan
    // are the post-join aggregate's and the output sort's
    val smj = p.indexOf(") SortMergeJoin")
    val ex = p.indexOf(") Exchange")
    assert(smj >= 0 && (ex == -1 || ex > smj),
      s"exchange below the co-located join — bucketing not honored:\n$p")
  }

  test("q31: gap window and per-user rollup share ONE user_id shuffle") {
    val p = plan(Analytics.q31EventGaps(spark, sf001))
    assert(p.contains("hashpartitioning(user_id"),
      s"lag window does not partition by user_id:\n$p")
    // user_id exchange feeding the window (the groupBy reuses its
    // partitioning) + the final orderBy's range exchange — nothing else
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges === 2, s"expected exactly 2 exchanges, got $exchanges:\n$p")
  }

  test("q54: z-order tiles bound BOTH dimensions; interleave matches the bit model; plan is one map + one aggregate") {
    // the quadtree-tile guarantee the operator exists to state: every
    // aligned 4^8-key tile spans ≤ 2^8 in x AND y — the property that
    // makes zkey-range file layout skip on either predicate
    val rows = graft.operators.Analytics.q54ZOrderStats(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 255L,
        s"tile ${r.get(0)}: x extent ${r.getLong(3) - r.getLong(2)} > 255")
      assert(r.getLong(5) - r.getLong(4) <= 255L,
        s"tile ${r.get(0)}: y extent ${r.getLong(5) - r.getLong(4)} > 255")
    }
    // expression vs plain-Scala bit model, incl. the bits-16 mask edge
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (12345L, 54321L), (65536L, 1L) /* bit 16 masked */)
    def model(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L)((r, i) =>
        r | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    probe.foreach { case (x, y) =>
      assert(graft.functions.ZOrderKey.interleave(x, y, 16) === model(x, y))
    }
    import spark.implicits._
    val viaSql = probe.toDF("x", "y")
      .selectExpr("zorder_key(x, y, 16) AS z").collect().map(_.getLong(0))
    assert(viaSql.toSeq === probe.map { case (x, y) => model(x, y) }.toSeq)
    // one scan, one aggregate exchange — no join, no window
    val p = plan(graft.operators.Analytics.q54ZOrderStats(spark, sf001))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"q54 must be map + aggregate only:\n$p")
  }

  test("q53: the salted join carries the salt in its keys and replicates the dim via Generate") {
    val p = plan(Analytics.q53SaltedJoin(spark, sf001))
    // the dim side replicates through an explode (Generate), and the
    // join condition includes the salt column — a hot supplier's fact
    // mass spreads across saltBuckets tasks instead of one
    assert(p.contains("Generate") && p.contains("explode"),
      s"dim not replicated via explode:\n$p")
    assert(p.toLowerCase.contains("salt"), s"join keys carry no salt:\n$p")
  }

  test("q51: lag pairs shuffle user_id ONCE; probability window sits over the bounded aggregate") {
    val p = plan(Analytics.q51TypeTransitions(spark, sf001))
    // the fact-scale stage is the single lag-window user_id exchange
    val userEx = p.linesIterator.count(_.contains("hashpartitioning(user_id"))
    assert(userEx === 1, s"expected exactly one user_id shuffle, got $userEx:\n$p")
    // the conditional-probability window partitions by prev_type over the
    // post-aggregate (≤ |types|² rows) — never an unpartitioned window,
    // never a window over fact rows
    assert(p.contains("hashpartitioning(prev_type"),
      s"probability window not partitioned by prev_type:\n$p")
    // lag exchange + (prev,next) aggregate + prev_type window + output
    // sort — nothing else
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 4, s"expected <= 4 exchanges, got $exchanges:\n$p")
  }

  test("q37: bucketed events satisfy the window — ZERO hash exchange in the whole chain") {
    val p = plan(Analytics.q37BucketedGaps(spark, sf001))
    assert(p.contains("SelectedBucketsCount: 8 out of 8"),
      s"not reading the bucketed staging:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"window re-shuffled despite user bucketing:\n$p")
    // the only exchange left is the output sort's range partitioning
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges === 1, s"expected only the sort exchange, got $exchanges:\n$p")
  }

  test("q35: latest-per-key plans as WindowGroupLimit — no key's history materializes") {
    val p = plan(Analytics.q35LatestPerKey(spark, sf001))
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 filter not rewritten to WindowGroupLimit:\n$p")
  }

  test("sql7: IN-subquery plans as a LEFT SEMI join — existence probe, no duplication") {
    val s = spark
    graft.operators.Sql.registerViews(s, sf001)
    val p = plan(graft.operators.Sql.queries("sql7_in_subquery_semi")(s, sf001))
    assert(p.contains("LeftSemi"), s"IN-subquery not planned as a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IN-subquery planned as a nested loop:\n$p")
  }

  test("sql6: correlated scalar subqueries decorrelate — aggregates + joins, no rescans") {
    val s = spark
    graft.operators.Sql.registerViews(s, sf001)
    val p = plan(graft.operators.Sql.queries("sql6_correlated_whale_orders")(s, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated subquery planned as a nested loop:\n$p")
    assert(p.contains("HashAggregate"),
      s"no decorrelated aggregate in the plan:\n$p")
  }

  test("q43: cross-table as-of join is union + ONE window — no nested loop, no pair blowup") {
    val p = plan(Analytics.q43AsofEnrich(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of rewrite fell back to a nested loop:\n$p")
    val userHash = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(userHash === 1,
      s"expected the single union-window user_id exchange, got $userHash:\n$p")
  }

  test("q42: SCD2's lag and lead windows share ONE user_id shuffle") {
    val p = plan(Analytics.q42Scd2(spark, sf001))
    // exactly two exchanges: ONE user_id hash partitioning feeding both
    // windows (the filter between them preserves distribution+order), and
    // the output sort's range partitioning
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    val userHash = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(exchanges === 2 && userHash === 1,
      s"expected one user_id hash exchange + the sort exchange, " +
        s"got $exchanges exchanges / $userHash user_id hashes:\n$p")
  }

  test("q38: interval join runs as a day-binned broadcast equi-join, never a nested loop") {
    val p = plan(Analytics.q38IntervalJoin(spark, sf001))
    assert(p.contains("BroadcastHashJoin"),
      s"binned interval join not a broadcast equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range predicate fell back to a nested loop:\n$p")
  }

  test("td15: tf-idf top-k plans as WindowGroupLimit; sa7 bottom-k as TakeOrdered") {
    val p = plan(TextAnalysis.tfidfKeywords(Tables.documents(spark, sf001)))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not rewritten to WindowGroupLimit:\n$p")
    val q = plan(Params.sa7BottomKSample(Tables.documents(spark, sf001)))
    assert(q.contains("TakeOrderedAndProject"),
      s"bottom-k not planned as TakeOrderedAndProject:\n$q")
  }

  test("q41: equi-depth rank is distributed — no unpartitioned window over fact rows") {
    val p = plan(Analytics.q41EquidepthHistogram(spark, sf001))
    // the intra-bucket rank is partitioned by the range bucket
    assert(p.contains("hashpartitioning(b#"),
      s"intra-bucket rank not partitioned by bucket:\n$p")
    // any SinglePartition exchange must be fed by an aggregate (the
    // bounded bucket counts), never by the raw fact stream
    val numbered = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1).toInt)
    numbered.foreach { k =>
      val detail = p.substring(p.indexOf(s"($k) Exchange"))
        .linesIterator.take(4).mkString("\n")
      if (detail.contains("SinglePartition"))
        assert(p.contains(s"(${k - 1}) HashAggregate"),
          s"SinglePartition exchange ($k) not fed by the bucket aggregate:\n$p")
    }
  }

  test("sa11: epoch ranks are two-phase — intra-bucket window partitioned, offsets from an aggregate") {
    val p = plan(Params.sa11EpochOrder(Tables.documents(spark, sf001)))
    // the rank window is partitioned by (epoch, bucket), never global
    assert(p.contains("hashpartitioning(epoch#"),
      s"intra-bucket rank window not partitioned:\n$p")
    // the offsets side is the bounded (epochs × B) aggregate, broadcast
    assert(p.contains("BroadcastExchange"),
      s"bucket offsets not broadcast back:\n$p")
    // any SinglePartition exchange must be fed by an aggregate (bucket
    // counts), never by the epoch-exploded corpus
    val numbered = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1).toInt)
    numbered.foreach { k =>
      val detail = p.substring(p.indexOf(s"($k) Exchange"))
        .linesIterator.take(4).mkString("\n")
      if (detail.contains("SinglePartition"))
        assert(p.contains(s"(${k - 1}) HashAggregate"),
          s"SinglePartition exchange ($k) not fed by the bucket aggregate:\n$p")
    }
  }

  test("dd24: eval set broadcasts both ways — the corpus never shuffles before the tau cut") {
    val p = plan(graft.operators.Similarity.embeddingDecontaminate(
      Tables.embeddings(spark, sf001)))
    // the eval ids anti-join and the eval-vector pair join both
    // broadcast the bounded side; the corpus streams
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"eval side not broadcast:\n$p")
    // the only hash exchange is the per-train argmax window over the
    // RARE post-tau candidates (plus the output sort's range exchange)
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning(train_id"))
    assert(hashEx >= 1, s"argmax window missing its candidate exchange:\n$p")
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("sa6: distributed prefix sum — no unpartitioned window ever sees fact rows") {
    val p = plan(Params.sa6TokenShards(Tables.documents(spark, sf001)))
    // the intra-bucket cumsum is partitioned by the range bucket
    assert(p.contains("hashpartitioning(b#"),
      s"intra-bucket window not partitioned by bucket:\n$p")
    // any SinglePartition exchange must be fed by an aggregate (the
    // 64-row bucket sums), never by the raw document stream
    val numbered = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1).toInt)
    numbered.foreach { k =>
      val detail = p.substring(p.indexOf(s"($k) Exchange"))
        .linesIterator.take(4).mkString("\n")
      if (detail.contains("SinglePartition"))
        assert(p.contains(s"(${k - 1}) HashAggregate"),
          s"SinglePartition exchange ($k) not fed by the bucket aggregate:\n$p")
    }
  }

  test("mm13: shard plan is a distributed prefix sum — the only unpartitioned window sees span sums, never sample rows") {
    val p = plan(graft.operators.Multimodal.shardPlan(
      graft.sources.Tables.wdSamples(spark, sf001)))
    // the intra cumsum partitions by the sample-id span
    assert("windowspecdefinition\\(bk#\\d+L, sample_id#\\d+L ASC"
        .r.findFirstIn(p).isDefined,
      s"intra window not partitioned by span bucket:\n$p")
    // any SinglePartition exchange must carry aggregated span sums
    val numbered = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1).toInt)
    numbered.foreach { k =>
      val detail = p.substring(p.indexOf(s"($k) Exchange"))
        .linesIterator.take(4).mkString("\n")
      if (detail.contains("SinglePartition"))
        assert(p.contains(s"(${k - 1}) HashAggregate"),
          s"SinglePartition exchange ($k) not fed by the span aggregate:\n$p")
    }
  }

  test("sa13: no fill-window partition's mass depends on the quality distribution") {
    val p = plan(Params.sa13BudgetEpoch(Tables.documents(spark, sf001)))
    // the intra cumsum — the only window over FACT rows — is partitioned
    // by (source, qr, sp): sp is the doc_id span, so the partition's mass
    // is span-bounded no matter where the quality mass concentrates.
    // Assert the WINDOW NODE's own partition spec (at staged scale the
    // single-partition scan satisfies the distribution without a
    // physical exchange, so exchange text alone would vacuously pass)
    assert("windowspecdefinition\\(source#\\d+, qr#\\d+, sp#\\d+L, doc_id#\\d+L ASC"
        .r.findFirstIn(p).isDefined,
      s"intra window not partitioned by (source, qr, sp) ordered by doc_id:\n$p")
    // and the offset-grid exchanges carry the same keys
    assert("hashpartitioning\\(source#\\d+, qr#\\d+, sp#\\d+"
        .r.findFirstIn(p).isDefined,
      s"offset grid not keyed by (source, qr, sp):\n$p")
    // every quality-keyed exchange WITHOUT the span key carries
    // aggregated grid rows (per-(source, qr) sums), never the raw
    // document stream — and likewise every source-only exchange
    val numbered = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1).toInt)
    numbered.foreach { k =>
      val detail = p.substring(p.indexOf(s"($k) Exchange"))
        .linesIterator.take(4).mkString("\n")
      val qualityKeyedNoSpan =
        "hashpartitioning\\(source#\\d+, qr#\\d+, 32\\)".r.findFirstIn(detail).isDefined
      val sourceOnly =
        "hashpartitioning\\(source#\\d+, 32\\)".r.findFirstIn(detail).isDefined
      if (qualityKeyedNoSpan || sourceOnly)
        assert(p.contains(s"(${k - 1}) HashAggregate"),
          s"distribution-dependent exchange ($k) not fed by a grid aggregate:\n$p")
    }
  }

  test("td12: PII scan is map-only and prunes the scan to doc_id + text") {
    val p = plan(TextAnalysis.piiScan(Tables.documents(spark, sf001)))
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"),
      s"scan not pruned to doc_id+text: $read")
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 1, s"PII scan should be map-only pre-sort:\n$p")
  }

  test("td13: BM25 broadcasts the 1-row stats and plans top-k as TakeOrderedAndProject") {
    val p = plan(TextAnalysis.bm25(Tables.documents(spark, sf001), TextAnalysis.Bm25Terms))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to full sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"corpus stats are not broadcast back:\n$p")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"stats join fell back to a cartesian:\n$p")
  }

  test("sa4: weighted sample broadcasts the 1-row total and stays map-only") {
    val p = plan(Params.sa4WeightedSample(Tables.documents(spark, sf001)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"weight total is not broadcast back:\n$p")
    // one exchange for the 1-row total aggregate, one for the final sort —
    // the draw-and-keep itself must not shuffle the corpus
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"weighted sample shuffles the corpus:\n$p")
  }

  test("q25: inactive-customer report is a LEFT ANTI join, never a cartesian") {
    val p = plan(Analytics.q25InactiveCustomers(spark, sf001))
    assert(p.contains("LeftAnti"), s"existence check is not an anti join:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), s"anti join fell back to a cartesian:\n$p")
  }

  test("q26: pivot is ONE aggregation pass over the scan (explicit values, no inference scan)") {
    val p = plan(Analytics.q26PivotDaily(spark, sf001))
    // inference would plan a SECOND scan of events (collect distinct types)
    val scans = p.linesIterator.count(_.contains(") Scan parquet"))
    assert(scans === 1, s"pivot value inference added a scan, got $scans:\n$p")
    // Spark's two-phase pivot: (day, type) counts, then pivot-first over
    // day, then the presentation sort — both aggregates reduce before
    // their exchange, so nothing row-scaled shuffles
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 3, s"unexpected extra shuffles in the pivot plan:\n$p")
  }

  test("q27: rollup expands grouping sets map-side — one aggregation, one shuffle") {
    val p = plan(Analytics.q27RollupTotals(spark, sf001))
    assert(p.contains("Expand"), s"rollup did not plan grouping-set Expand:\n$p")
    // one partial+final aggregate pair over the expanded rows — NOT one
    // job per grain level
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"rollup re-shuffles per grain:\n$p")
  }

  test("q47: non-hierarchical grouping sets expand map-side — one aggregation pass, no per-grain jobs") {
    val p = plan(Analytics.q47GroupingSets(spark, sf001))
    assert(p.contains("Expand"), s"grouping sets did not plan Expand:\n$p")
    val scans = p.linesIterator.count(_.contains(") Scan parquet"))
    assert(scans === 1, s"grouping sets re-scanned per grain:\n$p")
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"grouping sets re-shuffle per grain:\n$p")
  }

  test("q50: cohort grid scans events ONCE — user shuffle + calendar-grain shuffle, size via post-aggregate window, no join") {
    val p = plan(Analytics.q50RetentionCohorts(spark, sf001))
    // the cohort size must come from a window over the aggregated grid —
    // a join back to an offset-0 base would re-run the whole lineage
    // (second event scan) for the build side
    assert(p.contains("Window"), s"cohort size lost its post-aggregate window:\n$p")
    assert(!p.contains("Join"), s"size joined instead of windowed (double scan):\n$p")
    val scans = p.linesIterator.count(_.contains(") Scan parquet"))
    assert(scans === 1, s"event stream scanned more than once:\n$p")
    // exchange 1 = user_id grouping; exchange 2 = (cohort, offset) grid;
    // exchange 3 = the verify-only output sort. The window rides the
    // grid exchange's partitioning or adds one calendar-grain exchange.
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 4, s"cohort grid grew event-scale shuffles:\n$p")
  }

  test("sa9: packing is one grouping exchange + MapGroups — no unpartitioned window, no extra shuffle") {
    val p = plan(Params.sa9PackGreedy(Tables.documents(spark, sf001)))
    assert(p.contains("MapGroups"), s"packing lost its per-bucket pass:\n$p")
    // exchange 1 = hash partition by bucket; exchange 2 = the verify-only
    // output sort. Anything more means the recurrence started shuffling.
    val exchanges = p.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges <= 2, s"greedy packing grew extra shuffles:\n$p")
    assert(!p.contains("Window"), s"no window may exist in the packing plan:\n$p")
  }

  test("td20: overlap matrix partial-aggregates the postings before every exchange") {
    val p = plan(TextAnalysis.sourceOverlap(Tables.documents(spark, sf001)))
    // distinct postings + per-source sizes + per-pair counts — each is a
    // partial+final HashAggregate pair; the token stream itself must
    // never reach an exchange un-combined
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 6, s"postings/sizes/pairs lost partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair join degraded to a cartesian:\n$p")
  }

  test("q28: EXCEPT plans as distinct + anti join, both sides partial-aggregated") {
    val p = plan(Analytics.q28ExceptKeys(spark, sf001))
    assert(p.contains("LeftAnti"), s"except is not an anti join:\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"set-op dedup is not partial-aggregated:\n$p")
  }

  test("sa8/td16: the map-only samplers/chunkers carry no exchange but the output sort") {
    // sa8's draw-and-keep and td16's tokenize-slice-explode are both
    // pure per-row pipelines: any extra Exchange would mean the sampler
    // started shuffling fact rows to decide a per-row predicate
    for (df <- Seq(
        Params.sa8StratifiedHashSample(Tables.documents(spark, sf001)),
        TextAnalysis.chunkDocs(Tables.documents(spark, sf001)))) {
      val p = plan(df)
      // count node headers ("(n) Exchange"), not tree echoes — formatted
      // mode prints each node twice
      val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
      val sorts = p.linesIterator.count(_.matches("\\(\\d+\\) Sort.*"))
      assert(exchanges <= 1, s"map-only plan picked up a data shuffle:\n$p")
      assert(sorts <= 1, s"unexpected extra sort:\n$p")
    }
  }

  test("td26: BPE encode is map-only — the replace chain never shuffles a fact row") {
    // encode = per-word render + constant replace chain + HOF sum: any
    // Exchange beyond the verify sort would mean the tokenizer started
    // shuffling the corpus to apply a per-row string function
    val p = plan(TextAnalysis.bpeEncode(spark,
      Tables.documents(spark, sf001)))
    val exchanges = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"map-only encode picked up a data shuffle:\n$p")
    // the trained merges are plan LITERALS (the frozen-artifact handoff),
    // not a join against a merge table
    assert(!p.contains("Join"), s"encode must not join the merge table:\n$p")
  }

  test("sa12: leakage-safe split is ONE label join — group arithmetic never reshuffles the corpus") {
    import graft.operators.Dedup
    val p = plan(Params.sa12LeakageSafeSplit(
      Tables.documents(spark, sf001), Dedup.clusterLabels(spark, sf001)))
    // exactly one join (docs ⋈ labels); the bucket/split derivation is
    // per-row projection on its output
    val joins = p.linesIterator.count(_.matches("\\(\\d+\\) [A-Za-z]*Join.*"))
    assert(joins === 1, s"split must cost exactly the label join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi fallback:\n$p")
  }

  test("dd15: the verify never re-derives candidates — one minhash lineage, no cartesian") {
    val p = plan(Dedup.minhashVerifiedPairs(Tables.documents(spark, sf001)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates-then-verify fell back to an all-pairs join:\n$p")
    // exactly one minhash_sig computation feeds the banding — the verify
    // side joins shingle streams, it must not recompute signatures
    assert(p.linesIterator.count(_.contains("minhash_sig")) <= 2, // project + its reuse line
      s"signature subtree computed more than once:\n$p")
  }

  test("whole-stage codegen covers the cleaning+derive hot path") {
    val df = Analytics.q03Derived(spark, sf001, ordered = false)
    df.collect() // finalize the AQE plan — codegen spans appear post-execution
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the executed plan
    assert(p.contains("*("), s"no codegen span:\n$p")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"derive projection not inside codegen:\n$p")
  }
}

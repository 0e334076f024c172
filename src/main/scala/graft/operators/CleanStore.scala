package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The materialized CLEAN serving layer — the reference's
  * write-clean-then-re-read pattern (assignment1.ipynb:223 writes the
  * cleaned frame to parquet; app.py:97 serves every dashboard refresh from
  * that staged file, never from the raw inputs). At 100 TB this layer is
  * the whole point of staging: the clean tables are DATE-PARTITIONED, so a
  * dashboard's F1 date-range filter becomes partition pruning — a refresh
  * reads only the selected dates' files instead of rescanning the raw
  * corpus, and the cleaning predicates run once at staging time instead of
  * once per widget interaction.
  *
  * Two stores, one write shape each:
  *  - `lineitem`: the Pipeline's stage-2 output (cleaning rules + derived
  *    time features), partitioned by `ship_date`;
  *  - `events`: the telemetry stream after the critical-column null drop
  *    (V4 applied to events; the driver corpus has no null keys, so the
  *    clean rows equal the raw rows — which is exactly what lets the pf3
  *    oracle run over the raw `events` table and still hash-match),
  *    partitioned by `event_date`.
  *
  * The canonical store lives under `target/clean/<sf>/` (same idempotent
  * marker-and-mtime scheme as [[Tables.nationCsv]]) for registry queries,
  * which only receive a scale dir; [[graft.Pipeline]] writes the SAME
  * shapes under its own `outDir` and re-reads those — the end-to-end flow
  * serves from exactly what it just staged.
  */
object CleanStore {

  /** Critical-column null drop for the events stream (V4 over telemetry):
    * a row with no timestamp, user, type, or value is unusable by every
    * downstream aggregate. The column list is shared with pf3's oracle
    * text (the adversarial-events replay proved the drop is LOAD-BEARING:
    * a NULL-value purchase row made the clean-served count diverge from
    * a raw-table oracle by one).
    */
  val EventCriticalCols: Seq[String] = Seq("ts", "user_id", "event_type", "value")

  def cleanEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(Cleaning.notNull(EventCriticalCols))

  /** The derive stage over an already-CLEANED lineitem frame — one source
    * of truth for the synthetic receipt date and the time-feature bundle
    * (the Pipeline cleans with `cleanWithAccounting` for its accounting and
    * hands the cleaned frame here; editing the derive in one place keeps
    * the Pipeline-served feeds and the canonical staging identical).
    */
  def deriveCleaned(cleaned: DataFrame): DataFrame =
    Derive.withTimeFeatures(
      cleaned.withColumn("l_receiptdate", expr("l_shipdate + INTERVAL 2 DAYS")),
      start = "l_shipdate", end = "l_receiptdate", distance = "l_quantity")

  /** The Pipeline's stage-2 body, defined once: cleaning rules (shared with
    * q02/q17) + [[deriveCleaned]].
    */
  def derivedLineitem(spark: SparkSession, sfDir: String): DataFrame =
    deriveCleaned(Cleaning.clean(Tables.lineitem(spark, sfDir), Analytics.cleaningRules))

  /** Date-partitioned parquet write. The `repartition` on the partition
    * column lands all rows of a date in ONE writer task → one file per
    * date; without it every task opens a file per date it sees (tasks ×
    * dates tiny files). At 100 TB over ~7 years that is ~2.5k partitions
    * of ~40 GB — the right pruning granularity.
    */
  def writePartitioned(df: DataFrame, tsCol: String, partCol: String, path: String): Unit =
    df.withColumn(partCol, to_date(col(tsCol)))
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  def writeEvents(df: DataFrame, path: String): Unit =
    writePartitioned(df, "ts", "event_date", path)

  def writeLineitem(df: DataFrame, path: String): Unit =
    writePartitioned(df, "l_shipdate", "ship_date", path)

  // ---------------------------------------------------- canonical store

  /** Canonical staging location for a clean table of a scale dir. */
  def stagePath(sfDir: String, name: String): String =
    s"${sys.props("user.dir")}/target/clean/${new java.io.File(sfDir).getName}/$name"

  /** Per-date (row count, order-independent hash SUM) fingerprints — the
    * incremental-refresh diff key. The per-row xxhash64 values are summed
    * as DECIMAL(38,0): a wrapping sum is multiset-faithful (an XOR was
    * not — any EVEN multiset change cancels: two identical rows XOR to
    * zero, so replacing a duplicate pair with a different duplicate pair
    * was invisible), decimal keeps ANSI mode from throwing on long
    * overflow, and 38 digits hold ~1e19 rows/date of ±2^63 terms without
    * saturating. One map-side aggregation scan; date cardinality is
    * bounded (~2.5k at 100 TB), so the collect is a driver-side map of a
    * few thousand entries, never data-scaled. Fingerprints are compared
    * Spark-vs-Spark only (no oracle involvement), and `dataCols` pins
    * the hashed column set/order so the build-side and staged-side
    * computations agree.
    */
  private def fingerprintAgg(
      df: DataFrame, partKey: Column, dataCols: Seq[String]): Map[String, (Long, String)] =
    df.select(partKey.cast("string").as("__part"),
        xxhash64(struct(dataCols.map(col): _*))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
      .groupBy(col("__part"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("hs"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).toBigInteger.toString)))
      .toMap

  /** Fingerprints computed from the SOURCE-side build (the incremental
    * diff's "current" side).
    */
  private def sourceFingerprints(
      built: DataFrame, tsCol: String, partCol: String): Map[String, (Long, String)] =
    fingerprintAgg(built, to_date(col(tsCol)), built.columns.toSeq)

  private def writeFingerprints(
      f: java.io.File, fps: Map[String, (Long, String)]): Unit =
    java.nio.file.Files.write(f.toPath,
      fps.toSeq.sorted.map { case (d, (n, h)) => s"$d\t$n\t$h" }
        .mkString("\n").getBytes)

  private def readFingerprints(f: java.io.File): Map[String, (Long, String)] =
    new String(java.nio.file.Files.readAllBytes(f.toPath)).linesIterator
      .filter(_.nonEmpty)
      .map { l => val p = l.split('\t'); p(0) -> ((p(1).toLong, p(2))) }
      .toMap

  /** Serve the staged table, (re)building only what is actually stale:
    *
    *  - build-logic change (spec mismatch) or first build ⇒ FULL rebuild;
    *  - source stamp changed ((mtime, length) tuple — sees a same-second
    *    rewrite a marker-mtime compare misses) but spec unchanged ⇒
    *    INCREMENTAL refresh: diff
    *    per-date fingerprints and rewrite ONLY the changed/missing dates
    *    via dynamic partition overwrite, delete dates gone from the
    *    source. An appended day costs one fingerprint scan plus one
    *    date's write — not a rewrite of the whole history (at 100 TB a
    *    full restage of ~7 years to ingest yesterday is the difference
    *    between minutes and a day);
    *  - otherwise serve as-is (marker fresh).
    *
    * The whole check-and-write runs under the cross-process staging lock,
    * double-checked: a concurrent builder's finished marker+spec makes
    * the re-check serve instead of re-writing — two JVMs sharing
    * `target/` can no longer interleave a half-written table.
    */
  private def ensure(
      spark: SparkSession, sfDir: String, name: String, sourceTable: String,
      tsCol: String, partCol: String)(build: => DataFrame): DataFrame = {
    val dir = stagePath(sfDir, name)
    // the served frame's file listing is captured INSIDE the lock: ensure
    // never hands out a half-written table (a scan already in flight when
    // a LATER rebuild hits is this store's in-place-overwrite residual,
    // ARTIFACTS.md rule 5)
    graft.sources.Staging.withExclusiveLock(new java.io.File(dir).getParentFile) {
      val marker = new java.io.File(s"$dir/_SUCCESS")
      val source = new java.io.File(Tables.path(sfDir, sourceTable))
      val specFile = new java.io.File(s"$dir/_graft_spec")
      val fpFile = new java.io.File(s"$dir/_graft_partitions")
      // the source's (mtime, length) stamp decides whether the
      // incremental diff runs at all — recorded in its own file (not the
      // spec: a source change must take the CHEAP per-date refresh path,
      // not the full rebuild a spec mismatch forces)
      val srcStampFile = new java.io.File(s"$dir/_graft_source")
      val srcStamp = graft.sources.Staging.sourceStamp(Seq(source))
      lazy val built = build
      lazy val spec = graft.sources.Staging.planSpec(built)
      val specFresh = marker.exists() && specFile.exists() && fpFile.exists() &&
        new String(java.nio.file.Files.readAllBytes(specFile.toPath)) == spec
      if (!specFresh) graft.sources.Staging.timedRebuild {
        writePartitioned(built, tsCol, partCol, dir)
        // fingerprint the STAGED output (one read of the clean table),
        // not a second full build scan over the raw source; the hashed
        // column set/order is pinned to the build's so a later
        // source-side diff compares like with like
        writeFingerprints(fpFile,
          fingerprintAgg(spark.read.parquet(dir), col(partCol), built.columns.toSeq))
        java.nio.file.Files.write(specFile.toPath, spec.getBytes)
        java.nio.file.Files.write(srcStampFile.toPath, srcStamp.getBytes)
      } else if (!srcStampFile.exists() ||
          new String(java.nio.file.Files.readAllBytes(srcStampFile.toPath)) != srcStamp)
        graft.sources.Staging.timedRebuild {
        val current = sourceFingerprints(built, tsCol, partCol)
        val recorded = readFingerprints(fpFile)
        val changed = current.keySet.filter(d => !recorded.get(d).contains(current(d)))
        val removed = recorded.keySet -- current.keySet
        if (changed.nonEmpty) {
          // dynamic mode: only the partitions present in the written data
          // are replaced — untouched dates keep their existing files
          val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try {
            built.withColumn(partCol, to_date(col(tsCol)))
              .filter(col(partCol).cast("string").isin(changed.toSeq: _*))
              .repartition(col(partCol))
              .write.mode("overwrite").partitionBy(partCol).parquet(dir)
          } finally prev match {
            case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
            case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
        }
        removed.foreach(d =>
          graft.sources.Staging.deleteRecursively(new java.io.File(dir, s"$partCol=$d")))
        writeFingerprints(fpFile, current)
        // the no-op case (stamp churn, content unchanged) records the new
        // stamp so the next ensure takes the fast path without a scan
        java.nio.file.Files.write(srcStampFile.toPath, srcStamp.getBytes)
        if (!marker.exists()) { java.nio.file.Files.createFile(marker.toPath); () }
      }
      spark.read.parquet(dir)
    }
  }

  /** The clean events table, materialized once per scale dir. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, sfDir, "events", "events", "ts", "event_date")(
      cleanEvents(spark, sfDir))

  /** The manifest-pointer twin of [[events]]: identical clean content,
    * served through [[graft.sources.ManifestStore]]'s pointer-swap
    * snapshots instead of in-place overwrite — readers never lock and
    * never hit the refresh-abort window ServeUnderRefreshSpec documents
    * for the in-place store (the previous snapshot outlives its pointer
    * until GC). Same spec discipline: build-logic planSpec + source
    * stamp; any change publishes a NEW snapshot and swaps the pointer.
    * The trade vs [[events]]: a spec/source change republishes the whole
    * table (snapshots are immutable), where the in-place store's
    * fingerprint diff rewrites only changed dates — at 100 TB the
    * transactional formats this models give both (per-partition file
    * replacement inside one new manifest).
    */
  def eventsManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val root = new java.io.File(
      s"${sys.props("user.dir")}/target/cleanm/${new java.io.File(sfDir).getName}/events")
    val source = new java.io.File(Tables.path(sfDir, "events"))
    val built = cleanEvents(spark, sfDir)
    val spec = graft.sources.Staging.planSpec(built) + "\n" +
      graft.sources.Staging.sourceStamp(Seq(source))
    graft.sources.ManifestStore.serve(spark, root, spec)(writeEvents(built, _))
  }

  /** The clean derived lineitem table, materialized once per scale dir. */
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, sfDir, "lineitem", "lineitem", "l_shipdate", "ship_date")(
      derivedLineitem(spark, sfDir))

  // --------------------------------------------------- z-ordered store

  /** Z-ordered file count. Each range partition becomes one parquet file
    * (= one row group at staged sizes), and each file's zkey range is an
    * aligned-ish z-interval, so its footer min/max on user_id AND ts are
    * BOTH tight — the quadtree-cell bound q54 hash-verifies as data. A
    * fixed count keeps every staged sf multi-file; production sizes this
    * by target file bytes (~128 MB–1 GB), same discipline as
    * [[writePartitioned]]'s date grain.
    */
  val ZOrderFiles = 16

  /** Bits per dimension of the layout key: 8+8 → a 256×256 quadtree
    * over the NORMALIZED dimensions.
    */
  val ZOrderBits = 8

  /** The store's Morton key over RANGE-NORMALIZED dimensions. Raw-value
    * interleave (q54's stats grid) degenerates when the dimensions'
    * varying bit-widths differ: at staged scale user_id spans 4 bits and
    * hour-of-epoch ~10 within the month, so hour's high bits dominate
    * every split and the "z-order" collapses to a plain time sort — the
    * first cut of this store laid out exactly that, and every file
    * spanned the full user domain (zero user skipping, measured).
    * Real OPTIMIZE ZORDER implementations interleave each column's
    * RANGE-PARTITION ID, not its raw bits; the linear min-max bucketing
    * here is that move for uniform-ish dimensions (skewed ones want
    * quantile buckets — the sa6 equidepth machinery — at the cost of a
    * rank pass). Both normalized dimensions carry [[ZOrderBits]] bits,
    * so neither can dominate splits regardless of raw domain widths.
    */
  def zLayoutKey(uMin: Long, uMax: Long, hMin: Long, hMax: Long): Column = {
    val buckets = 1L << ZOrderBits
    // DECIMAL(38,0) normalization, not raw long: the adversarial-events
    // replay (r16) overflowed the first cut three ways at once on a
    // corpus carrying user_id ∈ {negative, Long.MaxValue} — `user_id -
    // uMin` and `Δ * buckets` threw ARITHMETIC_OVERFLOW under ANSI, and
    // the Scala-side `uMax - uMin + 1` divisor wrapped SILENTLY to a
    // negative literal. A layout key must be TOTAL over the column's
    // whole domain (ingest garbage reaches the publish-time analyze
    // pass before any screen can be retuned); decimal(38,0) holds
    // 2^64·2^bits with 16 digits to spare, the BigInt range literals
    // parse as exact decimals, and the cost lands only on the
    // once-per-publish layout write, never a serve path.
    val uRange = (BigInt(uMax) - BigInt(uMin) + 1).toString
    val hRange = (BigInt(hMax) - BigInt(hMin) + 1).toString
    val xE = s"((cast(user_id as decimal(38,0)) - ($uMin)) * $buckets) div $uRange"
    val yE = s"((cast(unix_micros(ts) div 3600000000 as decimal(38,0)) - ($hMin)) * $buckets) div $hRange"
    expr(s"zorder_key($xE, $yE, $ZOrderBits)")
  }

  /** EQUIDEPTH layout key — the skew-robust successor to the min-max
    * [[zLayoutKey]] (kept above as the uniform-domain reference and the
    * overflow-regression pin). The adversarial-events corpus exposed the
    * min-max form's remaining 100 TB hazard AFTER the overflow fix: one
    * sentinel outlier (a Long.MaxValue user_id) stretches the range so
    * far that every REAL user lands in bucket 0 — total, no error, and
    * the layout silently degenerates back to the plain time sort the
    * normalization exists to prevent (zero user skipping). Rank
    * normalization is immune by construction: bucket = how many of the
    * 2^bits−1 QUANTILE boundaries the value exceeds, so each bucket
    * holds ~1/2^bits of the DATA regardless of domain shape — exactly
    * the sa6 equidepth move, applied to layout. Boundaries come from one
    * publish-time approxQuantile pass (Greenwald–Khanna sketch, bounded
    * memory at any scale); the per-row bucket is a 255-comparison
    * `size(filter(...))` over a broadcast-literal array — publish-cost
    * only, never a serve path. Total over the full domain: doubles
    * compare with NULL/NaN-free finite boundaries, NULL input yields
    * NULL key (sorted first), and a constant column yields one bucket.
    * Precision trade (deliberate): the comparison casts to double, so
    * long values beyond 2^53 lose low bits and distinct huge user_ids
    * adjacent to a quantile boundary can land in the same bucket. The
    * key is derived layout state — never served, recomputed each
    * publish — so the cost is a slightly unbalanced bucket, not a
    * wrong row; approxQuantile itself returns doubles, so a
    * decimal(38,0) compare would only move the same imprecision to the
    * boundary side.
    */
  private[graft] def rankBucketSql(valueSql: String, bounds: Array[Double]): String = {
    val arr = bounds.map(b => s"${b}D").mkString("array(", ", ", ")")
    // NULL must stay NULL (the zorder_key contract sorts the null group
    // apart) — a bare filter() drops elements on a NULL lambda result,
    // which would silently rank NULL as bucket 0 and collide it with
    // tile 0.
    s"case when ($valueSql) is null then cast(null as bigint) else " +
      s"cast(least(size(filter($arr, b -> b <= cast(($valueSql) as double))), " +
      s"${(1L << ZOrderBits) - 1}) as bigint) end"
  }

  def zLayoutKeyEquidepth(uBounds: Array[Double], hBounds: Array[Double]): Column =
    expr(s"zorder_key(${rankBucketSql("user_id", uBounds)}, " +
      s"${rankBucketSql("unix_micros(ts) div 3600000000", hBounds)}, $ZOrderBits)")

  /** The publish-time analyze pass: 2^bits−1 interior quantile
    * boundaries per layout dimension, one approxQuantile over both
    * columns (relative error 1e-3 — boundary slack moves rows between
    * ADJACENT buckets, which costs layout balance, never correctness;
    * the key is derived state, recomputed fresh each publish).
    */
  private[graft] def layoutBounds(df: DataFrame): (Array[Double], Array[Double]) = {
    val probs = (1 until (1 << ZOrderBits)).map(_.toDouble / (1 << ZOrderBits)).toArray
    val q = df.select(
        col("user_id").cast("double").as("u"),
        expr("unix_micros(ts) div 3600000000").cast("double").as("h"))
      .stat.approxQuantile(Array("u", "h"), probs, 0.001)
    (q(0), q(1))
  }

  /** OPTIMIZE ZORDER BY, materialized: lay the clean events out in
    * Morton order — `repartitionByRange(zkey)` makes each file an
    * interval of the z-curve, `sortWithinPartitions(zkey)` makes every
    * row group inside it one too. The date-partitioned store prunes on
    * ONE dimension (event_date) and reads every selected date fully
    * regardless of the user predicate; here a (user ∧ time) box touches
    * only the files whose z-interval intersects it, and the parquet
    * reader's row-group stats filter skips the rest — the multi-
    * dimensional clustering lakehouse formats ship as OPTIMIZE ZORDER
    * BY. PlanSpec's skipping audit proves the scan reads strictly fewer
    * rows than the date layout under pf5's predicate. The zkey is
    * computed in flight and not persisted — it is derivable, and the
    * store's schema stays the clean events schema.
    *
    * The [[layoutBounds]] quantile sketch is the "analyze" half of
    * OPTIMIZE: one bounded-memory pass at publish time, then the layout
    * write. Bounds are derived state — a source change republishes via
    * the stamp and recomputes them.
    */
  def writeZOrdered(df: DataFrame, path: String): Unit = {
    val (uB, hB) = layoutBounds(df)
    if (uB.isEmpty || hB.isEmpty) {
      // Empty build (or all-null layout dims): no boundaries to rank
      // against — publish the rows as-is. The snapshot stays valid and a
      // later non-empty republish lays out normally.
      df.write.mode("overwrite").parquet(path)
      return
    }
    val zkey = zLayoutKeyEquidepth(uB, hB)
    df.repartitionByRange(ZOrderFiles, zkey)
      .sortWithinPartitions(zkey)
      .write.mode("overwrite").parquet(path)
  }

  /** The z-ordered clean events table, served through the pointer-swap
    * [[graft.sources.ManifestStore]] (a layout artifact is exactly the
    * rebuild-under-readers case the manifest exists for: a nightly
    * OPTIMIZE republishes the layout while dashboards keep reading the
    * previous snapshot). Spec = build planSpec + layout version/grain +
    * source stamp, so a cleaning-rule edit, a grid retune, or new source
    * data each publish a fresh snapshot.
    */
  def eventsZOrdered(spark: SparkSession, sfDir: String): DataFrame = {
    val root = new java.io.File(
      s"${sys.props("user.dir")}/target/cleanz/${new java.io.File(sfDir).getName}/events")
    val source = new java.io.File(Tables.path(sfDir, "events"))
    val built = cleanEvents(spark, sfDir)
    val spec = graft.sources.Staging.planSpec(built) +
      s"\nzorder-v4 files=$ZOrderFiles bits=$ZOrderBits ts=micros norm=equidepth\n" +
      graft.sources.Staging.sourceStamp(Seq(source))
    graft.sources.ManifestStore.serve(spark, root, spec,
      graft.sources.ManifestStore.IndexReaderGraceMs)(writeZOrdered(built, _))
  }
}

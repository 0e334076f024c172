package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.GraftSession
import graft.functions._
import graft.sources.Tables

/** Structured Streaming extension: the batch aggregations re-expressed as
  * streaming queries over the `events` table, sharing the same aggregate
  * bodies (tumbling window + watermark). The batch twin below IS the
  * oracle-checked query; the streaming variant runs the identical plan on
  * `readStream`, so correctness carries over.
  */
object EventStreams {

  /** Batch twin: tumbling 1-hour window × event_type counts + exact avg.
    * `window().start` equals DuckDB `date_trunc('hour', ts)` for
    * epoch-aligned tumbling windows.
    */
  def windowedBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("avg_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Streaming source over the events table ONLY (`$sfDir/events.parquet`,
    * never the whole scale-factor directory). The raw file schema comes
    * from a static read, and the nanos-long → timestamp normalization is
    * the very same [[Tables.normalizeTs]] the batch reader applies — so
    * batch and stream see identical rows (asserted by the parity test in
    * `StreamingSpec`).
    */
  /** EVENT-TIME VALIDITY WINDOW — the streaming family's admission
    * screen for clock skew, applied AT THE SOURCE ([[eventStream]]) so
    * it guards every watermark downstream. The hazard it closes is the
    * classic production incident: ONE event with a far-future timestamp
    * (a client with a broken clock, a corrupted field, an attacker)
    * advances the global watermark past the present, and every
    * well-timed event that follows is silently dropped as "late" — the
    * adversarial-events replay (tools/advevents.py) reproduced exactly
    * that: a single 2262-04-11 row cost st2/st5/st10/st12/st23 one to
    * three output rows each. Pre-epoch garbage is screened by the same
    * window. The bounds are shared constants interpolated into every
    * streaming oracle text ([[onValidEventTime]]), so engine and oracle
    * screen identically; batch analytics (the q family, st1, st3, st4, st11) read the
    * RAW table by design — a batch scan has no watermark to poison, and
    * min/max/spine queries must see the garbage to report it.
    */
  val EventTimeLo: String = "2020-01-01 00:00:00"
  val EventTimeHi: String = "2030-01-01 00:00:00"

  def validEventTime(df: DataFrame): DataFrame =
    df.filter(col("ts") >= lit(EventTimeLo).cast("timestamp") &&
      col("ts") < lit(EventTimeHi).cast("timestamp"))

  /** Rewrites a streaming oracle text to read the screened stream — the
    * [[graft.operators.Similarity]] onAdmissible pattern: `events` refs
    * swap to the `evt` CTE (word-boundary regex, so aliased self-joins
    * rewrite too), the screen prepends as one CTE. Same invariants: no
    * WITH RECURSIVE prefix; `events` appears only as a table ref.
    */
  private[graft] def onValidEventTime(sql: String): String = {
    require(!sql.startsWith("WITH RECURSIVE"),
      "onValidEventTime: cannot prepend the evt CTE before WITH RECURSIVE")
    val swapped = sql.replaceAll("\\bevents\\b", "evt")
    val cte = s"evt AS (SELECT * FROM events WHERE ts >= TIMESTAMP '$EventTimeLo' " +
      s"AND ts < TIMESTAMP '$EventTimeHi')"
    if (swapped.startsWith("WITH ")) s"WITH $cte,\n${swapped.stripPrefix("WITH ")}"
    else s"WITH $cte\n$swapped"
  }

  /** st26 — the validity screen's REPORTING TWIN (the sim18 pattern):
    * classify every RAW event against the [[EventTimeLo]]/[[EventTimeHi]]
    * window — `valid`, `too_old`, `too_new`, `null_ts` — with per-class
    * counts and the class's observed time range. This is the monitor an
    * ops owner reads when the stream goes quiet: the screen silently
    * (and correctly) drops clock-skew garbage at the source, and this
    * batch audit over the same raw table is the one place the dropped
    * rows stay visible, quantified and bounded (4 rows out, one
    * map-side-combined aggregate over the scan — no shuffle beyond it).
    */
  def st26EventTimeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val cls = when(col("ts").isNull, lit("null_ts"))
      .when(col("ts") < lit(EventTimeLo).cast("timestamp"), lit("too_old"))
      .when(col("ts") >= lit(EventTimeHi).cast("timestamp"), lit("too_new"))
      .otherwise(lit("valid"))
    Tables.events(spark, sfDir)
      .select(cls.as("class"), col("ts"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n"),
        min(col("ts")).cast("timestamp_ntz").as("first_ts"),
        max(col("ts")).cast("timestamp_ntz").as("last_ts"))
      .orderBy(col("class"))
  }

  def eventStream(spark: SparkSession, sfDir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    val raw = Tables.eventsRaw(spark, sfDir) // asserts the nanos conf, raw schema
    val p = Tables.path(sfDir, "events")
    // The streaming file source wants a directory or a glob. At scale the
    // events table IS a directory; the driver's testdata is a single file —
    // glob the last character so the source resolves it as a pattern.
    // `sourceOptions` lets the restart drill bound admission
    // (maxFilesPerTrigger) so a backlog splits into interruptible
    // micro-batches; registry queries pass none.
    val streamPath =
      if (new java.io.File(p).isFile) s"${p.dropRight(1)}[${p.last}]" else p
    validEventTime(Tables.normalizeTs(
      spark.readStream
        .schema(raw.schema)
        .options(sourceOptions)
        .parquet(streamPath)))
  }

  /** Streaming variant: same aggregate body + 1-hour watermark. Append
    * mode emits a window once the watermark passes its end — at scale,
    * state is bounded by (windows in flight × event types).
    */
  def windowedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("avg_value"))

  /** Drive a streaming frame through the PRODUCTION sink shape — a parquet
    * file sink with a checkpoint location — synchronously (AvailableNow ⇒
    * processes the backlog and stops, with a final no-data micro-batch
    * that flushes watermark-closed state), then return the result read
    * back from the sink's files. Executors write parquet; nothing
    * data-scaled ever materializes on the driver. (The previous memory
    * sink collected every emitted row into driver memory — fine for st2's
    * bounded aggregate, a 100×-scale bottleneck for outputs that scale
    * with data like st5's distinct-key set or st6's pair stream.) The
    * read-back consults the sink's `_spark_metadata` transaction log, so
    * only files of committed batches are visible — the streaming
    * exactly-once contract; at production scale the same pair of paths
    * lands on the cluster's distributed store and the checkpoint makes the
    * query resumable.
    */
  /** State-store parallelism for the driver-gate streaming runs. A
    * stateful streaming query materializes one state store PER shuffle
    * partition PER stateful operator PER micro-batch — that parallelism is
    * a throughput knob sized to the STREAM (key cardinality × event rate),
    * not inherited from the batch-analytics default: on the driver corpus
    * (a single-file backlog) 32-way state parallelism is pure fixed
    * overhead (st6 runs 4 stateful operators = 128 store instances per
    * micro-batch), while a 100 TB production stream would raise it well
    * past the batch default. The checkpoint binds the number at first
    * start — a real deployment picks it ONCE per query, which is exactly
    * what this parameter models.
    */
  val GateStatePartitions: Int =
    sys.env.get("SPARK_GRAFT_GATE_PARTITIONS").map(_.toInt).getOrElse(8)

  /** State parallelism for the STREAM-STREAM JOIN gates specifically
    * (st10/st23), default 2 since r17: the r16 verdict's tuning pass
    * measured the join-gate floor dominated by per-store COMMIT
    * machinery, not compute — an outer interval join runs 4 state
    * stores per partition, so 8 partitions = 32 store commits + fsyncs
    * per micro-batch. Isolated matrix (st10 warm, sf0.1): 8 partitions
    * 4.1–16.8 s (pathological variance under fs-sync storms),
    * 2 partitions 3.1–3.3 s stable, 1 partition 3.0 s; RocksDB at 8 was
    * 7.2 s plain / 5.8 s with changelog checkpointing — the disk-backed
    * provider pays at micro-batch scale exactly as its opt-in note
    * predicts. The sizing is PER GATE, not global, because the first
    * cut dropped [[GateStatePartitions]] itself to 2 and the
    * compute-bound gates paid for it (st7's per-user sessionization is
    * CPU-parallel work — it went 2.0 → 14 s at 2 partitions): join
    * gates are commit-dominated, sessionization/aggregation gates are
    * compute-dominated, and each wants its own number — which is
    * exactly the per-query sizing discipline the checkpoint-binding
    * scaladoc above describes for 100 TB deployments. 2 keeps a real
    * shuffle in the plan (the production shape);
    * SPARK_GRAFT_JOIN_GATE_PARTITIONS overrides for experiments.
    */
  val JoinGateStatePartitions: Int =
    sys.env.get("SPARK_GRAFT_JOIN_GATE_PARTITIONS").map(_.toInt).getOrElse(2)

  /** SCALE-ADAPTIVE state parallelism (optimization guide §2: derive
    * partitioning from input size, never a constant tuned for one scale).
    * The r16/r17 tuning matrices sized the two floors above to the
    * driver corpus's per-store COMMIT floor — correct at micro-batch
    * scale, but a CONSTANT 2 serializes the stream-stream joins the
    * moment data grows: the r19 sf10 probe (bench/probe_sf10_before
    * .json, canaries 0.424/0.337) measured st6/st10/st23 at
    * 1026/1103/1094 s warm with the interval join running 2-way
    * parallel on 32 cores and two corpus-scale state maps GC-thrashing
    * the heap — 3.2× WORSE than r16's full rehearsal at the old
    * 8-partition constant, a regression the sf0.1 bench structurally
    * could not see. Derivation: one state partition per class-specific
    * byte target of source bytes, floored at the measured micro-scale
    * optimum (so every driver-corpus run keeps its tuned plan and
    * timings bit-for-bit), capped at [[MaxStatePartitions]] (state
    * stores per stateful operator are a per-query resource; a 100 TB
    * deployment sizes the cap to its executor count). Partition count
    * is pure execution strategy for every gate — outputs are
    * partition-invariant (oracle-replayed at k=80 where the derived
    * counts exceed both floors). The env overrides keep their PINNING
    * semantics for experiments: when set, the floor value is used
    * verbatim at every scale, as before.
    */
  /** Per-class byte targets, from the r19 sf10 probe pair
    * (bench/probe_sf10_before.json vs probe_sf10_after.json): the JOIN
    * gates are row-work/state-size bound — at 2 partitions st6/st10/st23
    * read 1026/1103/1094 s warm at sf10 (per-partition state maps large
    * enough to GC-thrash an 8 GiB heap), at 26 they read 104/75/80 s
    * (10–15×) — so they earn one partition per 8 MiB of source. The
    * aggregation/sessionization/screen gates are COMMIT-bound at every
    * probed scale (st7 4.7 s at 26 partitions vs 3.5 s at 8; the r16
    * matrix measured the same shape), so their curve stays at the tuned
    * floor through ~256 MiB sources and only then grows.
    */
  val JoinGateTargetBytes: Long = 8L << 20
  val GateTargetBytes: Long = 32L << 20
  val MaxStatePartitions: Int = 2048

  /** Delegates to [[Tables.tableBytes]] — the one copy of the file/
    * directory byte-summing logic, which also WARNS when the path
    * resolves to 0 bytes (r19 advisor, low: a typo'd table name would
    * otherwise silently serialize a large-scale stream at the
    * micro-scale partition floor).
    */
  private[graft] def sourceBytes(sfDir: String, table: String): Long =
    Tables.tableBytes(sfDir, table)

  private def adaptiveStatePartitions(sfDir: String, table: String,
      floor: Int, target: Long, pinned: Boolean): Int =
    if (pinned) floor
    else math.min(MaxStatePartitions,
      math.max(floor, (sourceBytes(sfDir, table) / target).toInt))

  /** Aggregation/sessionization/screen gates: floor
    * [[GateStatePartitions]], sized to the gate's own source table
    * (`events` for the event gates, `documents` for the text/binary
    * admission screens).
    */
  def gateParts(sfDir: String, table: String = "events"): Int =
    adaptiveStatePartitions(sfDir, table, GateStatePartitions, GateTargetBytes,
      pinned = sys.env.contains("SPARK_GRAFT_GATE_PARTITIONS"))

  /** The session a foreachBatch gate over `events` starts its stream on:
    * a fork at [[gateParts]] state partitions.
    */
  def gateFork(spark: SparkSession, sfDir: String): SparkSession =
    GraftSession.fork(spark, "spark.sql.shuffle.partitions" -> gateParts(sfDir).toString)

  /** Stream-stream join gates: floor [[JoinGateStatePartitions]]. */
  def joinGateParts(sfDir: String): Int =
    adaptiveStatePartitions(sfDir, "events", JoinGateStatePartitions,
      JoinGateTargetBytes,
      pinned = sys.env.contains("SPARK_GRAFT_JOIN_GATE_PARTITIONS"))

  def runToParquet(
      df: DataFrame, name: String,
      statePartitions: Int = GateStatePartitions,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val base = stagingDir(name)
    val out = new java.io.File(base, "out").getAbsolutePath
    val chk = new java.io.File(base, "chk").getAbsolutePath
    // the streaming query captures shuffle.partitions at START (and pins
    // it in the checkpoint), so it starts on a fork at the state count
    val writer = GraftShim.rebind(df, GraftSession.fork(spark,
      "spark.sql.shuffle.partitions" -> statePartitions.toString))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .start()
      .awaitTermination()
    // explicit schema: a run whose final watermark closes nothing writes
    // zero files, and schema inference over an empty sink dir would throw
    spark.read.schema(df.schema).parquet(out)
  }

  /** A fresh per-process staging dir for one streaming gate run.
    * Per-PROCESS because a fixed shared path would let two JVMs on one
    * machine (a bench run next to the test suite) delete each other's
    * live checkpoint mid-query; within a process, re-runs of the same
    * query wipe their own previous sink (a stale metadata log would hide
    * the new run's files). Dead processes can't clean up after
    * themselves, so each call also sweeps dirs whose owning pid is gone.
    */
  private[streaming] def stagingDir(name: String): java.io.File = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_stream")
    sweepDeadProcessDirs(root)
    val base = new java.io.File(root, s"p${ProcessHandle.current().pid()}/$name")
    deleteRecursively(base)
    base
  }

  // the shared null-race-safe recursive delete (one copy for all staging)
  private def deleteRecursively(f: java.io.File): Unit =
    graft.sources.Staging.deleteRecursively(f)

  /** Remove `p<pid>` staging dirs whose owning process no longer exists —
    * without this, every JVM that ever ran a streaming gate leaves its
    * (data-scaled) sink + checkpoint in the tmp filesystem forever.
    */
  private def sweepDeadProcessDirs(root: java.io.File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty).foreach { d =>
      val pid = d.getName.stripPrefix("p")
      val alive = pid.toLongOption.exists(p =>
        ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
      if (d.getName.startsWith("p") && !alive) deleteRecursively(d)
    }

  /** Test-harness sink for bounded MemoryStream parity inputs (see
    * StreamingSpec/SessionsSpec) — NOT on any registry path: the memory
    * sink materializes every emitted row in driver memory, which is
    * exactly what [[runToParquet]] exists to avoid.
    */
  def runToMemory(df: DataFrame, name: String): StreamingQuery = {
    df.sparkSession.catalog.dropTempView(name) // re-runnable in one session
    val q = df.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** st2 — the streaming path run END-TO-END through the driver gate: start
    * the windowed stream over the parquet source, drain it (AvailableNow),
    * return the emitted windows. Append mode emits exactly the windows
    * whose END the 1-hour watermark passed — deterministic for a fixed
    * input, so the oracle is the batch aggregation HAVING
    * window_end ≤ max(ts) − 1h.
    */
  def st2StreamWindowed(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(windowedStream(eventStream(spark, sfDir)), "st2_sink",
        statePartitions = gateParts(sfDir))
      .orderBy(col("window_start"), col("event_type"))

  /** st4 — stream-static enrichment: the event stream joined against the
    * customer dimension, then the same windowed aggregation keyed by
    * market segment. The join strategy is left to size stats: customer
    * scales with SF, so a hardcoded broadcast hint would OOM the driver at
    * production scale, while at dashboard scale the optimizer broadcasts
    * it anyway and each micro-batch just probes the dim hash relation.
    * Batch twin below is the oracle-checked query; [[enrichedStream]] runs
    * the identical plan over `readStream` (parity in `StreamingSpec`).
    */
  def enrichedBatch(events: DataFrame, customer: DataFrame): DataFrame =
    events
      // no broadcast hint — customer scales with SF; size stats decide
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("c_mktsegment"), col("n"), col("avg_value"))
      .orderBy(col("window_start"), col("c_mktsegment"))

  def enrichedStream(spark: SparkSession, sfDir: String): DataFrame =
    eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("c_mktsegment"), col("n"), col("avg_value"))

  /** Batch twin of the streaming dedup: the distinct (user, type, hour)
    * key set — "first event per user/type/hour", the streaming analog of
    * dd1's exact dedup for event telemetry.
    */
  def dedupBatch(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"), col("hour_start"))

  /** st5 — STREAMING exact dedup via `dropDuplicatesWithinWatermark`: state
    * holds one entry per key and is EVICTED once the watermark passes the
    * key's event time + delay — the bounded-state 100 TB-stream shape
    * (plain `dropDuplicates` on a stream retains state forever). A key's
    * duplicates all fall inside its one-hour bucket, within the 1-hour
    * watermark delay, so every duplicate meets its state entry and the
    * emitted rows are exactly the distinct keys (driver-oracle-checked
    * against the batch `SELECT DISTINCT`; a duplicate arriving later than
    * watermark + delay could re-emit — the documented within-watermark
    * contract of the operator).
    */
  /** st5's transform over an arbitrary validated event stream — shared
    * by the registry query and the restart drill (one body, two sources).
    */
  private[graft] def st5Frame(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"),
        col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_start")
      .select(col("user_id"), col("event_type"), col("hour_start"))

  def st5StreamDedup(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(st5Frame(eventStream(spark, sfDir)), "st5_sink",
        statePartitions = gateParts(sfDir))
      .orderBy(col("user_id"), col("event_type"), col("hour_start"))

  /** The attribution horizon shared by the batch twin, the streaming
    * variant and the DuckDB oracle — one source of truth.
    */
  val AttributionHorizonMinutes = 60

  /** Batch twin of the attribution join: every (view, purchase) pair for
    * the same user with the purchase at most `horizon` after the view —
    * the classic event-attribution interval join. `value` closes the sort
    * key: (user, view_ts, purchase_ts) alone is not unique when one view
    * matches two same-instant purchases, and the driver compare is
    * order-sensitive.
    */
  def attributionBatch(
      events: DataFrame,
      horizonMinutes: Int = AttributionHorizonMinutes): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"), col("value"))
      .orderBy(col("user_id"), col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** st6 — STREAM-STREAM interval self-join: the view and purchase sides
    * are two filtered instances of the same event stream, each with its
    * own watermark; the range condition (`purchase within horizon of
    * view`) lets Spark bound BOTH join states — a view's state is evicted
    * once the purchase-side watermark passes view_ts + horizon, and vice
    * versa. That state bound is what makes the join runnable on an
    * unbounded 100 TB stream; an equi-join without the range condition
    * would keep every event forever. Inner join emits each matched pair
    * as soon as both sides arrived — for the bounded driver input the
    * result is exactly the batch twin (driver-oracle-checked).
    *
    * Local bench note: the wall time is dominated by FIXED stream-stream
    * machinery (two source instances + 4 state stores × shuffle-partition
    * snapshots per micro-batch), not data volume — on a long-running real
    * stream that setup cost amortizes to nothing.
    */
  /** st6's transform over an arbitrary validated event stream — shared
    * by the registry query and the restart drill.
    */
  private[graft] def st6Frame(s: DataFrame): DataFrame = {
    val horizon = AttributionHorizonMinutes
    val v = s.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = s.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $horizon MINUTES"))
      .select(col("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"), col("value"))
  }

  def st6StreamAttribution(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(st6Frame(eventStream(spark, sfDir)), "st6_sink",
        statePartitions = joinGateParts(sfDir))
      .orderBy(col("user_id"), col("view_ts"), col("purchase_ts"), col("value"))

  /** st10 — LEFT-OUTER stream-stream interval join: st6's attribution
    * pairs PLUS one null-extended row per view that never converted
    * inside the horizon — the funnel-drop-off report as a stream. The
    * outer semantics are what distinguish it operationally: an unmatched
    * view can only be emitted once the purchase-side watermark has passed
    * `view_ts + horizon` (before that, a match could still arrive), so
    * null rows surface exactly when the join STATE for that view is
    * evicted — the same range-bounded state that keeps the join runnable
    * on an unbounded stream also defines the outer-result timing. For the
    * bounded driver input the final watermark lands at
    * `least(max view ts, max purchase ts) − 1h` — each watermark node
    * only observes its own filtered side, and the default
    * multipleWatermarkPolicy takes the MIN — making the emitted subset
    * deterministic: all matched pairs, plus null rows for unmatched
    * views with `view_ts + horizon` strictly before that watermark
    * (younger unmatched views remain in state when the backlog drains —
    * exactly what a restart would resume with).
    */
  private[graft] def st10Frame(s: DataFrame): DataFrame = {
    val horizon = AttributionHorizonMinutes
    val v = s.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = s.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $horizon MINUTES"),
        "left_outer")
      .select(col("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"), col("value"))
  }

  def st10StreamLeftOuter(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(st10Frame(eventStream(spark, sfDir)), "st10_sink",
        statePartitions = joinGateParts(sfDir))
      .orderBy(col("user_id").asc, col("view_ts").asc,
        col("purchase_ts").asc_nulls_first, col("value").asc_nulls_first)

  /** st23 — FULL-OUTER stream-stream interval join, completing the
    * stream-join matrix (st6 inner, st10 left-outer): st6's attribution
    * pairs PLUS a null-extended row per never-converted view (st10's
    * side) PLUS a null-extended row per ORPHAN purchase — a purchase
    * with no preceding view inside the horizon, the
    * attribution-integrity signal (bot traffic, lost view events, a
    * broken tracker) the one-sided joins structurally cannot emit.
    * Each side's null rows surface exactly when its join state evicts:
    * an unmatched view once the watermark passes `view_ts + horizon`
    * (no matching purchase can arrive), an unmatched purchase once the
    * watermark passes `purchase_ts` (the condition bounds a matching
    * view at `view_ts ≤ purchase_ts`, so nothing older can arrive) —
    * the same range-bounded state that keeps the join runnable
    * unbounded defines BOTH outer timings. Deterministic on the
    * drained backlog exactly as st10: the final watermark is
    * `least(max view ts, max purchase ts) − 1h` and rows younger than
    * their eviction bound stay in state, as a restart would resume
    * them.
    */
  private[graft] def st23Frame(s: DataFrame): DataFrame = {
    val horizon = AttributionHorizonMinutes
    val v = s.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = s.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $horizon MINUTES"),
        "full_outer")
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"), col("value"))
  }

  def st23StreamFullOuter(spark: SparkSession, sfDir: String): DataFrame =
    runToParquet(st23Frame(eventStream(spark, sfDir)), "st23_sink",
        statePartitions = joinGateParts(sfDir))
      .orderBy(col("user_id").asc, col("view_ts").asc_nulls_first,
        col("purchase_ts").asc_nulls_first, col("value").asc_nulls_first)

  /** st15 — STREAM-STATIC interval join: the live stream tagged against
    * q38's campaign windows with the SAME day-binning rewrite — each
    * event computes its day bin once, equi-joins the broadcast binned
    * window dim, and the residual range predicate trims the partial edge
    * days. A range predicate on a stream has no direct plan at all
    * without the rewrite (stream-static non-equi ⇒ nested loop per
    * micro-batch); binned, it is a STATELESS broadcast hash join — no
    * watermark, no state store, every matched (event, campaign) pair
    * emitted exactly once as its micro-batch processes. The batch twin
    * (identical semantics, the naive BETWEEN join) is the oracle.
    */
  def st15StreamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = broadcast(graft.operators.Analytics.binnedWindows(spark))
    val joined = eventStream(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .join(binned, Seq("day"))
      .filter(col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .select(col("event_id"), col("campaign_id"),
        col("ts").cast("timestamp_ntz").as("ts"))
    runToParquet(joined, "st15_sink", statePartitions = gateParts(sfDir))
      .orderBy(col("event_id"), col("campaign_id"))
  }

  // -------------------------------------------------- st14 heavy hitters

  /** Atomic sketch-state file for [[st14HeavyUsers]]: first line the
    * last-applied batch id, then one `count<TAB>term` line per counter.
    * ONE file replaced by atomic rename is the whole commit protocol —
    * there is no torn middle state, so at-least-once `foreachBatch`
    * redelivery either sees the old id (and re-applies onto the old
    * sketch) or the new id (and skips): exactly-once effect without st9's
    * multi-partition WAL, because the state is a single bounded blob.
    */
  def readSketch(f: java.io.File): (Long, Map[String, Long]) =
    if (!f.exists()) (-1L, Map.empty)
    else {
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      import scala.jdk.CollectionConverters._
      val it = lines.asScala
      (it.head.toLong, it.tail.map { l =>
        val Array(c, t) = l.split("\t", 2)
        t -> c.toLong
      }.toMap)
    }

  private def writeSketch(f: java.io.File, id: Long, m: Map[String, Long]): Unit = {
    val tmp = new java.io.File(f.getParentFile, f.getName + ".tmp")
    val body = (id.toString +: m.toSeq.sortBy(_._1).map { case (t, c) => s"$c\t$t" })
      .mkString("\n")
    java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Merge one micro-batch's (bounded, k-entry) Misra–Gries sketch into
    * the state file — idempotent under batch-id replay, cross-process
    * locked. Public for the spec, which drives it with crafted batches
    * and replayed ids.
    */
  def upsertSketch(
      stateF: java.io.File, batchId: Long, batch: Map[String, Long], k: Int): Unit =
    graft.sources.Staging.withExclusiveLock(stateF.getParentFile) {
      val (last, cur) = readSketch(stateF)
      if (batchId > last)
        writeSketch(stateF, batchId, new MisraGries(k).merge(cur, batch))
    }

  /** st14 — STREAMING heavy hitters: the dominant keys of an unbounded
    * stream, maintained across micro-batches with O(k) state — td14's
    * Misra–Gries sketch lifted from a batch aggregate to a continuously-
    * maintained summary. Each micro-batch reduces to ONE k-entry map
    * inside the cluster (per-partition partial sketches merged by the
    * typed aggregate — only k counters ever reach the driver), then
    * merges into the persisted sketch by the Agarwal-et-al mergeable-
    * summaries step. The MG guarantees (no key above N/(k+1) missed,
    * estimates never above truth, undershoot bounded) hold under ANY
    * batch split/order — which is what makes the streaming lift sound;
    * the specific estimates are merge-order dependent like every sketch,
    * so the gate is rows-only and the guarantees are spec-asserted.
    *
    * At 100 TB this is the trending-keys report a windowed exact count
    * can't afford: state is k counters total, not a per-key map.
    */
  def st14HeavyUsers(spark: SparkSession, sfDir: String, k: Int = 16): DataFrame = {
    val base = stagingDir("st14_hh")
    base.mkdirs()
    val stateF = new java.io.File(base, "sketch")
    val chk = new java.io.File(base, "chk").getAbsolutePath
    val mg = udaf(new MisraGries(k), org.apache.spark.sql.Encoders.STRING)
    eventStream(gateFork(spark, sfDir), sfDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        // key completeness (the st13 posture): a heavy-hitters report
        // cannot attribute a NULL user, and a NULL key would poison the
        // sketch buffer's map encoding (adversarial-events catch)
        val sketch = b.filter(col("user_id").isNotNull)
          .select(col("user_id").cast("string").as("t"))
          .agg(mg(col("t")).as("mg"))
          .collect()(0).getAs[Map[String, Long]]("mg")
        upsertSketch(stateF, id, sketch, k)
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val (_, fin) = readSketch(stateF)
    import spark.implicits._
    fin.toSeq.toDF("user_id", "est_count")
      .select(col("user_id").cast("long").as("user_id"), col("est_count"))
      .orderBy(col("est_count").desc, col("user_id"))
  }

  /** st12 — CHAINED stateful operators in ONE streaming query: exact
    * distinct users per hour as streaming dedup (bounded
    * within-watermark state, st5's operator) feeding a windowed count
    * (st2's operator) — the multi-stage stateful pipeline shape
    * (supported with watermark propagation between stateful operators).
    * An exact streaming COUNT(DISTINCT) is otherwise impossible in one
    * aggregation: the dedup stage holds one state entry per (hour, user)
    * inside the watermark, the count stage one small row per open
    * window — both bounded, and the composition emits exactly the
    * closed windows' exact distinct counts (oracle-gated).
    */
  def st12StreamWindowUsers(spark: SparkSession, sfDir: String): DataFrame = {
    // KEY COMPLETENESS (the st13 posture): a per-window USER count
    // cannot attribute a NULL user — the stateful dedup would keep one
    // NULL row per window and count a phantom user where the oracle's
    // count(DISTINCT user_id) counts none (caught by the
    // adversarial-events replay). Screened AFTER withWatermark: the
    // watermark must advance on every time-valid arrival — were the key
    // screen upstream of it, a corpus whose latest event is NULL-keyed
    // would leave the engine's watermark behind the oracle's
    // max(ts)-derived closed-window bound.
    val deduped = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"),
        col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "hour_start")
    val counted = deduped
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"), col("n_users"))
    runToParquet(counted, "st12_sink", statePartitions = gateParts(sfDir))
      .orderBy(col("window_start"))
  }

  /** st8 — STREAMING INGESTION into the clean serving layer: the event
    * stream written continuously to a DATE-PARTITIONED parquet table
    * (`partitionBy` on the streaming file sink + checkpoint) — the
    * always-on twin of [[graft.operators.CleanStore.writeEvents]]'s batch
    * staging, and the piece that turns the dashboard's clean table into a
    * continuously-fresh one. Stateless append: every input row lands
    * exactly once (checkpoint + sink transaction log), no watermark
    * needed, so the read-back equals the batch clean table row-for-row —
    * driver-oracle-checked. At 100 TB the same query tails an unbounded
    * source and the partition layout keeps dashboard F1 pruning working
    * on data seconds old.
    */
  /** st8's transform (stateless date-stamping) — shared by the registry
    * query and the restart drill.
    */
  private[graft] def st8Frame(events: DataFrame): DataFrame =
    events.withColumn("event_date", to_date(col("ts")))

  def st8StreamIngest(
      spark: SparkSession, sfDir: String, ordered: Boolean = true): DataFrame = {
    val ingested = st8Frame(eventStream(spark, sfDir))
    val result =
      runToParquet(ingested, "st8_sink",
        statePartitions = gateParts(sfDir), partitionCols = Seq("event_date"))
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"),
          col("event_date"))
    // the global orderBy exists ONLY for the verify hash protocol — the
    // bench runs the unordered plan (benchOverrides), measuring ingestion
    if (ordered) result.orderBy(col("event_id")) else result
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1_windowed_agg" ->
      ((s: SparkSession, d: String) => windowedBatch(Tables.events(s, d))),
    "st2_stream_windowed" -> (st2StreamWindowed _),
    "st4_enriched_window" ->
      ((s: SparkSession, d: String) =>
        enrichedBatch(Tables.events(s, d), Tables.customer(s, d))),
    "st5_stream_dedup" -> (st5StreamDedup _),
    "st6_stream_attribution" -> (st6StreamAttribution _),
    "st10_stream_left_outer" -> (st10StreamLeftOuter _),
    "st23_stream_full_outer" -> (st23StreamFullOuter _),
    // st14 is rows-only by design: sketch estimates are merge-order
    // dependent (like dd4/sa1/q29's sketch columns); the MG guarantees
    // are asserted in StreamingSpec against exact cross-batch counts
    "st14_stream_heavy_users" -> ((s: SparkSession, d: String) => st14HeavyUsers(s, d)),
    "st15_stream_interval_join" -> (st15StreamIntervalJoin _),
    "st12_stream_window_users" -> (st12StreamWindowUsers _),
    "st8_stream_ingest" ->
      ((s: SparkSession, d: String) => st8StreamIngest(s, d)),
    "st26_event_time_audit" -> (st26EventTimeAudit _))

  /** Bench-only override: drop st8's verify-only global sort (the
    * Analytics.benchOverrides pattern for row-level outputs).
    */
  val benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st8_stream_ingest" ->
      ((s: SparkSession, d: String) => st8StreamIngest(s, d, ordered = false)))

  /** Streaming queries read through the event-time screen, so their
    * oracles must too; st1/st4 are the batch twins and read raw.
    */
  private val StreamingOracleKeys: Set[String] = Set(
    "st2_stream_windowed", "st5_stream_dedup", "st6_stream_attribution",
    "st10_stream_left_outer", "st23_stream_full_outer",
    "st15_stream_interval_join", "st12_stream_window_users",
    "st8_stream_ingest")

  val oracles: Map[String, String] = baseOracles.map { case (k, v) =>
    k -> (if (StreamingOracleKeys(k)) onValidEventTime(v) else v)
  }

  // lazy: referenced by `oracles` above in object-init order
  private lazy val baseOracles: Map[String, String] = Map(
    // the audit reads RAW by definition (it reports what the screen
    // drops), so it is NOT in StreamingOracleKeys; the class literals
    // interpolate the shared window constants
    "st26_event_time_audit" ->
      s"""WITH c AS (SELECT CASE
         |    WHEN ts IS NULL THEN 'null_ts'
         |    WHEN ts < TIMESTAMP '$EventTimeLo' THEN 'too_old'
         |    WHEN ts >= TIMESTAMP '$EventTimeHi' THEN 'too_new'
         |    ELSE 'valid' END AS class, ts
         |  FROM events)
         |SELECT class, count(*) AS n,
         |  min(ts) AS first_ts, max(ts) AS last_ts
         |FROM c GROUP BY class ORDER BY class""".stripMargin,
    "st1_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST""".stripMargin,
    "st2_stream_windowed" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2
        |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY 1, 2 NULLS FIRST""".stripMargin,
    "st4_enriched_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, c_mktsegment, count(*) AS n,
        |round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) * 1e6) / 1e6 AS avg_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st5_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hour_start
        |FROM events ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3""".stripMargin,
    // the stateless stream-static join emits every pair — the oracle is
    // the naive BETWEEN join over the same deterministic window dim
    "st15_stream_interval_join" ->
      """WITH w AS (SELECT i AS campaign_id,
        |  TIMESTAMP '2024-01-01 06:00:00' + to_days(CAST(3 * i AS INTEGER)) AS start_ts,
        |  TIMESTAMP '2024-01-01 06:00:00' + to_days(CAST(3 * i AS INTEGER))
        |    + to_hours(108) AS end_ts
        |  FROM range(10) t(i))
        |SELECT e.event_id, w.campaign_id, e.ts
        |FROM events e JOIN w ON e.ts >= w.start_ts AND e.ts < w.end_ts
        |ORDER BY e.event_id, w.campaign_id""".stripMargin,
    "st6_stream_attribution" ->
      s"""SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts, p.value
         |FROM events v JOIN events p
         |  ON v.user_id = p.user_id
         | AND v.event_type = 'view' AND p.event_type = 'purchase'
         | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL $AttributionHorizonMinutes MINUTES
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // matched pairs verbatim from the inner twin, plus null-extended rows
    // for unmatched views whose horizon closed under the final watermark.
    // The watermark model is Spark's exactly: each withWatermark node only
    // sees ITS filtered side, and the default multipleWatermarkPolicy is
    // MIN — so the global watermark is least(max view ts, max purchase ts)
    // − 1h, NOT max(all ts) − 1h (on this corpus those differ by over an
    // hour; the max-of-all model would emit null rows for views Spark
    // still holds in state). NULLS FIRST pinned — Spark's ascending
    // default and DuckDB's disagree
    // st10's watermark model extended to BOTH null-extension rules: an
    // unmatched view emits once view_ts + horizon < wm, an unmatched
    // purchase once purchase_ts < wm (a matching view is bounded at
    // view_ts <= purchase_ts); matched pairs always emit. The same
    // least(max view, max purchase) - 1h final watermark.
    "st23_stream_full_outer" ->
      s"""WITH w AS (SELECT least(
         |    (SELECT max(ts) FROM events WHERE event_type = 'view'),
         |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         |  - INTERVAL 1 HOUR AS wm),
         |v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
         |p AS (SELECT user_id AS p_user, ts AS purchase_ts, value
         |      FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT coalesce(v.user_id, p.p_user) AS user_id,
         |        v.view_ts, p.purchase_ts, p.value
         |      FROM v FULL JOIN p
         |        ON v.user_id = p.p_user
         |       AND p.purchase_ts >= v.view_ts
         |       AND p.purchase_ts <= v.view_ts + INTERVAL $AttributionHorizonMinutes MINUTES)
         |SELECT user_id, view_ts, purchase_ts, value FROM j
         |WHERE (view_ts IS NOT NULL AND purchase_ts IS NOT NULL)
         |   OR (purchase_ts IS NULL
         |       AND view_ts + INTERVAL $AttributionHorizonMinutes MINUTES < (SELECT wm FROM w))
         |   OR (view_ts IS NULL AND purchase_ts < (SELECT wm FROM w))
         |ORDER BY user_id NULLS FIRST, view_ts NULLS FIRST, purchase_ts NULLS FIRST,
         |  value NULLS FIRST""".stripMargin,
    "st10_stream_left_outer" ->
      s"""WITH w AS (SELECT least(
         |    (SELECT max(ts) FROM events WHERE event_type = 'view'),
         |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         |  - INTERVAL 1 HOUR AS wm),
         |v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
         |p AS (SELECT user_id AS p_user, ts AS purchase_ts, value
         |      FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT v.user_id, v.view_ts, p.purchase_ts, p.value
         |      FROM v LEFT JOIN p
         |        ON v.user_id = p.p_user
         |       AND p.purchase_ts >= v.view_ts
         |       AND p.purchase_ts <= v.view_ts + INTERVAL $AttributionHorizonMinutes MINUTES)
         |SELECT user_id, view_ts, purchase_ts, value FROM j
         |WHERE purchase_ts IS NOT NULL
         |   OR view_ts + INTERVAL $AttributionHorizonMinutes MINUTES < (SELECT wm FROM w)
         |ORDER BY user_id NULLS FIRST, view_ts, purchase_ts NULLS FIRST, value NULLS FIRST""".stripMargin,
    // exact distinct users per closed window — the chained dedup+count
    // pipeline must equal the batch COUNT(DISTINCT) on the same subset
    // st2's append mode emits (window end ≤ final watermark)
    // WHERE mirrors the engine's post-watermark key screen: a closed
    // window whose events are ALL NULL-user emits no row from the
    // chained dedup+count (nothing survives the screen), while a bare
    // GROUP BY would keep that group with n_users = 0 (count(DISTINCT)
    // ignores NULLs but the group survives). The closed-window bound's
    // max(ts) subquery stays over ALL time-valid rows — the engine's
    // watermark advances on every time-valid arrival, keyed or not.
    "st12_stream_window_users" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY 1""".stripMargin,
    // stateless exactly-once append ⇒ the ingested partitioned table IS the
    // events table plus its partition column
    "st8_stream_ingest" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |CAST(ts AS DATE) AS event_date
        |FROM events ORDER BY event_id""".stripMargin)
}

package graft

import org.apache.spark.sql.SparkSession

/** The ONE place the session conf contract lives. Every entry point (Bench,
  * Verify, Explore, Pipeline, tests) builds through here — a missed conf in
  * a hand-rolled builder is exactly how round 1 shipped a Verify that
  * lacked `nanosAsLong` and the extensions registration.
  *
  * CONCURRENCY RULE (per session): jobs of one session MAY run
  * concurrently, but no session-conf flip or temp-view swap may be in
  * flight alongside them. Several operators flip session-global conf
  * around a scoped region and restore it in `finally` —
  * `spark.sql.shuffle.partitions` in the iterative graph loops
  * (Dedup.dupClusters, Graphs.pageRank) and the streaming gate starts
  * (EventStreams.runToParquet), `partitionOverwriteMode` in CleanStore's
  * refresh — and Sql.queries swaps the `lineitem` temp view at analysis
  * time for sql9. A query planned inside another thread's flip window
  * would inherit graph-scale partitioning or the swapped view, so those
  * operators run alone (the Bench/Verify/test contract runs queries
  * sequentially). `Pipeline.run`'s concurrent stages (the two clean sinks,
  * then the six feeds, via [[Concurrently]]) contain no flip and no swap.
  * A concurrent client that needs the flipping operators takes one cloned
  * session each (`spark.newSession()` shares the context but isolates
  * conf + temp views), or the flips are replaced with hint-based
  * repartitioning where Spark grows the API for it.
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Spark's parquet writer still defaults to INT96 timestamps (Hive
      // compat) — INT96 carries NO column statistics, so every staged
      // store's ts column was unprunable at the row-group level: pf5's
      // z-order skipping audit read ALL rows under a ts predicate, and
      // pf3's "PushedFilters contains ts" was listed-but-inert. Micros is
      // the modern representation (stats + pushdown work, INT96 is
      // deprecated upstream) and is what a 100 TB lakehouse writes.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Plan-text metadata (FileScan Location/PushedFilters/ReadSchema)
      // is WIDTH-TRUNCATED at this length BEFORE Bench's fingerprint
      // scrubs run, and the default 100 chops mid-value at a position
      // that depends on session-global exprId digit counts — the direct
      // cause of the r15 st7 same-code fingerprint flap, and (r15
      // advisor, medium) the truncated tail blinded the scrub regex to
      // PartitionFilters changes. Untruncated metadata makes the scrub
      // purely structural. Display-only conf: no plan/behavior change.
      .config("spark.sql.maxMetadataStringLength", "100000")
    // Streaming keyed state defaults to the HDFS-backed IN-MEMORY store —
    // executor-heap-bound, which at 100 TB keyed state (sessionization,
    // stream-stream joins, MV maintenance) is the wrong bound. The
    // RocksDB provider spills state to local disk with the same
    // exactly-once checkpoint contract; flip it on with
    // SPARK_GRAFT_ROCKSDB_STATE=1 (kept opt-in because the in-memory
    // store is faster at the micro-batch scales the bench measures).
    // StreamingSpec runs its suite under the flag to prove semantic
    // parity; on a real cluster this flag is the 100 TB default.
    val b2 = if (sys.env.get("SPARK_GRAFT_ROCKSDB_STATE").exists(_ == "1"))
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else b
    // SPARK_GRAFT_CONF: semicolon-separated k=v pairs applied last — the
    // measurement-time tuning surface (e.g. state-store provider or
    // changelog-checkpointing experiments inside a bench take, r16
    // verdict item 2). Experiments only: anything that proves out moves
    // into the explicit contract above, never lives in an env var.
    val s = sys.env.get("SPARK_GRAFT_CONF").filter(_.nonEmpty)
      .map(_.split(";").filter(_.contains("=")).foldLeft(b2) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k.trim, v.trim)
      }).getOrElse(b2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JSON string escaping shared by Bench/Verify: backslash, quote, and
    * ALL control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

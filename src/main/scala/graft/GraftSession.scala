package graft

import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The ONE place the session conf contract lives. Every entry point (Bench,
  * Verify, Explore, Pipeline, tests) builds through here — a missed conf in
  * a hand-rolled builder is exactly how round 1 shipped a Verify that
  * lacked `nanosAsLong` and the extensions registration.
  *
  * SESSION RULE: operators never change the caller's session — no conf
  * set or unset, no temp view registered on it — so any number of threads
  * may build and run queries on one session at once. A region that needs
  * its own settings (a graph loop's shuffle parallelism, a streaming
  * gate's state partitions, Sql's temp views) runs on a [[fork]]. Forks
  * are cached because every fork that starts a stream leaves two
  * listeners on the context's bus for good, and they relay their stream
  * events to the caller's listeners, which would otherwise see nothing.
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
      // Generated classes are cached per (context class loader, source).
      // With artifact isolation every session, fork and stream run (a
      // streaming query runs on its own clone) gets a class loader of its
      // own, so the same source compiled again on each: st9 compiled 17
      // classes on every run. The engine adds no session artifacts (jars,
      // class files), so all sessions share the application loader.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Room for every generated class the registry makes: one graft.Bench
      // take of the 202 queries at sf0.01 leaves 2,364 distinct keys, 2,514
      // when it also builds the staged fixtures (a source compiles once
      // under the driver's loader and once under the task threads'). The
      // default 100 held less than one pass of the six-query benchmark
      // slice, so each warm pass recompiled ~193 classes. A cached class
      // stays loaded: the full take ends with 15 MB more Metaspace.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // The cache key is the generated source, and a whole-stage class is
      // named after its codegen stage id, which AQE assigns in stage
      // creation order: a rerun whose stages completed in another order
      // compiled the same code again (td17: 4 classes). Unnumbered names
      // make equal code one key; the id still shows in plans and metrics.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Without the native libhadoop, Hadoop's local filesystem forks a
      // `chmod` for every file, `.crc` twin and directory it creates, and
      // FileContext (stream checkpoints) a `readlink` per rename: a warm
      // Pipeline.run forked ~400 processes. These set the same mode bits
      // with NIO and still write and verify `.crc` files.
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
      // List a partitioned store's files on the driver, however many
      // partitions it has. The session is always local[N], so a listing
      // job (over 32 paths by default: one task per date of a 60-date
      // clean store) only adds scheduling to an in-process directory walk.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
    // SPARK_GRAFT_CONF: semicolon-separated k=v pairs applied last — the
    // measurement-time tuning surface (e.g. state-store provider or
    // changelog-checkpointing experiments inside a bench take, r16
    // verdict item 2). Experiments only: anything that proves out moves
    // into the explicit contract above, never lives in an env var.
    val s = sys.env.get("SPARK_GRAFT_CONF").filter(_.nonEmpty)
      .map(_.split(";").filter(_.contains("=")).foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k.trim, v.trim)
      }).getOrElse(b)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // Keyed by (caller, scope, overrides, caller's conf), so a caller whose
  // conf has changed gets a fork that starts from the new conf. Never
  // evicted: one entry per key ever asked for, for the JVM's lifetime.
  private val forks = scala.collection.mutable.HashMap.empty[
    (SparkSession, String, Map[String, String], Map[String, String]), SparkSession]

  /** A child of `spark` with `overrides` set on the child only. It shares
    * the caller's context and cache and starts from the caller's conf;
    * frames built on it, or moved to it with `GraftShim.rebind`, are
    * planned and run under the overrides. The same child is returned for
    * the same (caller, overrides) while the caller's conf is unchanged.
    */
  def fork(spark: SparkSession, overrides: (String, String)*): SparkSession =
    forkFor(spark, "", overrides.toMap)(_ => ())

  /** [[fork]], keyed also by `scope`; `init` runs once on the new child
    * before any caller gets it (Sql registers its temp views here).
    */
  def forkFor(spark: SparkSession, scope: String, overrides: Map[String, String])(
      init: SparkSession => Unit): SparkSession = forks.synchronized {
    forks.getOrElseUpdate((spark, scope, overrides, spark.conf.getAll), {
      val child = GraftShim.cloneSession(spark)
      overrides.foreach { case (k, v) => child.conf.set(k, v) }
      def relay(f: StreamingQueryListener => Unit): Unit =
        spark.streams.listListeners().foreach(f)
      child.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = relay(_.onQueryStarted(e))
        override def onQueryProgress(e: QueryProgressEvent): Unit = relay(_.onQueryProgress(e))
        override def onQueryIdle(e: QueryIdleEvent): Unit = relay(_.onQueryIdle(e))
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          relay(_.onQueryTerminated(e))
      })
      init(child)
      child
    })
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

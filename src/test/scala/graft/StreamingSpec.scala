package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.streaming.EventStreams

/** Batch/streaming parity — the module's whole stated design: the streaming
  * plan over `readStream` must produce the same windows the batch twin
  * produces, modulo append-mode watermark semantics (a window is only
  * emitted once the 1-hour watermark passes its END, so the trailing
  * windows of a bounded input are withheld by design).
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  test("runToParquet: a run that emits nothing reads back as an empty frame, not an error") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // an aggregate over an EMPTY stream: no window ever closes, the sink
    // writes zero files — the explicit-schema read-back must return an
    // empty frame (schema inference over the empty dir would throw)
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val out = EventStreams.runToParquet(agg, "empty_sink_test")
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("window", "n"))
  }

  test("a second st9 run infers no events schema (no parquet job at Tables.scala)") {
    def run(): Unit = SparkEntry.benchQueries("st9_mv_maintenance")(spark, sf001)
      .queryExecution.toRdd.count()
    run()
    val seen = jobsSeen(run())
    assert(seen.nonEmpty)
    assert(!seen.exists(_._2.startsWith("parquet at Tables.scala")), seen)
  }

  test("st14: sketch state merges across batches, replays are no-ops, guarantees hold") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_st14_spec")
    graft.sources.Staging.deleteRecursively(dir)
    dir.mkdirs()
    val f = new java.io.File(dir, "sketch")
    val k = 3
    // two batches whose exact counts are their own valid k-entry sketches
    EventStreams.upsertSketch(f, 0L, Map("a" -> 5L, "b" -> 3L, "c" -> 1L), k)
    assert(EventStreams.readSketch(f) === ((0L, Map("a" -> 5L, "b" -> 3L, "c" -> 1L))))
    EventStreams.upsertSketch(f, 1L, Map("a" -> 2L, "d" -> 4L), k)
    // merge: a7 b3 c1 d4 → 4 counters > k ⇒ subtract the (k+1)-th largest
    // (1) and drop zeros: a6 b2 d3 — the Agarwal mergeable-summaries step
    val (id, est) = EventStreams.readSketch(f)
    assert(id === 1L && est === Map("a" -> 6L, "b" -> 2L, "d" -> 3L))
    // replayed and stale ids must be dropped
    EventStreams.upsertSketch(f, 1L, Map("a" -> 2L, "d" -> 4L), k)
    EventStreams.upsertSketch(f, 0L, Map("z" -> 9L), k)
    assert(EventStreams.readSketch(f) === ((1L, est)))
    // guarantees vs the exact cross-batch truth (N = 15, N/(k+1) = 3.75)
    val truth = Map("a" -> 7L, "b" -> 3L, "c" -> 1L, "d" -> 4L)
    truth.foreach { case (t, c) =>
      if (c > 15.0 / (k + 1)) assert(est.contains(t), s"heavy hitter $t missed")
      est.get(t).foreach { e =>
        assert(e <= c && c - e <= 15.0 / (k + 1), s"$t: est $e vs truth $c")
      }
    }
  }

  test("st14 end-to-end: below-k cardinality makes the sketch exact") {
    // sf0.001 has 15 distinct users < k=16: Misra–Gries never decrements,
    // so the maintained sketch must equal the exact per-user counts
    val got = EventStreams.st14HeavyUsers(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf001).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exact)
  }

  test("st6: stream-stream interval attribution join == batch twin") {
    val batch = EventStreams.attributionBatch(Tables.events(spark, sf001)).collect().toSeq
    val streamed = EventStreams.st6StreamAttribution(spark, sf001).collect().toSeq
    assert(batch.nonEmpty, "no view->purchase attributions in corpus — join untested")
    assert(streamed === batch)
  }

  test("st23: full outer = st10's left rows plus watermark-closed orphan purchases") {
    import org.apache.spark.sql.functions._
    val full = EventStreams.st23StreamFullOuter(spark, sf001).collect()
      .map(_.toSeq).toSeq
    val left = EventStreams.st10StreamLeftOuter(spark, sf001).collect()
      .map(_.toSeq).toSeq
    // the left-outer subset is exactly st10's output
    assert(full.filter(r => r(1) != null).sortBy(_.toString) ===
      left.sortBy(_.toString))
    // the added rows are orphan purchases: no view, value present, and
    // each one's purchase really has no in-horizon preceding view
    val orphans = full.filter(r => r(1) == null)
    assert(orphans.nonEmpty, "no orphan purchases in corpus — full outer untested")
    val ev = Tables.events(spark, sf001)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSeq
    val horizonMs = EventStreams.AttributionHorizonMinutes * 60000L
    orphans.foreach { r =>
      val u = r(0).asInstanceOf[Long]
      val pts = r(2).asInstanceOf[java.time.LocalDateTime]
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      assert(!views.exists { case (vu, vts) =>
        vu == u && pts >= vts && pts <= vts + horizonMs
      }, s"orphan purchase for user $u actually had an in-horizon view")
    }
    // drained-backlog determinism: a second run reports the same rows
    assert(EventStreams.st23StreamFullOuter(spark, sf001).collect()
      .map(_.toSeq).toSeq === full)
  }

  test("RocksDB state store: stateful queries produce identical results under the disk-backed provider") {
    // The 100 TB posture for keyed state: the default HDFS-backed store
    // holds every key on the executor heap; RocksDB spills to local disk
    // under the same exactly-once checkpoint contract. The provider is a
    // runtime SQL conf, so semantic parity is provable in-suite: run the
    // two heaviest state shapes (dropDuplicatesWithinWatermark keyed
    // dedup, stream-stream interval join) under RocksDB and require
    // byte-identical results. The mains reach the same provider through
    // SPARK_GRAFT_CONF=spark.sql.streaming.stateStore.providerClass=….
    val rocks = GraftSession.fork(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dedup = EventStreams.st5StreamDedup(rocks, sf001).collect().toSeq
    assert(dedup === EventStreams.dedupBatch(Tables.events(spark, sf001)).collect().toSeq)
    val attr = EventStreams.st6StreamAttribution(rocks, sf001).collect().toSeq
    assert(attr === EventStreams.attributionBatch(Tables.events(spark, sf001)).collect().toSeq)
    assert(attr.nonEmpty && dedup.nonEmpty)
  }

  test("st5: streaming dedup (dropDuplicatesWithinWatermark) == batch distinct, and actually drops rows") {
    val batch = EventStreams.dedupBatch(Tables.events(spark, sf001))
    val streamed = EventStreams.st5StreamDedup(spark, sf001)
    val b = batch.collect().toSeq
    val s = streamed.collect().toSeq
    assert(b === s)
    val nEvents = Tables.events(spark, sf001).count()
    assert(b.size < nEvents, "no duplicate keys in corpus — dedup untested")
  }

  test("windowedStream over eventStream == windowedBatch for all watermark-closed windows") {
    val batchEvents = Tables.events(spark, sf001)
    val maxTs = batchEvents.agg(max(col("ts"))).collect().head.getTimestamp(0)

    // window_start is timestamp_ntz -> LocalDateTime in Row; key on it
    def rows(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val stream = EventStreams.eventStream(spark, sf001)
    EventStreams.runToMemory(EventStreams.windowedStream(stream), "st_parity")
    val streamed = rows(spark.table("st_parity").collect())
    assert(streamed.nonEmpty, "stream emitted nothing — watermark flush broken")

    val batchAll = rows(EventStreams.windowedBatch(batchEvents).collect())

    // every emitted window must match batch exactly
    assert((streamed -- batchAll).isEmpty,
      s"stream emitted ${(streamed -- batchAll).size} windows batch doesn't have")
    // and every window that is certainly closed (end <= final watermark,
    // i.e. start <= maxTs - 2h) must have been emitted
    val cutoff = maxTs.toLocalDateTime.minusHours(2)
    val mustEmit = batchAll.filter { case (start, _, _, _) => start.isBefore(cutoff) }
    assert((mustEmit -- streamed).isEmpty,
      s"stream withheld ${(mustEmit -- streamed).size} closed windows of ${mustEmit.size}")
  }

  test("st4: stream-static enrichment join matches the batch twin for closed windows") {
    def rows(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batchEvents = Tables.events(spark, sf001)
    val maxTs = batchEvents.agg(max(col("ts"))).collect().head.getTimestamp(0)
    EventStreams.runToMemory(EventStreams.enrichedStream(spark, sf001), "st4_parity")
    val streamed = rows(spark.table("st4_parity").collect())
    val batch = rows(
      EventStreams.enrichedBatch(batchEvents, Tables.customer(spark, sf001)).collect())
    assert(streamed.nonEmpty)
    assert((streamed -- batch).isEmpty,
      s"stream emitted ${(streamed -- batch).size} rows batch doesn't have")
    val cutoff = maxTs.toLocalDateTime.minusHours(2)
    val mustEmit = batch.filter(_._1.isBefore(cutoff))
    assert((mustEmit -- streamed).isEmpty,
      s"stream withheld ${(mustEmit -- streamed).size} closed windows of ${mustEmit.size}")
  }

  test("late events beyond the watermark are dropped AND accounted in query progress") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val windowed = EventStreams.windowedStream(
      input.toDF().toDF("ts", "event_type", "value"))
    spark.catalog.dropTempView("late_drop_sink")
    val q = windowed.writeStream
      .outputMode("append").format("memory").queryName("late_drop_sink").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1 advances the watermark to 13:00 − 1h = 12:00
    input.addData((t("2024-01-01 10:00:00"), "view", 1.0),
      (t("2024-01-01 13:00:00"), "view", 2.0))
    q.processAllAvailable()
    // batch 2: 10:30 lands in window [10:00, 11:00) whose end ≤ the
    // 12:00 watermark — the aggregation must DROP it, not resurrect a
    // closed window, and must say so in its progress metrics
    input.addData((t("2024-01-01 10:30:00"), "view", 9.0))
    q.processAllAvailable()
    input.addData((t("2024-01-01 16:00:00"), "view", 3.0)) // flush more windows
    q.processAllAvailable()
    val emitted = spark.table("late_drop_sink").collect()
      .map(r => r.getAs[java.time.LocalDateTime](0) -> r.getLong(2)).toMap
    val w10 = java.time.LocalDateTime.parse("2024-01-01T10:00")
    assert(emitted.get(w10).contains(1L),
      s"late event resurrected or corrupted the closed 10:00 window: $emitted")
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1L,
      "late-event drop not accounted in stateOperators.numRowsDroppedByWatermark")
    q.stop()
  }

  test("eventStream reads ONLY the events table (schema match, no cross-table glob)") {
    val stream = EventStreams.eventStream(spark, sf001)
    val batch = Tables.events(spark, sf001)
    assert(stream.schema === batch.schema)
    assert(stream.isStreaming)
  }
}
